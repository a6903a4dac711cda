package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, start: Long, end: Long, parent: Int = 0) =
    Span(id, s"s$id", parent, 0, start, end)

  test("a span without children is all self time") {
    assert(Trace.selfNs(span(0, 10, 110, -1), Nil) === 100)
  }

  test("disjoint children are subtracted") {
    val p = span(0, 0, 100, -1)
    assert(Trace.selfNs(p, Seq(span(1, 10, 20), span(2, 50, 80))) === 60)
  }

  test("overlapping children count once") {
    val p = span(0, 0, 100, -1)
    assert(Trace.selfNs(p, Seq(span(1, 10, 40), span(2, 30, 60), span(3, 35, 50))) === 50)
  }

  test("only the part of a child inside its parent is subtracted") {
    val p = span(0, 100, 200, -1)
    assert(Trace.selfNs(p, Seq(span(1, 50, 120), span(2, 190, 300), span(3, 300, 400))) === 70)
  }

  test("children covering the whole parent leave no self time") {
    val p = span(0, 0, 100, -1)
    assert(Trace.selfNs(p, Seq(span(1, 0, 60), span(2, 60, 100))) === 0)
  }
}
