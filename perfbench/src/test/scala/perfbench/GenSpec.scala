package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives the same input and another seed a different one") {
    for (fp <- Seq[Long => String](new Migrate(0).fingerprint, Curate.generate(_).fingerprint,
        new Lifecycle(0).fingerprint)) {
      assert(fp(1) === fp(1))
      assert(fp(1) !== fp(2))
    }
  }

  test("the curate corpus holds what was planted") {
    val c = Curate.generate(5)
    assert(c.docs.size === Curate.Docs + Curate.Junk + Curate.ExactCopies + Curate.NearCopies)
    assert(c.exactCopyIds.size === Curate.ExactCopies)
    assert(c.nearPairs.size === Curate.NearCopies)
    val text = c.docs.map(r => r.getLong(0) -> r.getString(1)).toMap
    // every exact copy repeats an original verbatim; no near copy does
    val originals = (0L until Curate.Docs).map(text).toSet
    assert(c.exactCopyIds.forall(id => originals.contains(text(id))))
    assert(c.nearPairs.forall { case (o, n) => text(o) != text(n) })
    assert(c.subsetNearPairs.forall(_._1 < Curate.CosineSubset))
    assert(c.vectors.size === c.docs.size && c.queries.size === Curate.Queries)
  }

  test("Zipf ranks are drawn in falling frequency") {
    val z = new Gen.Zipf(100, 1.0)
    val r = Gen.rng(3, 4)
    val counts = Array.fill(100)(0)
    (0 until 20000).foreach(_ => counts(z.sample(r)) += 1)
    assert(counts(0) > counts(1) && counts(1) > counts(9) && counts(9) > counts(99))
  }

  test("migrate rows match their declared columns") {
    Migrate.schema(Migrate.Scale).foreach { t =>
      val first = Migrate.rows(t, 1).next()
      assert(first.length === t.cols.size, t.name)
    }
  }
}
