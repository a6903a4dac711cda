package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail percentile is the highest one with at least ten samples beyond it") {
    assert(Stats.tailPercentile(1) === 50.0)
    assert(Stats.tailPercentile(39) === 50.0)
    assert(Stats.tailPercentile(40) === 75.0)
    assert(Stats.tailPercentile(99) === 75.0)
    assert(Stats.tailPercentile(100) === 90.0)
    assert(Stats.tailPercentile(199) === 90.0)
    assert(Stats.tailPercentile(200) === 95.0)
    assert(Stats.tailPercentile(1000) === 99.0)
    assert(Stats.tailPercentile(9999) === 99.0)
    assert(Stats.tailPercentile(10000) === 99.9)
  }

  test("quantiles interpolate linearly between closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) === 2.5)
    assert(Stats.quantile(xs, 0.0) === 1.0)
    assert(Stats.quantile(xs, 1.0) === 4.0)
    assert(Stats.quantile(xs, 0.75) === 3.25)
    assert(Stats.median(Seq(7.0)) === 7.0)
  }

  test("tail reports the percentile it used and its value") {
    val xs = (1 to 100).map(_.toDouble)
    val (p, v) = Stats.tail(xs)
    assert(p === 90.0)
    assert(math.abs(v - 90.1) < 1e-9)
  }
}
