package perfbench

/** Order statistics behind every timing the benchmark reports. */
object Stats {

  /** Quantile by linear interpolation between closest ranks (the
    * definition numpy and R use by default).
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted.toIndexedSeq
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.ceil(h).toInt
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Tail percentiles considered, in tenths of a percent, highest first. */
  private val TailTenths = Seq(999, 990, 950, 900, 750)

  /** The highest percentile that still has at least ten samples beyond
    * it: p99.9, p99, p95, p90 or p75. Fewer than 40 samples support none
    * of those, and the median is the only honest figure left.
    */
  def tailPercentile(n: Int): Double =
    TailTenths.find(t => n.toLong * (1000 - t) >= 10000L)
      .map(_ / 10.0).getOrElse(50.0)

  /** (percentile used, its value) for a latency sample. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailPercentile(xs.size)
    (p, quantile(xs, p / 100))
  }
}
