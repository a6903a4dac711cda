package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed operation of a pass. `pass` is -1 for the warm-up pass. */
final case class OpSample(pass: Int, name: String, seconds: Double)

/** What a workload's code sees: the session, the tracer, and the op
  * recorder that times each call and runs its output check.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: java.io.File) {
  val samples = ArrayBuffer.empty[OpSample]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  private var pass = -1

  def setPass(p: Int): Unit = {
    pass = p
    tracer.setPass(p)
  }

  /** Run `body` as one operation inside span `span`, time it, then check
    * its output outside the timed interval. An exception is not caught:
    * a call that throws ends the run with its reason.
    */
  def op[T](name: String, span: String)(body: => T)(check: T => Seq[String]): T = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = tracer.span(span)(body)
    samples += OpSample(pass, name, (System.nanoTime() - t0) / 1e9)
    judge(name, check(r))
    r
  }

  /** An operation timed by the engine itself (one table of a migration). */
  def reported(name: String, seconds: Double, problems: Seq[String]): Unit = {
    attempted += 1
    samples += OpSample(pass, name, seconds)
    judge(name, problems)
  }

  /** A check outside any operation (generator self-check, final oracle
    * comparisons): counted as one attempted, possibly failed, check.
    */
  def check(name: String, problems: Seq[String]): Unit = {
    attempted += 1
    judge(name, problems)
  }

  private def judge(name: String, problems: Seq[String]): Unit =
    if (problems.nonEmpty) {
      failed += 1
      problems.foreach(p => failures += s"$name: $p")
    }

  def timedSamples: Seq[OpSample] = samples.filter(_.pass >= 0).toSeq
}

/** A benchmark workload. The generator lives here; the engine sees only
  * what `setup` loads.
  */
trait Workload {

  /** Fingerprint of the generated input for `seed`, without loading it. */
  def fingerprint(seed: Long): String

  /** Generate the input for the run's seed and build the workload's
    * starting state from nothing (discarding any earlier state).
    */
  def setup(ctx: Ctx): Unit

  /** Input sizes and shapes, for the figures line and the README. */
  def facts: Seq[(String, String)]

  /** User rows one pass processes, for `rows_per_s`. */
  def rowsPerPass: Long

  /** One pass of the workload's fixed operation sequence. */
  def pass(ctx: Ctx, p: Int): Unit

  /** Release what pass `p` left behind; not timed. */
  def endPass(ctx: Ctx, p: Int): Unit = ()

  /** Oracle checks too costly for every pass; run once, untimed. */
  def finalChecks(ctx: Ctx): Unit

  /** Extra calls that isolate one layer (traced run only, untimed). */
  def layerProbes(ctx: Ctx): Unit = ()

  /** Per-layer values derived from the traced passes' spans and from the
    * workload's own bookkeeping. Keys must be names in [[Metrics.perLayer]].
    */
  def layerMetrics(ctx: Ctx, tracedPasses: Seq[Int]): Map[String, Double]

  /** Workload-level figures for the untraced run's figures line. */
  def figures: Seq[(String, Double)] = Nil

  def close(ctx: Ctx): Unit
}

/** Aggregations over the traced spans shared by the workloads. */
object Layers {

  /** Pass id of the calls that isolate one layer in the traced run. */
  val ProbePass = -2

  /** Per traced pass, the summed self seconds of spans named `name`;
    * the median over passes. Zero when no span has that name.
    */
  def selfS(t: Tracer, name: String, passes: Seq[Int]): Double =
    perPass(t, name, passes)(s => t.selfNs(s) / 1e9)

  def count(t: Tracer, name: String, passes: Seq[Int])(f: Counters => Long): Double =
    perPass(t, name, passes)(s => f(t.countersFor(s)).toDouble)

  def perPass(t: Tracer, name: String, passes: Seq[Int])(f: Span => Double): Double = {
    val spans = t.spans.filter(_.name == name)
    if (spans.isEmpty || passes.isEmpty) 0.0
    else Stats.median(passes.map(p => spans.filter(_.pass == p).map(f).sum))
  }

  /** `<prefix>_s`, `.jobs`, `.shuffle_write_bytes`, `.spill_bytes` of one
    * operator span.
    */
  def operator(t: Tracer, name: String, passes: Seq[Int]): Map[String, Double] = Map(
    s"${name}_s" -> selfS(t, name, passes),
    s"$name.jobs" -> count(t, name, passes)(_.jobs),
    s"$name.shuffle_write_bytes" -> count(t, name, passes)(_.shuffleWriteBytes),
    s"$name.spill_bytes" -> count(t, name, passes)(_.spillBytes))
}
