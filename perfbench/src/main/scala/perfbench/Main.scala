package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Metric names and units; BENCHMARK.json lists the same names. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "rows_per_s" -> "rows/s")

  private def operator(n: String) = Seq(s"${n}_s" -> "s", s"$n.jobs" -> "count",
    s"$n.shuffle_write_bytes" -> "B", s"$n.spill_bytes" -> "B")

  val perLayer: Seq[(String, String)] = Seq(
    "sources.read_s" -> "s", "sources.rows_per_s" -> "rows/s", "sources.partitions" -> "count",
    "sinks.insert_s" -> "s", "sinks.rows_per_s" -> "rows/s", "sinks.write_tasks" -> "count",
    "Migrator.table_max_s" -> "s", "Migrator.straggler_share" -> "ratio",
    "migrate.sync_s" -> "s", "migrate.verify_s" -> "s", "ddl.generate_s" -> "s",
    "verify.counts_s" -> "s", "verify.checksums_s" -> "s", "verify.jobs" -> "count") ++
    Seq("text.quality", "dedup.exact", "dedup.minhash_pairs", "dedup.clusters",
      "similarity.ivf_topk", "text.cosine_pairs").flatMap(operator) ++ Seq(
    "dedup.minhash_precision" -> "ratio", "dedup.minhash_recall" -> "ratio",
    "similarity.ivf_recall" -> "ratio", "text.cosine_rows_aggregated_per_pair" -> "ratio",
    "index.append_s" -> "s", "index.probe_s" -> "s", "index.delete_s" -> "s",
    "index.purge_s" -> "s", "index.probe.jobs" -> "count", "plans.upsert_s" -> "s",
    "plans.delete_s" -> "s", "plans.compact_s" -> "s", "plans.vacuum_s" -> "s",
    "plans.bytes_written_per_live_byte" -> "ratio", "plans.files_on_disk" -> "count",
    "lifecycle.write_amp" -> "ratio", "lifecycle.space_amp" -> "ratio",
    "spark.jobs_per_op" -> "ratio", "spark.tasks" -> "count", "spark.gc_s" -> "s",
    "trace.overhead_s" -> "s")

  def json(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d is not a number")
    java.lang.Double.toString(d)
  }
}

/** Runs one workload in this JVM and prints, as the last stdout line,
  * `{"correct", "attempted", "failed", "metrics"}`. The line before it
  * holds the run's figures: input facts, sample counts, every pass time.
  *
  * Usage: perfbench.Main --workload migrate|curate --seed N
  * --seconds S --trace 0|1 --work DIR
  */
object Main {
  /** Cores the closed-loop caller's Spark session uses. */
  val MaxCores = 4
  /** Set-ups per untraced run; `setup_s` reports their median. */
  val SetupReps = 3
  val WarmUpPasses = 2
  /** Timed passes at least, so that the median drops a slow one. */
  val MinPasses = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, die(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = new java.io.File(need("work")).getAbsoluteFile
    val code = try run(workload, seed, seconds, trace, work) catch {
      case e: Throwable =>
        e.printStackTrace()
        System.out.println(s"perfbench: error: $workload failed: " +
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}")
        1
    }
    System.out.flush()
    System.exit(code)
  }

  private def die(msg: String): Nothing = throw new IllegalArgumentException(msg)

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: java.io.File): Int = {
    work.mkdirs()
    // Derby reads these when it boots, which must come later.
    System.setProperty("derby.system.home", new java.io.File(work, "derby").getAbsolutePath)
    System.setProperty("derby.system.durability", "test")
    val cores = math.min(MaxCores, Runtime.getRuntime.availableProcessors)
    val spark = graft.GraftSession.builder("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.silenceSidecarPathNoise()
    try measure(spark, workload, seed, seconds, trace, work)
    finally spark.stop()
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def measure(spark: SparkSession, workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: java.io.File): Int = {
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val w: Workload = workload match {
      case "migrate" => new Migrate(seed)
      case "curate" => new Curate(seed)
      case other => die(s"unknown workload $other")
    }
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, work)

    val phases = ArrayBuffer.empty[(String, Double)]
    var mark = System.nanoTime()
    def phase(n: String): Unit = {
      val now = System.nanoTime()
      phases += n -> (now - mark) / 1e9
      mark = now
    }
    val fp = w.fingerprint(seed)
    ctx.check("generator", Seq(
      if (w.fingerprint(seed) == fp) None else Some(s"seed $seed gave two different inputs"),
      if (w.fingerprint(seed + 1) != fp) None else Some(s"seeds $seed and ${seed + 1} gave one input")
    ).flatten)
    phase("generator_check")

    val setupS = (1 to (if (trace) 1 else SetupReps)).map { _ =>
      val t0 = System.nanoTime()
      w.setup(ctx)
      (System.nanoTime() - t0) / 1e9
    }

    phase("setups")
    // warm-up passes: JIT, Spark's generated code and lazy engine state;
    // checked, not timed. One was not enough: the first timed pass after
    // it still ran about 10% slower than the next.
    ctx.setPass(-1)
    (1 to WarmUpPasses).foreach { _ =>
      w.pass(ctx, -1)
      w.endPass(ctx, -1)
    }
    phase("warm_up")

    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val passS = ArrayBuffer.empty[Double]
    val passGc = ArrayBuffer.empty[Double]
    val tracedPasses = ArrayBuffer.empty[Int]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    // The traced run traces every other pass, so the overhead of tracing
    // is measured in one process and across the same stretch of warm-up:
    // median traced minus median untraced pass time.
    var p = 0
    while (elapsed < seconds || p < MinPasses) {
      if (trace && p % 2 == 1) tracer.start() else tracer.stop()
      if (tracer.enabled) tracedPasses += p
      ctx.setPass(p)
      val g0 = gcSeconds()
      val t0 = System.nanoTime()
      w.pass(ctx, p)
      passS += (System.nanoTime() - t0) / 1e9
      passGc += gcSeconds() - g0
      w.endPass(ctx, p)
      p += 1
    }
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    phase("passes")
    if (trace) {
      tracer.start()
      w.layerProbes(ctx)
    }
    tracer.stop()
    w.finalChecks(ctx)
    phase("final")

    val ops = ctx.timedSamples.map(_.seconds)
    val (tailP, tailV) = Stats.tail(ops)
    val passMedian = Stats.median(passS.toSeq)
    val metrics: Seq[(String, Double)] =
      if (!trace) Seq(
        "setup_s" -> (sessionS + Stats.median(setupS)),
        "pass_s" -> passMedian,
        "rows_per_s" -> w.rowsPerPass / passMedian)
      else {
        val traced = tracedPasses.toSeq
        val untraced = passS.indices.filterNot(traced.contains)
        val layer = w.layerMetrics(ctx, traced)
        val unknown = layer.keySet -- Metrics.perLayer.map(_._1)
        require(unknown.isEmpty, s"layer metrics not in the registry: $unknown")
        val spans = tracer.spans.filter(s => traced.contains(s.pass))
        val tracedOps = ctx.timedSamples.count(s => traced.contains(s.pass))
        val whole = Map(
          "spark.jobs_per_op" -> spans.map(tracer.countersFor(_).jobs).sum.toDouble / tracedOps,
          "spark.tasks" -> Stats.median(traced.map(p =>
            spans.filter(_.pass == p).map(tracer.countersFor(_).tasks).sum.toDouble)),
          "spark.gc_s" -> Stats.median(traced.map(passGc)),
          "trace.overhead_s" -> (Stats.median(traced.map(passS)) - Stats.median(untraced.map(passS))))
        Metrics.perLayer.map { case (n, _) => n -> layer.getOrElse(n, whole.getOrElse(n, 0.0)) }
      }
    // next to, not inside, the run's scratch directory, which a
    // successful run removes
    if (trace) tracer.writeJsonl(new java.io.File(work.getParentFile, s"$workload-spans.jsonl"))
    w.close(ctx)
    phase("close")

    val units = (Metrics.endToEnd ++ Metrics.perLayer).toMap
    val figures = Seq(
      "workload" -> Metrics.str(workload), "seed" -> seed.toString,
      "input_fingerprint" -> Metrics.str(fp),
      "input" -> Metrics.json(w.facts.map { case (k, v) => k -> Metrics.str(v) }),
      "cores" -> spark.sparkContext.defaultParallelism.toString,
      "session_s" -> Metrics.num(sessionS),
      "phases_s" -> Metrics.json(phases.map { case (n, v) => n -> Metrics.num(v) }.toSeq),
      "setups_s" -> setupS.map(Metrics.num).mkString("[", ",", "]"),
      "passes_s" -> passS.map(Metrics.num).mkString("[", ",", "]"),
      "traced_passes" -> tracedPasses.mkString("[", ",", "]"),
      "op_samples" -> ops.size.toString,
      "op_p50_s" -> Metrics.num(Stats.median(ops)),
      "op_tail_percentile" -> Metrics.num(tailP),
      "op_tail_s" -> Metrics.num(tailV),
      "heap_peak_mb" -> Metrics.num(heapPeakMb),
      "op_median_s" -> Metrics.json(ctx.timedSamples.groupBy(_.name.takeWhile(_ != ':')).toSeq.sortBy(_._1)
        .map { case (n, xs) => n -> Metrics.num(Stats.median(xs.map(_.seconds))) })) ++
      w.figures.map { case (k, v) => k -> Metrics.num(v) }
    println(Metrics.json(Seq("figures" -> Metrics.json(figures))))
    ctx.failures.foreach(f => System.err.println(s"perfbench: check failed: $f"))
    val correct = ctx.failed == 0
    println(Metrics.json(Seq(
      "correct" -> correct.toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Metrics.json(metrics.map { case (n, v) =>
        n -> Metrics.json(Seq("value" -> Metrics.num(v), "unit" -> Metrics.str(units(n))))
      }))))
    if (correct) 0 else 3
  }
}
