package graft

import java.nio.file.{Files, Paths}
import scala.annotation.meta.getter
import scala.collection.immutable.TreeMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.annotation.JsonUnwrapped
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import Harness.Raw

/** The round bench: times every `SparkEntry.queries` entry (median of
  * `reps` `.count()` runs) on the harness session, plus the per-bench
  * arms (BPE cold training, streaming lifecycle, live-JDBC migration,
  * versioning overhead), and writes one JSON line to stdout, the full
  * map to `bench/LAST_BENCH.json` and, on request, the probe export.
  */
object Bench {
  /** Should an in-suite median be re-probed solo before the artifact is
    * written? r16 committed 68.0 s for a query the same binary measures
    * at 3.2–4.1 s — a disk-churn transient recorded as the query's
    * official cost. The trigger is deliberately conservative: >3× the
    * previous round's artifact AND >2 s absolute drift (so sub-second
    * queries whose 0.1→0.4 s jitter trips the ratio don't re-probe).
    */
  private[graft] def needsReprobe(prev: Double, cur: Double): Boolean =
    prev > 0 && cur > 0 && cur > 3.0 * prev && cur - prev > 2.0

  /** The slow tail is re-probed UNCONDITIONALLY: a query at this cost
    * is exactly the kind the round-over-round comparison cares about,
    * and the ratio trigger alone can't catch a transient whose
    * previous-round baseline was itself inflated (r16's 68 s sparse
    * reading would have become r17's baseline and hidden a fresh 60 s
    * transient). A solo row that CONFIRMS the in-suite median is also
    * signal — it's the artifact demonstrating its own "no committed
    * number disagrees with a solo probe" property.
    */
  private[graft] val SlowSoloFloorSec = 3.0

  /** Did I/O churn distort this run's committed medians? The CPU-load
    * `degraded` flag is blind to the one distortion this box actually
    * produces (disk churn): r17's official artifact said
    * `degraded: false` beside a committed 127.4 s median whose own
    * same-run solo receipt read 9.6 s. The solo re-probe machinery
    * already measures exactly the disagreement — this feeds it into a
    * flag: a query is I/O-degraded when its committed in-suite median
    * exceeds 3× its same-run solo receipt with > 2 s absolute gap
    * (the [[needsReprobe]] thresholds, applied receipt-vs-median).
    * Returns the offending query names, sorted, so the artifact can
    * say WHICH numbers not to trust — and `total_ex_reprobed` (the
    * suite total minus these queries' inflated medians) restores a
    * round-over-round comparable headline without manual exclusion.
    */
  private[graft] def ioDegradedQueries(
      results: Seq[(String, Double)],
      reprobed: Seq[(String, Double)]): Seq[String] = {
    val medians = results.toMap
    reprobed.collect {
      case (soloName, solo) if soloName.endsWith("_solo") && solo > 0 &&
        medians.get(soloName.stripSuffix("_solo"))
          .exists(m => needsReprobe(solo, m)) =>
        soloName.stripSuffix("_solo")
    }.sorted
  }

  /** Committed medians that DRIFTED >2× (with >0.5 s absolute gap, so
    * sub-second jitter stays quiet) against the previous committed
    * artifact's same-sf value — the sub-3-s day-drift visibility the
    * r18 review asked for: solo receipts exist only above
    * [[SlowSoloFloorSec]], so small queries' day-over-day wobbles
    * (dsir 0.96→2.73 s, curation_verdicts 0.66→1.59 s in r18) shipped
    * unexplained. Queries `excluded` (already named by `io_degraded`)
    * are suppressed — one self-identification per number. Returns
    * (name, prev, cur) sorted by ratio, worst first.
    */
  private[graft] def driftQueries(
      results: Seq[(String, Double)],
      prevTimes: Map[String, Double],
      excluded: Set[String]): Seq[(String, Double, Double)] =
    results.collect {
      case (n, v) if !excluded.contains(n) && v > 0 &&
        prevTimes.get(n).exists(p => p > 0 && v > 2.0 * p && v - p > 0.5) =>
        (n, prevTimes(n), v)
    }.sortBy { case (_, p, v) => -(v / p) }

  /** Previous-round per-query medians from a LAST_BENCH.json blob —
    * used ONLY when its "sf" matches this run's fixture dir (a local
    * sf0.01 dev run must not treat the committed sf0.1 artifact as its
    * baseline). Anything unparsable is no baseline at all.
    */
  private[graft] def parsePrevQueryTimes(blob: String, sfDir: String): Map[String, Double] =
    scala.util.Try(Harness.parse(blob)).toOption
      .filter(_.path("sf").asText() == sfDir)
      .map(_.path("queries").properties().asScala
        .collect { case e if e.getKey.startsWith("q_") => e.getKey -> e.getValue.asDouble() }
        .filterNot(_._1.endsWith("_solo")) // solo probes aren't suite baselines
        .toMap)
      .getOrElse(Map.empty)

  /** The params the stdout line carries. SLIM — r18 and r19 both came
    * back "parsed": null in the round comparison once the full
    * params blob (protocol stamps, knob strings, soak ratios) had grown
    * to ~1.4 KB and squeezed the queries map out of the ~1.9 KB tail
    * budget. The line keeps the numeric self-identification (load,
    * heap, degraded, io_degraded, drift) plus the durable JDBC headline;
    * the full blob ships in `LAST_BENCH.json` ([[Params]]).
    *  - `load`: the PRE-RUN 1-min load average (r5 reported 80.7 s vs
    *    59 s quiet), so a noisy artifact self-identifies;
    *  - `heap_peak_mb`: driver peak heap, the empirical check on the
    *    bounded-collect invariants (flat at 10× data is the claim);
    *  - `drift`: committed medians >2× the previous committed artifact
    *    (same sf), `name:prev>cur`, worst first, capped; `drift_n` the
    *    full count when capped;
    *  - `bpe_cold` stays ON the line: `tools/soak.py` reads it from a
    *    probe run's stdout (probe runs never write LAST_BENCH).
    */
  private[graft] final case class LineParams(load: Double, heapPeakMb: Long,
      degraded: Boolean, ioDegraded: Boolean, ioDegradedQueries: Option[String],
      drift: Option[String], driftN: Option[Int], cpus: Int, bpeCold: Raw,
      jdbcSync: Raw, jdbcVerify: Raw, jdbcRps: Raw, jdbcSyncShmlog: Raw) {
    val agg = "median"
  }

  /** `LAST_BENCH.json`'s full params: the line's, the arms that don't
    * fit the line, and the operator params of the headline approximate
    * queries, so a perf delta across rounds is attributable to code vs
    * knob changes.
    *  - `jdbc_sync_shmlog` (on the line) is the same pipeline with the
    *    transaction log on tmpfs: pipeline-tracking, NOT crash-durable;
    *  - `jdbc_scaling`: seconds per writer count, clamp bypassed; no
    *    server-mode engine is on the classpath, so this curve on embedded
    *    Derby plus that documented absence IS the scaling answer;
    *  - `version_overhead`: the same delete sweep with version retention
    *    off/on (the "archiving costs one rename" claim, measured);
    *  - `skip` is declared only when the skip was applied: under
    *    SPARK_GRAFT_ONLY the skip set is empty and the twin may well
    *    have been timed.
    */
  private[graft] final case class Params(@(JsonUnwrapped @getter) line: LineParams,
      streamLifecycle: Raw, jdbcRpsRlx: Raw, jdbcScaling: Option[String],
      versionOverhead: Option[String], soak: Option[Raw], skip: Option[String]) {
    val simhashPortable = "28bit 4x7 h3 cap1000"
    val simhash = "64bit 4x16 h3 cap1000 planted"
    val minhash = "n3 k64 b16 t1.0 cap1000 planted"
    val lsh = "6x6bit k5 planted"
    val ivf = "c16 p4 k5 planted"
    val spans = "w12 sel4 min2"
    val semdedup = "c16 t0.8 planted"
    val sq = "int8 sl32 k5"
    val ivfsq = "c16 p4 int8 sl32 k5"
    val bpe = "m64 dict memo"
    val knnivf = "c16 p4 k7 sl32"
    val mhidx = "n3 k8 b8"
    // durable protocol: median of 3 full syncs, log on disk (every
    // commit fsync hits stable storage); the shmlog arm is median-of-3
    // with the log on tmpfs. The logSwitch/ckpt/logBuf stamps are the
    // r19 recovery-time tuning — one commit per table-partition was
    // already the protocol floor
    val jdbcProtocol =
      "median3disk+median3shmlog logSwitch=64M ckpt=128M logBuf=1M commit=1/partition"
  }

  /** The stdout line the round comparison parses. `metric` leads:
    * consumers find the line by its `{"metric"` prefix. */
  private[graft] final case class Line(metric: String, value: Raw,
      totalExReprobed: Raw, unit: String, queries: TreeMap[String, Raw],
      failed: Seq[String], omitted: Int, reps: Int, params: LineParams, sf: String)

  private[graft] final case class LastBench(sf: String, reps: Int, total: Raw,
      totalExReprobed: Raw, failed: Seq[String], queries: TreeMap[String, Raw],
      params: Params)

  private[graft] final case class ProbeOut(sf: String, reps: Int,
      queries: TreeMap[String, Raw], failed: Seq[String])

  /** Live-JDBC arm readings; -1 / "" when the arm did not run or failed. */
  private[graft] final case class Jdbc(sync: Double, rps: Double, verify: Double,
      syncShmlog: Double, rpsRelaxed: Double, scaling: String)

  private val JdbcSkipped = Jdbc(-1.0, -1.0, -1.0, -1.0, -1.0, "")

  /** Everything one bench run measured; both artifacts are built from it. */
  private[graft] final case class Run(sf: String, reps: Int, cpus: Int,
      load: Double, degraded: Boolean, heapPeakMb: Long,
      results: Seq[(String, Double)], reprobed: Seq[(String, Double)],
      prevTimes: Map[String, Double], bpeCold: Double, streamLifecycle: Double,
      jdbc: Jdbc, versionOverhead: String, soak: Option[String], skip: Set[String]) {
    val total: Double = results.map(_._2).filter(_ >= 0).sum
    val failed: Seq[String] = results.collect { case (k, v) if v < 0 => k }
    // Same-run receipt disagreement → the artifact names its own
    // distorted readings (see ioDegradedQueries), and the headline
    // total is re-reported with each inflated median SUBSTITUTED by
    // its same-run solo receipt (total − median + solo): `total` stays
    // the raw sum (never silently edited), `total_ex_reprobed` stays
    // comparable to a clean round's total. On a quiet box they agree.
    val ioDeg: Seq[String] = ioDegradedQueries(results, reprobed)
    val totalExReprobed: Double = total - results.collect {
      case (n, v) if ioDeg.contains(n) && v > 0 =>
        v - math.max(0.0, reprobed.toMap.getOrElse(n + "_solo", 0.0))
    }.sum
    // io_degraded names are suppressed — one self-identification per number
    val drift: Seq[(String, Double, Double)] = driftQueries(results, prevTimes, ioDeg.toSet)
    /** Every suite and solo time, sorted by name. */
    def fullMap: TreeMap[String, Raw] =
      TreeMap((results ++ reprobed).map { case (k, v) => k -> Raw.secs(v) }: _*)

    def lineParams(driftShown: Int): LineParams = LineParams(load, heapPeakMb,
      degraded, ioDeg.nonEmpty, Option.when(ioDeg.nonEmpty)(ioDeg.mkString(",")),
      Option.when(drift.nonEmpty)(drift.take(driftShown)
        .map { case (n, p, v) => f"$n:$p%.2f>$v%.2f" }.mkString(",")),
      Option.when(drift.size > driftShown)(drift.size), cpus, Raw.secs(bpeCold),
      Raw.secs(jdbc.sync), Raw.secs(jdbc.verify), Raw.whole(jdbc.rps),
      Raw.secs(jdbc.syncShmlog))
  }

  /** The whole stdout line's length cap. The round comparison reads a
    * 2000-char stdout tail and sbt appends its own "[success] Total time: …" line (~75
    * chars) after ours, so the line must stay under ~1900 chars — r1–r3
    * all came back "parsed": null because the line's head fell off.
    */
  private[graft] val LineBudget = 1830

  /** The stdout line. The queries map gets whatever the rest of the line
    * leaves of [[LineBudget]], measured by rendering the line with no
    * queries: it keeps the solo re-probes first (they exist to
    * contextualize the slow outliers), then the slowest suite entries
    * (the ones worth comparing), and counts the suite entries it drops
    * in `omitted`.
    */
  private[graft] def line(run: Run): String = {
    def render(qs: Seq[(String, Double)]): String = Harness.toJson(Line("total",
      Raw.secs(run.total), Raw.secs(run.totalExReprobed), "sec",
      TreeMap(qs.map { case (k, v) => k -> Raw.secs(v) }: _*), run.failed,
      run.results.size - qs.count(!_._1.endsWith("_solo")), run.reps,
      run.lineParams(driftShown = 4), run.sf))
    // `"name":time,` per entry; render(Nil) already holds the braces
    val (kept, _) = (run.reprobed ++ run.results.sortBy(-_._2))
      .foldLeft((Vector.empty[(String, Double)], LineBudget - render(Nil).length)) {
        case ((acc, room), (k, v)) =>
          val cost = k.length + Raw.secs(v).json.length + 4
          if (cost <= room) (acc :+ (k -> v), room - cost) else (acc, room)
      }
    render(kept)
  }

  private[graft] def lastBench(run: Run): String = Harness.toJson(LastBench(run.sf,
    run.reps, Raw.secs(run.total), Raw.secs(run.totalExReprobed), run.failed,
    run.fullMap, Params(run.lineParams(driftShown = 6), Raw.secs(run.streamLifecycle),
      Raw.whole(run.jdbc.rpsRelaxed), Option(run.jdbc.scaling).filter(_.nonEmpty),
      Option(run.versionOverhead).filter(_.nonEmpty), run.soak.map(Raw(_)),
      Option.when(run.skip.nonEmpty)(
        run.skip.toSeq.sorted.mkString(",") + "(verify-gated stream lifecycle)"))))

  private[graft] def probeOut(run: Run): String =
    Harness.toJson(ProbeOut(run.sf, run.reps, run.fullMap, run.failed))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    // Load guard: wall-times from a busy box are noise, not signal
    // (r5-r7 each shipped 2-16x phantom regressions from ambient load).
    // If the 1-min load exceeds 25% of our cpu budget, wait once for
    // the box to drain; if it's still busy, stamp degraded=true so the
    // artifact self-identifies instead of crying wolf. The PRE-RUN
    // load is the one reported: by end-of-run the 1-min average mostly
    // measures our own saturated reps.
    val loadCap = cpus * 0.25
    if (loadAvg() > loadCap) Thread.sleep(60000)
    val loadStart = loadAvg()
    val spark = GraftSession.local("graft-bench")
    // dev knob: SPARK_GRAFT_ONLY=<regex> probes a subset (e.g. one
    // query × many reps when chasing a bimodal timing); unset = full
    // suite. The per-bench extras (two live Derby syncs ≈ 25 s at
    // sf0.1, minutes at sf1) belong to the full-suite artifact only —
    // a subset probe (including tools/soak.py's heavy-query passes)
    // shouldn't pay them, nor re-probe, nor write LAST_BENCH.json.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val full = only.isEmpty
    warmUp(spark, sfDir)
    val bpeCold = bpeColdArm(spark, sfDir)
    val streamLifecycle = streamLifecycleArm(spark)
    val jdbc = if (full) jdbcArms(spark, sfDir) else JdbcSkipped
    val versionOverhead = if (full) versionOverheadArm(spark, sfDir) else ""
    // each query timed `reps` times, MEDIAN reported — min-of-2 under a
    // loaded machine produced ~21 s of phantom regressions in r5; the
    // median of ≥3 is robust to one outlier rep in either direction
    val reps = math.max(3, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // q_stream_ingest_twin starts a full stateful streaming-query
    // LIFECYCLE per rep — its wall-clock measures that machinery, not
    // operator throughput, and would add ~10 noisy seconds to every
    // artifact. The CORRECTNESS gate runs it end-to-end; the full-suite
    // bench skips it, declared in params. An explicit SPARK_GRAFT_ONLY
    // probe overrides the skip — the dev knob must measure any query.
    val skip = if (full) Set("q_stream_ingest_twin") else Set.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => !skip.contains(n) && only.forall(_.findFirstIn(n).isDefined) }
      .map { case (n, fn) => n -> timeQuery(spark, sfDir, reps, fn) }
    val prevTimes = previousTimes(sfDir)
    val reprobed = if (full) reprobe(spark, sfDir, reps, results, prevTimes) else Seq.empty
    val run = Run(sfDir, reps, cpus, loadStart, loadStart > loadCap, heapPeakMb(),
      results, reprobed, prevTimes, bpeCold, streamLifecycle, jdbc, versionOverhead,
      soakRatios(), skip)
    // The stdout line's budget forces most per-query times into
    // "omitted", so every FULL-suite run also writes the complete map
    // to bench/LAST_BENCH.json (committed per round). Probe runs can
    // export the UNBUDGETED map to a caller-named file instead: the
    // scale soak reads every probed query's time from there (the r16
    // 3×"n/a" class — a measured query must never read as FAILED just
    // because its entry was cheap).
    if (full) writeQuietly("bench/LAST_BENCH.json", lastBench(run))
    sys.env.get("SPARK_GRAFT_PROBE_OUT").foreach(writeQuietly(_, probeOut(run)))
    // The bare JSON is printed AFTER spark.stop() so it is the
    // absolutely last stdout line of the run (no Spark shutdown logging
    // can land after it), and build.sbt's `run / outputStrategy :=
    // StdoutOutput` passes it through WITHOUT sbt's "[info] " prefix.
    spark.stop()
    println(line(run))
    System.out.flush()
  }

  // a garbage read must not reach the params
  private def loadAvg(): Double = readText("/proc/loadavg")
    .flatMap(s => scala.util.Try(s.split(" ")(0).toDouble).toOption).getOrElse(-1.0)

  private def heapPeakMb(): Long =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L))
      .sum / (1024 * 1024)

  private def writeQuietly(path: String, json: String): Unit =
    try Files.write(Paths.get(path), (json + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }

  /** Seconds of one run of `f`, or -1 if it throws. */
  private def once(f: => Any): Double = Harness.timedReps(1)(f).headOption.getOrElse(-1.0)

  /** Median of `reps` timed `.count()` runs of one query, -1 when every
    * rep failed. Per-query isolation: the operator library persistOnce-
    * caches intermediates so REPS of one query reuse them — but across
    * ~95 queries those entries pile up in the shared heap, and the
    * resulting GC pressure measured as 2-8x run-to-run swings on the
    * shingle-dedup queries at sf1 (see bench/SOAK_DETAIL.md). Clear the
    * SQL cache AFTER the reps (within-query reuse intact) and hint a GC,
    * both untimed. Driver-side memos (BPE merges) and on-disk bucketed
    * index tables are not SQL-cache entries and survive.
    */
  private def timeQuery(spark: SparkSession, sfDir: String, reps: Int,
      query: (SparkSession, String) => DataFrame): Double = {
    val times = Harness.timedReps(reps)(query(spark, sfDir).count())
    spark.catalog.clearCache()
    System.gc()
    if (times.nonEmpty) Harness.median(times) else -1.0
  }

  /** Warm-up: run a representative mix (scan+agg, join, window, text)
    * untimed so JVM/JIT/codegen/parquet-footer warm-up isn't billed to
    * whichever queries happen to run first. q_text_bpe_merges is in
    * the mix so BPE training (word counts persistOnce'd + merge memo)
    * is pre-paid and the encode gate's timed reps bill encode alone.
    */
  private def warmUp(spark: SparkSession, sfDir: String): Unit =
    Seq("q_a5_group_agg", "q_j1_left_outer", "q_w1_row_number", "q_text_tokens",
      "q_text_bpe_merges").foreach { w =>
      try SparkEntry.queries.get(w).foreach(_(spark, sfDir).count())
      catch { case _: Throwable => () }
    }

  /** Cold-vs-memo split for BPE training: the timed reps of
    * q_text_bpe_merges measure the memo hit (training is pre-paid in
    * the warm-up), so a TRAINING-cost regression would hide behind a
    * healthy memo number. One memo-bypassed run (word counts stay
    * persistOnce'd, so this isolates vocab collect + the driver merge
    * loop) lands in params as bpe_cold.
    */
  private def bpeColdArm(spark: SparkSession, sfDir: String): Double =
    once(graft.operators.TextAnalysis.bpeMerges(spark.read.parquet(s"$sfDir/documents.parquet"),
      "text", nMerges = 64, minCount = 1, useMemo = false).count())

  /** Streaming lifecycle tripwire: q_stream_ingest_twin is bench-skipped,
    * which left streaming startup cost with no regression signal. Time
    * the lifecycle ALONE — start → AvailableNow drain over an empty
    * parquet source → terminate — with a no-op sink: a regression in
    * state-store init, WAL/commit-log setup, or micro-batch commit cost
    * moves this number without re-timing the full twin.
    */
  private def streamLifecycleArm(spark: SparkSession): Double = {
    val dir = Files.createTempDirectory("graft_bench_slc").toString
    val ckpt = Files.createTempDirectory("graft_bench_slc_ck").toString
    try once {
      spark.readStream.schema("v BIGINT").parquet(dir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch((_: DataFrame, _: Long) => ())
        .start()
        .awaitTermination(120000)
    } finally Seq(dir, ckpt).foreach(d => FileUtils.deleteQuietly(new java.io.File(d)))
  }

  /** Live-JDBC migration throughput. The baseline anchor
    * q_k1_copy_lineitem times the STORAGE path (parquet read→write);
    * the reference's published 7.23 s (readme.md:121-136) is a real
    * DB→DB migration over JDBC. Time that path for real: the full
    * Migrator sync of all 10 fixture tables into an ON-DISK embedded
    * Derby engine, which compareDb must verify before the number
    * counts. `sync` = sync wall seconds (verify excluded), `rps` =
    * synced rows / sync, `verify` = the compareDb seconds (the
    * reference publishes its compareDb at 11.31 s). Three arms share
    * one pipeline and differ ONLY in engine durability and log
    * placement: durable (log on disk), shmlog (log on tmpfs) and
    * relaxed (durability=test) plus its writer-scaling probe.
    */
  private def jdbcArms(spark: SparkSession, sfDir: String): Jdbc = {
    // ONE Derby system home for the whole bench, pointed into /tmp
    // BEFORE any engine boot: derby.system.home (derby.log location)
    // is read at boot time, and the relaxed arm boots the engine a
    // second time. Databases live in their own throwaway dirs via
    // absolute URLs.
    System.setProperty("derby.system.home",
      Files.createTempDirectory("graft_bench_derby_home").toString)
    // Durable-arm log tuning (r18 review item #3, measured before
    // adoption). The writer already commits ONCE per Spark partition,
    // so what bills the durable arm vs the shmlog arm is Derby's log
    // MACHINERY: 1 MiB default log files (each switch preallocates and
    // syncs a fresh file) and a checkpoint every 10 MiB of log. Raising
    // both is recovery-TIME policy, not durability: every commit fsync
    // still reaches the on-disk log before returning. r19 interleaved
    // default/tuned pairs of the full sf0.1 sync: defaults
    // 37.3/65.4/18.1 s vs tuned 17.0/21.2/11.5 s. Stamped in
    // jdbc_protocol so the artifact says what it measured.
    System.setProperty("derby.storage.logSwitchInterval", "67108864") // 64 MiB
    System.setProperty("derby.storage.checkpointInterval", "134217728") // 128 MiB
    System.setProperty("derby.storage.logBufferSize", "1048576") // 1 MiB
    // logDevice scratch: the embedded engine's transaction log on tmpfs
    // (/dev/shm) while data pages stay on disk. A commit fsync that
    // lands on tmpfs is not crash-durable, so that reading is never the
    // headline: `jdbc_sync` keeps its log on DISK (comparable to the
    // reference's figure against a real MySQL server) and the tmpfs
    // reading lands under its own key `jdbc_sync_shmlog` — it isolates
    // the pipeline from the box's dominant noise source (ambient disk
    // churn billed to the inline fsync).
    val logScratch: Option[String] = {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite)
        Some(Files.createTempDirectory(shm.toPath, "graft_bench_dblog").toString)
      else None
    }
    try {
      val (sync, rps, verify) = median3Sync(spark, sfDir, "graft_bench_derby", None)
      val shm = logScratch.fold(-1.0)(s => median3Sync(spark, sfDir, "graft_bench_derbyshm", Some(s))._1)
      val (rlx, scaling) = relaxedArm(spark, sfDir, logScratch)
      Jdbc(sync, rps, verify, shm, rlx, scaling)
    } finally logScratch.foreach(s => FileUtils.deleteQuietly(new java.io.File(s)))
  }

  /** One timed sync of the 10-table fixture DB into a throwaway on-disk
    * Derby under `tag`: DDL on first load, truncate + batched INSERT, 4
    * tables in flight, then compareDb must verify every table before
    * the number counts. Returns (sync wall seconds, rows/s, compareDb
    * seconds), all -1 on any failure.
    */
  private def syncOnce(spark: SparkSession, sfDir: String, tag: String,
      props: java.util.Properties, scratch: Option[String]): (Double, Double, Double) = {
    val dbDir = Files.createTempDirectory(tag)
    val logDev = scratch.map(s => s";logDevice=$s/${dbDir.getFileName}").getOrElse("")
    try {
      val m = new Migrator(spark, graft.sources.FixtureSource(sfDir),
        graft.sinks.JdbcDest(s"jdbc:derby:$dbDir/db;create=true$logDev", props,
          batchRowSize = 5000, maxConnections = 16),
        graft.config.SyncConfig(maxParallel = 4))
      val t0 = System.nanoTime()
      val results = m.run()
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = results.filter(_.ok).map(_.rows).sum
      val v0 = System.nanoTime()
      val allOk = results.nonEmpty && results.forall(_.ok) &&
        m.compare().filter(col("is_ok") === "NO").count() == 0
      val verifySec = (System.nanoTime() - v0) / 1e9
      if (allOk) (sec, rows / sec, verifySec) else (-1.0, -1.0, -1.0)
    } catch { case _: Throwable => (-1.0, -1.0, -1.0) }
    finally {
      FileUtils.deleteQuietly(dbDir.toFile)
      scratch.foreach(s => FileUtils.deleteQuietly(new java.io.File(s, dbDir.getFileName.toString)))
    }
  }

  /** Median of 3 full syncs, not a single shot: the durable wall-time
    * was the round artifact's noisiest number (same binary, 9–20 s
    * across runs, tracking disk state) and a single draw let one bad
    * run become the committed headline two rounds running. The verify
    * seconds take their own median over the same syncs.
    */
  private def median3Sync(spark: SparkSession, sfDir: String, tag: String,
      scratch: Option[String]): (Double, Double, Double) = {
    val runs = (1 to 3)
      .map(_ => syncOnce(spark, sfDir, tag, new java.util.Properties(), scratch))
      .filter(_._1 > 0)
    if (runs.isEmpty) (-1.0, -1.0, -1.0)
    else {
      val (sec, rps, _) = runs.sortBy(_._1).apply(runs.size / 2)
      (sec, rps, runs.map(_._3).sorted.apply(runs.size / 2))
    }
  }

  /** Stop the in-process engine so the next boot re-reads system
    * properties (home, durability) — and releases its open handles to
    * the just-deleted database files (XJ015 = clean engine stop).
    */
  private def shutdownDerby(): Unit =
    scala.util.Try(java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true"))

  /** Relaxed-durability sync (`jdbc_rps_rlx`) and the writer-scaling
    * probe (`jdbc_scaling`). The durable number bills the embedded
    * engine's inline transaction-log fsync to the migrator thread — an
    * artifact of in-process Derby and the dominant run-to-run noise
    * source. Re-booting with derby.system.durability=test isolates the
    * pipeline's own convert+batch+insert path.
    */
  private def relaxedArm(spark: SparkSession, sfDir: String,
      logScratch: Option[String]): (Double, String) =
    try {
      shutdownDerby()
      // read at the next engine boot — which `new EmbeddedDriver()`
      // below performs immediately, so it must come first
      System.setProperty("derby.system.durability", "test")
      // engine shutdown DEregistered the embedded JDBC driver —
      // re-instantiate to re-register, and name it explicitly in the
      // connection props so Spark's DriverRegistry re-resolves it
      // rather than reusing its stale pre-shutdown wrapper
      new org.apache.derby.jdbc.EmbeddedDriver()
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      try (syncOnce(spark, sfDir, "graft_bench_derby2", props, logScratch)._2,
        writerScaling(spark, sfDir, props))
      finally {
        // leave the JVM with no engine running in durability=test
        // mode and no open handles pinning the deleted db files
        shutdownDerby()
        System.clearProperty("derby.system.durability")
      }
    } catch { case _: Throwable => (-1.0, "") }

  /** Writer-concurrency scaling probe. The production writer CLAMPS
    * embedded URLs to one connection (BatchWriter.connectionBudget) on
    * the claim that an in-process engine serializes writers; this
    * measures the claim: the same lineitem load, clamp bypassed, with
    * 1/2/4 writer connections under relaxed durability. Flat-or-worse
    * seconds across 1→4 writers = the clamp is right for this engine.
    * The server-mode half of the curve is a documented negative: no
    * server engine is on the classpath (Derby's network server lives in
    * derbynet.jar, absent; H2/HSQLDB jars, absent).
    */
  private def writerScaling(spark: SparkSession, sfDir: String,
      props: java.util.Properties): String = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val nRows = li.count()
    Seq(1, 2, 4).map { w =>
      val dbDir = Files.createTempDirectory(s"graft_scal$w")
      val url = s"jdbc:derby:$dbDir/db;create=true"
      val sec = try {
        val t0 = System.nanoTime()
        li.repartition(w).write
          .option("batchsize", "5000")
          .option("isolationLevel", "READ_COMMITTED")
          .mode("append").jdbc(url, "\"lineitem\"", props)
        val t = (System.nanoTime() - t0) / 1e9
        if (spark.read.jdbc(url, "\"lineitem\"", props).count() == nRows) t else -1.0
      } catch { case _: Throwable => -1.0 }
      finally {
        // shut THIS database down before deleting it — without the
        // per-db shutdown, each deleted db stays pinned as unlinked
        // open files and its background checkpointing can bleed into
        // the NEXT iteration's timed write, contaminating exactly the
        // 1w/2w/4w comparison (08006 = clean db shutdown)
        scala.util.Try(java.sql.DriverManager.getConnection(s"jdbc:derby:$dbDir/db;shutdown=true", props))
        FileUtils.deleteQuietly(dbDir.toFile)
      }
      f"${w}w:${sec}%.1f"
    }.mkString(",")
  }

  /** Versioning-overhead probe: the Snapshots claim is "archiving the
    * pre-rewrite copy costs one rename, zero added write I/O" — this
    * measures the same deleteWhere sweep over a fresh copy of the
    * documents corpus with retention off vs on (median of 3 each).
    * Near-equal seconds = the claim, measured instead of argued.
    */
  private def versionOverheadArm(spark: SparkSession, sfDir: String): String =
    try {
      def timeDelete(versioned: Boolean): Double = {
        val parent = Files.createTempDirectory("graft_bench_ver")
        val dir = s"$parent/corpus"
        try {
          spark.read.parquet(s"$sfDir/documents.parquet").write.mode("overwrite").parquet(dir)
          if (versioned) graft.plans.Snapshots.enableVersioning(spark, dir)
          val t0 = System.nanoTime()
          graft.plans.Compaction.deleteWhere(spark, dir, col("doc_id") % 3 === 0)
          (System.nanoTime() - t0) / 1e9
        } finally FileUtils.deleteQuietly(parent.toFile)
      }
      def med3(f: => Double) = Harness.median(Seq(f, f, f))
      f"plain:${med3(timeDelete(false))}%.2f,versioned:${med3(timeDelete(true))}%.2f"
    } catch { case _: Throwable => "" }

  /** sf1 soak ratios: tools/soak.py runs the heavy-query subset at sf0.1
    * and at 10× (graft.tools.ScaleUp fixtures) and writes the per-query
    * time RATIOS to bench/SOAK.json — embedded verbatim so the round's
    * artifact carries the scale measurement beside its sf0.1 numbers.
    * Absent file = no entry. Capped at 470 chars, one line.
    */
  private def soakRatios(): Option[String] = readText("bench/SOAK.json").map(_.trim)
    .filter(s => s.startsWith("{") && s.endsWith("}") && s.length <= 470 && !s.contains('\n'))

  /** The previous round's per-query medians (same sf only), the
    * baseline for [[needsReprobe]] and [[driftQueries]]. */
  private def previousTimes(sfDir: String): Map[String, Double] =
    readText("bench/LAST_BENCH.json").fold(Map.empty[String, Double])(parsePrevQueryTimes(_, sfDir))

  private def readText(path: String): Option[String] =
    scala.util.Try(new String(Files.readAllBytes(Paths.get(path)), "UTF-8")).toOption

  /** Outlier re-probe — the soak's variance policy ("any ratio > 12 is
    * re-measured solo before it is believed") applied to the COMMITTED
    * artifact: r16 recorded a 68.0 s transient for a 3.2–4.1 s query as
    * its official cost. The slow tail and any query whose in-suite
    * median trips needsReprobe against the previous artifact are re-
    * timed at suite end with the same rep/median protocol, and BOTH
    * readings are emitted — "q_x": 68.0, "q_x_solo": 4.1.
    */
  private def reprobe(spark: SparkSession, sfDir: String, reps: Int,
      results: Seq[(String, Double)], prevTimes: Map[String, Double]): Seq[(String, Double)] =
    results
      .filter { case (n, v) =>
        v >= SlowSoloFloorSec || prevTimes.get(n).exists(p => needsReprobe(p, v)) }
      .map { case (name, _) =>
        (name + "_solo") -> timeQuery(spark, sfDir, reps, SparkEntry.queries(name)) }
}
