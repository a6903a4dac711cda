package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The harness artifacts' contracts with the tools that read them, over
  * synthetic input (no SparkSession): the bench's stdout line must
  * survive the 2000-char stdout tail its reader keeps, `LAST_BENCH.json` must
  * feed the next run's re-probe baseline, and `oracle_sql.json` must
  * load whatever the SQL holds — a bad escape zeroes the correctness
  * gate.
  */
class HarnessSpec extends AnyFunSuite {

  private val sf = "/data/sf0.1"

  private def keys(n: com.fasterxml.jackson.databind.JsonNode): Set[String] =
    n.properties().asScala.map(_.getKey).toSet

  /** 255 suite queries named like the real suite (its names, padded
    * with suffixed copies) with times spread from 0.1 s to ~30 s, 6 slow
    * ones re-probed solo (one of them far below its in-suite median, so
    * the run is io-degraded), and a previous artifact that 7 queries
    * drifted from (more than the line names).
    */
  private val run: Bench.Run = {
    val real = SparkEntry.queries.keys.toSeq.sorted
    val names = (real ++ real.map(_ + "_b")).take(255)
    val results = names.zipWithIndex.map { case (n, i) =>
      n -> (0.1 + (i * 7919 % 255) * 0.117)
    }
    val slow = results.sortBy(-_._2).take(6)
    val reprobed = slow.zipWithIndex.map { case ((n, v), i) =>
      (n + "_solo") -> (if (i == 0) v / 10 else v * 0.9)
    }
    val prevTimes = results.filter { case (_, v) => v > 1.0 && v < 20.0 }.take(7)
      .map { case (n, v) => n -> v / 3 }.toMap
    Bench.Run(sf, reps = 3, cpus = 4, load = 0.42, degraded = false,
      heapPeakMb = 2048, results = results, reprobed = reprobed,
      prevTimes = prevTimes, bpeCold = 1.234, streamLifecycle = 2.5,
      jdbc = Bench.Jdbc(7.1, 14314.0, 3.2, 5.5, 20000.4, "1w:3.0,2w:3.1,4w:3.3"),
      versionOverhead = "plain:1.00,versioned:1.02",
      soak = Some("""{"x":10,"mh":2.10}"""), skip = Set("q_stream_ingest_twin"))
  }

  test("bench line: one bare JSON line within the tail budget, slow tail and every solo row kept") {
    val line = Bench.line(run)
    assert(!line.contains('\n'))
    assert(line.startsWith("""{"metric":"total","""), "consumers find the line by its prefix")
    assert(line.length <= Bench.LineBudget, s"${line.length} chars")
    val j = Harness.parse(line)
    assert(keys(j) === Set("metric", "value", "total_ex_reprobed", "unit", "queries",
      "failed", "omitted", "reps", "params", "sf"))
    val qs = keys(j.get("queries"))
    assert(qs.count(!_.endsWith("_solo")) >= 40, s"only ${qs.size} entries kept in ${line.length} chars")
    assert(run.reprobed.map(_._1).forall(qs.contains), "every _solo row must survive")
    // the slowest suite entries are the ones kept
    val slowest = run.results.sortBy(-_._2).take(40).map(_._1)
    assert(slowest.forall(qs.contains))
    assert(j.get("omitted").asInt === 255 - qs.count(!_.endsWith("_solo")),
      "omitted counts suite entries only, not solo rows")
    assert(j.get("queries").get(slowest.head).asText === f"${run.results.map(_._2).max}%.3f")
    val p = j.get("params")
    assert(Set("bpe_cold", "jdbc_sync", "jdbc_verify", "jdbc_rps", "jdbc_sync_shmlog")
      .subsetOf(keys(p)))
    assert(p.get("io_degraded").asBoolean && p.get("drift_n").asInt === 7)
    assert(p.get("drift").asText.split(",").length === 4)
    assert(!keys(p).contains("simhash"), "knob strings belong to LAST_BENCH.json only")
  }

  test("bench line: the budget holds for any params length") {
    // a long sf path and many io-degraded names grow the line's fixed
    // part; the queries map, not the line, gives way
    val noisy = run.copy(sf = "/data/" + "deep/" * 20,
      reprobed = run.results.take(12).map { case (n, v) => (n + "_solo") -> v / 10 })
    val line = Bench.line(noisy)
    assert(line.length <= Bench.LineBudget, s"${line.length} chars")
    Harness.parse(line)
  }

  test("LAST_BENCH.json: full params, and its suite times read back as the next baseline") {
    val blob = Bench.lastBench(run)
    val j = Harness.parse(blob)
    assert(keys(j) === Set("sf", "reps", "total", "total_ex_reprobed", "failed",
      "queries", "params"))
    assert(keys(j.get("params")) === Set("agg", "load", "heap_peak_mb", "degraded",
      "io_degraded", "io_degraded_queries", "drift", "drift_n", "cpus",
      "simhash_portable", "simhash", "minhash", "lsh", "ivf", "spans", "semdedup",
      "sq", "ivfsq", "bpe", "bpe_cold", "knnivf", "mhidx", "stream_lifecycle",
      "jdbc_sync", "jdbc_verify", "jdbc_rps", "jdbc_sync_shmlog", "jdbc_rps_rlx",
      "jdbc_protocol", "jdbc_scaling", "version_overhead", "soak", "skip"))
    assert(blob.contains(""""soak":{"x":10,"mh":2.10}"""),
      "the soak object is embedded as written")
    assert(j.get("params").get("jdbc_rps").asText === "14314")
    val prev = Bench.parsePrevQueryTimes(blob, sf)
    assert(prev.keySet === run.results.map(_._1).toSet, "solo rows are not baselines")
    run.results.foreach { case (n, v) =>
      assert(prev(n) === BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble, n)
    }
  }

  test("probe export and an empty run: failed queries listed, optional keys absent") {
    val failedRun = run.copy(results = Seq("q_a" -> 1.5, "q_b" -> -1.0),
      reprobed = Nil, prevTimes = Map.empty, soak = None, skip = Set.empty,
      jdbc = Bench.Jdbc(-1, -1, -1, -1, -1, ""), versionOverhead = "")
    val probe = Harness.parse(Bench.probeOut(failedRun))
    assert(keys(probe) === Set("sf", "reps", "queries", "failed"))
    assert(Bench.probeOut(failedRun).contains(""""queries":{"q_a":1.500,"q_b":-1}"""))
    assert(probe.get("failed").get(0).asText === "q_b")
    val params = Harness.parse(Bench.lastBench(failedRun)).get("params")
    assert(Seq("io_degraded_queries", "drift", "drift_n", "jdbc_scaling",
      "version_overhead", "soak", "skip").forall(k => !params.has(k)))
    assert(params.get("jdbc_sync").asInt === -1)
  }

  test("oracle_sql.json: hostile SQL strings round-trip exactly") {
    val sql = Map(
      "q_quote" -> """SELECT '"quoted"' AS "a", 'back\slash\\' AS b""",
      "q_ws" -> "SELECT\t1\r\nAS x\n",
      "q_ctl" -> "SELECT '\u0001\u001f' AS c",
      "q_utf" -> "SELECT 'naïve — 東京 ✓' AS d",
      "q_\"key\"" -> "SELECT 1")
    val json = Verify.oracleJson(sql)
    assert(!json.contains('\n') && !json.contains('\t') && !json.contains('\u0001'))
    val back = Harness.parse(json).properties().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
    assert(back === sql)
  }

  test("timedReps drops a failed rep; median of an even sample averages the middle two") {
    var n = 0
    val times = Harness.timedReps(4) { n += 1; if (n == 2) sys.error("rep failed") }
    assert(n === 4 && times.size === 3 && times.forall(_ >= 0))
    assert(Harness.timedReps(2)(sys.error("always")).isEmpty)
    assert(Harness.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Harness.median(Seq(4.0, 1.0, 2.0, 3.0)) === 2.5)
  }
}
