package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ScaleJoinsSpec extends SparkSpec {

  test("bucketed join is exchange-free and matches the plain join") {
    val li = table("lineitem").select("l_orderkey", "l_quantity")
    val o = table("orders").select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    ScaleJoins.writeBucketed(li, "li_bkt", "l_orderkey", 8)
    ScaleJoins.writeBucketed(o, "o_bkt", "l_orderkey", 8)

    // At sf0.001 both sides fit under the broadcast threshold, so Catalyst
    // would pick BHJ and skip the bucketed scan entirely. Force the
    // shuffle-join path — the one bucketing exists to optimize at scale —
    // to prove it needs no Exchange.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bkt").join(spark.table("o_bkt"), Seq("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(plan.contains("Bucketed: true"), plan)

      val expected = li.join(o, Seq("l_orderkey")).count()
      assert(joined.count() === expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("materialized IVF index: bucketed by list id, probe scan prunes via pushed filter") {
    // the 100 TB pattern: run the (shuffle-free) assignment once, persist
    // bucketed by __list, then every query batch probes by list id with a
    // filter pushed to the scan — no full-corpus pass at query time
    val emb = table("embeddings").select("vec_id", "embedding")
    val assigned = graft.operators.Similarity.ivfAssign(emb, "vec_id", "embedding", 4)
    ScaleJoins.writeBucketed(
      assigned.select("neighbor_id", "__cn", "__list"), "ivf_idx", "__list", 4)

    val someList = spark.table("ivf_idx").select("__list").limit(1).collect()(0).getLong(0)
    val probe = spark.table("ivf_idx").filter(col("__list") === someList)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(__list), EqualTo(__list"), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(probe.count() > 0)
    // index covers the whole corpus exactly once
    assert(spark.table("ivf_idx").count() === emb.count())
  }

  test("salted join matches plain join results under a hot key") {
    import spark.implicits._
    // hot key: 10k rows of key=1 plus a tail
    val large = spark.range(10000).select(lit(1L).as("k"), col("id").as("v"))
      .union(spark.range(100).select((col("id") + 2).as("k"), col("id").as("v")))
    val small = Seq((1L, "hot"), (2L, "cold"), (50L, "cool")).toDF("k", "label")

    val plain = large.join(small, Seq("k")).groupBy("k", "label")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(_.toString).toSet
    val salted = ScaleJoins.saltedJoin(large, small, "k", saltBuckets = 8)
      .groupBy("k", "label")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(_.toString).toSet
    assert(salted === plain)
  }

  test("salted join spreads the hot key across salt buckets") {
    import spark.implicits._
    val large = spark.range(10000).select(lit(1L).as("k"), col("id").as("v"))
    val small = Seq((1L, "hot")).toDF("k", "label")
    val salted = large.withColumn("__salt",
      pmod(xxhash64(struct(col("k"), col("v"))), lit(8)))
    val buckets = salted.groupBy("__salt").count().collect()
    assert(buckets.length === 8, "hot key must occupy all salt buckets")
    // roughly uniform: no bucket more than 3x the smallest
    val counts = buckets.map(_.getLong(1))
    assert(counts.max < counts.min * 3, counts.mkString(","))
    // semantics preserved through the real API
    assert(ScaleJoins.saltedJoin(large, small, "k", 8).count() === 10000)
  }

  test("hotKeys: the MG certificate finds every planted hot key, cold keys can only be near-threshold") {
    import spark.implicits._
    // planted skew: key 1 = 5000 rows, key 2 = 1200 rows, 100 singletons
    val df = spark.range(5000).select(lit(1L).as("k"))
      .union(spark.range(1200).select(lit(2L).as("k")))
      .union(spark.range(100).select((col("id") + 10).as("k")))
    // exact regime (m >= distinct keys): est is the true count, err = 0
    val exact = ScaleJoins.hotKeys(df, "k", hotThreshold = 1000, m = 256)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact === Map("1" -> 5000L, "2" -> 1200L))
    // tight-sketch regime (m = 4 << 102 distinct): both true hot keys
    // must STILL be returned — the certificate has no false negatives —
    // and any extra key must be there only via its error upper bound
    val tight = ScaleJoins.hotKeys(df, "k", hotThreshold = 1000, m = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val names = tight.map(_._1).toSet
    assert(names.contains("1") && names.contains("2"), tight.mkString(","))
    tight.foreach { case (_, est, err) => assert(est + err >= 1000, s"$est + $err") }
  }

  test("sketch-salted join: result equals the plain join; only hot keys spread") {
    import spark.implicits._
    val large = spark.range(10000).select(lit(1L).as("k"), col("id").as("v"))
      .union(spark.range(100).select((col("id") + 2).as("k"), col("id").as("v")))
    val small = Seq((1L, "hot"), (2L, "cold"), (50L, "cool")).toDF("k", "label")

    val plain = large.join(small, Seq("k")).groupBy("k", "label")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(_.toString).toSet
    val salted = ScaleJoins.sketchSaltedJoin(large, small, "k",
      saltBuckets = 8, hotThreshold = 1000, m = 64)
      .groupBy("k", "label")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(_.toString).toSet
    assert(salted === plain)

    // the assignment half: the hot key occupies every salt bucket,
    // cold keys never leave salt 0 — replication stays |hot| × buckets
    val hotLit = typedlit(Seq("1"))
    val assigned = ScaleJoins.saltAssign(large, "k", hotLit, 8)
    val hotSalts = assigned.filter(col("k") === 1).select("__salt").distinct().count()
    val coldSalts = assigned.filter(col("k") =!= 1).select("__salt").distinct().collect()
    assert(hotSalts === 8, s"hot key spread over $hotSalts buckets")
    assert(coldSalts.map(_.getLong(0)).toSeq === Seq(0L))

    // left outer keeps unmatched large keys exactly once
    val lo = ScaleJoins.sketchSaltedJoin(large, small, "k",
      saltBuckets = 8, hotThreshold = 1000, m = 64, joinType = "left_outer")
    assert(lo.count() === large.count())

    // the salt rides the join key when something is hot; with nothing
    // hot the adaptive path degrades to the PLAIN join — no salt
    // column, no small-side replication at all
    val hotPlan = ScaleJoins.sketchSaltedJoin(large, small, "k", 8, 1000, 64)
      .queryExecution.executedPlan.toString
    assert(hotPlan.contains("__salt"), hotPlan)
    val coldPlan = ScaleJoins.sketchSaltedJoin(large, small, "k", 8, 100000, 64)
      .queryExecution.executedPlan.toString
    assert(!coldPlan.contains("__salt"), coldPlan)

    // uncertifiable sketch (m = 2 forces err past the threshold): the
    // operator must degrade to FULL salting — salted plan, and the
    // result still equals the plain join — never a silently-unsalted
    // hot key
    val fb = ScaleJoins.sketchSaltedJoin(large, small, "k",
      saltBuckets = 8, hotThreshold = 50, m = 2)
    assert(fb.queryExecution.executedPlan.toString.contains("__salt"))
    val fbRows = fb.groupBy("k", "label")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(_.toString).toSet
    assert(fbRows === plain)
    // outer shapes that would duplicate null-extensions are rejected
    intercept[IllegalArgumentException] {
      ScaleJoins.sketchSaltedJoin(large, small, "k", 8, 1000, 64, "full_outer")
    }
  }

  test("adaptiveJoin: the sketch estimates drive all four arms; results never change") {
    import spark.implicits._
    val large = spark.range(10000).select(lit(1L).as("k"), col("id").as("v"))
      .union(spark.range(100).select((col("id") + 2).as("k"), col("id").as("v")))
    val small = Seq((1L, "hot"), (2L, "cold"), (50L, "cool")).toDF("k", "label")
    val plain = large.join(small, Seq("k")).groupBy("k", "label")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(_.toString).toSet
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k", "label").agg(count(lit(1)).as("n"), sum("v").as("s"))
        .collect().map(_.toString).toSet
    // auto-broadcast off: the spec must witness the OPERATOR's arm
    // choice, not AQE's small-input shortcut
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // broadcast arm: 3 distinct small keys under the ceiling
      val b = ScaleJoins.adaptiveJoin(large, small, "k",
        broadcastMaxDistinct = 100, hotThreshold = 1000)
      assert(b.decision.strategy === "broadcast", b.decision.toString)
      assert(b.df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "the broadcast arm must actually broadcast")
      assert(agg(b.df) === plain)
      // salted arm: ceiling 0 forces past broadcast, the planted hot
      // key certifies at the threshold
      val sa = ScaleJoins.adaptiveJoin(large, small, "k",
        broadcastMaxDistinct = 0, hotThreshold = 1000)
      assert(sa.decision.strategy === "salted" && sa.decision.hotKeyCount >= 1,
        sa.decision.toString)
      assert(sa.df.queryExecution.executedPlan.toString.contains("__salt"))
      assert(agg(sa.df) === plain)
      // shuffle arm: threshold above every key's count — nothing hot,
      // no broadcast, the plain exchange join
      val sh = ScaleJoins.adaptiveJoin(large, small, "k",
        broadcastMaxDistinct = 0, hotThreshold = 1000000)
      assert(sh.decision.strategy === "shuffle", sh.decision.toString)
      val shPlan = sh.df.queryExecution.executedPlan.toString
      assert(!shPlan.contains("__salt") && !shPlan.contains("BroadcastHashJoin"),
        shPlan)
      assert(agg(sh.df) === plain)
      // the measured inputs ride the decision
      assert(sh.decision.estDistinctSmall === 3L)
      assert(sh.decision.estOverlap >= 1L && sh.decision.estOverlap <= 3L,
        sh.decision.toString)
      // skip arm: disjoint key domains — named error, no shuffle burned
      val disjoint = Seq((777777L, "x")).toDF("k", "label")
      val ex = intercept[IllegalStateException] {
        ScaleJoins.adaptiveJoin(large, disjoint, "k",
          broadcastMaxDistinct = 0, hotThreshold = 1000, minOverlap = 1L)
      }
      assert(ex.getMessage.contains("overlap"), ex.getMessage)
      // ...and minOverlap = 0 forces the join through anyway
      val forced = ScaleJoins.adaptiveJoin(large, disjoint, "k",
        broadcastMaxDistinct = 0, hotThreshold = 1000, minOverlap = 0L)
      assert(forced.df.count() === 0L)
      // anti arm: zero overlap is the EXPECTED answer for a blocklist
      // probe — "no blocklisted key present" keeps everything instead
      // of tripping the doomed-join screen (which guards inner/semi)
      val anti = ScaleJoins.adaptiveJoin(large, disjoint, "k",
        broadcastMaxDistinct = 100, hotThreshold = 1000,
        joinType = "left_anti")
      assert(anti.df.count() === large.count())
      assert(anti.decision.estOverlap === 0L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bloomFilteredJoin: exact result, scan-stage reduction, build-once-probe-many") {
    import spark.implicits._
    val large = spark.range(20000)
      .select(pmod(col("id"), lit(1000L)).as("k"), col("id").as("v"))
    val small = (0L until 1000L by 50).map(k => (k, s"dim$k")).toDF("k", "label")
    val plain = large.join(small, Seq("k")).groupBy("k", "label")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(_.toString).toSet
    // tiny filter (high false-positive rate) — result must STILL be
    // exact: false positives drop in the real join
    for (mBits <- Seq(64, 1 << 16)) {
      val got = ScaleJoins.bloomFilteredJoin(large, small, "k", mBits, kHashes = 3)
        .groupBy("k", "label").agg(count(lit(1)).as("n"), sum("v").as("s"))
        .collect().map(_.toString).toSet
      assert(got === plain, s"mBits=$mBits")
    }
    // the reduction is a pure filter in the probe side's own stage —
    // no join, no exchange introduced by the prefilter itself
    val words = ScaleJoins.keyBloomWords(small, "k", 1 << 16, 3)
    val reduced = ScaleJoins.bloomPrefilter(large, "k", words, 3)
    val plan = reduced.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
    // no false negatives: every truly-matching key survives the filter
    val surviving = reduced.select("k").distinct()
      .collect().map(_.getLong(0)).toSet
    val trueKeys = small.select("k").collect().map(_.getLong(0)).toSet
    assert(trueKeys.subsetOf(surviving))
    // ...and the filter actually reduces (20 of 1000 keys match; even
    // with false positives the survivors are far under the input)
    assert(reduced.count() < large.count() / 2,
      s"${reduced.count()} of ${large.count()} survived — no reduction")
    // build-once-probe-many: the same words screen a second probe side
    val large2 = spark.range(5000).select(pmod(col("id"), lit(997L)).as("k"))
    val r2 = ScaleJoins.bloomPrefilter(large2, "k", words, 3)
      .join(small, Seq("k")).count()
    assert(r2 === large2.join(small, Seq("k")).count())
    // null probe keys pass the filter (the join owns null semantics)
    val withNull = Seq(Option(0L), None).toDF("k")
    assert(ScaleJoins.bloomPrefilter(withNull, "k", words, 3).count() === 2)
    // outer shapes that must keep unmatched probe rows are rejected
    intercept[IllegalArgumentException] {
      ScaleJoins.bloomFilteredJoin(large, small, "k", joinType = "left_outer")
    }
  }

  test("rowDiff over same-bucketed tables needs no exchange") {
    // the 100 TB composition: src and dest both bucketed on the diff
    // key at ingest => the full-outer diff join reads co-located buckets
    val src = table("orders").select("o_orderkey", "o_totalprice")
    val dest = src.filter(col("o_orderkey") % 7 =!= 0)
    ScaleJoins.writeBucketed(src, "diff_src_bkt", "o_orderkey", 8)
    ScaleJoins.writeBucketed(dest, "diff_dest_bkt", "o_orderkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val diff = graft.verify.Comparator.rowDiff(
        spark.table("diff_src_bkt"), spark.table("diff_dest_bkt"), Seq("o_orderkey"))
      val plan = diff.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      // and the result is exactly the planted removals
      assert(diff.count() === src.filter(col("o_orderkey") % 7 === 0).count())
      assert(diff.select("diff_status").distinct().collect()
        .map(_.getString(0)).toSeq === Seq("missing_in_dest"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
