package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  /** documents plus planted duplicates: doc 0 copied exactly (id 10000),
    * doc 1 copied with one word appended (id 10001 — near-dup).
    */
  private lazy val planted = {
    val docs = table("documents").select("doc_id", "text")
    val exactCopy = docs.filter(col("doc_id") === 0)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val nearCopy = docs.filter(col("doc_id") === 1)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" xyzzy")).as("text"))
    docs.union(exactCopy).union(nearCopy)
  }

  test("exact dedup keeps lowest id and removes the planted exact copy") {
    val out = Dedup.exact(planted, "doc_id", "text")
    assert(out.count() === planted.count() - 1)
    assert(out.filter(col("doc_id") === 10000).count() === 0)
    assert(out.filter(col("doc_id") === 0).count() === 1)
    // near-copy is NOT an exact dup
    assert(out.filter(col("doc_id") === 10001).count() === 1)
  }

  test("paragraphDedup keeps first global occurrence and reassembles in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta\ncommon boilerplate\ngamma"),
      (2L, "common boilerplate\ndelta"),
      (3L, "epsilon\nalpha beta"),
      (4L, "common boilerplate"), // every span seen earlier -> doc drops out
      (5L, "zeta\nzeta") // intra-doc repeat: first position wins
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L, 2L, 3L, 5L))
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(1L).getAs[String]("text") ===
      "alpha beta\ncommon boilerplate\ngamma")
    assert(byId(2L).getAs[String]("text") === "delta")
    assert(byId(3L).getAs[String]("text") === "epsilon")
    assert(byId(5L).getAs[String]("text") === "zeta")
    assert(byId(2L).getAs[Long]("n_spans") === 2L)
    assert(byId(2L).getAs[Long]("n_kept") === 1L)
    assert(byId(1L).getAs[Long]("n_kept") === 3L)
  }

  test("paragraphDedup is identity on a corpus with all-distinct spans") {
    val docs = table("documents").select("doc_id", "text").limit(50)
    val out = Dedup.paragraphDedup(docs, "doc_id", "text")
    assert(out.count() === 50)
    // single-span docs: text passes through untouched
    val joined = docs.as("a").join(out.as("b"), "doc_id")
      .filter(col("a.text") =!= col("b.text"))
    assert(joined.count() === 0)
  }

  test("exactKeepBest: the best-scored duplicate survives, ties break to the smaller id, uniques pass through") {
    import spark.implicits._
    val docs = Seq(
      (1L, "shared page text", 10L),
      (2L, "shared page text", 40L), // best copy — must win over id order
      (3L, "Shared   PAGE text", 40L), // normalizes equal; quality tie → id 2 wins
      (4L, "unique text", 1L),
      (5L, "tied text", 7L),
      (6L, "tied text", 7L) // full tie → smaller id
    ).toDF("doc_id", "text", "quality")
    val out = Dedup.exactKeepBest(docs, "doc_id", "text", col("quality"))
    assert(out.columns.toSeq === Seq("doc_id", "text", "quality"),
      "helper columns must not leak")
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(2L, 4L, 5L))
    // keepBy can be any expression over the frame's columns
    val byLen = Dedup.exactKeepBest(
      Seq((1L, "a  b"), (2L, "a b")).toDF("doc_id", "text"),
      "doc_id", "text", length(col("text")))
    assert(byLen.select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(1L),
      "the longer raw copy of the same normalized text wins")
  }

  test("exactGroups reports the duplicate set") {
    val g = Dedup.exactGroups(planted, "doc_id", "text")
      .filter(col("dup_count") > 1)
      .collect()
    assert(g.length === 1)
    assert(g(0).getAs[Long]("keeper") === 0L)
    assert(g(0).getAs[Long]("dup_count") === 2L)
  }

  test("minhash near-dup finds both planted copies") {
    val pairs = Dedup.minhashNearDupPairs(planted, "doc_id", "text",
      shingleSize = 3, k = 64, bands = 16, threshold = 0.5)
      .collect()
    val pairSet = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet.contains((0L, 10000L)), s"missing exact pair in $pairSet")
    assert(pairSet.contains((1L, 10001L)), s"missing near pair in $pairSet")
    // exact copy estimates ~1.0
    val exactPair = pairs.find(r => r.getLong(0) == 0L && r.getLong(1) == 10000L).get
    assert(exactPair.getAs[Double]("jaccard") === 1.0)
  }

  test("minhashDedup drops only near-dup members, keeps low ids") {
    val out = Dedup.minhashDedup(planted, "doc_id", "text", threshold = 0.5)
    assert(out.filter(col("doc_id") === 10000).count() === 0)
    assert(out.filter(col("doc_id") === 10001).count() === 0)
    assert(out.filter(col("doc_id") === 0).count() === 1)
    assert(out.filter(col("doc_id") === 1).count() === 1)
  }

  test("simhash: identical text -> distance 0; near text -> small distance") {
    val pairs = Dedup.simhashNearDupPairs(planted, "doc_id", "text", maxHamming = 3)
      .collect()
    val m = pairs.map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Int]("hamming")).toMap
    assert(m.get((0L, 10000L)).contains(0))
    // the near-copy differs in few signature bits — measured on the raw
    // signatures, NOT through the banded path, whose pigeonhole only
    // guarantees recall to Hamming 3
    val sigs = planted
      .select(col("doc_id"), Dedup.simhash64(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(10001L)) <= 10)
    // thresholds past the pigeonhole bound are rejected, not silently
    // under-recalled
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(planted, "doc_id", "text", maxHamming = 10)
    }
  }

  test("ngram-jaccard pairs find the exact copy; near-copy found iff block key survives") {
    val pairs = Dedup.ngramJaccardNearDupPairs(planted, "doc_id", "text",
      n = 3, threshold = 0.5).collect()
    val pairSet = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact copy shares every shingle — identical min shingle, jaccard 1.0
    assert(pairSet.contains((0L, 10000L)), s"missing exact pair in $pairSet")
    val exactPair = pairs.find(r => r.getLong(0) == 0L && r.getLong(1) == 10000L).get
    assert(exactPair.getAs[Double]("jaccard") === 1.0)
    // every reported pair respects the threshold and id ordering
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getAs[Double]("jaccard") >= 0.5)
    }
  }

  test("duplicateClusters: min-label propagation finds connected components") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("duplicateClusters: driver-local and distributed paths agree row for row") {
    import spark.implicits._
    // chain + star + isolate pair: exercises pointer jumping on the loop
    // side and min-per-component on the union-find side
    val pairs = (Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (20L, 25L),
      (20L, 22L), (20L, 21L), (30L, 31L))).toDF("id_a", "id_b")
    val local = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // force the distributed fixpoint loop (the 100 TB path) by setting
    // the local-edge bound to zero
    spark.conf.set("spark.graft.cc.localMaxEdges", "0")
    try {
      val looped = Dedup.duplicateClusters(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local === looped)
      assert(local === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
        20L -> 20L, 21L -> 20L, 22L -> 20L, 25L -> 20L, 30L -> 30L, 31L -> 30L))
    } finally spark.conf.unset("spark.graft.cc.localMaxEdges")
  }

  test("duplicateClusters: string ids cluster to the lexicographic min (local path)") {
    import spark.implicits._
    // the distributed loop's decimal-sum convergence witness is
    // numeric-only (pre-existing; every declared gate clusters numeric
    // ids) — the local path's Comparable ordering handles strings, so
    // only it is asserted here
    val pairs = Seq(("b", "c"), ("c", "a"), ("x", "y")).toDF("id_a", "id_b")
    val local = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local === Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("keepKPerCluster: k=1 is strict keep-first, k >= max cluster keeps everything") {
    import spark.implicits._
    val docs = (1L to 12L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    def ids(k: Int) = Dedup.keepKPerCluster(docs, "doc_id", pairs, k)
      .collect().map(_.getLong(0)).sorted.toSeq
    // k=1: lowest id of each cluster survives, edge-free docs untouched
    assert(ids(1) == Seq(1L, 4L, 5L, 6L, 7L, 8L, 9L, 10L, 12L))
    // k=2: second member of {1,2,3} returns; {10,11} fully back
    assert(ids(2) == Seq(1L, 2L, 4L, 5L, 6L, 7L, 8L, 9L, 10L, 11L, 12L))
    // k beyond the largest cluster: nothing dropped
    assert(ids(5) == (1L to 12L).toSeq)
  }

  test("keepKPerCluster: pair ids absent from the doc set don't consume keep slots") {
    import spark.implicits._
    // id 1 was filtered out upstream but still appears in the pair list
    val docs = Seq(2L, 3L, 4L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.keepKPerCluster(docs, "doc_id", pairs, k = 2)
      .collect().map(_.getLong(0)).sorted.toSeq
    // the cluster's two lowest PRESENT members (2, 3) survive — a
    // phantom slot for id 1 would have silently dropped 3
    assert(kept == Seq(2L, 3L, 4L))
  }

  test("transitive dedup collapses a bridge cluster that one-pass dedup keeps split") {
    import spark.implicits._
    // A and B are dissimilar; C bridges them (half A's tokens, half B's)
    val wa = (1 to 20).map(i => s"alpha$i").mkString(" ")
    val wb = (1 to 20).map(i => s"beta$i").mkString(" ")
    val bridge = (1 to 20).map(i => s"alpha$i").take(20).mkString(" ") + " " +
      (1 to 20).map(i => s"beta$i").take(20).mkString(" ")
    val df = Seq((1L, wa), (2L, wb), (3L, bridge)).toDF("doc_id", "text")

    val pairs = Dedup.minhashNearDupPairs(df, "doc_id", "text",
      shingleSize = 3, k = 64, bands = 32, threshold = 0.3)
    val pairSet = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet === Set((1L, 3L), (2L, 3L)), s"bridge edges: $pairSet")

    // one-pass: only the bridge (highest id in both pairs) is dropped
    val onePass = Dedup.minhashDedup(df, "doc_id", "text", 3, 64, 32, 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(onePass === Set(1L, 2L))

    // transitive: the connected components collapse the whole cluster
    // to its lowest id
    val drop = Dedup.duplicateClusters(pairs).filter(col("id") =!= col("cluster"))
      .select(col("id").as("doc_id"))
    val strict = df.join(drop, Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(strict === Set(1L))
  }

  test("maxBucket caps pathological LSH buckets without touching healthy ones") {
    import spark.implicits._
    // 60 identical boilerplate docs + one distinct near-dup pair
    val boiler = spark.range(60).select(
      (col("id") + 20000).as("doc_id"),
      lit("common boilerplate header repeated across the whole corpus verbatim").as("text"))
    val pair = Seq(
      (30000L, "a unique document about spark shuffles and partitions here"),
      (30001L, "a unique document about spark shuffles and partitions there")
    ).toDF("doc_id", "text")
    val df = boiler.union(pair)
    val uncapped = Dedup.minhashNearDupPairs(df, "doc_id", "text", 3, 64, 16, 0.5)
    val capped = Dedup.minhashNearDupPairs(df, "doc_id", "text", 3, 64, 16, 0.5,
      maxBucket = 50)
    // boilerplate explodes uncapped (60*59/2 pairs), vanishes capped
    assert(uncapped.filter(col("id_a") >= 20000 && col("id_a") < 30000).count() === 60L * 59 / 2)
    assert(capped.filter(col("id_a") >= 20000 && col("id_a") < 30000).count() === 0)
    // the healthy near-dup pair survives the cap
    assert(capped.filter(col("id_a") === 30000 && col("id_b") === 30001).count() === 1)
  }

  test("jaccard kernel") {
    import spark.implicits._
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(Dedup.jaccard(col("x"), col("y"))).collect()(0).getDouble(0)
    assert(j === 0.5)
  }

  test("embedding near-dup finds a planted identical vector") {
    val emb = table("embeddings").select("vec_id", "embedding")
    val copy = emb.filter(col("vec_id") === 7)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val pairs = Dedup.embeddingNearDupPairs(emb.union(copy), "vec_id", "embedding",
      threshold = 0.999, nBits = 4)
      .collect()
    assert(pairs.exists(r => r.getLong(0) == 7L && r.getLong(1) == 10007L))
  }

  test("embedding near-dup: banding raises recall and still finds the plant") {
    val emb = table("embeddings").select("vec_id", "embedding")
    val copy = emb.filter(col("vec_id") === 7)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val all = emb.union(copy)
    val single = Dedup.embeddingNearDupPairs(all, "vec_id", "embedding",
      threshold = 0.9, nBits = 8, nBands = 1).count()
    val banded = Dedup.embeddingNearDupPairs(all, "vec_id", "embedding",
      threshold = 0.9, nBits = 8, nBands = 4).collect()
    // an identical pair agrees on every band, so any banding finds it
    assert(banded.exists(r => r.getLong(0) == 7L && r.getLong(1) == 10007L))
    // OR-combined bands can only widen the candidate set
    assert(banded.length >= single)
    // and each emitted pair appears exactly once despite multi-band hits
    val keys = banded.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length === keys.length)
  }

  test("embeddingNearDupPairsAgainst: planted batch collides with its originals only, asymmetrically") {
    val emb = table("embeddings").select("vec_id", "embedding")
    val batch = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
    val out = Dedup.embeddingNearDupPairsAgainst(batch, emb, "vec_id", "embedding",
      threshold = 0.95, nBits = 8, nBands = 2).collect()
    // each copy finds exactly its original; no batch-batch or
    // index-index pair can appear by construction
    assert(out.length === 20, s"got ${out.length}")
    out.foreach { r =>
      assert(r.getLong(0) - 1000000 === r.getLong(1), r.toString)
      assert(r.getDouble(2) >= 0.95, r.toString)
    }
  }

  test("lshBitsFor: width grows with corpus, clamps to floor and signature") {
    // occupancy target 16: width is ceil(log2(n/16)), floored at 8
    assert(Dedup.lshBitsFor(400, nBands = 2) === 8)    // historical sf0.1 width
    assert(Dedup.lshBitsFor(4000, nBands = 2) === 8)   // still under the floor
    assert(Dedup.lshBitsFor(40000, nBands = 2) === 12) // sf1 soak scale
    assert(Dedup.lshBitsFor(40000000, nBands = 2) === 22)
    // 10× data → ~3.3 more bits → expected bucket occupancy constant →
    // candidate pairs grow ~linearly instead of n²/2^b
    assert(Dedup.lshBitsFor(400000, nBands = 2) -
      Dedup.lshBitsFor(40000, nBands = 2) <= 4)
    // clamp: all bands must slice one 64-bit signature
    assert(Dedup.lshBitsFor(Long.MaxValue, nBands = 2) === 32)
    assert(Dedup.lshBitsFor(Long.MaxValue, nBands = 8) === 8)
    assert(Dedup.lshBitsFor(0, nBands = 1) === 8) // empty corpus: floor
  }

  test("embedding near-dup: auto band width finds the plant (width-independent output)") {
    val emb = table("embeddings").select("vec_id", "embedding")
    val copy = emb.filter(col("vec_id") === 7)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    // nBits = 0 → sized from count(); identical vectors agree on every
    // band at ANY width, so the planted pair always surfaces
    val pairs = Dedup.embeddingNearDupPairs(emb.union(copy), "vec_id", "embedding",
      threshold = 0.999, nBits = 0, nBands = 2).collect()
    assert(pairs.exists(r => r.getLong(0) == 7L && r.getLong(1) == 10007L))
    val against = Dedup.embeddingNearDupPairsAgainst(copy, emb, "vec_id", "embedding",
      threshold = 0.999, nBits = 0, nBands = 2).collect()
    assert(against.length === 1 && against(0).getLong(1) === 7L)
  }

  test("embedding near-dup: maxBucket drops a degenerate dense bucket") {
    import spark.implicits._
    // 60 identical vectors collide in EVERY band; a real corpus alongside
    val dense = (1 to 60).map(i => (i.toLong, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val uncapped = Dedup.embeddingNearDupPairs(dense, "vec_id", "embedding",
      threshold = 0.5, nBits = 4, nBands = 2)
    assert(uncapped.count() === 60L * 59 / 2) // quadratic — the failure mode
    val capped = Dedup.embeddingNearDupPairs(dense, "vec_id", "embedding",
      threshold = 0.5, nBits = 4, nBands = 2, maxBucket = 50)
    assert(capped.count() === 0) // the mega-bucket is dropped wholesale
  }

  test("duplicateClusters: a 100-node chain converges (pointer jumping, not O(diameter))") {
    import spark.implicits._
    // plain min-label propagation needs 99 rounds here — far past
    // maxIter — and would return wrong clusters; the jump makes it log
    val chain = (1L until 100L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.duplicateClusters(chain).collect()
    assert(out.length === 100)
    assert(out.forall(_.getLong(1) === 1L), "every node must reach the chain head")
  }

  test("portable minhash: identical docs est=1.0; signatures deterministic") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content with no overlap whatsoever here now")
    ).toDF("doc_id", "text")
    val pairs = Dedup.portableMinhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 1.0)))
    val s1 = Dedup.portableMinhashSignatures(docs, "doc_id", "text").orderBy("doc_id").collect()
    val s2 = Dedup.portableMinhashSignatures(docs, "doc_id", "text").orderBy("doc_id").collect()
    assert(s1.map(_.toSeq).toSeq === s2.map(_.toSeq).toSeq)
  }

  test("portable simhash: identical docs pair at hamming 0; pairs deterministic") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content with no overlap whatsoever here now")
    ).toDF("doc_id", "text")
    val pairs = Dedup.portableSimhashPairs(docs, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 0)))
    // signature is pure arithmetic over the token multiset — stable
    val s1 = docs.select(Dedup.portableSimhashSignature(col("text"))).collect()
    val s2 = docs.select(Dedup.portableSimhashSignature(col("text"))).collect()
    assert(s1.map(_.toSeq).toSeq === s2.map(_.toSeq).toSeq)
  }

  test("planted-pair oracle margin: no real embedding pair approaches the 0.8 threshold") {
    // the q_dedup_embedding gate is only an EXACT oracle while every
    // non-planted cosine stays clear of the threshold; this pins the
    // margin with the O(n²) audit baseline so fixture drift (or a norm/
    // dot regression) fails loudly instead of silently flipping the gate
    val emb = table("embeddings").select("vec_id", "embedding")
    val insideMargin = Dedup.embeddingNearDupExact(emb, "vec_id", "embedding", threshold = 0.7)
    assert(insideMargin.count() === 0,
      "a real embedding pair entered the oracle's safety margin (cosine >= 0.7)")
    // the other side of the gap: every planted copy scores ~1.0 and the
    // LSH path recovers all of them at the gate's exact parameters
    val planted = emb.union(
      emb.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
    val found = Dedup.embeddingNearDupPairs(planted, "vec_id", "embedding",
      threshold = 0.8, nBits = 8, nBands = 2, maxBucket = 10000)
    assert(found.count() === emb.count())
  }

  test("embeddingNearDupExact matches LSH verify on planted duplicates") {
    import spark.implicits._
    val base = (0 until 30).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat)))
    val planted = base ++ base.map { case (id, v) => (id + 1000L, v) }
    val df = planted.toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDupExact(df, "vec_id", "embedding", threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted copy must surface; an identical pair is cos≈1
    assert((0 until 30).forall(i => exact.contains((i.toLong, i + 1000L))), exact)
    // the LSH path at full recall (1-bit bands ⇒ everything shares a
    // bucket side) agrees with the exact baseline above the threshold
    val lsh = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding",
      threshold = 0.999, nBits = 1, nBands = 1)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    assert((0 until 30).forall(i => lsh.contains((i.toLong, i + 1000L))), lsh)
  }

  test("kr-shingle kernel matches the string-shingle + rollingHash composition") {
    import spark.implicits._
    val docs = table("documents").select(col("doc_id"), col("text"))
      .union(Seq((90001L, "one two"), (90002L, ""), (90003L, "a b c d e")).toDF("doc_id", "text"))
    val w = TextAnalysis.tokens(lower(col("text")))
    val composed = docs.select(col("doc_id"), explode(
      when(size(w) < 3, array(concat_ws(" ", w)))
        .otherwise(transform(sequence(lit(1), size(w) - 2),
          i => concat_ws(" ", slice(w, i, lit(3)))))).as("sg"))
      .select(col("doc_id"), TextAnalysis.rollingHash(col("sg")).as("h"))
    val fused = docs.select(col("doc_id"), explode(
      graft.functions.KrShingleHashExpression.krShingleHash(w, 3)).as("h"))
    assert(composed.exceptAll(fused).count() === 0)
    assert(fused.exceptAll(composed).count() === 0)
  }

  test("duplicateSpans: shared span found at different offsets, unique doc silent") {
    import spark.implicits._
    val s = (1 to 14).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"u1 u2 u3 $s v1 v2"),
      (2L, s"w1 $s x1 x2 x3 x4"),
      (3L, (1 to 30).map(i => s"only$i").mkString(" "))
    ).toDF("doc_id", "text")
    // sel=1 disables winnowing: every window participates, so exactly
    // the windows fully inside the shared 14-token span (3 of them) hit
    val out = Dedup.duplicateSpans(docs, "doc_id", "text", window = 12, sel = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out === Set((1L, 3L, 16L, 3L), (2L, 1L, 14L, 3L)), out)
  }

  test("duplicateSpans: winnowing selection is offset-robust (content-defined)") {
    import spark.implicits._
    val s = (1 to 40).map(i => s"core$i").mkString(" ")
    val docs = Seq(
      (1L, s"p1 p2 p3 p4 p5 $s"),
      (2L, s"q1 $s"),
      (3L, (1 to 40).map(i => s"pad$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, "doc_id", "text", window = 12, sel = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val d1 = out.filter(_._1 == 1L).map(t => (t._2 - 5, t._3 - 5)) // prefix 5 tokens
    val d2 = out.filter(_._1 == 2L).map(t => (t._2 - 1, t._3 - 1)) // prefix 1 token
    // despite different alignments, both docs select the SAME windows of
    // the shared text, so their spans coincide in span-relative indices
    assert(d1.nonEmpty, "winnowing selected no window of a 40-token duplicate")
    assert(d1 === d2, (d1, d2))
    assert(!out.exists(_._1 == 3L), out)
  }

  test("stripDuplicateSpans: global first occurrence survives, later copies removed") {
    import spark.implicits._
    val s = (1 to 14).map(i => s"shared$i").mkString(" ")
    val unique = (1 to 13).map(i => s"solo$i").mkString(" ")
    val docs = Seq(
      (1L, s"u1 u2 u3 $s v1 v2"),
      (2L, s"w1 $s x1 x2 x3 x4"),
      (3L, unique),
      (4L, unique), // whole-doc duplicate: everything removed
      (5L, "The Quick Brown Fox Jumps Over Sleeping Dogs Late This Warm Night Yes")
    ).toDF("doc_id", "text")
    val out = Dedup.stripDuplicateSpans(docs, "doc_id", "text", window = 12, sel = 1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toList.sortBy(_._1)
    assert(out.map(_._1) === List(1L, 2L, 3L, 4L, 5L))
    assert(out(0)._3 === 0L, "keeper doc must lose nothing")
    assert(out(0)._2.startsWith("u1 u2 u3 shared1 "))
    assert(out(1)._2 === "w1 x1 x2 x3 x4", out(1)._2)
    assert(out(1)._3 === 14L)
    assert(out(2)._3 === 0L)
    assert(out(3)._2 === "" && out(3)._3 === 13L, out(3))
    // pass-through docs keep their ORIGINAL casing — detection is
    // case-insensitive, the rebuild is not case-normalizing
    assert(out(4)._2 ===
      "The Quick Brown Fox Jumps Over Sleeping Dogs Late This Warm Night Yes" &&
      out(4)._3 === 0L, out(4))
  }

  test("portableMinhashPairsAgainst: batch collides with index history, never with itself") {
    import spark.implicits._
    val index = table("documents").select("doc_id", "text").filter(col("doc_id") < 100)
    // batch: one verbatim copy of an index doc, one fresh doc, and two
    // identical fresh docs (which must NOT pair — both are batch-side)
    val copied = index.filter(col("doc_id") === 7)
      .select((col("doc_id") + 5000).as("doc_id"), col("text"))
    val fresh = Seq(
      (6001L, (1 to 30).map(i => s"brand new tokens $i").mkString(" ")),
      (6002L, (1 to 25).map(i => s"другой свежий текст $i").mkString(" ")),
      (6003L, (1 to 25).map(i => s"другой свежий текст $i").mkString(" "))
    ).toDF("doc_id", "text")
    val batch = copied.union(fresh)
    val pairs = Dedup.portableMinhashPairsAgainst(batch, index,
      "doc_id", "text", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((5007L, 7L)), pairs)
    // batch-side ids never appear as index_id: the join is asymmetric
    assert(pairs.forall(_._2 < 100), pairs)
    assert(!pairs.exists(p => p._1 >= 6001L), "fresh docs must not collide")
    // survivors = batch anti-joined on colliding batch_ids
    val survivors = batch.join(
      Dedup.portableMinhashPairsAgainst(batch, index, "doc_id", "text", threshold = 0.99)
        .select(col("batch_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors === Set(6001L, 6002L, 6003L), survivors)
  }

  test("portableMinhashPairsAgainstIndex: materialized index reproduces the in-memory path") {
    val docs = table("documents").select("doc_id", "text")
    val index = docs.filter(col("doc_id") % 2 === 0 && col("doc_id") < 200)
    val batch = docs.filter(col("doc_id") % 2 === 1 && col("doc_id") < 200)
    Dedup.writeMinhashIndex(index, "doc_id", "text", "mh_idx_rt", buckets = 4)
    val inMem = Dedup.portableMinhashPairsAgainst(batch, index,
      "doc_id", "text", threshold = 0.5)
      .collect().map(_.toString).sorted
    // pruned branch (few distinct blocking keys -> literal IN filter)
    val pruned = Dedup.portableMinhashPairsAgainstIndex(spark, "mh_idx_rt", batch,
      "doc_id", "text", threshold = 0.5)
      .collect().map(_.toString).sorted
    assert(pruned.toSeq === inMem.toSeq)
    // unpruned branch (pruneKeys = 0 forces the plain bucketed join)
    val unpruned = Dedup.portableMinhashPairsAgainstIndex(spark, "mh_idx_rt", batch,
      "doc_id", "text", threshold = 0.5, pruneKeys = 0)
      .collect().map(_.toString).sorted
    assert(unpruned.toSeq === inMem.toSeq)
    // k mismatch against the stored schema errors loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.portableMinhashPairsAgainstIndex(spark, "mh_idx_rt", batch,
        "doc_id", "text", k = 4)
    }
    assert(e.getMessage.contains("k=4"))
    // shingle-width mismatch errors loudly too (stored in the schema
    // metadata): n=5 signatures would silently never match n=3 ones
    val en = intercept[IllegalArgumentException] {
      Dedup.portableMinhashPairsAgainstIndex(spark, "mh_idx_rt", batch,
        "doc_id", "text", n = 5)
    }
    assert(en.getMessage.contains("shingle width"), en.getMessage)
  }

  test("filtered minhash-index probe: filtered == brute over the sub-corpus; carried columns governed by the BM25 append rule") {
    import spark.implicits._
    val docs = table("documents").select("doc_id", "text", "lang")
    val index = docs.filter(col("doc_id") % 2 === 0 && col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") % 2 === 1 && col("doc_id") < 200)
    Dedup.writeMinhashIndex(index, "doc_id", "text", "mh_idx_flt",
      buckets = 4, carryCols = Seq("lang"))
    // the restriction twin: the filtered probe must equal the brute
    // in-memory pass over JUST the predicate's sub-corpus
    val brute = Dedup.portableMinhashPairsAgainst(
      batch, index.filter(col("lang") === "en"),
      "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val filtered = Dedup.portableMinhashPairsAgainstIndexWhere(
      spark, "mh_idx_flt", batch, "doc_id", "text",
      predicate = col("lang") === "en", threshold = 0.5)
    assert(filtered.columns.toSeq ===
      Seq("batch_id", "index_id", "minhash_est", "lang"))
    val got = filtered
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(got === brute)
    assert(filtered.select("lang").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("en"))
    // the UNFILTERED probe on a carried index still equals the full
    // brute pass (the payload is projected away before the band join)
    val bruteAll = Dedup.portableMinhashPairsAgainst(batch, index,
      "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val all = Dedup.portableMinhashPairsAgainstIndex(
      spark, "mh_idx_flt", batch, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(all === bruteAll)
    // appends must supply every carried column (the BM25 rule) …
    val bare = Seq((9001L, "some fresh text here")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.appendToMinhashIndex(spark, "mh_idx_flt", bare, "doc_id", "text")
    }
    assert(e.getMessage.contains("carried index columns: lang"), e.getMessage)
    // … resolved with the session resolver: 'Lang' for stored 'lang'
    // is accepted, and the appended row is immediately filterable
    val firstEn = index.filter(col("lang") === "en").orderBy("doc_id")
      .select("doc_id", "text").head()
    val cased = Seq((9002L, firstEn.getString(1), "en"))
      .toDF("doc_id", "text", "Lang")
    Dedup.appendToMinhashIndex(spark, "mh_idx_flt", cased, "doc_id", "text")
    val probe = Seq((9500L, firstEn.getString(1))).toDF("doc_id", "text")
    val hits = Dedup.portableMinhashPairsAgainstIndexWhere(
      spark, "mh_idx_flt", probe, "doc_id", "text",
      predicate = col("lang") === "en", threshold = 0.99)
      .select("index_id").collect().map(_.getLong(0)).toSet
    assert(hits.contains(9002L) && hits.contains(firstEn.getLong(0)), hits.toString)
    // and a non-en predicate excludes the appended en doc
    val deHits = Dedup.portableMinhashPairsAgainstIndexWhere(
      spark, "mh_idx_flt", probe, "doc_id", "text",
      predicate = col("lang") === "de", threshold = 0.99)
      .select("index_id").collect().map(_.getLong(0)).toSet
    assert(!deHits.contains(9002L) && !deHits.contains(firstEn.getLong(0)), deHits.toString)
  }

  test("minhash append with carried columns: a duplicated batch id lands one row, exactly as a fresh write") {
    import spark.implicits._
    val seed = Seq((9100L, "seed document text for the carried index", "de"))
      .toDF("doc_id", "text", "lang")
    // one id twice in the batch: the uncarried signature is one row per
    // id, and the carried projection must not multiply it
    val text = "the quick brown fox jumps over the lazy dog again"
    val batch = Seq((9101L, text, "en"), (9101L, text, "en"))
      .toDF("doc_id", "text", "lang")
    Dedup.writeMinhashIndex(seed, "doc_id", "text", "mh_idx_dupid",
      buckets = 4, carryCols = Seq("lang"))
    Dedup.appendToMinhashIndex(spark, "mh_idx_dupid", batch, "doc_id", "text")
    Dedup.writeMinhashIndex(seed.unionByName(batch), "doc_id", "text",
      "mh_idx_dupid_ref", buckets = 4, carryCols = Seq("lang"))
    def rowsOf(t: String) = spark.table(t).filter(col("index_id") === 9101L)
      .collect().map(_.toString).sorted.toSeq
    assert(rowsOf("mh_idx_dupid").length === 1, rowsOf("mh_idx_dupid"))
    assert(rowsOf("mh_idx_dupid") === rowsOf("mh_idx_dupid_ref"))
  }

  test("semanticDedup: planted identical vectors collapse to the lower id") {
    val emb = table("embeddings").select("vec_id", "embedding").limit(200)
    val planted = emb.union(emb.select(
      (col("vec_id") + 1000000).as("vec_id"), col("embedding")))
    val out = Dedup.semanticDedup(planted, "vec_id", "embedding",
      nClusters = 8, threshold = 0.8)
    val ids = out.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids.size === 200, s"expected all originals to survive, got ${ids.size}")
    assert(ids.forall(_ < 1000000), "a planted duplicate escaped the drop rule")
  }

  test("semanticDedup: maxCluster exempts oversize clusters instead of pairing them") {
    val emb = table("embeddings").select("vec_id", "embedding").limit(50)
    val planted = emb.union(emb.select(
      (col("vec_id") + 1000000).as("vec_id"), col("embedding")))
    // every cluster holds > 1 vector, so maxCluster=1 exempts them all:
    // fail-open (nothing dropped), never fail-quadratic
    val out = Dedup.semanticDedup(planted, "vec_id", "embedding",
      nClusters = 4, threshold = 0.8, maxCluster = 1)
    assert(out.count() === 100L)
  }

  test("minhash index delete == rebuild: tombstoned docs stop colliding exactly") {
    import spark.implicits._
    val docs = table("documents").select("doc_id", "text")
    val index = docs.filter(col("doc_id") % 2 === 0 && col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") % 2 === 1 && col("doc_id") < 200)
    Dedup.writeMinhashIndex(index, "doc_id", "text", "mh_idx_del", buckets = 4)
    val gone = index.filter(col("doc_id") % 4 === 0).select("doc_id")
    val receipt = Dedup.deleteFromMinhashIndex(spark, "mh_idx_del", gone)
    assert(receipt === gone.count(), "receipt counts removed documents")
    // collisions equal an index REBUILT without the deleted docs —
    // signatures are per-row, nothing corpus-wide moves on delete
    Dedup.writeMinhashIndex(index.filter(col("doc_id") % 4 =!= 0),
      "doc_id", "text", "mh_idx_del_ref", buckets = 4)
    def pairs(t: String) = Dedup.portableMinhashPairsAgainstIndex(spark, t, batch,
      "doc_id", "text", threshold = 0.3)
      .collect().map(_.toString).sorted.toSeq
    assert(pairs("mh_idx_del") === pairs("mh_idx_del_ref"))
    // idempotent; unknown ids no-op; staleness sees the mass
    assert(Dedup.deleteFromMinhashIndex(spark, "mh_idx_del", gone) === 0L)
    assert(Dedup.deleteFromMinhashIndex(spark, "mh_idx_del",
      Seq(987654321L).toDF("doc_id")) === 0L)
    val st = Dedup.minhashIndexStats(spark, "mh_idx_del")
    assert(st.tombstoneFraction > 0.2, st.toString)
    assert(Dedup.isStaleMinhashIndex(spark, "mh_idx_del"))
    // purge: physical, answer-preserving, clears the flag, keeps the
    // shingle-width stamp so appends still validate
    val before = pairs("mh_idx_del")
    val (b, a) = Dedup.purgeMinhashIndex(spark, "mh_idx_del")
    assert(b > a)
    assert(!spark.catalog.tableExists("mh_idx_del_tombstones"))
    assert(pairs("mh_idx_del") === before)
    assert(Dedup.minhashIndexStats(spark, "mh_idx_del").tombstoneFraction === 0.0)
    Dedup.appendToMinhashIndex(spark, "mh_idx_del",
      docs.filter(col("doc_id").between(400, 450)), "doc_id", "text")
    val deadIds = gone.collect().map(_.getLong(0)).toSet
    assert(spark.table("mh_idx_del")
      .filter(col("index_id").isin(deadIds.toSeq: _*)).count() === 0)
  }
}
