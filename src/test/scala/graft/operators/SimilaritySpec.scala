package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

class SimilaritySpec extends SparkSpec {

  test("native dot kernel equals the builtin composition on fixture vectors") {
    val emb = table("embeddings").limit(200)
      .select(col("embedding").as("a"), reverse(col("embedding")).as("b"))
    val both = emb.select(
      VectorFunctions.dot(col("a"), col("b")).as("fast"),
      VectorFunctions.dotBuiltin(col("a"), col("b")).as("builtin"))
    val bad = both.filter(abs(col("fast") - col("builtin")) > 1e-9).count()
    assert(bad === 0)
  }

  test("native int-dot kernel equals the zip_with fold on quantized codes, exactly") {
    val emb = table("embeddings").limit(200)
      .select(
        Similarity.scalarQuantize(col("embedding")).getField("codes").as("a"),
        Similarity.scalarQuantize(reverse(col("embedding"))).getField("codes").as("b"))
    val both = emb.select(
      graft.functions.VecDotIntExpression.vecDotInt(col("a"), col("b")).as("fast"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x * y).cast("long")),
        lit(0L), (acc, x) => acc + x).as("builtin"))
    assert(both.filter(col("fast") =!= col("builtin")).count() === 0)
  }

  test("native l2sq kernel is BIT-identical to the pinned-order fold (the PQ argmin contract)") {
    val emb = table("embeddings").limit(200)
      .select(col("embedding").cast("array<double>").as("a"),
        reverse(col("embedding")).cast("array<double>").as("b"))
    val both = emb.select(
      graft.functions.VecL2SqExpression.vecL2Sq(col("a"), col("b")).as("fast"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x).as("builtin"))
    // exact equality, not tolerance: the PQ encode argmin and the ADC
    // micro-unit floor both require the kernel to reproduce the fold's
    // IEEE op sequence verbatim
    assert(both.filter(col("fast") =!= col("builtin")).count() === 0)
  }

  test("vector kernels: dot, norm, cosine, l2") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f, 2.0f), Seq(2.0f, 0.0f, 0.0f))).toDF("a", "b")
    val r = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("dot"),
      VectorFunctions.norm(col("a")).as("na"),
      VectorFunctions.cosine(col("a"), col("b")).as("cos"),
      VectorFunctions.l2(col("a"), col("b")).as("l2")
    ).collect()(0)
    assert(r.getDouble(0) === 2.0)
    assert(r.getDouble(1) === 3.0)
    assert(math.abs(r.getDouble(2) - 2.0 / (3.0 * 2.0)) < 1e-12)
    assert(math.abs(r.getDouble(3) - math.sqrt(1 + 4 + 4)) < 1e-12)
  }

  test("brute-force top-k: self-query finds planted duplicate as rank 1") {
    val emb = table("embeddings").select("vec_id", "embedding")
    val copy = emb.filter(col("vec_id") === 3)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val corpus = emb.union(copy)
    val queries = emb.filter(col("vec_id") === 3)
    val top = Similarity.bruteForceTopK(queries, corpus,
      "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .filter(col("rank") === 1)
      .collect()(0)
    assert(top.getAs[Long]("neighbor_id") === 10003L)
    assert(math.abs(top.getAs[Double]("cosine") - 1.0) < 1e-9)
  }

  test("brute-force top-k returns k ranked descending rows per query") {
    val emb = table("embeddings").select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 3)
    val out = Similarity.bruteForceTopK(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", k = 10)
    val byQuery = out.groupBy("query_id").agg(
      count(lit(1)).as("n"),
      min(col("cosine")).as("mn"),
      max(col("cosine")).as("mx")
    ).collect()
    assert(byQuery.length === 3)
    byQuery.foreach(r => assert(r.getAs[Long]("n") === 10L))
    // ranks are 1..10 and cosine non-increasing with rank
    val q0 = out.filter(col("query_id") === 0).orderBy("rank").collect()
    assert(q0.map(_.getAs[Int]("rank")).toSeq === (1 to 10))
    val cosines = q0.map(_.getAs[Double]("cosine")).toSeq
    assert(cosines === cosines.sorted.reverse)
  }

  test("lsh top-k finds the planted identical vector (same bucket by construction)") {
    val emb = table("embeddings").select("vec_id", "embedding")
    val copy = emb.filter(col("vec_id") === 5)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val corpus = emb.union(copy)
    val queries = emb.filter(col("vec_id") === 5)
    val out = Similarity.lshTopK(queries, corpus,
      "vec_id", "embedding", "vec_id", "embedding", k = 3, nBits = 6)
      .filter(col("rank") === 1)
      .collect()(0)
    assert(out.getAs[Long]("neighbor_id") === 10005L)
  }

  test("ivf top-k: planted duplicate lands in the query's own list; recall@1 is healthy") {
    val emb = table("embeddings").select("vec_id", "embedding")
    val copy = emb.filter(col("vec_id") === 9)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val corpus = emb.union(copy)
    // identical vector -> identical argmax centroid -> always probed
    val out = Similarity.ivfTopK(emb.filter(col("vec_id") === 9), corpus,
      "vec_id", "embedding", "vec_id", "embedding", k = 3, nCentroids = 8, nProbe = 2)
      .filter(col("rank") === 1).collect()(0)
    assert(out.getAs[Long]("neighbor_id") === 10009L)
    assert(math.abs(out.getAs[Double]("cosine") - 1.0) < 1e-9)

    // recall@1 vs the exact baseline over 20 queries
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    // the fixture embeddings are near-uniform in cosine space (the exact
    // NN shares the fixture's cluster label only ~6% of the time), so
    // recall is governed by the probed-list fraction: nProbe=4 of 8 lists
    // must beat the 4/8 = 50% floor a structureless corpus would give —
    // anything below means the probe join is selecting wrong lists
    val approx = Similarity.ivfTopK(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", k = 1, nCentroids = 8, nProbe = 4)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val hits = exact.count { case (q, nn) => approx.get(q).contains(nn) }
    assert(approx.size === exact.size, "ivf must answer every query")
    assert(hits >= (exact.size * 0.5).toInt, s"recall@1 $hits/${exact.size}")
  }

  test("ivf with nProbe = nCentroids recovers the exact result") {
    val emb = table("embeddings").select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val full = Similarity.ivfTopK(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", k = 1, nCentroids = 8, nProbe = 8)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    assert(full === exact)
  }

  test("lsh signature is deterministic across evaluations") {
    val emb = table("embeddings").select("vec_id", "embedding").limit(50)
    val s1 = emb.select(col("vec_id"),
      VectorFunctions.lshSignature(col("embedding"), 8).as("sig")).collect()
    val s2 = emb.select(col("vec_id"),
      VectorFunctions.lshSignature(col("embedding"), 8).as("sig")).collect()
    assert(s1.map(r => (r.getLong(0), r.getLong(1))).toMap ===
      s2.map(r => (r.getLong(0), r.getLong(1))).toMap)
  }

  test("native lsh signature bits match the per-plane builtin composition") {
    val emb = table("embeddings").select("embedding").limit(100)
    val both = emb.select(
      VectorFunctions.lshSignature(col("embedding"), 8).as("fast"),
      VectorFunctions.lshSignatureBuiltin(col("embedding"), 8).as("slow")
    ).collect()
    both.foreach { r =>
      val packed = r.getLong(0)
      val bitsStr = r.getString(1) // plane p at position p, '1' = sign >= 0
      val fromStr = bitsStr.zipWithIndex.foldLeft(0L) {
        case (acc, ('1', p)) => acc | (1L << p)
        case (acc, _) => acc
      }
      assert(packed === fromStr, s"packed=$packed str=$bitsStr")
    }
  }

  /** Ground truth for the recall gates: exact top-k as (query -> set). */
  private def idPairs(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  private def exactTopK(queries: org.apache.spark.sql.DataFrame,
      corpus: org.apache.spark.sql.DataFrame, k: Int): Map[Long, Set[Long]] =
    idPairs(Similarity.bruteForceTopK(queries, corpus,
      "vec_id", "embedding", "vec_id", "embedding", k))

  private def recallOf(approx: org.apache.spark.sql.DataFrame,
      truth: Map[Long, Set[Long]]): Double = {
    val got = idPairs(approx)
    val per = truth.map { case (q, t) =>
      got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    per.sum / per.size
  }

  // The oracle-less ANN queries are gated here instead: measured
  // recall@10 against exact brute force on the real embeddings fixture.
  // Thresholds are deliberately below typical observed recall so the
  // gate catches structural regressions (wrong list assignment, broken
  // banding), not run-to-run jitter — both paths are deterministic, but
  // thresholds shouldn't encode one fixture's exact value.
  test("ivf recall@10 beats blind probing at nProbe=4/16 and rises with nProbe") {
    val emb = table("embeddings").select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 25)
    val truth = exactTopK(queries, emb, 10)
    val r4 = recallOf(Similarity.ivfTopK(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", 10,
      nCentroids = 16, nProbe = 4), truth)
    val r8 = recallOf(Similarity.ivfTopK(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", 10,
      nCentroids = 16, nProbe = 8), truth)
    // 16 lists probed 4 ⇒ blind probing would land ~nProbe/nCentroids =
    // 0.25; the quantizer must do meaningfully better than blind
    // (measured ~0.42 on this fixture — threshold set below it to gate
    // structure, not the fixture's exact value)
    assert(r4 >= 0.33, s"ivf recall@10 nProbe=4 was $r4")
    assert(r8 >= r4, s"recall must not fall as probes widen: $r4 -> $r8")
  }

  test("k-means refine: Lloyd invariants — full grid, conserved membership, determinism") {
    val emb = table("embeddings").select("vec_id", "embedding")
    val n = emb.count()
    val ref = Similarity.kmeansRefine(emb, "vec_id", "embedding", nCentroids = 8, iters = 2)
    val rows = ref.collect()
    // the centroid table is a full grid: every list × every dimension,
    // even for a list that captured no members (carried centroid)
    assert(rows.length === 8 * 64, s"grid was ${rows.length}")
    assert(rows.map(_.getLong(0)).toSet === (1L to 8L).toSet)
    // the final assignment partitions the corpus: each dimension's
    // membership counts sum to the corpus size across lists
    val perPos = rows.groupBy(_.getLong(1)).map { case (_, rs) => rs.map(_.getLong(3)).sum }
    assert(perPos.toSet === Set(n), s"membership sums $perPos != $n")
    // RNG-free Lloyd: a rerun is bit-identical
    val again = Similarity.kmeansRefine(emb, "vec_id", "embedding", nCentroids = 8, iters = 2)
      .orderBy("list_id", "pos").collect()
    assert(again.toSeq === ref.orderBy("list_id", "pos").collect().toSeq)
  }

  test("k-means refined quantizer: recall@10 does not fall vs the raw sample") {
    val emb = table("embeddings").select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 25)
    val truth = exactTopK(queries, emb, 10)
    val sample = recallOf(Similarity.ivfTopK(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", 10,
      nCentroids = 16, nProbe = 4, portableCentroids = true), truth)
    val refined = recallOf(Similarity.ivfRefinedTopK(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", 10,
      nCentroids = 16, nProbe = 4, iters = 2), truth)
    info(s"recall@10 nProbe=4/16: sample=$sample refined=$refined")
    // both are deterministic, so the comparison is stable; Lloyd cells
    // track the fixture's 10 planted clusters, so refinement must not
    // lose recall at identical query cost (measured: a clear gain)
    assert(refined >= sample, s"refinement lost recall: $sample -> $refined")
    assert(refined >= 0.33, s"refined recall@10 was $refined")
  }

  test("portable-centroid ivf is deterministic and as structured as the xxhash pick") {
    val emb = table("embeddings").select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 20)
    def run() = Similarity.ivfTopK(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", k = 5,
      nCentroids = 16, nProbe = 4, portableCentroids = true)
      .orderBy("query_id", "rank")
    val a = run().collect()
    val b = run().collect()
    assert(a.toSeq === b.toSeq, "portable ivf must be run-to-run identical")
    // same pipeline, different (but equally uniform) centroid pick:
    // probing must still beat blind-probe recall
    val truth = exactTopK(queries, emb, 5)
    val r = recallOf(run(), truth)
    assert(r >= 0.3, s"portable ivf recall@5 was $r")
  }

  test("lsh recall@10: OR-combined bands dominate a single band") {
    val emb = table("embeddings").select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 25)
    val truth = exactTopK(queries, emb, 10)
    val single = recallOf(Similarity.lshTopK(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", 10, nBits = 6), truth)
    val banded = recallOf(Similarity.lshTopK(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", 10, nBits = 6, nBands = 6), truth)
    assert(banded > single, s"banding must raise recall: $single -> $banded")
    assert(banded >= 0.2, s"banded lsh recall@10 was $banded")
  }

  test("quantizedTopK degrades to exact search when the shortlist covers the corpus") {
    val emb = table("embeddings").select("vec_id", "embedding").limit(200)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = exactTopK(queries, emb, 5)
    val full = Similarity.quantizedTopK(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", k = 5, shortlist = 200)
    assert(recallOf(full, exact) === 1.0,
      "full shortlist + exact re-rank must equal brute force")
    // a tight shortlist still recalls most true neighbors (int8 dots
    // approximate cosine order on the near-uniform-norm fixture)
    val tight = Similarity.quantizedTopK(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", k = 5, shortlist = 20)
    val recall = recallOf(tight, exact)
    assert(recall >= 0.5, s"shortlist-20 recall@5 was $recall")
  }

  test("ivfQuantizedTopK degrades to exact search when every list is probed and the shortlist covers the corpus") {
    val emb = table("embeddings").select("vec_id", "embedding").limit(200)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = exactTopK(queries, emb, 5)
    val full = Similarity.ivfQuantizedTopK(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", k = 5,
      nCentroids = 4, nProbe = 4, shortlist = 200)
    assert(recallOf(full, exact) === 1.0,
      "all-lists probe + full shortlist + exact re-rank must equal brute force")
  }

  test("ivfQuantizedTopK: planted copy wins rank 1 and recall holds at tight knobs") {
    val emb = table("embeddings").select("vec_id", "embedding")
    val copies = emb.filter(col("vec_id") < 20).select(
      (col("vec_id") + 1000000).as("vec_id"), col("embedding"))
    // an exact copy ranks the centroids with the same arithmetic that
    // assigned its original, so the original's list is always probed;
    // its int-dot is the self-dot (maximal) so it survives the
    // shortlist; re-rank puts it at cosine 1.0 > the 0.513 fixture max
    val out = Similarity.ivfQuantizedTopK(copies, emb,
      "vec_id", "embedding", "vec_id", "embedding", k = 5,
      nCentroids = 16, nProbe = 4, shortlist = 32)
      .filter(col("rank") === 1).collect()
    assert(out.length === 20, s"every planted query must answer, got ${out.length}")
    out.foreach { r =>
      assert(r.getAs[Long]("neighbor_id") === r.getAs[Long]("query_id") - 1000000,
        s"rank-1 of a planted copy must be its original: $r")
    }
    // tighter than ivfTopK alone: recall against exact truth stays usable
    val queries = emb.filter(col("vec_id") < 20)
    val truth = exactTopK(queries, emb, 5)
    val r = recallOf(Similarity.ivfQuantizedTopK(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", k = 5,
      nCentroids = 16, nProbe = 4, shortlist = 32), truth)
    assert(r >= 0.3, s"ivf-sq recall@5 was $r")
  }

  test("knnClassify: nearest label at k=1, majority at k>1, vote ties to the smaller label") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f), 9L),   // exact match of the query
      (2L, Array(0.95f, 0.05f), 5L),
      (3L, Array(0.9f, 0.1f), 5L),
      (4L, Array(0.0f, 1.0f), 7L)
    ).toDF("vec_id", "embedding", "label")
    val q = Seq((100L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    def run(k: Int) = Similarity.knnClassify(q, corpus,
      "vec_id", "embedding", "vec_id", "embedding", "label", k).collect()(0)
    val k1 = run(1)
    assert(k1.getAs[Long]("label") === 9L && k1.getAs[Long]("votes") === 1L)
    val k3 = run(3) // neighbors 1(9), 2(5), 3(5) -> 5 by majority
    assert(k3.getAs[Long]("label") === 5L && k3.getAs[Long]("votes") === 2L)
    val k2 = run(2) // neighbors 1(9), 2(5): 1-1 tie -> smaller label 5
    assert(k2.getAs[Long]("label") === 5L && k2.getAs[Long]("votes") === 1L)
  }

  test("knnClassify: unlabeled (null-label) neighbors never vote and never win ties") {
    import spark.implicits._
    // neighbor 1 is the closest but UNLABELED: pre-fix it sorted first
    // in the tie window (NULLS FIRST) and won every vote
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f), null.asInstanceOf[java.lang.Long]),
      (2L, Array(0.95f, 0.05f), java.lang.Long.valueOf(9L)),
      (3L, Array(0.9f, 0.1f), java.lang.Long.valueOf(5L))
    ).toDF("vec_id", "embedding", "label")
    val q = Seq((100L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    // k=3: neighbors 1(null), 2(9), 3(5) -> 9 and 5 tie 1-1, null
    // doesn't vote, tie breaks to the SMALLER label 5
    val r = Similarity.knnClassify(q, corpus,
      "vec_id", "embedding", "vec_id", "embedding", "label", 3).collect()(0)
    assert(r.getAs[Long]("label") === 5L && r.getAs[Long]("votes") === 1L, r.toString)
    // k=1: the only neighbor is unlabeled -> no vote rows at all
    val r1 = Similarity.knnClassify(q, corpus,
      "vec_id", "embedding", "vec_id", "embedding", "label", 1).collect()
    assert(r1.isEmpty, r1.mkString(","))
  }

  test("knnClassifyFromIndex: exhaustive ANN params reproduce the exact-knn labels") {
    val emb = table("embeddings").select("vec_id", "embedding", "label").limit(200)
    Similarity.writeIvfSqIndex(emb, "vec_id", "embedding", "knn_idx_rt",
      nCentroids = 4, buckets = 2)
    val q = emb.filter(col("vec_id") < 10)
    // nProbe = nCentroids and a corpus-sized shortlist make the ANN
    // search exhaustive, so the vote must equal the exact path's
    val ann = Similarity.knnClassifyFromIndex(spark, "knn_idx_rt", q,
      "vec_id", "embedding", emb, "vec_id", "label",
      k = 7, nProbe = 4, shortlist = 200)
      .collect().map(_.toString).sorted
    val exact = Similarity.knnClassify(q, emb,
      "vec_id", "embedding", "vec_id", "embedding", "label", k = 7)
      .collect().map(_.toString).sorted
    assert(ann.toSeq === exact.toSeq)
  }

  test("ivf-sq index round-trip: querying the materialized index equals the in-memory path") {
    val emb = table("embeddings").select("vec_id", "embedding").limit(300)
    val q = emb.filter(col("vec_id") < 10)
    Similarity.writeIvfSqIndex(emb, "vec_id", "embedding", "ivfsq_rt",
      nCentroids = 8, buckets = 4)
    val direct = Similarity.ivfQuantizedTopK(q, emb,
      "vec_id", "embedding", "vec_id", "embedding", k = 5,
      nCentroids = 8, nProbe = 2, shortlist = 32)
      .collect().map(_.toString).sorted
    val fromIndex = Similarity.ivfQuantizedTopKFromIndex(spark, "ivfsq_rt", q,
      "vec_id", "embedding", k = 5, nProbe = 2, shortlist = 32)
      .collect().map(_.toString).sorted
    assert(direct.length === 50 && direct.toSeq === fromIndex.toSeq,
      "stored centroids must pin the quantizer: same probes, same results")
    // the index covers the corpus exactly once and carries the quantizer
    assert(spark.table("ivfsq_rt").count() === emb.count())
    assert(spark.table("ivfsq_rt_centroids").count() === 8)
  }

  test("ivf-sq index append: build→append→query equals pinned-quantizer rebuild→query") {
    val all = table("embeddings").select("vec_id", "embedding")
    val base = all.filter(col("vec_id") < 200)
    val batch = all.filter(col("vec_id") >= 200 && col("vec_id") < 260)
    Similarity.writeIvfSqIndex(base, "vec_id", "embedding", "ivfsq_app",
      nCentroids = 8, buckets = 4)
    Similarity.appendToIvfSqIndex(spark, "ivfsq_app", batch, "vec_id", "embedding")
    // the appended index covers base ∪ batch exactly once, quantizer untouched
    assert(spark.table("ivfsq_app").count() === base.count() + batch.count())
    assert(spark.table("ivfsq_app_centroids").count() === 8)
    // a rebuild over base ∪ batch UNDER THE SAME STORED QUANTIZER is
    // row-identical (same assignment ties via stored cpos order), so
    // any query answers the same against either index
    Similarity.writeIvfSqIndex(all.filter(col("vec_id") < 260),
      "vec_id", "embedding", "ivfsq_reb",
      nCentroids = 8, buckets = 4, pinQuantizerFrom = Some("ivfsq_app"))
    val idx = spark.table("ivfsq_app")
      .select(col("neighbor_id"), col("__list"), col("__cq").cast("string"))
      .collect().map(_.toString).sorted
    val reb = spark.table("ivfsq_reb")
      .select(col("neighbor_id"), col("__list"), col("__cq").cast("string"))
      .collect().map(_.toString).sorted
    assert(idx.toSeq === reb.toSeq)
    val q = all.filter(col("vec_id") < 10)
    val viaAppend = Similarity.ivfQuantizedTopKFromIndex(spark, "ivfsq_app", q,
      "vec_id", "embedding", k = 5, nProbe = 2, shortlist = 32)
      .collect().map(_.toString).sorted
    val viaRebuild = Similarity.ivfQuantizedTopKFromIndex(spark, "ivfsq_reb", q,
      "vec_id", "embedding", k = 5, nProbe = 2, shortlist = 32)
      .collect().map(_.toString).sorted
    assert(viaAppend.toSeq === viaRebuild.toSeq)
    // appended rows are actually findable: a batch vector queried
    // against the appended index must return itself at rank 1
    val probe = batch.filter(col("vec_id") === 200)
      .select(col("vec_id").plus(1000000).as("vec_id"), col("embedding"))
    val hit = Similarity.ivfQuantizedTopKFromIndex(spark, "ivfsq_app", probe,
      "vec_id", "embedding", k = 1, nProbe = 8, shortlist = 32).collect()
    assert(hit.length === 1 && hit(0).getAs[Long]("neighbor_id") === 200L, hit.mkString)
  }

  test("ivf-sq index with a k-means-refined quantizer: lifecycle intact, recall not worse") {
    val all = table("embeddings").select("vec_id", "embedding")
    val base = all.filter(col("vec_id") < 400)
    val batch = all.filter(col("vec_id") >= 400 && col("vec_id") < 460)
    Similarity.writeIvfSqIndex(base, "vec_id", "embedding", "ivfsq_km",
      nCentroids = 8, buckets = 4, refineIters = 2)
    // the refined quantizer is stored like any other — same side table
    assert(spark.table("ivfsq_km_centroids").count() === 8)
    // appends ride the stored refined centroids; a pinned rebuild over
    // base ∪ batch is row-identical (the standard lifecycle contract)
    Similarity.appendToIvfSqIndex(spark, "ivfsq_km", batch, "vec_id", "embedding")
    Similarity.writeIvfSqIndex(all.filter(col("vec_id") < 460),
      "vec_id", "embedding", "ivfsq_km_reb",
      nCentroids = 8, buckets = 4, pinQuantizerFrom = Some("ivfsq_km"))
    val a = spark.table("ivfsq_km").select("neighbor_id", "__list")
      .collect().map(_.toString).sorted
    val b = spark.table("ivfsq_km_reb").select("neighbor_id", "__list")
      .collect().map(_.toString).sorted
    assert(a.toSeq === b.toSeq)
    // refinement cannot combine with a pinned quantizer
    intercept[IllegalArgumentException] {
      Similarity.writeIvfSqIndex(base, "vec_id", "embedding", "ivfsq_km_bad",
        nCentroids = 8, refineIters = 2, pinQuantizerFrom = Some("ivfsq_km"))
    }
    // at the same query knobs, the refined index must not lose recall
    // vs the sampled quantizer (both paths deterministic)
    Similarity.writeIvfSqIndex(all, "vec_id", "embedding", "ivfsq_km_full",
      nCentroids = 16, buckets = 4, refineIters = 2)
    Similarity.writeIvfSqIndex(all, "vec_id", "embedding", "ivfsq_sm_full",
      nCentroids = 16, buckets = 4)
    val queries = all.filter(col("vec_id") < 25)
    val truth = exactTopK(queries, all, 10)
    val rRef = recallOf(Similarity.ivfQuantizedTopKFromIndex(spark, "ivfsq_km_full",
      queries, "vec_id", "embedding", k = 10, nProbe = 4, shortlist = 64), truth)
    val rSmp = recallOf(Similarity.ivfQuantizedTopKFromIndex(spark, "ivfsq_sm_full",
      queries, "vec_id", "embedding", k = 10, nProbe = 4, shortlist = 64), truth)
    info(s"index recall@10 nProbe=4/16: sampled=$rSmp refined=$rRef")
    assert(rRef >= rSmp, s"refined index lost recall: $rSmp -> $rRef")
  }

  test("ivf-sq staleness: skewed appends flip isStale, a fresh rebuild restores balance and recall") {
    import spark.implicits._
    val base = table("embeddings").select("vec_id", "embedding").filter(col("vec_id") < 240)
    val dim = base.select("embedding").head().getSeq[Float](0).length
    Similarity.writeIvfSqIndex(base, "vec_id", "embedding", "ivfsq_stale",
      nCentroids = 4, buckets = 4)
    val s0 = Similarity.ivfIndexStats(spark, "ivfsq_stale")
    assert(s0.totalRows === 240L && s0.builtRows === 240L)
    assert(s0.appendedFraction === 0.0 && s0.nLists === 4)
    assert(!Similarity.isStaleIvfSqIndex(spark, "ivfsq_stale",
      maxAppendedFraction = 0.3, maxListSkew = 1e9))

    // drift: 160 appended vectors from a region the quantizer never
    // saw (one far-off direction, DISTINCT vectors — identical rows
    // would later be sampled as duplicate centroids and collapse the
    // rebuild quantizer) — they all pile into whichever existing list
    // is nearest, the exact silent-degradation shape
    // one dominant axis + tiny per-row jitter: every drifted vector's
    // nearest-centroid argmax is the SAME base centroid (stable under
    // the jitter), yet the rows stay distinct
    def far(i: Int) = Array.tabulate(dim)(j =>
      if (j == 0) 10f else ((i * 31 + j) % 7) * 0.001f)
    val batch = (0 until 160).map(i => (10000L + i, far(i))).toDF("vec_id", "embedding")
    Similarity.appendToIvfSqIndex(spark, "ivfsq_stale", batch, "vec_id", "embedding")
    val s1 = Similarity.ivfIndexStats(spark, "ivfsq_stale")
    assert(s1.totalRows === 400L && s1.builtRows === 240L)
    assert(math.abs(s1.appendedFraction - 0.4) < 1e-9)
    // every appended row landed in ONE list: the hottest list holds at
    // least all 160 of them vs a balanced 100
    assert(s1.maxListRows >= 160L, s1.toString)
    assert(s1.listSkew >= 1.6, s1.toString)
    assert(Similarity.isStaleIvfSqIndex(spark, "ivfsq_stale",
      maxAppendedFraction = 0.3, maxListSkew = 1e9), "appended-fraction signal")
    assert(Similarity.isStaleIvfSqIndex(spark, "ivfsq_stale",
      maxAppendedFraction = 1.0, maxListSkew = 1.5), "list-skew signal")

    // a PINNED rebuild (the compaction shape) must NOT clear the
    // signal: the quantizer didn't move, so the carried-forward
    // built_rows keeps appendedFraction at 0.4
    Similarity.writeIvfSqIndex(base.union(batch), "vec_id", "embedding",
      "ivfsq_pinned", nCentroids = 4, buckets = 4,
      pinQuantizerFrom = Some("ivfsq_stale"))
    val sp = Similarity.ivfIndexStats(spark, "ivfsq_pinned")
    assert(sp.totalRows === 400L && sp.builtRows === 240L, sp.toString)
    assert(math.abs(sp.appendedFraction - 0.4) < 1e-9)
    assert(Similarity.isStaleIvfSqIndex(spark, "ivfsq_pinned",
      maxAppendedFraction = 0.3, maxListSkew = 1e9),
      "a pinned rebuild must not reset the drift signal")

    // the prescribed repair: rebuild over the full corpus with a FRESH
    // quantizer (no pinQuantizerFrom — the centroids must move)
    val union = base.union(batch)
    Similarity.writeIvfSqIndex(union, "vec_id", "embedding", "ivfsq_rebuilt",
      nCentroids = 4, buckets = 4)
    val s2 = Similarity.ivfIndexStats(spark, "ivfsq_rebuilt")
    assert(s2.totalRows === 400L && s2.builtRows === 400L && s2.appendedFraction === 0.0)
    assert(!Similarity.isStaleIvfSqIndex(spark, "ivfsq_rebuilt",
      maxAppendedFraction = 0.3, maxListSkew = 1e9))
    // the fresh quantizer saw the drifted mass, so the appended region
    // now has its own list(s): the hottest list shrinks vs the stale index
    assert(s2.maxListRows < s1.maxListRows, s"stale=$s1 rebuilt=$s2")
    // recall on a planted query set: a query vector from the drifted
    // region must find drifted neighbors at full score on the rebuilt
    // index even at nProbe = 1 — its region earned a dedicated centroid
    val probe = Seq((999999L, far(80))).toDF("vec_id", "embedding")
    val hits = Similarity.ivfQuantizedTopKFromIndex(spark, "ivfsq_rebuilt", probe,
      "vec_id", "embedding", k = 5, nProbe = 1, shortlist = 32).collect()
    assert(hits.length === 5)
    assert(hits.forall(_.getAs[Long]("neighbor_id") >= 10000L), hits.mkString(","))
  }

  test("scalarQuantize: codes bounded by 127, zero vector codes to zeros") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val rows = df.select(col("vec_id"),
      Similarity.scalarQuantize(col("embedding")).as("q")).orderBy("vec_id").collect()
    val q1 = rows(0).getStruct(1)
    assert(q1.getDouble(0) === 1.0)
    assert(q1.getSeq[Int](1) === Seq(64, -127, 32)) // floor(x/m*127+0.5)
    val q2 = rows(1).getStruct(1)
    assert(q2.getDouble(0) === 0.0 && q2.getSeq[Int](1) === Seq(0, 0, 0))
  }

  test("pq top-k: answers every query; shortlist recall@10 beats the blind floor") {
    val emb = table("embeddings").select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 20)
    val truth = exactTopK(queries, emb, 10)
    val pq = Similarity.pqTopK(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", k = 10,
      m = 4, nCodes = 16, shortlist = 64, portable = true)
    val got = idPairs(pq)
    assert(got.keySet === truth.keySet, "pq must answer every query")
    assert(got.values.forall(_.size === 10))
    val r = recallOf(pq, truth)
    // a shortlist of 64 picked BLINDLY from ~500 candidates would hit
    // ~64/500 ≈ 13% of the true top-10; ADC over 4 subspace codes must
    // do structurally better than chance. The floor is far below the
    // observed value (see the structural-regression threshold policy
    // at the top of the recall block).
    assert(r >= 0.3, s"pq recall@10 = $r")
    info(f"pq recall@10 = $r%.3f")
  }

  test("pq: identical vector is re-ranked to rank 1 through the code path") {
    val emb = table("embeddings").select("vec_id", "embedding")
    val copy = emb.filter(col("vec_id") === 9)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    // an identical vector gets identical codes, so its ADC score ties
    // the query's own reconstruction — it cannot miss the shortlist —
    // and the exact re-rank must put it first
    val out = Similarity.pqTopK(emb.filter(col("vec_id") === 9),
      emb.union(copy), "vec_id", "embedding", "vec_id", "embedding",
      k = 3, m = 4, nCodes = 16, shortlist = 32, portable = true)
      .filter(col("rank") === 1).collect()(0)
    assert(out.getAs[Long]("neighbor_id") === 10009L)
    assert(math.abs(out.getAs[Double]("cosine") - 1.0) < 1e-9)
  }

  test("ivf-pq: answers every query; recall@10 beats blind probing") {
    val emb = table("embeddings").select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 20)
    val truth = exactTopK(queries, emb, 10)
    val out = Similarity.ivfPqTopK(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", k = 10,
      nCentroids = 16, nProbe = 8, m = 4, nCodes = 16,
      shortlist = 64, portable = true)
    val got = idPairs(out)
    assert(got.keySet === truth.keySet, "ivf-pq must answer every query")
    val r = recallOf(out, truth)
    // two approximations stack: the probed-list fraction (8/16 lists)
    // bounds what PQ can see, and the 64-deep ADC shortlist prunes
    // within it — the floor sits under both, far below observed
    assert(r >= 0.2, s"ivf-pq recall@10 = $r")
    info(f"ivf-pq recall@10 = $r%.3f")
  }

  test("ivf-pq: identical vector reaches rank 1 (same list, same codes)") {
    val emb = table("embeddings").select("vec_id", "embedding")
    val copy = emb.filter(col("vec_id") === 9)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    // identical vector -> identical argmax list (always probed first)
    // and identical subspace codes -> ADC ties the query's own
    // reconstruction -> cannot miss the shortlist -> exact re-rank
    // must put it first
    val out = Similarity.ivfPqTopK(emb.filter(col("vec_id") === 9),
      emb.union(copy), "vec_id", "embedding", "vec_id", "embedding",
      k = 3, nCentroids = 8, nProbe = 2, m = 4, nCodes = 16,
      shortlist = 32, portable = true)
      .filter(col("rank") === 1).collect()(0)
    assert(out.getAs[Long]("neighbor_id") === 10009L)
    assert(math.abs(out.getAs[Double]("cosine") - 1.0) < 1e-9)
  }

  test("ivf-pq index round-trip: querying the materialized index equals the in-memory path") {
    val emb = table("embeddings").select("vec_id", "embedding").limit(300)
    val q = emb.filter(col("vec_id") < 10)
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", "ivfpq_rt",
      nCentroids = 8, m = 4, nCodes = 16, buckets = 4)
    val direct = Similarity.ivfPqTopK(q, emb,
      "vec_id", "embedding", "vec_id", "embedding", k = 5,
      nCentroids = 8, nProbe = 2, m = 4, nCodes = 16, shortlist = 32)
      .collect().map(_.toString).sorted
    val fromIndex = Similarity.ivfPqTopKFromIndex(spark, "ivfpq_rt", q,
      "vec_id", "embedding", k = 5, nProbe = 2, shortlist = 32)
      .collect().map(_.toString).sorted
    assert(direct.length === 50 && direct.toSeq === fromIndex.toSeq,
      "stored quantizer + position-pinned codebook must reproduce the in-memory results")
    // the index covers the corpus exactly once and carries both side tables
    assert(spark.table("ivfpq_rt").count() === emb.count())
    assert(spark.table("ivfpq_rt_centroids").count() === 8)
    assert(spark.table("ivfpq_rt_pqseeds").count() === 16)
  }

  test("ivf-pq append: batch rides the stored quantizer+codebook; stats see the epoch") {
    val emb = table("embeddings").select("vec_id", "embedding").limit(300)
    val base = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val batch = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    Similarity.writeIvfPqIndex(base, "vec_id", "embedding", "ivfpq_app",
      nCentroids = 8, m = 4, nCodes = 16, buckets = 4)
    Similarity.appendToIvfPqIndex(spark, "ivfpq_app", batch, "vec_id", "embedding")
    assert(spark.table("ivfpq_app").count() === emb.count())

    // an appended identical twin of a query vector must be findable
    // through the index: same stored quantizer -> same list as the
    // query's best probe; same stored codebook -> tying ADC codes
    val dup = emb.filter(col("vec_id") === 4)
      .select((col("vec_id") + 20000).as("vec_id"), col("embedding"))
    Similarity.appendToIvfPqIndex(spark, "ivfpq_app", dup, "vec_id", "embedding")
    val hit = Similarity.ivfPqTopKFromIndex(spark, "ivfpq_app",
      emb.filter(col("vec_id") === 4), "vec_id", "embedding",
      k = 3, nProbe = 1, shortlist = 16)
      .filter(col("rank") === 1).collect()(0)
    assert(hit.getAs[Long]("neighbor_id") === 20004L)
    assert(math.abs(hit.getAs[Double]("cosine") - 1.0) < 1e-9)

    // shared telemetry: the SQ stats read the PQ index unchanged
    val stats = Similarity.ivfIndexStats(spark, "ivfpq_app")
    assert(stats.nLists === 8)
    assert(stats.totalRows === emb.count() + 1)
    assert(stats.appendedFraction > 0.4 && stats.appendedFraction < 0.6,
      s"appended ~half: $stats")
  }

  test("signProject: null vectors drop, an all-null frame errors clearly") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq(1.0f, 2.0f))),
      (2L, Option.empty[Seq[Float]])
    ).toDF("vec_id", "embedding")
    val out = Similarity.signProject(df, "vec_id", "embedding", outDim = 4)
      .collect().map(_.getLong(0))
    assert(out.toSeq == Seq(1L), "null vector must drop, not null-propagate")
    val allNull = Seq((1L, Option.empty[Seq[Float]])).toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Similarity.signProject(allNull, "vec_id", "embedding", outDim = 4)
    }
    assert(ex.getMessage.contains("non-null"), ex.getMessage)
  }

  test("centroidDrift: identical epochs read 1e6 ppm, a shifted epoch reads less") {
    import spark.implicits._
    val emb = table("embeddings")
    val same = Similarity.centroidDrift(emb, emb, "label", "embedding")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(same.values.forall(_ == 1000000L), same.toString)
    // drifted epoch: every component shifted by a constant — centroids
    // move off-axis, cosine drops for every label
    val shifted = emb.withColumn("embedding",
      transform(col("embedding"), x => x + lit(0.5f)))
    val drift = Similarity.centroidDrift(emb, shifted, "label", "embedding")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(drift.values.forall(_ < 1000000L), drift.toString)
  }

  test("normBandFilter: per-stratum tails drop, degenerate vectors land in the cut") {
    import spark.implicits._
    // stratum A: 9 unit-ish vectors + 1 near-zero + 1 exploded
    val a = (1L to 9L).map(i => (i, "A", Seq(1.0f, 0.1f * i))) ++
      Seq((10L, "A", Seq(0.0001f, 0.0f)), (11L, "A", Seq(100.0f, 100.0f)))
    val df = a.toDF("vec_id", "grp", "embedding")
    val kept = Similarity.normBandFilter(df, "grp", "vec_id", "embedding",
      lo = 0.10, hi = 0.90)
      .collect().map(_.getLong(0)).toSet
    assert(!kept.contains(10L), "near-zero vector must fall below the band")
    assert(!kept.contains(11L), "exploded vector must fall above the band")
    assert(kept.subsetOf((1L to 9L).toSet) && kept.size >= 7, kept.toString)
  }

  test("groupCentroids: exact micro-unit means, one row per (group, pos)") {
    import spark.implicits._
    val df = Seq(
      (0, Seq(1.0f, -2.0f)),
      (0, Seq(3.0f, -1.0f)),
      (1, Seq(0.5f, 0.5f))
    ).toDF("label", "embedding")
    val out = Similarity.groupCentroids(df, "label", "embedding")
      .orderBy("label", "pos")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    // label 0: mean (2.0, -1.5) -> (2000000, -1500000); label 1: (500000, 500000)
    assert(out.toSeq == Seq(
      (0, 0L, 2000000L, 2L), (0, 1L, -1500000L, 2L),
      (1, 0L, 500000L, 1L), (1, 1L, 500000L, 1L)))
  }

  test("signProject: exact integers, and projected cosine tracks original cosine") {
    val emb = table("embeddings").select("vec_id", "embedding")
      .filter(col("vec_id") < 40)
    val proj = Similarity.signProject(emb, "vec_id", "embedding", outDim = 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    assert(proj.values.forall(_.length == 32))
    val orig = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap

    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val ids = proj.keys.toSeq.sorted
    val pairs = for { a <- ids; b <- ids if a < b } yield {
      (cos(orig(a), orig(b)), cos(proj(a).map(_.toDouble), proj(b).map(_.toDouble)))
    }
    // JL: projected cosine is an unbiased-ish estimate of the original —
    // Pearson correlation over all pairs must be strongly positive
    // (deterministic: fixed fixture, fixed matrix)
    val n = pairs.length.toDouble
    val (mx, my) = (pairs.map(_._1).sum / n, pairs.map(_._2).sum / n)
    val covXY = pairs.map { case (x, y) => (x - mx) * (y - my) }.sum
    val sdX = math.sqrt(pairs.map(p => math.pow(p._1 - mx, 2)).sum)
    val sdY = math.sqrt(pairs.map(p => math.pow(p._2 - my, 2)).sum)
    val corr = covXY / (sdX * sdY)
    assert(corr > 0.5, s"projected cosine must track original: corr=$corr")
    // identical vectors project identically
    val again = Similarity.signProject(emb, "vec_id", "embedding", outDim = 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    ids.foreach(id => assert(proj(id).sameElements(again(id)), "deterministic"))
  }

  test("pq: pipeline is deterministic end-to-end (codes, ADC, re-rank)") {
    val emb = table("embeddings").select("vec_id", "embedding")
    val q = emb.filter(col("vec_id") < 5)
    val a = Similarity.pqTopK(q, emb, "vec_id", "embedding",
      "vec_id", "embedding", k = 5, m = 4, nCodes = 16,
      shortlist = 32, portable = true).collect()
    val b = Similarity.pqTopK(q, emb, "vec_id", "embedding",
      "vec_id", "embedding", k = 5, m = 4, nCodes = 16,
      shortlist = 32, portable = true).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq,
      "pq pipeline must be deterministic end-to-end")
  }

  test("filtered index search: predicate-true results; fully probed == brute force over the sub-corpus") {
    val emb = table("embeddings")
    Similarity.writeIvfSqIndex(emb, "vec_id", "embedding", "flt_idx",
      nCentroids = 8, buckets = 4, portableCentroids = true,
      carryCols = Seq("label"))
    val queries = emb.filter(col("vec_id") < 8)
    val n = emb.count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id")
        .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    // probe every list with a corpus-wide shortlist: the filtered
    // search must equal exact brute force over the qualifying rows
    val got = Similarity.ivfQuantizedTopKFromIndexWhere(spark, "flt_idx",
      queries, "vec_id", "embedding", col("label") === 1, k = 5,
      nProbe = 8, shortlist = n)
    val want = Similarity.bruteForceTopK(queries,
      emb.filter(col("label") === 1), "vec_id", "embedding",
      "vec_id", "embedding", k = 5)
    assert(rows(got) == rows(want))
    assert(got.count() > 0)
    // every returned neighbor satisfies the predicate
    val labels = emb.select(col("vec_id").as("neighbor_id"), col("label"))
    assert(got.join(labels, "neighbor_id")
      .filter(col("label") =!= 1 || col("label").isNull).count() === 0)
  }

  test("filtered index append: carried metadata rides; a batch missing it is refused") {
    import spark.implicits._
    val emb = table("embeddings")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    Similarity.writeIvfSqIndex(base, "vec_id", "embedding", "flt_app",
      nCentroids = 8, buckets = 4, portableCentroids = true,
      carryCols = Seq("label"))
    Similarity.appendToIvfSqIndex(spark, "flt_app", batch, "vec_id", "embedding")
    // appended rows carry their labels: a filtered query can return them
    val fromOdd = Similarity.ivfQuantizedTopKFromIndexWhere(spark, "flt_app",
      emb.filter(col("vec_id") < 8), "vec_id", "embedding",
      col("label").isNotNull, k = 10, nProbe = 8, shortlist = emb.count().toInt)
      .filter(col("neighbor_id") % 2 === 1)
    assert(fromOdd.count() > 0, "appended rows must be retrievable under the predicate")
    // a batch without the carried column must be refused loudly
    val bare = batch.select("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Similarity.appendToIvfSqIndex(spark, "flt_app", bare, "vec_id", "embedding")
    }
    assert(ex.getMessage.contains("label"), ex.getMessage)
  }

  test("ivfRecallProbe: exhaustive knobs read 1.0, pruning can only lose, deterministic, delete-aware") {
    val emb = table("embeddings").select("vec_id", "embedding").limit(300)
    Similarity.writeIvfSqIndex(emb, "vec_id", "embedding", "ivfsq_probe",
      nCentroids = 8, buckets = 4)
    // every list probed + corpus-sized shortlist = the brute-force
    // path re-derived through the index — recall must be exactly 1
    val full = Similarity.ivfRecallProbe(spark, "ivfsq_probe",
      nQueries = 8, k = 5, nProbe = 8, shortlist = 300)
    assert(full === 1000000L, s"exhaustive probe read $full ppm")
    // production knobs prune — recall can only drop, never exceed
    val pruned = Similarity.ivfRecallProbe(spark, "ivfsq_probe",
      nQueries = 8, k = 5, nProbe = 2, shortlist = 32)
    assert(pruned <= 1000000L && pruned > 0L, pruned.toString)
    // deterministic: the hash-ordered sample and tie-broken ranks make
    // the probe a pure function of index state
    assert(pruned === Similarity.ivfRecallProbe(spark, "ivfsq_probe",
      nQueries = 8, k = 5, nProbe = 2, shortlist = 32))
    // the probe samples LIVE vectors only — it keeps working after a
    // delete (a tombstoned vector can be neither query nor truth)
    Similarity.deleteFromIvfSqIndex(spark, "ivfsq_probe",
      emb.filter(col("vec_id") % 2 === 0).select("vec_id"))
    val afterDelete = Similarity.ivfRecallProbe(spark, "ivfsq_probe",
      nQueries = 8, k = 5, nProbe = 8, shortlist = 300)
    assert(afterDelete === 1000000L,
      s"exhaustive probe over the surviving half read $afterDelete ppm")
  }

  test("ivf-sq delete == pinned rebuild: tombstoned vectors vanish from search exactly") {
    import spark.implicits._
    val all = table("embeddings").select("vec_id", "embedding").limit(300)
    val q = all.filter(col("vec_id") < 10)
    Similarity.writeIvfSqIndex(all, "vec_id", "embedding", "ivfsq_del",
      nCentroids = 8, buckets = 4)
    val gone = all.filter(col("vec_id") % 3 === 0).select("vec_id")
    val receipt = Similarity.deleteFromIvfSqIndex(spark, "ivfsq_del", gone)
    assert(receipt === gone.count(), "receipt counts removed vectors")
    // reference: rebuild WITHOUT the deleted vectors under the SAME
    // stored quantizer — the delete == rebuild contract's other side
    Similarity.writeIvfSqIndex(all.filter(col("vec_id") % 3 =!= 0),
      "vec_id", "embedding", "ivfsq_del_ref",
      nCentroids = 8, buckets = 4, pinQuantizerFrom = Some("ivfsq_del"))
    def rows(t: String) = Similarity.ivfQuantizedTopKFromIndex(spark, t, q,
      "vec_id", "embedding", k = 5, nProbe = 2, shortlist = 32)
      .collect().map(_.toString).sorted.toSeq
    assert(rows("ivfsq_del") === rows("ivfsq_del_ref"))
    // no deleted id can reach a result, even fully probed
    val deadIds = gone.collect().map(_.getLong(0)).toSet
    val deep = Similarity.ivfQuantizedTopKFromIndex(spark, "ivfsq_del", q,
      "vec_id", "embedding", k = 50, nProbe = 8, shortlist = 300)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(deep.intersect(deadIds).isEmpty)
    // idempotent re-delete; unknown ids are a no-op
    assert(Similarity.deleteFromIvfSqIndex(spark, "ivfsq_del", gone) === 0L)
    assert(Similarity.deleteFromIvfSqIndex(spark, "ivfsq_del",
      Seq(987654321L).toDF("vec_id")) === 0L)
    // staleness telemetry sees the tombstone mass; purge clears it and
    // leaves answers unchanged with the quantizer untouched
    val st = Similarity.ivfIndexStats(spark, "ivfsq_del")
    assert(st.tombstoneFraction > 0.2, st.toString)
    assert(Similarity.isStaleIvfSqIndex(spark, "ivfsq_del"))
    val before = rows("ivfsq_del")
    val (b, a) = Similarity.purgeIvfSqIndex(spark, "ivfsq_del")
    assert(b > a, "purge must drop the dead rows physically")
    assert(!spark.catalog.tableExists("ivfsq_del_tombstones"))
    assert(spark.table("ivfsq_del")
      .filter(col("neighbor_id").isin(deadIds.toSeq: _*)).count() === 0)
    assert(spark.table("ivfsq_del_centroids").count() === 8,
      "purge must not move the quantizer")
    assert(rows("ivfsq_del") === before)
    assert(Similarity.ivfIndexStats(spark, "ivfsq_del").tombstoneFraction === 0.0)
    // tombstone mass counts dead ROWS: after one replayed append every
    // deleted id holds two rows, and the fraction must say so
    Similarity.writeIvfSqIndex(all, "vec_id", "embedding", "ivfsq_del_replay",
      nCentroids = 8, buckets = 4)
    Similarity.appendToIvfSqIndex(spark, "ivfsq_del_replay", all, "vec_id", "embedding")
    val fifth = all.filter(col("vec_id") % 5 === 0).select("vec_id")
    Similarity.deleteFromIvfSqIndex(spark, "ivfsq_del_replay", fifth)
    val replayed = Similarity.ivfIndexStats(spark, "ivfsq_del_replay")
    assert(replayed.tombstoneFraction === 2.0 * fifth.count() / replayed.totalRows,
      replayed.toString)
    assert(Similarity.isStaleIvfSqIndex(spark, "ivfsq_del_replay", maxAppendedFraction = 1.0,
      maxListSkew = Double.MaxValue, maxTombstoneFraction = 0.15))
  }

  test("ivf delete: filtered search and knn-from-index forget tombstoned vectors too") {
    val emb = table("embeddings").select("vec_id", "embedding", "label").limit(200)
    Similarity.writeIvfSqIndex(emb, "vec_id", "embedding", "ivfsq_delf",
      nCentroids = 4, buckets = 2, carryCols = Seq("label"))
    val gone = emb.filter(col("vec_id") % 2 === 0).select("vec_id")
    Similarity.deleteFromIvfSqIndex(spark, "ivfsq_delf", gone)
    val deadIds = gone.collect().map(_.getLong(0)).toSet
    val q = emb.filter(col("vec_id") < 6)
    val filtered = Similarity.ivfQuantizedTopKFromIndexWhere(spark, "ivfsq_delf", q,
      "vec_id", "embedding", predicate = col("label") >= 0, k = 20,
      nProbe = 4, shortlist = 200)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(filtered.nonEmpty && filtered.intersect(deadIds).isEmpty)
    val voted = Similarity.knnClassifyFromIndex(spark, "ivfsq_delf", q,
      "vec_id", "embedding", emb, "vec_id", "label", k = 5,
      nProbe = 4, shortlist = 200)
    assert(voted.count() > 0, "live neighbors still vote")
  }

  test("ivf-pq delete: shared layout rides the same tombstones") {
    val emb = table("embeddings").select("vec_id", "embedding").limit(200)
    val q = emb.filter(col("vec_id") < 6)
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", "ivfpq_del",
      nCentroids = 4, m = 4, nCodes = 8, buckets = 2)
    val gone = emb.filter(col("vec_id") % 2 === 0).select("vec_id")
    assert(Similarity.deleteFromIvfSqIndex(spark, "ivfpq_del", gone) === gone.count())
    val deadIds = gone.collect().map(_.getLong(0)).toSet
    def hits() = Similarity.ivfPqTopKFromIndex(spark, "ivfpq_del", q,
      "vec_id", "embedding", k = 10, nProbe = 4, shortlist = 100)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(hits().intersect(deadIds).isEmpty)
    val pre = hits()
    val (b, a) = Similarity.purgeIvfSqIndex(spark, "ivfpq_del")
    assert(b > a && hits() === pre, "purge is physical and answer-preserving")
    assert(spark.table("ivfpq_del_pqseeds").count() === 8,
      "purge must not move the codebook")
  }

  test("kthNeighborScore: matches a driver-side exact replay; planted copy maxes the density") {
    val base = table("embeddings").filter(col("vec_id") < 40)
      .select(col("vec_id"), col("embedding"))
    val out = Similarity.kthNeighborScore(base, "vec_id", "embedding", k = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size == 40)
    // driver replay of one vector's 3rd neighbor over micro-quant doubles
    val vs = base.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Double](1).map(x => math.floor(x * 1e6 + 0.5)).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var ab = 0.0; var aa = 0.0; var bb = 0.0
      while (i < a.length) { ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1 }
      if (aa * bb == 0.0) 0.0 else ab / (math.sqrt(aa) * math.sqrt(bb))
    }
    val ranked = vs.keys.filter(_ != 7L).toSeq
      .map(n => (n, cos(vs(7L), vs(n)))).sortBy { case (n, c) => (-c, n) }
    val (wantN, wantC) = ranked(2)
    assert(out(7L)._1 == wantN)
    assert(out(7L)._2 == math.floor(wantC * 1e6 + 0.5).toLong)
    // a planted exact copy gives its source a 1.0 first neighbor; with
    // k=1 the copy pair saturates density at ~1e6 ppm
    val withCopy = base.unionAll(base.filter(col("vec_id") === 3)
      .select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
    val k1 = Similarity.kthNeighborScore(withCopy, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(k1(3L) >= 999999L, s"copy density ${k1(3L)}")
    // corpora smaller than k+1 emit nothing
    assert(Similarity.kthNeighborScore(base.limit(3), "vec_id", "embedding", k = 5)
      .count() == 0L)
  }
}
