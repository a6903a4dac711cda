package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Three paths:
  *  - [[bruteForceTopK]] — exact baseline. Queries broadcast (small side),
  *    scores computed in one pass over the corpus, top-k selected with a
  *    two-phase partial/final reduction so no executor ever materializes
  *    a full per-query score list. At 100 TB: corpus-side scan is the
  *    only full pass; shuffle carries ≤ (partitions × queries × k) rows.
  *  - [[lshTopK]] — scale path. Corpus bucketed once by a random-
  *    hyperplane signature; each query probes only its own bucket
  *    (`probeBits` trades recall for cost).
  *  - [[ivfTopK]] — inverted-file scale path. A small coarse quantizer
  *    (deterministic sample of the corpus) partitions vectors into lists;
  *    queries probe only their `nProbe` nearest lists.
  */
object Similarity {

  /** Exact cosine top-k per query.
    *
    * @param queries small DataFrame (id, vector) — gets broadcast
    * @param corpus  large DataFrame (id, vector)
    */
  /** The IVF-SQ index's own column names — ONE definition shared by
    * the build-time carryCols collision guard and the append-time
    * carried-column discovery, so the two can never drift when an
    * internal column is added.
    */
  private val IvfIndexReservedCols =
    Set("neighbor_id", "__list", "__cq", "__cv", "__cn")

  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      corpusIdCol: String,
      corpusVecCol: String,
      k: Int
  ): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qv"))
      .withColumn("__qn", VectorFunctions.norm(col("__qv")))
    // width floor: |queries| exact cosines per corpus row fuse onto the
    // scan (the quantizedTopK phase-1 rule — narrow vector rows, heavy
    // per-row kernel; no-op on any corpus that fans out on its own)
    val c = graft.plans.ScaleJoins.widenNarrowInput(corpus)
      .select(col(corpusIdCol).as("neighbor_id"), col(corpusVecCol).as("__cv"))
      .withColumn("__cn", VectorFunctions.norm(col("__cv")))
    val scored = c
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        pairCosine.as("cosine")
      )
    topKPerKey(scored, "query_id", k)
  }

  /** Cosine from a precomputed-norm pair (norms evaluated once per row,
    * not once per candidate pair).
    */
  private def pairCosine =
    when(col("__qn") * col("__cn") === 0.0, lit(0.0))
      .otherwise(VectorFunctions.dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))

  /** Per-key top-k on a k-bounded priority queue (`CollectTopK` via the
    * bridge): partial aggregation keeps only k items per key per task —
    * O(k) memory in update AND merge — and the shuffle carries at most
    * partitions×k rows per key. The previous collect_list+sort+slice
    * partial buffered a key's whole in-partition candidate list before
    * slicing, so its memory was bounded by partition size, not k.
    */
  private[operators] def topKPerKey(scored: DataFrame, keyCol: String, k: Int): DataFrame = {
    val item = struct(
      (col("cosine") * -1).as("neg"), // ascending neg = descending cosine
      col("neighbor_id")
    )
    val agg = scored
      .groupBy(col(keyCol))
      // reverse keeps the k smallest (neg, id) = k best cosines; the
      // queue is unordered, so sort the k survivors on the way out
      .agg(array_sort(org.apache.spark.sql.graftbridge.ColumnBridge
        .collectTopK(item, k, reverse = true)).as("__top"))
    agg
      .select(col(keyCol), posexplode(col("__top")).as(Seq("__rank", "__i")))
      .select(
        col(keyCol),
        (col("__rank") + 1).as("rank"),
        col("__i.neighbor_id").as("neighbor_id"),
        (col("__i.neg") * -1).as("cosine")
      )
  }

  /** IVF (inverted-file) approximate top-k.
    *
    * Index build: `nCentroids` corpus vectors picked by a deterministic
    * id-stride sample form the coarse quantizer (a k-means refinement
    * would sharpen the Voronoi cells but costs iterations and RNG; the
    * sample is reproducible and adequate for near-uniform data). The
    * quantizer is collected to the driver — it is small *by construction*
    * (IVF's whole point) — and embedded as ONE array literal
    * (`typedlit`), so list assignment is a narrow, shuffle-free map over
    * the corpus: each vector scans the centroid array once with a
    * codegen'd `aggregate` and takes the argmax-cosine centroid id.
    *
    * Query: each query ranks the same centroid array, probes its
    * `nProbe` best lists via a broadcast join against the assigned
    * corpus, and reduces with the two-phase top-k. Corpus cost per query
    * batch drops from O(n) to O(n·nProbe/nCentroids); recall is tunable
    * with `nProbe` (= nCentroids recovers exact search).
    *
    * At 100 TB the assignment pass would be materialized once
    * (partitioned/bucketed by `__list`) and reused across query batches —
    * compose with [[graft.plans.ScaleJoins.writeBucketed]].
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      corpusIdCol: String,
      corpusVecCol: String,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 2,
      portableCentroids: Boolean = false
  ): DataFrame = {
    require(nCentroids > 0 && nProbe > 0)
    val (assigned, centArr) =
      ivfAssignWithCentroids(corpus, corpusIdCol, corpusVecCol, nCentroids, portableCentroids)
    probeAndRank(queries, assigned, centArr, queryIdCol, queryVecCol, k, nProbe)
  }

  /** Shared probe → in-list score → top-k tail of [[ivfTopK]] and
    * [[ivfRefinedTopK]]: queries rank the centroid array, keep their
    * `nProbe` best lists, broadcast-join into the assigned corpus, and
    * reduce on the k-bounded queue — one place owns the probe/tie-break
    * contract the DuckDB twins replay.
    */
  private def probeAndRank(
      queries: DataFrame,
      assigned: DataFrame,
      centArr: Column,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      nProbe: Int
  ): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qv"))
      .withColumn("__qn", VectorFunctions.norm(col("__qv")))
    // queries are the small side: explode the centroid array and keep the
    // nProbe best lists per query (window over ≤ nCentroids rows/query)
    val w = Window.partitionBy("query_id").orderBy(col("__cscore").desc, col("__list"))
    val probes = q
      .select(col("query_id"), col("__qv"), col("__qn"), explode(centArr).as("__c"))
      .select(col("query_id"), col("__qv"), col("__qn"),
        col("__c._1").as("__list"),
        centroidCosine(col("__c"), col("__qv"), col("__qn")).as("__cscore"))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= nProbe)
      .select("query_id", "__qv", "__qn", "__list")

    val scored = assigned
      .join(broadcast(probes), Seq("__list"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), pairCosine.as("cosine"))
    topKPerKey(scored, "query_id", k)
  }

  /** IVF index build: tag every corpus vector with its inverted-list id
    * (argmax-cosine centroid). A narrow, shuffle-free map over the
    * corpus — at scale, materialize this once (partitioned or bucketed
    * by `__list`) and run many query batches against it.
    *
    * Output columns: neighbor_id, __cv (vector), __cn (norm), __list.
    */
  def ivfAssign(
      corpus: DataFrame,
      corpusIdCol: String,
      corpusVecCol: String,
      nCentroids: Int
  ): DataFrame =
    ivfAssignWithCentroids(corpus, corpusIdCol, corpusVecCol, nCentroids, portable = false)._1

  /** [[Dedup.semanticDedup]]'s hook into the IVF quantizer: assignment
    * rows (neighbor_id, __cv, __cn, __list) with the same centroid
    * sample, argmax, and tie-break rules the top-k paths use.
    */
  private[operators] def assignForDedup(
      corpus: DataFrame,
      corpusIdCol: String,
      corpusVecCol: String,
      nCentroids: Int,
      portable: Boolean
  ): DataFrame =
    ivfAssignWithCentroids(corpus, corpusIdCol, corpusVecCol, nCentroids, portable)._1

  private def ivfAssignWithCentroids(
      corpus: DataFrame,
      corpusIdCol: String,
      corpusVecCol: String,
      nCentroids: Int,
      portable: Boolean,
      carryCols: Seq[String] = Nil
  ): (DataFrame, Column) = {
    // carried metadata rides the narrow assignment untouched — the
    // filtered-search payload ([[writeIvfSqIndex]]'s carryCols)
    val c = corpus.select(
        col(corpusIdCol).as("neighbor_id") +: col(corpusVecCol).as("__cv") +:
          carryCols.map(col): _*)
      .withColumn("__cn", VectorFunctions.norm(col("__cv")))
    val centArr = centroidArray(c, nCentroids, portable)
    (c.withColumn("__list", bestListId(centArr, col("__cv"), col("__cn"))), centArr)
  }

  /** Collect a deterministic pseudo-random sample of `nCentroids`
    * corpus vectors as the quantizer and pack it as a single array
    * literal of (id, vector, norm) structs. Sampling = take the
    * nCentroids lowest id-hashes: uniform over the corpus, reproducible,
    * and ONE job (a TakeOrdered over the scan — no separate count()).
    *
    * `portable = true` swaps xxhash64 for the Knuth multiplicative hash
    * of [[Corpus.portableHash]], making the ENTIRE IVF pipeline
    * reproducible in ANSI SQL (centroid pick, argmax-cosine assignment,
    * probe choice, and top-k are all deterministic) — the variant the
    * DuckDB oracle audits end-to-end.
    */
  private def centroidArray(c: DataFrame, nCentroids: Int, portable: Boolean): Column = {
    val hash =
      if (portable) Corpus.portableHash(col("neighbor_id"))
      else xxhash64(col("neighbor_id"))
    val cents: Seq[(Long, Seq[Double], Double)] = c
      .orderBy(hash, col("neighbor_id"))
      .limit(nCentroids)
      .select(col("neighbor_id"), col("__cv").cast("array<double>"), col("__cn"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .toSeq
    require(cents.nonEmpty, "empty corpus — no centroids")
    typedlit(cents)
  }

  /** Cosine between a centroid struct (_1 id, _2 vector, _3 norm) and a
    * (vector, norm) pair.
    */
  private def centroidCosine(cent: Column, vec: Column, vecNorm: Column): Column = {
    val d = VectorFunctions.dot(vec, cent.getField("_2"))
    val nn = vecNorm * cent.getField("_3")
    when(nn === 0.0, lit(0.0)).otherwise(d / nn)
  }

  /** Argmax-cosine centroid id for one vector: a single fold over the
    * centroid array (ties break to the lower id).
    */
  private def bestListId(centArr: Column, vec: Column, vecNorm: Column): Column =
    aggregate(
      centArr,
      struct(lit(Double.MinValue).as("score"), lit(-1L).as("cid")),
      (acc, cent) => {
        val s = centroidCosine(cent, vec, vecNorm)
        when(s > acc.getField("score"),
          struct(s.as("score"), cent.getField("_1").as("cid")))
          .otherwise(acc)
      }
    ).getField("cid")

  /** LSH-bucketed approximate top-k: join queries to corpus rows sharing
    * a hyperplane-signature band bucket, score, reduce. `nBands` OR-
    * combined bands trade compute for recall the way a single bucket
    * cannot: a true neighbor is found if ANY band agrees (recall
    * 1-(1-p^nBits)^nBands vs p^nBits for one band). All bands slice ONE
    * `nBits·nBands`-plane signature from the fused native kernel — one
    * pass over each vector, not one per band. Exactness recovered as
    * `nBits → 0`; per-band cost shrinks ~2^nBits-fold.
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      corpusIdCol: String,
      corpusVecCol: String,
      k: Int,
      nBits: Int = 8,
      nBands: Int = 1
  ): DataFrame = {
    def bands(vec: Column): Column = VectorFunctions.lshBands(vec, nBits, nBands)
    val q = queries.select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qv"))
      .withColumn("__b", explode(bands(col("__qv"))))
      .select(col("query_id"), col("__qv"),
        col("__b.__band").as("__band"), col("__b.__sig").as("__sig"))
      .withColumn("__qn", VectorFunctions.norm(col("__qv")))
    val c = corpus.select(col(corpusIdCol).as("neighbor_id"), col(corpusVecCol).as("__cv"))
      .withColumn("__b", explode(bands(col("__cv"))))
      .select(col("neighbor_id"), col("__cv"),
        col("__b.__band").as("__band"), col("__b.__sig").as("__sig"))
      .withColumn("__cn", VectorFunctions.norm(col("__cv")))
    val scored = c
      .join(broadcast(q), Seq("__band", "__sig"))
      .filter(col("neighbor_id") =!= col("query_id"))
      // a pair colliding in several bands must score once, not once per
      // band — dedupe on ids (collided rows are identical modulo band)
      .dropDuplicates("query_id", "neighbor_id")
      .select(
        col("query_id"),
        col("neighbor_id"),
        pairCosine.as("cosine")
      )
    topKPerKey(scored, "query_id", k)
  }

  /** k-NN majority-vote label propagation — pseudo-labeling: each query
    * vector takes the most frequent label among its `k` nearest labeled
    * corpus vectors (ties break to the smaller label, so the result is
    * engine-reproducible). The auto-labeling / quality-propagation step
    * of a training-data pipeline: score a small hand-labeled seed set
    * over the corpus, or transfer labels onto fresh unlabeled batches.
    *
    * Candidate generation is [[bruteForceTopK]] (exact — the variant the
    * oracle audits); at 100 TB use [[knnClassifyFromIndex]], which
    * routes the neighbor search through the materialized IVF-SQ index
    * and keeps the vote unchanged — the vote is a per-query
    * aggregation over k rows, negligible either way.
    *
    * @return (query_id, label, votes) — `votes` of the winning label,
    *         out of the `k` neighbors
    */
  def knnClassify(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      corpusIdCol: String,
      corpusVecCol: String,
      labelCol: String,
      k: Int
  ): DataFrame = {
    require(k > 0, "k must be positive")
    val nn = bruteForceTopK(queries, corpus,
      queryIdCol, queryVecCol, corpusIdCol, corpusVecCol, k)
    majorityVote(nn, corpus, corpusIdCol, labelCol)
  }

  /** The majority-vote tail shared by [[knnClassify]] and
    * [[knnClassifyFromIndex]] — one implementation, so the exact and
    * ANN paths can't drift on vote semantics. Unlabeled (NULL-label)
    * neighbors don't vote: a NULL would otherwise sort FIRST in the
    * tie window (Spark's default NULLS FIRST) and win every tie,
    * breaking the documented smaller-label contract and diverging
    * from engines whose default is NULLS LAST. They still occupy
    * their nearest-neighbor slots — k nearest is a geometric fact,
    * labeled or not.
    */
  private[operators] def majorityVote(
      nn: DataFrame,
      labels: DataFrame,
      labelIdCol: String,
      labelCol: String
  ): DataFrame = {
    val votes = nn
      .join(labels.filter(col(labelCol).isNotNull)
        .select(col(labelIdCol).as("neighbor_id"), col(labelCol).as("__lbl")),
        Seq("neighbor_id"))
      .groupBy(col("query_id"), col("__lbl"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("query_id").orderBy(col("votes").desc, col("__lbl"))
    votes
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(col("query_id"), col("__lbl").as("label"), col("votes"))
  }

  /** ANN-backed kNN label propagation — [[knnClassify]]'s vote over
    * neighbors retrieved from a materialized IVF-SQ index
    * ([[writeIvfSqIndex]]): the production path at 100 TB. The
    * neighbor search is [[ivfQuantizedTopKFromIndex]] — each query
    * batch reads ONLY its probed buckets off the bucketed index scan
    * (literal list-id pruning), never the whole corpus — and the vote
    * is [[majorityVote]], shared verbatim with the exact path. Labels
    * ship separately (typically the small hand-labeled seed table)
    * and join the k-neighbor shortlist by id — a broadcast-sized join
    * at any corpus scale.
    *
    * @return (query_id, label, votes) — `votes` of the winning label,
    *         out of the `k` ANN neighbors
    */
  def knnClassifyFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      labels: DataFrame,
      labelIdCol: String,
      labelCol: String,
      k: Int,
      nProbe: Int = 2,
      shortlist: Int = 64
  ): DataFrame = {
    require(k > 0, "k must be positive")
    val nn = ivfQuantizedTopKFromIndex(spark, tableName, queries,
      queryIdCol, queryVecCol, k, nProbe, shortlist)
    majorityVote(nn, labels, labelIdCol, labelCol)
  }

  // ------------------------------------------- scalar-quantized search

  /** Symmetric int8 scalar quantization of a vector: per-vector scale
    * `m = max|v_i|`, codes `floor(v_i/m·127 + 0.5) ∈ [-127, 127]`
    * (zero vectors code to all-zero). 4× smaller than float32 — the
    * storage/bandwidth format a 100 TB embedding corpus actually scans
    * — and every step is deterministic double-then-integer arithmetic
    * any engine reproduces.
    */
  def scalarQuantize(vec: Column): Column = {
    val v = vec.cast("array<double>")
    val m = array_max(transform(v, x => abs(x)))
    struct(
      m.as("scale"),
      transform(v, x =>
        when(m === 0.0, lit(0))
          .otherwise(floor(x / m * 127 + 0.5).cast("int"))).as("codes"))
  }

  /** Deterministic sign-random projection — Johnson–Lindenstrauss-style
    * dimensionality reduction with a ±1 matrix (Achlioptas' database-
    * friendly variant): `out[j] = Σ_i s(i,j)·q_i` over the micro-unit-
    * quantized vector, with `s(i,j)` regenerated from a mixed parity —
    * NO stored matrix, so any engine (and any future epoch) reproduces
    * the projection from the (i, j) indices alone. The mix must be
    * NONLINEAR in (i, j): any single bit of the affine
    * `(i+1)·K1 + (j+1)·K2` keeps strong row-to-row correlations
    * (measured mean inter-row |dot| 31 of 64 — near-duplicate
    * hyperplanes), so the parity reads a middle bit of a
    * middle-square step, `g = (h mod 2^16)² + h div 2^16 (mod 2^32)`,
    * which lands the rows at the random-matrix expectation (mean
    * inter-row |dot| ≈ 5.6 ≈ √(2n/π)). All ops stay `· mod div` —
    * replayable in any integer SQL.
    *
    * Use: shrink dim-64 float32 embeddings to `outDim` integer
    * components before clustering / coarse ANN — cosine is preserved
    * in expectation with variance O(1/outDim).
    *
    * Scale shape: a pure per-row map — one quantize pass (the same
    * `transform` the SQ path uses) feeding `outDim` native codegen'd
    * [[graft.functions.VecDotExpression]] kernels; zero shuffles, zero
    * state. Every intermediate is an integer-valued double < 2^53, so
    * the arithmetic is EXACT and summation-order-independent — the
    * gate is a full integer DuckDB oracle, not a tolerance check.
    */
  def signProject(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      outDim: Int
  ): DataFrame = {
    require(outDim >= 1, "outDim must be positive")
    // dimension from the first non-null vector (one tiny bounded job,
    // the same probe shape the IVF quantizer uses); null vectors have
    // no projection and are dropped, and an empty/all-null frame gets
    // a clear error instead of head()'s NoSuchElementException
    val probed = df.filter(col(vecCol).isNotNull)
    val dimRow = probed.select(size(col(vecCol))).limit(1).collect()
    require(dimRow.nonEmpty, s"no non-null vectors in column $vecCol")
    val dim = dimRow.head.getInt(0)
    val K1 = 2654435761L
    val K2 = 2246822519L
    val Msp = 4294967296L
    def sign(i: Int, j: Int): Double = {
      val h = ((i + 1) * K1 + (j + 1) * K2) % Msp
      val g = ((h % 65536L) * (h % 65536L) + h / 65536L) % Msp
      if ((g / 1024L) % 2L == 0L) 1.0 else -1.0
    }
    val q = transform(col(vecCol).cast("array<double>"),
      x => floor(x * lit(1e6) + lit(0.5)).cast("double"))
    val cols = (0 until outDim).map { j =>
      val s = (0 until dim).map(i => sign(i, j))
      VectorFunctions.dot(col("__q"), typedLit(s)).cast("long").as(s"__p$j")
    }
    probed.select(col(idCol).as("vec_id"), q.as("__q"))
      .select(col("vec_id"), array(cols: _*).as("proj_fx"))
  }

  /** Per-group embedding centroids (label / domain / language mean
    * vectors) in long format — the aggregate behind domain-similarity
    * routing, drift monitoring, and SemDeDup-style cluster profiling.
    * Relational shape, not a per-row fold: `posexplode` flattens to
    * (group, pos, component) and a plain hash aggregate reduces —
    * partial (map-side) combine collapses each partition to ≤
    * groups × dim rows, so the one shuffle is bounded by groups × dim
    * whatever the corpus size. Components quantize to micro-units
    * FIRST, so the sum is exact BIGINT and the mean an integer
    * division — both engines replay it bit-for-bit (an IEEE double
    * mean would depend on reduction order).
    */
  def groupCentroids(
      df: DataFrame,
      groupCol: String,
      vecCol: String
  ): DataFrame =
    df.select(col(groupCol),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "__x")))
      .withColumn("__fx", floor(col("__x") * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy(col(groupCol), col("pos"))
      .agg(sum(col("__fx")).as("sum_fx"), count(lit(1)).as("n"))
      .select(col(groupCol), col("pos").cast("long").as("pos"),
        col("sum_fx"),
        // sums go negative, so integer-division SEMANTICS matter:
        // Spark's `div` and DuckDB's `//` both truncate toward zero
        // (verified against the oracle: -1725562 / 50 → -34511 on
        // both) — a floor-division formulation would diverge by one on
        // every negative non-exact quotient
        call_function("div", col("sum_fx"), col("n")).as("mean_fx"),
        col("n"))

  /** Per-group centroid drift between two corpus epochs: cosine of
    * each group's [[groupCentroids]] mean vector in the history vs the
    * new batch — the embedding-space counterpart of the index
    * staleness APIs (a label whose centroid swings is a domain whose
    * distribution moved; downstream IVF lists and SemDeDup clusters
    * built on the old geometry are suspect there). Dataflow: two
    * bounded centroid aggregates (≤ groups × dim rows each), an
    * equi-join on (group, pos), and one more bounded aggregate — no
    * corpus-sized shuffle anywhere. The cosine runs over the exact
    * integer `mean_fx` components (products and sums stay < 2^53, so
    * the doubles are exact), then one sqrt/divide sequence both
    * engines round identically, quantized once to ppm.
    */
  def centroidDrift(
      hist: DataFrame,
      batch: DataFrame,
      groupCol: String,
      vecCol: String
  ): DataFrame = {
    val a = groupCentroids(hist, groupCol, vecCol)
      .select(col(groupCol), col("pos"), col("mean_fx").as("__a"),
        col("n").as("n_hist"))
    val b = groupCentroids(batch, groupCol, vecCol)
      .select(col(groupCol), col("pos"), col("mean_fx").as("__b"),
        col("n").as("n_batch"))
    a.join(b, Seq(groupCol, "pos"))
      .groupBy(groupCol)
      // exact BIGINT sums (components ≤ ~3e6 → products ≤ 9e12, dim-64
      // sums ≤ 6e14): order-free, then ONE double sequence at the end
      .agg(
        sum(col("__a") * col("__b")).as("__ab"),
        sum(col("__a") * col("__a")).as("__aa"),
        sum(col("__b") * col("__b")).as("__bb"),
        max(col("n_hist")).as("n_hist"),
        max(col("n_batch")).as("n_batch"))
      .select(col(groupCol),
        floor(
          when(col("__aa") === 0L || col("__bb") === 0L, lit(0.0))
            .otherwise(col("__ab").cast("double") /
              (sqrt(col("__aa").cast("double")) * sqrt(col("__bb").cast("double"))))
            * lit(1e6) + lit(0.5)).cast("long").as("cos_ppm"),
        col("n_hist"), col("n_batch"))
  }

  /** Per-stratum embedding-norm band filter — the vector-hygiene
    * screen before ANN/clustering: degenerate embeddings (near-zero
    * vectors from empty inputs, exploded norms from encoder failures)
    * sit in the norm distribution's tails, and dropping by PER-STRATUM
    * rank (not a fixed threshold) keeps the screen calibration-free
    * across domains — the vector twin of
    * [[Corpus.lengthBandFilter]]'s quantile band. The squared norm is
    * EXACT: micro-unit components through the native codegen'd dot
    * kernel stay integer-valued doubles < 2^53, so the rank is over
    * exact integers, `percent_rank` an integer ratio, and the gate a
    * full cross-engine oracle. The rank window partitions by the
    * stratum — distributed, never a global sort.
    */
  def normBandFilter(
      df: DataFrame,
      stratumCol: String,
      idCol: String,
      vecCol: String,
      lo: Double,
      hi: Double
  ): DataFrame = {
    require(lo <= hi && lo >= 0.0 && hi <= 1.0, "band must be 0 <= lo <= hi <= 1")
    val qd = transform(col(vecCol).cast("array<double>"),
      x => floor(x * lit(1e6) + lit(0.5)).cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol)).orderBy(col("norm2_fx"), col(idCol))
    df.withColumn("norm2_fx", VectorFunctions.dot(qd, qd).cast("long"))
      .withColumn("__pr", percent_rank().over(w))
      .filter(col("__pr") >= lo && col("__pr") <= hi)
      .withColumn("pr_fx", floor(col("__pr") * lit(1e6) + lit(0.5)).cast("long"))
      .drop("__pr")
  }

  // ---------------------------------------------------------------------
  // k-means (Lloyd) refinement of the IVF coarse quantizer
  // ---------------------------------------------------------------------

  /** Micro-unit quantization shared by the k-means path: integer-valued
    * doubles so the native dot kernel applies and every sum/product
    * stays exact (< 2^53) — the [[normBandFilter]] arithmetic.
    */
  private def microQuant(vec: Column): Column =
    transform(vec.cast("array<double>"), x => floor(x * lit(1e6) + lit(0.5)).cast("double"))

  /** One Lloyd refinement pass as a DataFrame: assign every vector to
    * its argmax-cosine centroid (narrow shuffle-free map over the
    * embedded centroid literal — the [[ivfTopK]] assignment shape),
    * then reduce to per-(list, pos) component sums. The aggregate is
    * bounded at nCentroids × dim rows whatever the corpus size
    * (map-side partials collapse each partition before the one
    * shuffle), so an iteration costs exactly one corpus pass.
    */
  private def lloydAgg(q: DataFrame, cents: Seq[(Long, Seq[Double])]): DataFrame = {
    val centArr = kmeansCentArr(cents)
    q.withColumn("__qn", VectorFunctions.norm(col("__q")))
      .withColumn("__list", bestListId(centArr, col("__q"), col("__qn")))
      .select(col("__list"), posexplode(col("__q")).as(Seq("pos", "__x")))
      .groupBy(col("__list"), col("pos"))
      .agg(sum(col("__x").cast("long")).as("sum_fx"), count(lit(1)).as("n"))
      // truncating integer mean — Spark `div` = DuckDB `//`, exact on
      // negative sums (the groupCentroids contract)
      .select(col("__list"), col("pos"),
        call_function("div", col("sum_fx"), col("n")).as("mean_fx"), col("n"))
  }

  /** Pack driver-held fixed-point centroids as the (id, vector, norm)
    * struct array the shared assignment/probe machinery consumes. The
    * norm is computed on the driver over exact integer-valued squares
    * (≤ 2^53), so it equals what any engine computes from the same
    * components.
    */
  private def kmeansCentArr(cents: Seq[(Long, Seq[Double])]): Column =
    typedlit(cents.map { case (cid, v) =>
      (cid, v, math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x)))
    })

  /** Drive `iters` Lloyd passes, collecting the (bounded-by-
    * construction: nCentroids × dim longs) refined centroids between
    * passes; a list that captured no members keeps its previous
    * centroid, so the quantizer never shrinks.
    */
  private def kmeansIterate(
      q: DataFrame, init: Seq[(Long, Seq[Double])], iters: Int): Seq[(Long, Seq[Double])] = {
    var cents = init
    var it = 0
    while (it < iters) {
      val rows = lloydAgg(q, cents).collect()
      val byList = rows.groupBy(_.getLong(0))
      cents = cents.map { case (cid, prev) =>
        byList.get(cid) match {
          case Some(rs) =>
            val m = rs.map(r => r.getInt(1) -> r.getLong(2).toDouble).toMap
            (cid, prev.indices.map(p => m(p)))
          case None => (cid, prev) // empty list: carry the old centroid
        }
      }
      it += 1
    }
    cents
  }

  /** Deterministic seed centroids: the `nCentroids` lowest Knuth-hash
    * ids (the portable [[centroidArray]] lottery), re-labeled 1..n in
    * hash-rank order so centroid id, array position, and the DuckDB
    * twin's `row_number() OVER (ORDER BY knuth(id), id)` all agree —
    * which makes the assignment fold's first-max tie-break and the
    * probe window's `ORDER BY score DESC, list` provably consistent
    * (both resolve to the lowest list id).
    */
  private def kmeansSeeds(q: DataFrame, nCentroids: Int): Seq[(Long, Seq[Double])] = {
    val rows = q
      .orderBy(Corpus.portableHash(col("__id")), col("__id"))
      .limit(nCentroids)
      .select(col("__q"))
      .collect()
    require(rows.nonEmpty, "empty corpus — no centroids")
    rows.toSeq.zipWithIndex.map { case (r, i) => ((i + 1).toLong, r.getSeq[Double](0)) }
  }

  /** k-means (Lloyd) refinement of the IVF coarse quantizer — the
    * sharpening [[ivfTopK]]'s doc defers: seed with the deterministic
    * Knuth-hash sample, then `iters` alternating assign/mean passes.
    * Everything is exact fixed-point integer arithmetic (micro-unit
    * components, BIGINT sums, truncating integer means) plus the one
    * zero-guarded cosine quotient both engines round identically, so
    * the refinement is fully replayable in ANSI SQL — RNG-free Lloyd,
    * which is what makes a k-means gate oracle-able at all.
    *
    * Scale shape: each iteration is ONE corpus pass — a narrow
    * assignment map against the embedded centroid literal and a
    * bounded aggregate (≤ nCentroids × dim rows cross the shuffle);
    * the driver holds only the nCentroids × dim centroid matrix
    * between passes. `iters` is small by construction (Lloyd's gains
    * concentrate in the first few passes).
    *
    * Output long format (the [[groupCentroids]] shape): one row per
    * (list_id, pos) with the refined component, plus `n_members` from
    * the final assignment (0 for a carried empty list).
    */
  def kmeansRefine(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      iters: Int
  ): DataFrame = {
    require(nCentroids > 0 && iters >= 1, "need nCentroids > 0 and iters >= 1")
    val q = corpus.select(col(idCol).as("__id"), microQuant(col(vecCol)).as("__q"))
    val cents = kmeansIterate(q, kmeansSeeds(q, nCentroids), iters - 1)
    // final pass stays a DataFrame; the full-outer carry against the
    // exploded centroid literal keeps empty lists present with their
    // previous centroid and n_members = 0 — the same carry rule the
    // driver loop applies between passes
    val prev = corpus.sparkSession.range(1)
      .select(explode(kmeansCentArr(cents)).as("__c"))
      .select(col("__c._1").as("list_id"),
        posexplode(col("__c._2")).as(Seq("pos", "__pm")))
      .select(col("list_id"), col("pos"), col("__pm").cast("long").as("__prev_fx"))
    prev
      .join(lloydAgg(q, cents).withColumnRenamed("__list", "list_id"),
        Seq("list_id", "pos"), "left_outer")
      .select(col("list_id"), col("pos").cast("long").as("pos"),
        coalesce(col("mean_fx"), col("__prev_fx")).as("mean_fx"),
        coalesce(col("n"), lit(0L)).as("n_members"))
  }

  /** The refined quantizer as a driver-side value for the search path:
    * runs [[kmeansRefine]]'s loop to completion and packs (id, vector,
    * norm) structs. Centroid components stay in micro-units — cosine
    * is scale-invariant, so the refined centroids rank RAW corpus and
    * query vectors without rescaling.
    */
  private def kmeansQuantizer(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, iters: Int): Seq[(Long, Seq[Double], Double)] = {
    val q = corpus.select(col(idCol).as("__id"), microQuant(col(vecCol)).as("__q"))
    kmeansIterate(q, kmeansSeeds(q, nCentroids), iters).map { case (cid, v) =>
      (cid, v, math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x)))
    }
  }

  /** [[ivfTopK]] with a k-means-refined coarse quantizer: Lloyd
    * centroids replace the raw sample, then the standard
    * assign → probe → in-list score → top-k tail runs unchanged
    * ([[probeAndRank]]). Refined Voronoi cells track the corpus's real
    * cluster structure, so the same `nProbe` recovers more of the true
    * neighbors — recall improves at IDENTICAL query cost (the
    * per-query work is nProbe lists either way; only the one-off build
    * pays the `iters` extra corpus passes). Centroid ids are hash-rank
    * positions 1..nCentroids, making every tie-break (assignment
    * first-max, probe window, DuckDB `ORDER BY`) agree on the lowest
    * list id.
    */
  def ivfRefinedTopK(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      corpusIdCol: String,
      corpusVecCol: String,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 2,
      iters: Int = 2
  ): DataFrame = {
    require(nCentroids > 0 && nProbe > 0 && iters >= 1)
    val centArr = typedlit(
      kmeansQuantizer(corpus, corpusIdCol, corpusVecCol, nCentroids, iters))
    val c = corpus.select(col(corpusIdCol).as("neighbor_id"), col(corpusVecCol).as("__cv"))
      .withColumn("__cn", VectorFunctions.norm(col("__cv")))
    val assigned = c.withColumn("__list", bestListId(centArr, col("__cv"), col("__cn")))
    probeAndRank(queries, assigned, centArr, queryIdCol, queryVecCol, k, nProbe)
  }

  /** Two-level ANN — IVF lists × int8 scalar quantization (the IVF-SQ
    * recipe of large-scale vector stores): queries probe their `nProbe`
    * best inverted lists, the integer-dot shortlist runs ONLY within
    * probed lists over 4×-smaller int8 codes, and the shortlist re-ranks
    * at full precision. Composes [[ivfTopK]]'s pruning with
    * [[quantizedTopK]]'s compression so neither phase ever scans the
    * whole corpus per query batch — per-query phase-1 cost is
    * O(n·nProbe/nCentroids) over codes instead of O(n) over floats.
    *
    * Scale shape (100 TB): the (list, codes) assignment is a narrow
    * shuffle-free map; materialize it once partitioned by `__list`
    * (compose with [[graft.plans.ScaleJoins.writeBucketed]]) and run
    * every query batch against it. Probes broadcast (queries × nProbe
    * rows); phase 2 joins the tiny shortlist back to full vectors by id.
    * The corpus is never shuffled in either phase.
    *
    * `portableCentroids = true` swaps the centroid-sample hash for the
    * Knuth mix, making centroid pick → assignment → probe → int-dot
    * shortlist → re-rank reproducible end-to-end in ANSI SQL — the
    * variant the DuckDB oracle audits.
    */
  def ivfQuantizedTopK(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      corpusIdCol: String,
      corpusVecCol: String,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 2,
      shortlist: Int = 64,
      portableCentroids: Boolean = false
  ): DataFrame = {
    require(nCentroids > 0 && nProbe > 0, "need nCentroids > 0 and nProbe > 0")
    require(k > 0 && shortlist >= k, "need shortlist >= k > 0")
    val (assigned, centArr) =
      ivfAssignWithCentroids(corpus, corpusIdCol, corpusVecCol, nCentroids, portableCentroids)
    // the int8 codes ride the list assignment; phase 1 never touches the
    // float vectors (4× less data scanned per probed list). The
    // (id, list, codes) frame IS the IVF-SQ index — built once, reused
    // by every query batch (the production shape; at 100 TB it would be
    // materialized bucketed by __list instead). persistOnce gives
    // repeat invocations with the same corpus the index-reuse
    // semantics instead of a rebuild, same policy as the minhash
    // signature cache in Dedup.
    val codes = org.apache.spark.sql.graftbridge.CacheBridge.persistOnce(
      assigned.select(col("neighbor_id"), col("__list"),
        scalarQuantize(col("__cv")).getField("codes").as("__cq")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vectors = corpus
      .select(col(corpusIdCol).as("neighbor_id"), col(corpusVecCol).as("__cv"))
      .withColumn("__cn", VectorFunctions.norm(col("__cv")))
    // the cached codes are an in-memory scan, so literal list pruning
    // buys nothing here — it matters on the materialized-index path
    ivfSqSearch(codes, vectors, centArr, queries, queryIdCol, queryVecCol,
      k, nProbe, shortlist, pruneLists = false)
  }

  /** The ONE IVF-SQ search kernel both [[ivfQuantizedTopK]] and
    * [[ivfQuantizedTopKFromIndex]] run — the round-trip equality
    * contract (from-index results == in-memory results) holds because
    * probe selection, int-dot shortlist, and re-rank tie-breaks exist
    * exactly once. Probe choice uses identical arithmetic to
    * [[ivfTopK]] (same centroid cosine, same tie-breaks), so an IVF
    * index serves both families.
    *
    * @param codes   (neighbor_id, __list, __cq int8 codes)
    * @param vectors (neighbor_id, __cv, __cn) for the exact re-rank
    * @param pruneLists collect the batch's probed list ids (≤ queries ×
    *                   nProbe rows, driver-side) and filter `codes`
    *                   with a LITERAL IN predicate BEFORE the join —
    *                   on a bucketed/partitioned index scan this prunes
    *                   to the probed buckets, so a query batch reads
    *                   only its lists instead of the whole index
    */
  /** Probe selection shared by the SQ and PQ list-pruned searches:
    * each query ranks the centroid array with the SAME arithmetic and
    * tie-breaks as [[ivfTopK]] (cosine desc, then list id) and keeps
    * its `nProbe` best lists. Returns (query_id, __qv, __qn, __list);
    * callers project the carrier they need (SQ re-quantizes the query,
    * PQ keeps the raw vector for ADC).
    */
  private def probeListsFor(
      q: DataFrame, centArr: Column, nProbe: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("__cscore").desc, col("__list"))
    q.select(col("query_id"), col("__qv"), col("__qn"), explode(centArr).as("__c"))
      .select(col("query_id"), col("__qv"), col("__qn"),
        col("__c._1").as("__list"),
        centroidCosine(col("__c"), col("__qv"), col("__qn")).as("__cscore"))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= nProbe)
      .select(col("query_id"), col("__qv"), col("__qn"), col("__list"))
  }

  private def ivfSqSearch(
      codes: DataFrame,
      vectors: DataFrame,
      centArr: Column,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      nProbe: Int,
      shortlist: Int,
      pruneLists: Boolean
  ): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qv"))
      .withColumn("__qn", VectorFunctions.norm(col("__qv")))
    val probes = probeListsFor(q, centArr, nProbe)
      .select(col("query_id"),
        scalarQuantize(col("__qv")).getField("codes").as("__qq"),
        col("__list"))
    val codesIn =
      if (!pruneLists) codes
      else {
        val ids = probes.select("__list").distinct().collect().map(_.getLong(0))
        codes.filter(col("__list").isin(ids.toIndexedSeq: _*))
      }
    // phase 1: exact integer dot over codes, within probed lists only —
    // a corpus row is in exactly one list, so each (query, corpus) pair
    // scores at most once; the k-bounded queue keeps `shortlist` per
    // query. Native kernel: the zip_with+aggregate fold it replaces was
    // interpreted per element and allocated a boxed array per scored
    // pair — same long accumulate, same values
    val intScore = graft.functions.VecDotIntExpression
      .vecDotInt(col("__qq"), col("__cq"))
    val phase1 = codesIn
      .join(broadcast(probes), Seq("__list"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), intScore.cast("double").as("cosine"))
    val cand = topKPerKey(phase1, "query_id", shortlist)
      .select("query_id", "neighbor_id")
    // phase 2: exact re-rank of the shortlist on the original vectors
    val scored = cand
      .join(vectors, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), pairCosine.as("cosine"))
    topKPerKey(scored, "query_id", k)
  }

  /** Materialize the IVF-SQ index for a corpus — the production form of
    * [[ivfQuantizedTopK]]'s in-memory build: the (id, list, int8 codes,
    * vector, norm) table persisted BUCKETED by `__list`
    * ([[graft.plans.ScaleJoins.writeBucketed]]), plus the coarse
    * quantizer saved as a tiny `<table>_centroids` side table so query
    * batches rank the exact centroids that assigned the lists. Build
    * once per ingest epoch; every batch then runs
    * [[ivfQuantizedTopKFromIndex]] with no corpus-sized recompute —
    * probed lists read straight off the bucketed files.
    */
  def writeIvfSqIndex(
      corpus: DataFrame,
      corpusIdCol: String,
      corpusVecCol: String,
      tableName: String,
      nCentroids: Int = 16,
      buckets: Int = 16,
      portableCentroids: Boolean = false,
      pinQuantizerFrom: Option[String] = None,
      carryCols: Seq[String] = Nil,
      refineIters: Int = 0
  ): Unit = {
    require(nCentroids > 0 && buckets > 0)
    require(refineIters == 0 || pinQuantizerFrom.isEmpty,
      "refineIters trains a fresh quantizer — it cannot combine with pinQuantizerFrom")
    // carryCols = metadata columns stored verbatim beside each code row
    // (label, lang, license, date …) — the payload
    // [[ivfQuantizedTopKFromIndexWhere]] predicates push down against;
    // reserved index column names can't double as payload
    require(carryCols.forall(c => !IvfIndexReservedCols.contains(c)),
      s"carryCols collide with index columns: " +
        carryCols.filter(IvfIndexReservedCols).mkString(", "))
    // pinQuantizerFrom reuses another index's STORED coarse quantizer
    // instead of sampling fresh centroids — the rebuild/compaction
    // shape: list membership stays stable across rebuilds, and a
    // pinned rebuild over base ∪ batch is row-identical to
    // build(base) + appendToIvfSqIndex(batch) (the round-trip spec's
    // equality). Collected eagerly, so pinning a table to itself
    // (re-assign in place) is safe.
    val (assigned, centArr, pinnedBuilt) = pinQuantizerFrom match {
      case Some(src) =>
        val cents = loadCentroids(corpus.sparkSession, src)
        // the stored quantizer REPLACES sampling, so the sampling
        // knobs must agree with what was actually loaded — silently
        // returning an 8-list index to a caller who asked for 32
        // lists would corrupt recall expectations without a trace
        require(cents.size == nCentroids,
          s"pinned quantizer $src has ${cents.size} centroids but nCentroids = $nCentroids — " +
            "pass the pinned index's true centroid count")
        // built_rows means "rows the stored quantizer was trained on":
        // a pinned rebuild keeps the OLD quantizer, so it must carry
        // the source's stamp forward — stamping the rebuilt row count
        // would reset appendedFraction to 0 and silently clear the
        // staleness signal while recall degradation persists. Read
        // eagerly (before any overwrite of a table pinned to itself).
        val srcCent = corpus.sparkSession.table(src + "_centroids")
        val srcBuilt =
          if (srcCent.columns.contains("built_rows"))
            Some(srcCent.agg(max(col("built_rows"))).collect()(0).getLong(0))
          else None // pre-telemetry source: fall back to the written count
        val arr = typedlit(cents)
        val c = corpus
          .select(
            col(corpusIdCol).as("neighbor_id") +: col(corpusVecCol).as("__cv") +:
              carryCols.map(col): _*)
          .withColumn("__cn", VectorFunctions.norm(col("__cv")))
        (c.withColumn("__list", bestListId(arr, col("__cv"), col("__cn"))), arr, srcBuilt)
      case None if refineIters > 0 =>
        // k-means-refined quantizer ([[kmeansQuantizer]]): the Lloyd
        // centroids are stored like any other quantizer, so appends,
        // pinned rebuilds, staleness stats, and query batches all ride
        // them with zero further changes — refinement is a build-time
        // knob, not a new index format. Micro-unit components are fine
        // everywhere downstream: cosine is scale-invariant.
        val arr = typedlit(
          kmeansQuantizer(corpus, corpusIdCol, corpusVecCol, nCentroids, refineIters))
        val c = corpus
          .select(
            col(corpusIdCol).as("neighbor_id") +: col(corpusVecCol).as("__cv") +:
              carryCols.map(col): _*)
          .withColumn("__cn", VectorFunctions.norm(col("__cv")))
        (c.withColumn("__list", bestListId(arr, col("__cv"), col("__cn"))), arr, None)
      case None =>
        val (a, arr) =
          ivfAssignWithCentroids(corpus, corpusIdCol, corpusVecCol, nCentroids,
            portableCentroids, carryCols)
        (a, arr, None)
    }
    val index = assigned.select(
      col("neighbor_id") +: col("__list") +:
        scalarQuantize(col("__cv")).getField("codes").as("__cq") +:
        col("__cv") +: col("__cn") +: carryCols.map(col): _*)
    graft.plans.ScaleJoins.writeBucketed(index, tableName, "__list", buckets)
    graft.plans.Tombstones.reset(corpus.sparkSession, tableName)
    // quantizer-training row count: for a fresh build, the just-written
    // table's count (a parquet count(*) is metadata-only); for a pinned
    // rebuild, the SOURCE's stamp carried forward — the denominator for
    // [[ivfIndexStats]]'s appended-fraction staleness signal
    val builtRows = pinnedBuilt.getOrElse(corpus.sparkSession.table(tableName).count())
    // cpos preserves the quantizer's ARRAY ORDER: assignment argmax
    // ties break to the earlier array slot, so appends must rank the
    // stored centroids exactly as the build did — cid order is the
    // hash-sample order only by accident
    corpus.sparkSession.range(1)
      .select(posexplode(centArr).as(Seq("cpos", "__c")))
      .select(col("cpos").cast("long").as("cpos"), col("__c._1").as("cid"),
        col("__c._2").as("cvec"), col("__c._3").as("cnorm"),
        lit(builtRows).as("built_rows"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(tableName + "_centroids")
  }

  /** The stored coarse quantizer of [[writeIvfSqIndex]], in build-time
    * array order — the exact (id, vector, norm) sequence
    * [[ivfQuantizedTopKFromIndex]] probes and [[appendToIvfSqIndex]]
    * assigns against.
    */
  private def loadCentroids(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String): Seq[(Long, Seq[Double], Double)] = {
    val t = spark.table(tableName + "_centroids")
    // indexes persisted before cpos existed carry only (cid, cvec,
    // cnorm); cid order WAS the query-time array order then, so
    // falling back keeps old on-disk indexes readable — persisted
    // format breaks are not acceptable for a build-once/query-later
    // contract
    val ordered = if (t.columns.contains("cpos")) t.orderBy("cpos") else t.orderBy("cid")
    val cents: Seq[(Long, Seq[Double], Double)] = ordered
      .select("cid", "cvec", "cnorm")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .toSeq
    require(cents.nonEmpty, s"empty centroid table for $tableName")
    cents
  }

  /** Incremental IVF-SQ index maintenance: assign a NEW batch to the
    * index's EXISTING centroids (the stored quantizer pins list
    * membership — no re-sampling, no corpus-sized recompute) and
    * append its (id, list, codes, vector, norm) rows to the bucketed
    * table. The mirror of [[graft.operators.Dedup]]'s batch-vs-index
    * asymmetry: ingest epochs pay O(|batch|·nCentroids) assignment
    * work, never a rebuild over the full corpus; the bucket count is
    * read from the catalog so an append cannot silently diverge from
    * the table's layout. Rebuild (fresh quantizer) remains the right
    * move when drift accumulates — that's [[writeIvfSqIndex]];
    * [[isStaleIvfSqIndex]] tells you when, from measured
    * [[ivfIndexStats]] telemetry.
    */
  def appendToIvfSqIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String
  ): Unit = {
    val centArr = typedlit(loadCentroids(spark, tableName))
    val carryCols = graft.plans.Compaction.carriedColumns(
      spark, tableName, IvfIndexReservedCols.toSeq, batch)
    val b = batch.select(
        col(idCol).as("neighbor_id") +: col(vecCol).as("__cv") +:
          carryCols.map(col): _*)
      .withColumn("__cn", VectorFunctions.norm(col("__cv")))
      .withColumn("__list", bestListId(centArr, col("__cv"), col("__cn")))
    graft.plans.Compaction.appendBucketed(spark, tableName, b.select(
      col("neighbor_id") +: col("__list") +:
        scalarQuantize(col("__cv")).getField("codes").as("__cq") +:
        col("__cv") +: col("__cn") +: carryCols.map(col): _*))
  }

  /** Staleness telemetry for a materialized IVF-SQ index.
    *
    * @param totalRows        rows in the index now
    * @param builtRows        rows the stored quantizer was TRAINED on
    *                         (stamped in the centroid side table; a
    *                         `pinQuantizerFrom` rebuild carries the
    *                         source's stamp forward — the quantizer
    *                         didn't move, so the signal must not reset.
    *                         An index persisted before the stamp
    *                         existed reports `builtRows = totalRows`,
    *                         i.e. appends before the upgrade are
    *                         untracked)
    * @param appendedFraction (totalRows − builtRows) / totalRows
    * @param nLists           stored quantizer size
    * @param maxListRows      hottest inverted list
    * @param listSkew         maxListRows / (totalRows / nLists) — 1.0
    *                         is perfectly balanced; the mean counts
    *                         EMPTY lists, so a collapsed quantizer
    *                         (everything in few lists) reads high
    */
  final case class IvfIndexStats(
      totalRows: Long,
      builtRows: Long,
      appendedFraction: Double,
      nLists: Int,
      maxListRows: Long,
      listSkew: Double,
      // deleted rows still physically present / totalRows — disk and
      // scan waste purgeIvfSqIndex reclaims; answers are already
      // delete-exact regardless. Trailing default keeps older
      // positional constructions valid.
      tombstoneFraction: Double = 0.0)

  /** Measure [[IvfIndexStats]] for an index table: one aggregate over
    * the bucketed index (per-list counts — at most `nLists` rows reach
    * the driver) plus the build-time row count from the centroid side
    * table. Run it between ingest epochs; feed [[isStaleIvfSqIndex]]
    * or alert on it directly.
    */
  def ivfIndexStats(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String): IvfIndexStats = {
    val nLists = loadCentroids(spark, tableName).size
    val perList = spark.table(tableName)
      .groupBy("__list").agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1))
    val total = perList.sum
    val centT = spark.table(tableName + "_centroids")
    val built =
      if (centT.columns.contains("built_rows"))
        centT.agg(max(col("built_rows"))).collect()(0).getLong(0)
      else total
    val appendedFraction =
      if (total == 0L) 0.0 else math.max(0L, total - built).toDouble / total
    val maxList = if (perList.isEmpty) 0L else perList.max
    val mean = if (nLists == 0) 0.0 else total.toDouble / nLists
    val dead = graft.plans.Tombstones.deadRows(
      spark, tableName, "neighbor_id", spark.table(tableName))
    IvfIndexStats(total, built, appendedFraction, nLists, maxList,
      if (mean == 0.0) 1.0 else maxList / mean,
      if (total == 0L) 0.0 else dead.toDouble / total)
  }

  /** The operational rebuild threshold [[appendToIvfSqIndex]]'s design
    * requires. Appends pin the stored quantizer (that is what makes
    * append == rebuild), so centroids NEVER move: under distribution
    * drift an append-heavy index degrades recall silently — new mass
    * piles into a few existing lists, and a fixed `nProbe` covers a
    * shrinking fraction of it. This flags that state from two signals:
    * the appended fraction (how much of the index the build-time
    * quantizer never saw) and the list skew (how unbalanced the
    * inverted lists have become).
    *
    * Rebuild recipe when this flips: re-run [[writeIvfSqIndex]] over
    * the full accepted corpus WITHOUT `pinQuantizerFrom` — the point
    * of the rebuild is precisely to let the centroids move (pinning is
    * for append-equivalence proofs and compaction, never for drift
    * repair) — either over the same table name, or build under a new
    * name and swap, if queries must not observe a half-built index.
    * After the rebuild `appendedFraction` is 0 and the fresh quantizer
    * re-balances the lists; the defaults (half the index unseen by the
    * quantizer, or one list at 4× the balanced size) are deliberately
    * loose — tighten per corpus from measured recall.
    */
  def isStaleIvfSqIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      maxAppendedFraction: Double = 0.5,
      maxListSkew: Double = 4.0,
      maxTombstoneFraction: Double = 0.2): Boolean = {
    val s = ivfIndexStats(spark, tableName)
    s.appendedFraction > maxAppendedFraction || s.listSkew > maxListSkew ||
      // answers stay exact under tombstones; what degrades is bytes
      // scanned and stored — past the threshold, run purgeIvfSqIndex
      s.tombstoneFraction > maxTombstoneFraction
  }

  /** The index's live (non-deleted) rows — what every query path's
    * phase 1 must see, so a deleted vector can never reach a shortlist.
    */
  private def ivfLiveRows(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String): DataFrame =
    graft.plans.Tombstones.live(spark, tableName, "neighbor_id", spark.table(tableName))

  /** Delete vectors from a materialized IVF index (SQ or PQ — shared
    * layout) — the takedown / PII-purge verb, O(|ids|) however large
    * the index: every query path drops the deleted ids from its phase-1
    * candidates, so a deleted vector can never appear in a shortlist or
    * a result. Search after a delete returns exactly what an index
    * REBUILT without those vectors (with the SAME quantizer —
    * `pinQuantizerFrom`) returns: the quantizer never moves on delete,
    * list membership of survivors is untouched, and ranking is
    * per-row. (A fresh-quantizer rebuild re-samples centroids from the
    * smaller corpus and may legitimately probe differently — that is
    * drift repair, not deletion.) The protocol, physical removal
    * included, is [[graft.plans.Tombstones]].
    *
    * @param ids one-column frame of neighbor ids to remove
    * @return distinct NEW ids actually removed (already-tombstoned and
    *         unknown ids excluded) — the takedown receipt
    */
  def deleteFromIvfSqIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      ids: DataFrame): Long =
    graft.plans.Tombstones.delete(spark, tableName, "neighbor_id", ids, spark.table(tableName))

  /** Make IVF (SQ or PQ) deletions physical — the crash-ordered purge
    * of [[graft.plans.Tombstones]]. The quantizer side tables stay
    * untouched: deletion must NOT move it (the delete == rebuild
    * contract).
    *
    * @return (rowsBefore, rowsAfter)
    */
  def purgeIvfSqIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String): (Long, Long) =
    graft.plans.Tombstones.purge(spark, tableName, "neighbor_id", Nil)

  /** Query a materialized IVF-SQ index ([[writeIvfSqIndex]]): the
    * shared [[ivfSqSearch]] kernel with every corpus-side input read
    * from the persisted tables. The batch's probed list ids become a
    * LITERAL filter on the bucketed codes scan (`pruneLists = true`),
    * so each query batch reads only its probed buckets — never the
    * whole index; phase 2 joins the tiny shortlist back to the stored
    * vectors by id. Results are identical to the in-memory path built
    * with the same knobs, because the stored centroids pin the
    * quantizer and the kernel is shared. Tombstoned ids
    * ([[deleteFromIvfSqIndex]]) are excluded from phase 1, so they can
    * never reach a shortlist.
    */
  def ivfQuantizedTopKFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      nProbe: Int = 2,
      shortlist: Int = 64
  ): DataFrame = {
    require(k > 0 && nProbe > 0 && shortlist >= k)
    ivfSqSearch(
      ivfLiveRows(spark, tableName).select("neighbor_id", "__list", "__cq"),
      spark.table(tableName).select(col("neighbor_id"), col("__cv"), col("__cn")),
      typedlit(loadCentroids(spark, tableName)), queries, queryIdCol, queryVecCol,
      k, nProbe, shortlist, pruneLists = true)
  }

  /** FILTERED vector search over a materialized IVF-SQ index — the
    * metadata-constrained retrieval every vector store offers ("nearest
    * neighbors WHERE lang = 'en' AND license = 'permissive'"): the
    * predicate evaluates against the metadata columns stored beside
    * each code row (`carryCols` at [[writeIvfSqIndex]] build time) and
    * prunes phase-1 candidates BEFORE ranking, so the top-k is over
    * the qualifying sub-corpus — never a post-filter that silently
    * returns fewer than k because the shortlist filled with
    * non-qualifying rows. Semantics: search the sub-corpus satisfying
    * `predicate` with the FULL corpus's quantizer (probes and recall
    * behavior stay those of the built index; an empty qualifying set
    * in every probed list returns zero rows for that query).
    *
    * Scale shape: identical to [[ivfQuantizedTopKFromIndex]] — the
    * probed-list literal IN prunes buckets, and the predicate pushes
    * into the same parquet scan as an ordinary column filter, so a
    * selective predicate REDUCES bytes read below the unfiltered
    * query's. Phase 2 re-ranks the (already qualifying) shortlist on
    * the stored vectors.
    */
  def ivfQuantizedTopKFromIndexWhere(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      predicate: Column,
      k: Int,
      nProbe: Int = 2,
      shortlist: Int = 64
  ): DataFrame = {
    require(k > 0 && nProbe > 0 && shortlist >= k)
    val t = spark.table(tableName)
    ivfSqSearch(
      ivfLiveRows(spark, tableName).filter(predicate)
        .select("neighbor_id", "__list", "__cq"),
      t.select(col("neighbor_id"), col("__cv"), col("__cn")),
      typedlit(loadCentroids(spark, tableName)), queries, queryIdCol, queryVecCol,
      k, nProbe, shortlist, pruneLists = true)
  }

  /** Sampled ground-truth recall of a materialized IVF-SQ index — the
    * staleness signal that actually matters: `appendedFraction` and
    * `listSkew` ([[ivfIndexStats]]) are PROXIES for "the quantizer no
    * longer routes queries to the right lists"; this measures the real
    * thing. A deterministic portable-hash sample of the index's own
    * live vectors queries BOTH paths — exact brute-force cosine top-k
    * (ground truth) and the index's pruned search at the caller's
    * production knobs — and recall is the exact integer fraction of
    * ground-truth neighbors the index returned.
    *
    * Cost, stated honestly: the ground-truth side is one full scan of
    * the stored vectors against `nQueries` broadcast queries (the
    * labeled-audit tier, like the brute-force dedup baseline) — run it
    * between epochs at a bounded `nQueries`, not per query batch.
    * Deterministic end to end (hash-ordered sample, tie-broken ranks),
    * so two probes of the same index state return the same number.
    *
    * @return recall in ppm: matched ground-truth pairs · 10⁶ div
    *         ground-truth pairs (denominator from the truth side, so a
    *         corpus smaller than k stays exact)
    */
  def ivfRecallProbe(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      nQueries: Int = 32,
      k: Int = 10,
      nProbe: Int = 2,
      shortlist: Int = 64): Long = {
    require(nQueries > 0 && k > 0)
    val live = ivfLiveRows(spark, tableName)
      .select(col("neighbor_id").as("vec_id"), col("__cv").as("embedding"))
    val queries = live
      .orderBy(graft.operators.Corpus.portableHash(col("vec_id")), col("vec_id"))
      .limit(nQueries)
      .localCheckpoint(true) // one sample frame feeds both paths
    val truth = bruteForceTopK(queries, live,
      "vec_id", "embedding", "vec_id", "embedding", k)
      .select(col("query_id"), col("neighbor_id"))
    val got = ivfQuantizedTopKFromIndex(spark, tableName, queries,
      "vec_id", "embedding", k, nProbe, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val r = truth.join(got, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("hit"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n"))))
      .select(call_function("div", col("hit") * lit(1000000L), col("n")))
      .head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Quantize-shortlist-rerank top-k — the two-phase retrieval shape of
    * quantized vector search: rank ALL candidates by the integer dot
    * product of int8 codes (exact integer arithmetic — no float enters
    * candidate selection), keep a `shortlist` per query, then re-rank
    * only the shortlist with full-precision cosine over the original
    * vectors. With `shortlist = corpus size` this degrades to exact
    * search; smaller shortlists trade recall for scanning 4×-smaller
    * data in phase one.
    *
    * Integer-dot ranking tracks cosine ranking when vectors have
    * comparable norms (embeddings are typically L2-normalized); the
    * per-vector scales cancel out of the ORDER, not the value, only in
    * that regime — callers with wildly mixed norms should raise
    * `shortlist`.
    *
    * Scale shape (100 TB): phase one is the [[bruteForceTopK]] pattern
    * over int8 codes — queries broadcast, corpus scanned once, top-
    * shortlist held in k-bounded queues; phase two joins the (tiny)
    * shortlist back to full vectors by id. No shuffle of the corpus in
    * either phase — but phase one IS a full code scan per query batch;
    * when that scan dominates, compose with inverted lists via
    * [[ivfQuantizedTopK]], which prunes it to the probed lists.
    */
  def quantizedTopK(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      corpusIdCol: String,
      corpusVecCol: String,
      k: Int,
      shortlist: Int = 64
  ): DataFrame = {
    require(k > 0 && shortlist >= k, "need shortlist >= k > 0")
    val q = queries
      .select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qv"))
      .withColumn("__qq", scalarQuantize(col("__qv")).getField("codes"))
    // width floor before the scoring kernel: phase 1 fuses quantize +
    // |queries| integer dots + the bounded queues onto the corpus SCAN,
    // whose width is input-bytes-derived — a small-file corpus runs the
    // whole scoring pass in one task (measured 0.85 s of the sf0.1
    // gate); vector rows are narrow, so the exchange is cheap where it
    // fires and a no-op at scale
    val c = graft.plans.ScaleJoins.widenNarrowInput(corpus)
      .select(col(corpusIdCol).as("neighbor_id"), col(corpusVecCol).as("__cv"))
      .withColumn("__cq", scalarQuantize(col("__cv")).getField("codes"))
    // phase 1: integer dot over codes (sum in long: 127^2 * dim stays
    // far inside range), per-query top-shortlist on a bounded queue —
    // native kernel, same long accumulate as the interpreted fold
    val intScore = graft.functions.VecDotIntExpression
      .vecDotInt(col("__qq"), col("__cq"))
    // the long score rides the k-bounded queue as a double — int dots
    // are <= 127^2 * dim, far inside double's exact-integer range — so
    // the shortlist never windows the |corpus| x |queries| cross join
    val phase1 = c.select(col("neighbor_id"), col("__cq"))
      .crossJoin(broadcast(q.select(col("query_id"), col("__qq"))))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        intScore.cast("double").as("cosine"))
    val cand = topKPerKey(phase1, "query_id", shortlist)
      .select("query_id", "neighbor_id")
    // phase 2: exact re-rank of the shortlist on the original vectors
    val scored = cand
      .join(corpus.select(col(corpusIdCol).as("neighbor_id"), col(corpusVecCol).as("__cv"))
        .withColumn("__cn", VectorFunctions.norm(col("__cv"))), Seq("neighbor_id"))
      .join(broadcast(queries
        .select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qv"))
        .withColumn("__qn", VectorFunctions.norm(col("__qv")))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), pairCosine.as("cosine"))
    topKPerKey(scored, "query_id", k)
  }

  // ------------------------------------------- product-quantized search

  /** Product-quantization ADC top-k: the compression tier BELOW int8
    * scalar quantization. The vector is cut into `m` subspaces; each
    * subspace is coded as the index of its nearest codeword in an
    * `nCodes`-entry codebook, so a corpus row carries `m` small ints
    * (m bytes at nCodes ≤ 256) instead of `dim` floats — 64× smaller
    * than float32 at dim=64/m=4, vs SQ's 4×. Phase 1 scans ONLY the
    * code table with ADC (asymmetric distance computation): each
    * subspace contributes `dot(query_subvector, codeword)`, quantized
    * to integer micro-units BEFORE summing (the tfidf fixed-point
    * trick) so the cross-subspace sum is order-free exact integer
    * arithmetic; phase 2 re-ranks the shortlist at full precision.
    *
    * Codebooks are a deterministic Knuth-sample of `nCodes` corpus
    * vectors sliced per subspace (same reproducible-lottery policy as
    * the IVF coarse quantizer — a k-means refinement would sharpen
    * cells but costs iterations and RNG; `portable = true` makes the
    * whole pipeline — seed pick, encode argmin, ADC, re-rank — exact
    * ANSI-SQL arithmetic, the variant the DuckDB oracle replays).
    *
    * Scale shape (100 TB): the code table is the only per-corpus-row
    * state phase 1 touches — m bytes/row streamed against broadcast
    * queries, shortlist on the k-bounded queue, corpus never shuffled.
    * Compose with the IVF list assignment (filter codes to probed
    * lists first) exactly as [[ivfQuantizedTopK]] does for SQ.
    */
  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      corpusIdCol: String,
      corpusVecCol: String,
      k: Int,
      m: Int = 4,
      nCodes: Int = 16,
      shortlist: Int = 32,
      portable: Boolean = false
  ): DataFrame = {
    require(k > 0 && shortlist >= k, "need shortlist >= k > 0")
    require(m > 0 && nCodes > 0, "need m > 0 and nCodes > 0")
    // width floor before subspace coding + ADC (the quantizedTopK
    // phase-1 rule): the codes cache inherits the scan's width, so a
    // small-file corpus would otherwise code AND score in one task
    val c = graft.plans.ScaleJoins.widenNarrowInput(corpus)
      .select(col(corpusIdCol).as("neighbor_id"),
        col(corpusVecCol).cast("array<double>").as("__cv"))
    val seeds = pqSeeds(c, nCodes, portable)
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val codes = org.apache.spark.sql.graftbridge.CacheBridge.persistOnce(
      c.select(col("neighbor_id"),
        array((0 until m).map(j => pqCode(col("__cv"), seeds, j, sub)): _*)
          .as("__pq")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = queries.select(col(queryIdCol).as("query_id"),
      col(queryVecCol).cast("array<double>").as("__qv"))
    val phase1 = codes
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        // fixed-point ADC rides the k-bounded queue as a double —
        // micro-unit sums stay far inside double's exact-integer range
        pqAdcScoreFx(col("__qv"), col("__pq"), seeds, m, sub)
          .cast("double").as("cosine"))
    val cand = topKPerKey(phase1, "query_id", shortlist)
      .select("query_id", "neighbor_id")
    val scored = cand
      .join(corpus.select(col(corpusIdCol).as("neighbor_id"), col(corpusVecCol).as("__cv"))
        .withColumn("__cn", VectorFunctions.norm(col("__cv"))), Seq("neighbor_id"))
      .join(broadcast(queries
        .select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qv"))
        .withColumn("__qn", VectorFunctions.norm(col("__qv")))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), pairCosine.as("cosine"))
    topKPerKey(scored, "query_id", k)
  }

  /** IVF × PQ: the full production composition for a 100 TB corpus —
    * coarse lists prune WHICH rows phase 1 touches (nProbe/nCentroids
    * of the corpus), PQ codes shrink WHAT it reads per row (m small
    * ints), and the shortlist re-ranks at full precision. Per query
    * batch the scan cost is O(n · nProbe/nCentroids) rows × m bytes —
    * both dials independent. `portable = true` keeps every stage
    * ANSI-SQL exact: the DuckDB oracle replays centroid pick,
    * assignment, probe choice, codebook, encode argmin, fixed-point
    * ADC, and re-rank bit-for-bit (`q_sim_ivf_pq_topk`).
    */
  def ivfPqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      corpusIdCol: String,
      corpusVecCol: String,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      m: Int = 4,
      nCodes: Int = 16,
      shortlist: Int = 32,
      portable: Boolean = false
  ): DataFrame = {
    require(k > 0 && shortlist >= k, "need shortlist >= k > 0")
    require(nCentroids > 0 && nProbe > 0, "need nCentroids > 0 and nProbe > 0")
    require(m > 0 && nCodes > 0, "need m > 0 and nCodes > 0")
    val (assigned, centArr) =
      ivfAssignWithCentroids(corpus, corpusIdCol, corpusVecCol, nCentroids, portable)
    val cd = corpus.select(col(corpusIdCol).as("neighbor_id"),
      col(corpusVecCol).cast("array<double>").as("__cv"))
    val seeds = pqSeeds(cd, nCodes, portable, offset = nCentroids)
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    // the (id, list, codes) frame IS the IVF-PQ index — built once,
    // reused by every query batch (persistOnce: same reuse policy as
    // the SQ code table); [[writeIvfPqIndex]] is its materialized form
    val codes = org.apache.spark.sql.graftbridge.CacheBridge.persistOnce(
      assigned.select(col("neighbor_id"), col("__list"),
        array((0 until m).map(j =>
          pqCode(col("__cv").cast("array<double>"), seeds, j, sub)): _*)
          .as("__pq")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vectors = corpus
      .select(col(corpusIdCol).as("neighbor_id"), col(corpusVecCol).as("__cv"))
      .withColumn("__cn", VectorFunctions.norm(col("__cv")))
    ivfPqSearch(codes, vectors, centArr, seeds, m, sub,
      queries, queryIdCol, queryVecCol, k, nProbe, shortlist,
      pruneLists = false)
  }

  /** The ONE IVF-PQ search kernel both [[ivfPqTopK]] and
    * [[ivfPqTopKFromIndex]] run — same round-trip equality contract
    * as [[ivfSqSearch]]: probe choice, ADC, and re-rank tie-breaks
    * exist exactly once, so from-index results equal in-memory
    * results built with the same knobs.
    */
  private def ivfPqSearch(
      codes: DataFrame,
      vectors: DataFrame,
      centArr: Column,
      seeds: Seq[Seq[Double]],
      m: Int,
      sub: Int,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      nProbe: Int,
      shortlist: Int,
      pruneLists: Boolean
  ): DataFrame = {
    val qd = queries.select(col(queryIdCol).as("query_id"),
      col(queryVecCol).cast("array<double>").as("__qv"))
      .withColumn("__qn", VectorFunctions.norm(col("__qv")))
    val probes = probeListsFor(qd, centArr, nProbe)
      .select(col("query_id"), col("__qv"), col("__list"))
    val codesIn =
      if (!pruneLists) codes
      else {
        // ≤ queries × nProbe list ids, driver-side: a LITERAL IN
        // predicate before the join prunes a bucketed index scan to
        // the probed buckets (same policy as ivfSqSearch)
        val ids = probes.select("__list").distinct().collect().map(_.getLong(0))
        codes.filter(col("__list").isin(ids.toIndexedSeq: _*))
      }
    val phase1 = codesIn
      .join(broadcast(probes), Seq("__list"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        pqAdcScoreFx(col("__qv"), col("__pq"), seeds, m, sub)
          .cast("double").as("cosine"))
    val cand = topKPerKey(phase1, "query_id", shortlist)
      .select("query_id", "neighbor_id")
    val scored = cand
      .join(vectors, Seq("neighbor_id"))
      .join(broadcast(queries
        .select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qv"))
        .withColumn("__qn", VectorFunctions.norm(col("__qv")))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), pairCosine.as("cosine"))
    topKPerKey(scored, "query_id", k)
  }

  /** Materialize the IVF-PQ index: the (id, list, m-int codes, vector,
    * norm) table bucketed by `__list` plus TWO tiny side tables — the
    * coarse quantizer (`<table>_centroids`, same layout as the IVF-SQ
    * index so the staleness/pinning tooling reads both) and the PQ
    * codebook seeds (`<table>_pqseeds`, position-ordered — the seed's
    * position IS its code, so queries must decode against the exact
    * build-time codebook). Build once per epoch; query batches read
    * only their probed buckets via [[ivfPqTopKFromIndex]].
    */
  def writeIvfPqIndex(
      corpus: DataFrame,
      corpusIdCol: String,
      corpusVecCol: String,
      tableName: String,
      nCentroids: Int = 16,
      m: Int = 4,
      nCodes: Int = 16,
      buckets: Int = 16,
      portable: Boolean = false
  ): Unit = {
    require(nCentroids > 0 && m > 0 && nCodes > 0 && buckets > 0)
    val (assigned, centArr) =
      ivfAssignWithCentroids(corpus, corpusIdCol, corpusVecCol, nCentroids, portable)
    val cd = corpus.select(col(corpusIdCol).as("neighbor_id"),
      col(corpusVecCol).cast("array<double>").as("__cv"))
    val seeds = pqSeeds(cd, nCodes, portable, offset = nCentroids)
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val index = assigned.select(
      col("neighbor_id"), col("__list"),
      array((0 until m).map(j =>
        pqCode(col("__cv").cast("array<double>"), seeds, j, sub)): _*)
        .as("__pq"),
      col("__cv"), col("__cn"))
    graft.plans.ScaleJoins.writeBucketed(index, tableName, "__list", buckets)
    val spark = corpus.sparkSession
    graft.plans.Tombstones.reset(spark, tableName)
    spark.range(1)
      .select(posexplode(centArr).as(Seq("cpos", "__c")))
      .select(col("cpos").cast("long").as("cpos"), col("__c._1").as("cid"),
        col("__c._2").as("cvec"), col("__c._3").as("cnorm"),
        lit(spark.table(tableName).count()).as("built_rows"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(tableName + "_centroids")
    spark.range(1)
      .select(posexplode(typedlit(seeds)).as(Seq("spos", "svec")))
      .select(col("spos").cast("long").as("spos"), col("svec"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(tableName + "_pqseeds")
  }

  /** Incremental IVF-PQ index maintenance: assign a NEW batch to the
    * stored quantizer and encode it against the stored position-pinned
    * codebook — neither moves, so list membership and code semantics
    * stay stable across epochs and the append costs
    * O(|batch|·(nCentroids + m·nCodes)) work, never a corpus rebuild.
    * Same bucket-spec-from-catalog guard as [[appendToIvfSqIndex]];
    * [[ivfIndexStats]] reads this index unchanged (same table layout),
    * so appended-fraction staleness telemetry is shared.
    */
  def appendToIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String
  ): Unit = {
    val centArr = typedlit(loadCentroids(spark, tableName))
    val seeds: Seq[Seq[Double]] = spark.table(tableName + "_pqseeds")
      .orderBy("spos").select("svec")
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    require(seeds.nonEmpty, s"empty PQ seed table for $tableName")
    val m = spark.table(tableName)
      .select(size(col("__pq"))).limit(1).collect() match {
      case Array(r) => r.getInt(0)
      case _ => throw new IllegalStateException(s"empty IVF-PQ index $tableName")
    }
    val dim = seeds.head.length
    require(dim % m == 0, s"stored dim $dim not divisible by stored m $m")
    val sub = dim / m
    val b = batch.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__cn", VectorFunctions.norm(col("__cv")))
      .withColumn("__list", bestListId(centArr, col("__cv"), col("__cn")))
    graft.plans.Compaction.appendBucketed(spark, tableName, b.select(
      col("neighbor_id"), col("__list"),
      array((0 until m).map(j =>
        pqCode(col("__cv").cast("array<double>"), seeds, j, sub)): _*)
        .as("__pq"),
      col("__cv"), col("__cn")))
  }

  /** Query a materialized IVF-PQ index ([[writeIvfPqIndex]]): the
    * shared [[ivfPqSearch]] kernel with codes, vectors, quantizer,
    * and codebook all read from the persisted tables; probed list ids
    * become a LITERAL filter on the bucketed codes scan, so a query
    * batch reads only its buckets. Results equal the in-memory
    * [[ivfPqTopK]] with the same knobs (m is recovered from the
    * stored codes' width; the codebook is position-pinned).
    */
  def ivfPqTopKFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      nProbe: Int = 4,
      shortlist: Int = 32
  ): DataFrame = {
    require(k > 0 && nProbe > 0 && shortlist >= k)
    val seeds: Seq[Seq[Double]] = spark.table(tableName + "_pqseeds")
      .orderBy("spos").select("svec")
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    require(seeds.nonEmpty, s"empty PQ seed table for $tableName")
    val m = spark.table(tableName)
      .select(size(col("__pq"))).limit(1).collect() match {
      case Array(r) => r.getInt(0)
      case _ => throw new IllegalStateException(s"empty IVF-PQ index $tableName")
    }
    val dim = seeds.head.length
    require(dim % m == 0, s"stored dim $dim not divisible by stored m $m")
    ivfPqSearch(
      ivfLiveRows(spark, tableName).select("neighbor_id", "__list", "__pq"),
      spark.table(tableName).select(col("neighbor_id"), col("__cv"), col("__cn")),
      typedlit(loadCentroids(spark, tableName)),
      seeds, m, dim / m,
      queries, queryIdCol, queryVecCol, k, nProbe, shortlist,
      pruneLists = true)
  }

  /** Deterministic codebook seeds: the `nCodes` lowest id-hashes, in
    * hash order — the seed's RANK is its code, so the DuckDB twin's
    * `row_number() OVER (ORDER BY knuth(id), id)` reproduces the
    * codebook index-for-index. Collected to the driver (tiny by
    * construction, like the IVF quantizer) and embedded as literals.
    */
  private def pqSeeds(
      c: DataFrame, nCodes: Int, portable: Boolean,
      offset: Int = 0): Seq[Seq[Double]] = {
    val hash =
      if (portable) Corpus.portableHash(col("neighbor_id"))
      else xxhash64(col("neighbor_id"))
    // `offset` skips the first Knuth ranks — [[ivfPqTopK]] passes its
    // nCentroids so the codebook is NOT the coarse quantizer re-used
    // (a vector's subspace codes would then mostly echo its list id)
    val seeds = c.orderBy(hash, col("neighbor_id"))
      .limit(offset + nCodes)
      .select(col("__cv"))
      .collect().drop(offset).map(_.getSeq[Double](0).toSeq).toSeq
    require(seeds.nonEmpty, "empty corpus — no PQ seeds")
    seeds
  }

  /** Subspace code for one vector: argmin squared-L2 over the
    * codebook, ties to the lower code (array_position takes the FIRST
    * minimum — the twin's `ORDER BY d, cpos` rule). The per-codeword
    * distance is a pinned-order fold, so both engines compute
    * bit-identical doubles and therefore the identical argmin.
    */
  private def pqCode(
      v: Column, seeds: Seq[Seq[Double]], j: Int, sub: Int): Column = {
    val subv = slice(v, j * sub + 1, sub)
    val dists = seeds.map { s =>
      val cw = typedlit(s.slice(j * sub, j * sub + sub))
      // native kernel — bit-identical to the pinned-order fold (the
      // oracle replays that exact op sequence), but one fused loop
      // instead of nCodes interpreted zip_with passes per row
      graft.functions.VecL2SqExpression.vecL2Sq(subv, cw)
    }
    val darr = array(dists: _*)
    (array_position(darr, array_min(darr)) - 1).cast("int")
  }

  /** Fixed-point ADC score: per subspace, `dot(query_sub, codeword)`
    * as a pinned-order double fold, quantized to integer micro-units,
    * THEN summed — the cross-subspace sum is exact integer arithmetic,
    * immune to float-addition order (the same quantize-first rule as
    * the tfidf oracle).
    */
  private def pqAdcScoreFx(
      qv: Column, codes: Column, seeds: Seq[Seq[Double]],
      m: Int, sub: Int): Column =
    (0 until m).map { j =>
      val subq = slice(qv, j * sub + 1, sub)
      val cbj = typedlit(seeds.map(_.slice(j * sub, j * sub + sub)))
      val cw = element_at(cbj, element_at(codes, j + 1) + 1)
      // native dot — acc += a(i)·b(i) in index order, bit-identical to
      // the pinned-order fold the twin replays
      val part = graft.functions.VectorFunctions.dot(subq, cw)
      floor(part * 1000000 + 0.5).cast("long")
    }.reduce(_ + _)

  // --------------------------------------- MMR diversified retrieval

  /** Maximal-marginal-relevance top-k (Carbonell–Goldstein): greedy
    * selection maximizing `λ·cos(q, c) − (1−λ)·max_{s∈S} cos(c, s)` —
    * the diversity-aware retrieval a RAG/few-shot example picker needs
    * when plain top-k returns k paraphrases of the same document.
    *
    * Execution shape: the relevance frame (query × candidate cosine)
    * is computed ONCE and persisted; each of the k greedy rounds is
    * then one bounded pass over it — a broadcast join against the
    * ≤ (round−1)·|queries| already-selected rows for the diversity
    * penalty, a per-query argmax window, and a collect of exactly
    * |queries| picked rows (bounded by construction, the
    * [[kmeansRefine]] driver-iteration shape). Queries broadcast
    * throughout; the corpus is never shuffled by vector.
    *
    * Arithmetic is the engine-portable micro-unit recipe: vectors
    * quantize to integer-valued doubles, every dot is the pinned-order
    * native fold, and the score `λppm·rel − (10⁶−λppm)·maxSim` is a
    * fixed chain of IEEE ops — so an ANSI twin replays the greedy
    * choices and the emitted `score_ppm` bit-for-bit (`q_sim_mmr_topk`).
    *
    * @param lambdaPpm relevance weight λ in parts-per-million
    * @return (query_id, rank, neighbor_id, score_ppm) — `rank` is the
    *         greedy pick order, `score_ppm` the marginal score at pick
    *         time, floored to integer micro-units
    */
  def mmrTopK(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      corpusIdCol: String,
      corpusVecCol: String,
      k: Int,
      lambdaPpm: Long = 700000L
  ): DataFrame = {
    require(k >= 1 && k <= 64, s"k in [1, 64], got $k")
    require(lambdaPpm >= 0L && lambdaPpm <= 1000000L,
      s"lambdaPpm in [0, 1e6], got $lambdaPpm")
    val q = queries.select(col(queryIdCol).as("query_id"),
        microQuant(col(queryVecCol)).as("__qv"))
      .withColumn("__qn2", VectorFunctions.dot(col("__qv"), col("__qv")))
    // width floor: the relevance cosines (|queries| per corpus row)
    // fuse onto the scan feeding the greedy engine's one materialization
    val c = graft.plans.ScaleJoins.widenNarrowInput(corpus)
      .select(col(corpusIdCol).as("cand_id"),
        microQuant(col(corpusVecCol)).as("__cv"))
      .withColumn("__cn2", VectorFunctions.dot(col("__cv"), col("__cv")))
    mmrGreedy(c.crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("query_id")), k, lambdaPpm)
  }

  /** [[mmrTopK]] served from the materialized IVF-SQ index — the
    * 100 TB arm: the in-memory path's relevance frame costs k greedy
    * passes over query × CORPUS, while here phase 1 shortlists
    * `shortlist` candidates per query through the bucket-pruned index
    * (probed lists only, exact re-rank on the stored vectors) and the
    * greedy runs over query × shortlist — corpus-sized work happens
    * once, in the index build. Same arithmetic as the in-memory arm
    * end-to-end (micro-unit vectors, pinned folds), so with
    * full-recall knobs (`nProbe` = lists, `shortlist` ≥ corpus) the
    * output EQUALS [[mmrTopK]]'s row-for-row — the gate's contract;
    * production knobs trade that equality for bucket pruning exactly
    * like every other `FromIndex` searcher.
    */
  def mmrTopKFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      shortlist: Int = 64,
      nProbe: Int = 2,
      lambdaPpm: Long = 700000L
  ): DataFrame = {
    require(k >= 1 && k <= 64, s"k in [1, 64], got $k")
    require(lambdaPpm >= 0L && lambdaPpm <= 1000000L,
      s"lambdaPpm in [0, 1e6], got $lambdaPpm")
    require(shortlist >= k, s"shortlist $shortlist must cover k = $k")
    val short = ivfQuantizedTopKFromIndex(spark, tableName, queries,
      queryIdCol, queryVecCol, k = shortlist, nProbe = nProbe,
      shortlist = shortlist)
      .select(col("query_id"), col("neighbor_id").as("cand_id"))
    val q = queries.select(col(queryIdCol).as("query_id"),
        microQuant(col(queryVecCol)).as("__qv"))
      .withColumn("__qn2", VectorFunctions.dot(col("__qv"), col("__qv")))
    // stored full-precision vectors re-quantize to the SAME micro-unit
    // arrays the in-memory arm builds from the raw corpus; live rows
    // only, so a tombstoned vector can't re-enter through the fetch
    // even though the shortlist already excluded it
    val vecs = ivfLiveRows(spark, tableName)
      .select(col("neighbor_id").as("cand_id"), microQuant(col("__cv")).as("__cv"))
      .withColumn("__cn2", VectorFunctions.dot(col("__cv"), col("__cv")))
    // the shortlist (≤ queries × shortlist rows) broadcasts into the
    // index scan — fetching candidate vectors never shuffles the index
    val cand = vecs.join(broadcast(short), Seq("cand_id"))
      .join(broadcast(q), Seq("query_id"))
      .filter(col("cand_id") =!= col("query_id"))
    mmrGreedy(cand, k, lambdaPpm)
  }

  /** Greedy k-center (farthest-point) coreset sample — diversity-first
    * data selection: pick k vectors so every corpus vector is close to
    * some pick (the 2-approximation of the k-center objective, the
    * coreset construction active-learning and data-pruning pipelines
    * use). This is exactly the MMR engine's λ=0 arm: with the
    * relevance term zeroed, each round's argmax of `−maxSim` IS the
    * farthest point from the selected set, so the verb reuses
    * [[mmrTopK]]'s greedy loop verbatim — same bounded per-round
    * collect, same engine-exact micro-unit arithmetic, same
    * (score DESC, id) tie rule. Round 1 scores all tie at 0.0, so the
    * seed is the LOWEST id — deterministic where textbook k-center
    * says "arbitrary".
    *
    * @return (rank, id, max_cos_ppm) — `max_cos_ppm` is the pick's
    *         max cosine to the previously selected set in micro-units
    *         (0 for the seed): the redundancy of the pick, and a
    *         monotone coverage telemetry as k grows
    */
  def kCenterSample(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    require(k >= 1 && k <= 64, s"k in [1, 64], got $k")
    // a coreset has no query: a constant greedy key and rel ≡ 0.0 —
    // λ=0 would multiply any relevance away, so don't compute one
    // (width floor: quantization + self-dot fuse onto the scan)
    val c = graft.plans.ScaleJoins.widenNarrowInput(corpus)
      .select(col(idCol).as("cand_id"),
        microQuant(col(vecCol)).as("__cv"))
      .withColumn("__cn2", VectorFunctions.dot(col("__cv"), col("__cv")))
      .withColumn("query_id", lit(0L))
      .withColumn("__rel", lit(0.0))
    mmrGreedyScored(c, k, lambdaPpm = 0L)
      .select(col("rank"), col("neighbor_id").as(idCol),
        (-col("score_ppm")).as("max_cos_ppm"))
  }

  /** Cross-dataset semantic join: all (left, right) pairs whose
    * embedding cosine clears `threshold` — the "align two corpora by
    * meaning" verb (translated-pair mining, QA-to-passage alignment,
    * cross-source entity matching) that [[graft.operators.Linkage]]'s
    * edit-distance join is for strings. Both sides bucket through the
    * SHARED hyperplane band split
    * ([[graft.functions.VectorFunctions.lshBands]]) and only colliding
    * vectors meet, then every candidate is verified with the exact
    * cosine — false positives impossible, recall the banding trade
    * (near-identical vectors share every band). Neither side
    * broadcasts its vectors: the join shuffles on (band, bucket) keys,
    * so BOTH sides can be corpus-sized.
    *
    * Ids are the pair identity and must be UNIQUE per side: the
    * multi-band dedupe keys on (left_id, right_id), so two rows
    * sharing an id but carrying different vectors would collapse to
    * an arbitrary one (the same contract as the index families'
    * carried-column join — dedupe upstream first).
    *
    * @return (left_id, right_id) pairs at cosine ≥ threshold, one row
    *         per pair however many bands collide
    */
  def cosineJoin(
      left: DataFrame,
      leftIdCol: String,
      leftVecCol: String,
      right: DataFrame,
      rightIdCol: String,
      rightVecCol: String,
      threshold: Double,
      nBits: Int = 6,
      nBands: Int = 6
  ): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1], got $threshold")
    def side(df: DataFrame, idCol: String, vecCol: String, out: String) =
      df.select(col(idCol).as(out), col(vecCol).cast("array<double>").as(s"__v_$out"))
        .withColumn(s"__n_$out", VectorFunctions.norm(col(s"__v_$out")))
        .withColumn("__b", explode(VectorFunctions.lshBands(col(s"__v_$out"), nBits, nBands)))
        .select(col(out), col(s"__v_$out"), col(s"__n_$out"),
          col("__b.__band").as("__band"), col("__b.__sig").as("__sig"))
    val l = side(left, leftIdCol, leftVecCol, "left_id")
    val r = side(right, rightIdCol, rightVecCol, "right_id")
    val cos = when(col("__n_left_id") * col("__n_right_id") === 0.0, lit(0.0))
      .otherwise(VectorFunctions.dot(col("__v_left_id"), col("__v_right_id")) /
        (col("__n_left_id") * col("__n_right_id")))
    l.join(r, Seq("__band", "__sig"))
      // a pair colliding in several bands must emit once
      .dropDuplicates("left_id", "right_id")
      .filter(cos >= threshold)
      .select(col("left_id"), col("right_id"))
  }

  /** Neighborhood-density score: every vector's cosine to its k-th
    * nearest neighbor — the data-pruning signal density-based curation
    * uses (a HIGH k-th-neighbor cosine marks a dense/redundant region:
    * dedup harder or downsample; a LOW one marks an isolated point:
    * an outlier to inspect or an example worth keeping). Emitted in
    * exact micro-units through the pinned-order folds, so the whole
    * frame — neighbor identity AND score — replays in the twin
    * (`q_sim_knn_density`).
    *
    * This is the EXACT all-pairs baseline (the documented-O(n²) tier
    * of [[bruteForceTopK]]'s family — the oracle-able arm); at corpus
    * scale, shortlist per-vector neighbors through the IVF-SQ index
    * ([[ivfQuantizedTopKFromIndex]] with the corpus as its own query
    * batch) and keep rank k. The per-key reduction is the k-bounded
    * [[topKPerKey]] queue either way — no per-vector score list ever
    * materializes.
    *
    * @return (id, kth_neighbor, kth_cos_ppm) for every vector with at
    *         least k other vectors (smaller corpora emit no row —
    *         there is no k-th neighbor to score)
    */
  def kthNeighborScore(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    require(k >= 1 && k <= 256, s"k in [1, 256], got $k")
    val a = df.select(col(idCol).as("query_id"), microQuant(col(vecCol)).as("__qv"))
      .withColumn("__qn2", VectorFunctions.dot(col("__qv"), col("__qv")))
    // width floor on the SCANNED side of the all-pairs cross join (the
    // `a` side broadcasts): n exact cosines per corpus row
    val b = graft.plans.ScaleJoins.widenNarrowInput(df)
      .select(col(idCol).as("neighbor_id"), microQuant(col(vecCol)).as("__cv"))
      .withColumn("__cn2", VectorFunctions.dot(col("__cv"), col("__cv")))
    val cosExact = when(col("__qn2") * col("__cn2") === 0.0, lit(0.0))
      .otherwise(VectorFunctions.dot(col("__qv"), col("__cv")) /
        (sqrt(col("__qn2")) * sqrt(col("__cn2"))))
    val scored = b.crossJoin(a)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), cosExact.as("cosine"))
    topKPerKey(scored, "query_id", k)
      .filter(col("rank") === k)
      .select(col("query_id").as(idCol),
        col("neighbor_id").as("kth_neighbor"),
        floor(col("cosine") * 1000000 + 0.5).cast("long").as("kth_cos_ppm"))
  }

  /** Quality-and-diversity exemplar selection per group: pick k rows
    * per `groupCol` maximizing `λ·quality − (1−λ)·maxCosToSelected` —
    * the few-shot-pool / eval-set / review-sample builder ("the k best
    * documents per domain that aren't near-copies of each other").
    * This is the MMR engine with the group as the query key and a
    * caller-supplied quality column as the relevance, so all groups
    * select in lockstep rounds — k bounded passes however many groups
    * exist. `quality` should live on the cosine's [-1, 1] scale (a
    * [0, 1] score is ideal) or λ stops meaning what it says. A NULL
    * group selects like any other (the greedy joins are null-safe,
    * matching groupBy's null semantics).
    *
    * @return (group, rank, id, score_ppm) — pick order and the
    *         marginal score at pick time in micro-units
    */
  def diverseSamplePerGroup(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      vecCol: String,
      qualityCol: String,
      k: Int,
      lambdaPpm: Long = 700000L
  ): DataFrame = {
    require(k >= 1 && k <= 64, s"k in [1, 64], got $k")
    require(lambdaPpm >= 0L && lambdaPpm <= 1000000L,
      s"lambdaPpm in [0, 1e6], got $lambdaPpm")
    // width floor: quantization + self-dot fuse onto the scan feeding
    // the greedy engine's one materialization
    val c = graft.plans.ScaleJoins.widenNarrowInput(df)
      .select(col(groupCol).as("query_id"), col(idCol).as("cand_id"),
        microQuant(col(vecCol)).as("__cv"),
        col(qualityCol).cast("double").as("__rel"))
      .withColumn("__cn2", VectorFunctions.dot(col("__cv"), col("__cv")))
    mmrGreedyScored(c, k, lambdaPpm)
      .select(col("query_id").as(groupCol), col("rank"),
        col("neighbor_id").as(idCol), col("score_ppm"))
  }

  /** The shared greedy engine behind both MMR arms. `cand` must carry
    * (query_id, cand_id, __cv micro-unit, __cn2, __qv, __qn2); rounds,
    * scoring, tie rules and the bounded per-round collect are
    * documented at [[mmrTopK]].
    */
  private def mmrGreedy(
      candIn: DataFrame, k: Int, lambdaPpm: Long): DataFrame = {
    val rel = when(col("__qn2") * col("__cn2") === 0.0, lit(0.0))
      .otherwise(VectorFunctions.dot(col("__qv"), col("__cv")) /
        (sqrt(col("__qn2")) * sqrt(col("__cn2"))))
    mmrGreedyScored(candIn.select(col("query_id"), col("cand_id"),
      col("__cv"), col("__cn2"), rel.as("__rel")), k, lambdaPpm)
  }

  /** The greedy engine on a PRE-SCORED candidate frame — `__rel` comes
    * from the caller (query cosine for the MMR arms, a quality column
    * for [[diverseSamplePerGroup]], zero for [[kCenterSample]]'s λ=0).
    */
  private def mmrGreedyScored(
      candIn: DataFrame, k: Int, lambdaPpm: Long): DataFrame = {
    val spark = candIn.sparkSession
    val cand = org.apache.spark.sql.graftbridge.CacheBridge.persistOnce(
      candIn.select(col("query_id"), col("cand_id"), col("__cv"), col("__cn2"),
        col("__rel")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val selSchema = org.apache.spark.sql.types.StructType(
      cand.schema.filter(f => Set("query_id", "cand_id", "__cv", "__cn2").contains(f.name)))
    val mu = 1000000L - lambdaPpm
    val score = lit(lambdaPpm).cast("double") * col("__rel") -
      lit(mu).cast("double") * col("__maxsim")
    val picks = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    // Hybrid local/distributed greedy (the duplicateClusters rule
    // applied to the MMR rounds): one bounded count sizes the cached
    // candidate frame, and below
    // `spark.graft.mmr.localMaxCandidates` (default 65 536 rows — the
    // broadcast size class; the per-round selections already broadcast)
    // the k rounds run on the driver over the collected rows. Every
    // arithmetic step is the IDENTICAL pinned-order IEEE chain the
    // distributed rounds execute (the sequential vec_dot fold, the same
    // division/sqrt order, incremental max — exact for max), so picks
    // and score_ppm are bit-identical (SimilaritySpec pins local ==
    // loop). k anti-join+broadcast-join+argmax+collect rounds collapse
    // into one collect; above the bound — the corpus-sized in-memory
    // arm — the distributed loop below is untouched. Corner inputs the
    // driver replica does not reproduce (null keys/scores, float
    // vectors, non-Comparable ids) fall back to the loop.
    val localMax = spark.conf
      .get("spark.graft.mmr.localMaxCandidates", "65536").toLong
    val doubleVecs = cand.schema("__cv").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, _) => true
      case _ => false
    }
    var ranLocal = false
    if (doubleVecs && cand.count() <= localMax) {
      val rows = cand.collect()
      val clean = rows.forall(r =>
        !r.isNullAt(1) && !r.isNullAt(2) && !r.isNullAt(3) && !r.isNullAt(4) &&
          r.get(1).isInstanceOf[Comparable[_]] &&
          r.getSeq[Any](2).forall(_ != null))
      if (clean) {
        cand.unpersist()
        ranLocal = true
        localMmrRounds(rows, k, lambdaPpm, mu, picks)
      }
    }
    if (!ranLocal) try {
      var round = 1
      var done = false
      while (round <= k && !done) {
        // lineage break per round: selections live as a literal frame of
        // ≤ (round−1)·|queries| collected rows, never a growing plan
        val selRows = picks.map(r => org.apache.spark.sql.Row(
          r.get(0), r.get(1), r.get(2), r.get(3)))
        val selDf = spark.createDataFrame(
          new java.util.ArrayList(scala.jdk.CollectionConverters
            .BufferHasAsJava(selRows).asJava), selSchema)
        // joins on the greedy key are NULL-SAFE (<=>): a null group in
        // diverseSamplePerGroup selects like any other group instead of
        // silently losing every round after its first pick
        val selKeys = selDf.select(col("query_id").as("__sq"), col("cand_id").as("__sc"))
        val remaining = cand.join(broadcast(selKeys),
          col("query_id") <=> col("__sq") && col("cand_id") <=> col("__sc"),
          "left_anti")
        val scored =
          if (picks.isEmpty) remaining.withColumn("__maxsim", lit(0.0))
          else {
            val s = selDf.select(col("query_id").as("__sq"),
              col("__cv").as("__sv"), col("__cn2").as("__sn2"))
            val simCS = when(col("__cn2") * col("__sn2") === 0.0, lit(0.0))
              .otherwise(VectorFunctions.dot(col("__cv"), col("__sv")) /
                (sqrt(col("__cn2")) * sqrt(col("__sn2"))))
            remaining.join(broadcast(s), col("query_id") <=> col("__sq"))
              .withColumn("__sim", simCS)
              .groupBy(col("query_id"), col("cand_id"))
              // per-group constants ride along; only __sim varies
              .agg(first(col("__cv")).as("__cv"), first(col("__cn2")).as("__cn2"),
                first(col("__rel")).as("__rel"), max(col("__sim")).as("__maxsim"))
          }
        // per-query argmax on the 1-bounded top-k queue — partial
        // aggregation collapses each partition before the one shuffle,
        // so even kCenterSample's SINGLE constant key never funnels the
        // corpus through a one-partition window (the WindowExec global-
        // sort anti-pattern). Struct order (negScore, cand_id) = the
        // (score DESC, cand_id ASC) tie rule; cand_id is unique, so the
        // trailing payload fields never decide.
        // bounded collect BY CONSTRUCTION: one winner row per query
        val item = struct((col("__score") * -1).as("neg"), col("cand_id"),
          col("__cv"), col("__cn2"))
        val won = scored.withColumn("__score", score)
          .groupBy(col("query_id"))
          .agg(element_at(array_sort(org.apache.spark.sql.graftbridge.ColumnBridge
            .collectTopK(item, 1, reverse = true)), 1).as("__w"))
          .select(col("query_id"), col("__w.cand_id").as("cand_id"),
            col("__w.__cv").as("__cv"), col("__w.__cn2").as("__cn2"),
            (col("__w.neg") * -1).as("__score"))
          .collect()
        if (won.isEmpty) done = true
        else picks ++= won.map(r => org.apache.spark.sql.Row(
          r.get(0), r.get(1), r.get(2), r.get(3), round, r.getDouble(4)))
        round += 1
      }
    } finally {
      cand.unpersist()
      ()
    }
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      selSchema("query_id"),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      selSchema("cand_id").copy(name = "neighbor_id"),
      org.apache.spark.sql.types.StructField("score_ppm",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val outRows = picks.map(r => org.apache.spark.sql.Row(
      r.get(0), r.getInt(4), r.get(1), math.floor(r.getDouble(5) + 0.5).toLong))
    spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .BufferHasAsJava(outRows).asJava), outSchema)
  }

  /** Driver-side replay of the greedy rounds for
    * [[mmrGreedyScored]]'s small-candidate path, appending the same
    * pick rows the distributed loop collects. Bit-identical by
    * construction: the diversity cosine is the sequential left-to-right
    * `acc += cv(i)·sv(i)` fold of [[graft.functions.VecDotExpression]]
    * with the same `dot / (√cn2 · √sn2)` operation order and the same
    * zero-norm guard; the score is the same `λ·rel − µ·maxsim` double
    * chain; the running `maxsim` uses incremental max, which is exact
    * and equals the loop's per-round max over all selections; the
    * argmax tie rule is (score DESC, cand_id ASC), the struct-sort
    * order. A pick retires EVERY row of its (query, cand) key — the
    * anti-join semantics.
    */
  private def localMmrRounds(
      rows: Array[org.apache.spark.sql.Row],
      k: Int,
      lambdaPpm: Long,
      mu: Long,
      picks: scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]): Unit = {
    final class LC(val q: Any, val id: Any, val cvRaw: Seq[Double],
        val cn2: Double, val rel: Double) {
      val cv: Array[Double] = cvRaw.toArray
      // round-1 semantics: a flat 0.0 before any selection exists; from
      // the first real sim on, maxsim is the UNFLOORED max over
      // selections (it can be negative — k-center's farthest picks live
      // there), exactly the loop's per-round max-over-selected
      var maxsim = 0.0
      var hasSim = false
      var alive = true
    }
    val byQ = scala.collection.mutable.LinkedHashMap
      .empty[Any, scala.collection.mutable.ArrayBuffer[LC]]
    rows.foreach { r =>
      val c = new LC(r.get(0), r.get(1), r.getSeq[Double](2),
        r.getDouble(3), r.getDouble(4))
      byQ.getOrElseUpdate(c.q, scala.collection.mutable.ArrayBuffer.empty) += c
    }
    def cmpId(x: Any, y: Any): Int = x.asInstanceOf[Comparable[Any]].compareTo(y)
    var round = 1
    var done = false
    while (round <= k && !done) {
      var any = false
      byQ.foreach { case (q, list) =>
        var best: LC = null
        var bestScore = 0.0
        list.foreach { c =>
          if (c.alive) {
            val s = lambdaPpm.toDouble * c.rel - mu.toDouble * c.maxsim
            if (best == null || s > bestScore ||
                (s == bestScore && cmpId(c.id, best.id) < 0)) {
              best = c; bestScore = s
            }
          }
        }
        if (best != null) {
          any = true
          picks += org.apache.spark.sql.Row(
            q, best.id, best.cvRaw, best.cn2, round, bestScore)
          val sv = best.cv
          val sn2 = best.cn2
          list.foreach { c =>
            if (c.alive) {
              if (cmpId(c.id, best.id) == 0) c.alive = false
              else {
                require(c.cv.length == sv.length,
                  s"vec_dot length mismatch: ${c.cv.length} vs ${sv.length}")
                val sim =
                  if (c.cn2 * sn2 == 0.0) 0.0
                  else {
                    var acc = 0.0
                    var i = 0
                    while (i < sv.length) { acc += c.cv(i) * sv(i); i += 1 }
                    acc / (math.sqrt(c.cn2) * math.sqrt(sn2))
                  }
                if (!c.hasSim || sim > c.maxsim) { c.maxsim = sim; c.hasSim = true }
              }
            }
          }
        }
      }
      done = !any
      round += 1
    }
  }
}
