package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.VectorFunctions

/** Deduplication operators for training-data pipelines, each designed
  * around its shuffle profile at 100 TB:
  *
  *  - exact: one hash-aggregate on a 64-bit fingerprint (map-side
  *    combine, single shuffle of (hash, id) pairs — never the text);
  *  - MinHash+LSH: shingle → k minhashes → b bands → self-join per band
  *    bucket. The only shuffle is on (band, bandHash) — candidate pairs
  *    are verified with exact Jaccard *inside* the join, so the O(n²)
  *    all-pairs comparison never materializes;
  *  - SimHash: 64-bit signature per doc; near-dups agree on most bits,
  *    bucketed by signature bands like MinHash;
  *  - n-gram Jaccard: the verification kernel, exposed standalone;
  *  - embedding cosine: near-dup via LSH-bucketed vector similarity.
  *
  * All signature math is built-in higher-order functions — codegen'd,
  * no UDFs, no driver loops.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: keep the lowest id per normalized-content fingerprint.
    * Returns the deduplicated rows (one keeper per duplicate set).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // ONE shuffle (hash-partition on the fingerprint) — the
    // groupBy-then-semi-join alternative shuffles the full table twice
    // (once into the aggregate, once into the join)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__fp")).orderBy(col(idCol))
    df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  /** Exact-duplicate groups: fingerprint → member count + keeper id. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("dup_count"), min(col(idCol)).as("keeper"))

  /** Exact dedup with a QUALITY keep policy: within each duplicate set
    * keep the row ranked best by `keepBy` (descending — higher is
    * better), ties broken by ascending id so the choice is total. The
    * C4/RefinedWeb curation rule: when a page is crawled twice, keep
    * the copy with the better quality signal (longer canonical
    * version, higher LM score, fresher fetch), not whichever id sorts
    * first. Same single-shuffle shape as [[exact]] — one window over
    * the fingerprint partition; at 100 TB the fingerprint hash
    * partitioning carries it exactly like [[exact]].
    *
    * `keepBy` is evaluated against `df`'s columns; pass e.g.
    * `col("quality")`, `length(col("text"))`, or a fetched-at
    * timestamp.
    */
  def exactKeepBest(
      df: DataFrame,
      idCol: String,
      textCol: String,
      keepBy: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__fp")).orderBy(col("__kb").desc, col(idCol))
    df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("__kb", keepBy)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__kb", "__rn")
  }

  // -------------------------------------------------------------- shingles

  /** Word `n`-gram shingles of a text column (distinct). */
  def shingles(text: Column, n: Int): Column =
    // bindOnce: inlined, the regex split re-runs once per gram inside
    // the transform lambda (no CSE inside HOFs) — O(tokens²) per doc
    TextAnalysis.bindOnce(TextAnalysis.tokens(lower(text)), toks =>
      when(size(toks) < n, array(array_join(toks, " ")))
        .otherwise(array_distinct(transform(
          sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " ")
        ))))

  /** Word `n`-gram shingles as 64-bit hashes (distinct; collision-free
    * in practice) — the fast representation every consumer below uses:
    * set operations on `array<long>` skip all string allocation and
    * re-hashing. Native one-pass kernel
    * ([[graft.functions.ShingleHash64Expression]]).
    */
  def shingleHashes(text: Column, n: Int): Column =
    graft.functions.ShingleHash64Expression.shingleHash64(
      TextAnalysis.tokens(lower(text)), n)

  /** Drop LSH buckets larger than `maxBucket` — the standard web-scale
    * guard: a boilerplate shingle/band shared by 10⁶ documents would
    * otherwise explode the self-join to 10¹² pairs. Such mega-buckets
    * carry almost no dedup signal (the docs inside collide on ONE key;
    * real near-dups also collide in other, smaller buckets). The window
    * partitions by the same key the self-join shuffles on, so the
    * partitioning is computed once and reused.
    */
  private[graft] def capBuckets(banded: DataFrame, keyCols: Seq[String], maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) banded
    else banded
      .withColumn("__bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(keyCols.map(col): _*)))
      .filter(col("__bsz") <= maxBucket)
      .drop("__bsz")

  /** Exact Jaccard over hashed (long) shingle arrays — native one-pass
    * kernel ([[graft.functions.JaccardLongExpression]]); null-free
    * arrays only (ShingleHash64 output qualifies).
    */
  def jaccardLong(a: Column, b: Column): Column =
    graft.functions.JaccardLongExpression.jaccardLong(a, b)

  /** Exact Jaccard similarity of two array columns (as sets) — generic
    * built-in composition for any element type.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0.0, lit(0.0)).otherwise(inter / union)
  }

  // ------------------------------------------------------- n-gram jaccard

  /** Near-duplicate pairs by exact n-gram Jaccard with min-shingle
    * blocking: only documents sharing their lexicographically smallest
    * shingle are compared (the 1-hash/1-band degenerate MinHash scheme —
    * two docs with Jaccard s share the min shingle with probability
    * ≈ s·…, so recall is threshold-dependent; use
    * [[minhashNearDupPairs]] when recall matters more than an exact SQL
    * oracle).
    *
    * Shuffle profile: one hash-partition of (block-key, id, shingles) +
    * the self-join — the blocked groups are tiny (docs sharing one exact
    * shingle), so no O(n²) blow-up.
    */
  def ngramJaccardNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      maxBucket: Int = Int.MaxValue
  ): DataFrame = {
    // the blocking join carries (block-key, id) ONLY — shingle arrays
    // would multiply the shuffle width by the document size; they are
    // recomputed post-join for the (few) candidate pairs instead.
    // Blocking key = lexicographically-min shingle via the native
    // one-pass kernel (no shingle-array materialization); ordering
    // matches `array_min` on the string form, so an ANSI-SQL oracle can
    // reproduce the candidate set exactly.
    val blk = df.select(col(idCol),
      graft.functions.MinShingleExpression.minShingle(
        TextAnalysis.tokens(lower(col(textCol))), n).as("__blk"))
    val capped = capBuckets(blk, Seq("__blk"), maxBucket)
    val candidates = capped.select(col(idCol).as("id_a"), col("__blk"))
      .join(capped.select(col(idCol).as("id_b"), col("__blk")), Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    candidates
      .join(df.select(col(idCol).as("id_a"), col(textCol).as("__ta")), Seq("id_a"))
      .join(df.select(col(idCol).as("id_b"), col(textCol).as("__tb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccardLong(shingleHashes(col("__ta"), n), shingleHashes(col("__tb"), n)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // -------------------------------------------------------------- minhash

  /** k-element MinHash signature over a shingle array — native one-pass
    * Catalyst expression ([[graft.functions.MinHash64Expression]]).
    * Hash family i is XXH64 seeded with i — deterministic across
    * executors/runs.
    */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    graft.functions.MinHash64Expression.minhash64(shingleCol, k)

  /** Built-in-composed variant (k array traversals; different hash
    * family — xxhash64 over (shingle, salt) pairs — so values differ from
    * the native expression but the LSH statistics are identical). Kept to
    * document what the native expression replaces.
    */
  private[graft] def minhashSignatureBuiltin(shingleCol: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(shingleCol, s => xxhash64(s, lit(i))))
    }: _*)

  /** MinHash-estimated Jaccard: fraction of agreeing signature slots. */
  def minhashEstimate(sigA: Column, sigB: Column, k: Int): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x))
      .cast("double") / lit(k.toDouble)

  /** Candidate near-duplicate pairs via banded LSH over MinHash
    * signatures, verified with exact Jaccard.
    *
    * @param bands  number of LSH bands; rows per band = k/bands. Two docs
    *               collide if any band hashes equal. With s = true
    *               Jaccard, P(collide) = 1-(1-s^r)^b — tune (b, r) so the
    *               S-curve knee sits at `threshold`.
    * @return (id_a, id_b, est_jaccard, jaccard) with id_a < id_b and
    *         jaccard >= threshold
    */
  def minhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucket: Int = Int.MaxValue
  ): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val rows = k / bands
    // Persist ONLY (id, signature) — 8k bytes/doc of longs, columnar-
    // cache-friendly. The shingle sets are NOT cached: storing an
    // O(tokens) string array per document costs more than the minhash
    // pass itself (measured 40× slower at sf0.1) and at corpus scale
    // would dwarf executor storage. Shingles are recomputed later for the
    // few candidate-pair rows only.
    // The cache lives until the session drops it (the result is lazy, so
    // this method cannot unpersist); memory-pressured callers running
    // many unrelated dedups can spark.catalog.clearCache() between runs.
    // persistOnce: re-invocations with the same plan (bench reps,
    // retries) REUSE the existing cache entry instead of re-registering
    // it and spamming "Asked to cache already cached data".
    val sig = org.apache.spark.sql.graftbridge.CacheBridge.persistOnce(
      df.select(col(idCol),
        minhashSignature(shingleHashes(col(textCol), shingleSize), k).as("__sig")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the band self-join shuffles ONLY (band, bandHash, id) — signatures
    // and shingle sets stay out of the wide exploded frame and are joined
    // back onto the (few) surviving candidate pairs
    // xxhash64 hashes the band slice (an array<bigint>) directly — one
    // hash call per band, no per-element string casts, and the generated
    // code stays small enough that cold-start Janino compile is cheap
    val banded = sig.select(
      col(idCol),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("__sig"), b * rows + 1, lit(rows)), b)
      )).as(Seq("__band", "__bandhash"))
    )
    val capped = capBuckets(banded, Seq("__band", "__bandhash"), maxBucket)
    val candidates = capped.select(col(idCol).as("id_a"), col("__band"), col("__bandhash"))
      .join(capped.select(col(idCol).as("id_b"), col("__band"), col("__bandhash")),
        Seq("__band", "__bandhash"))
      .filter(col("id_a") < col("id_b"))
      // a pair colliding in multiple bands appears once
      .select("id_a", "id_b")
      .distinct()
    // verify join-back: signatures from the compact cache; shingle sets
    // recomputed from raw text for candidate rows only (candidates ≪
    // corpus, so this re-shingling is negligible)
    candidates
      .join(sig.select(col(idCol).as("id_a"), col("__sig").as("sig_a")), Seq("id_a"))
      .join(sig.select(col(idCol).as("id_b"), col("__sig").as("sig_b")), Seq("id_b"))
      .join(df.select(col(idCol).as("id_a"),
        shingleHashes(col(textCol), shingleSize).as("sh_a")), Seq("id_a"))
      .join(df.select(col(idCol).as("id_b"),
        shingleHashes(col(textCol), shingleSize).as("sh_b")), Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        minhashEstimate(col("sig_a"), col("sig_b"), k).as("est_jaccard"),
        jaccardLong(col("sh_a"), col("sh_b")).as("jaccard")
      )
      .filter(col("jaccard") >= threshold)
  }

  /** Near-dedup: drop every doc that collides (verified Jaccard ≥
    * threshold) with a lower-id doc. One LSH pass — not transitive
    * closure; chained duplicates (a~b~c, a!~c) keep their local minima,
    * which is the standard one-pass trade-off at scale.
    */
  def minhashDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7
  ): DataFrame = {
    val pairs = minhashNearDupPairs(df, idCol, textCol, shingleSize, k, bands, threshold)
    val drop = pairs.select(col("id_b").as(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }

  // ------------------------------------------- duplicate-cluster closure

  /** Transitive closure over a near-duplicate pair list: connected
    * components by iterative min-label propagation. One-pass dedup
    * ([[minhashDedup]]) keeps local minima of chained duplicates
    * (a~b~c with a!~c keeps a AND the c-side survivor); when a cluster
    * must collapse to ONE keeper, run the closure.
    *
    * Algorithm: min-label propagation with pointer jumping (the hybrid
    * CC scheme of Pegasus-style HCC / large-star contraction). Every
    * node starts labeled with itself; each round (a) adopts the min
    * label among itself and its neighbors, then (b) jumps: re-labels
    * through its label's own label. Propagation alone needs ≈ diameter
    * rounds — a 10 000-document boilerplate chain would silently stop at
    * `maxIter` with WRONG clusters; the jump composes label paths, so
    * distance-to-root shrinks superlinearly and rounds ≈ O(log
    * diameter). `maxIter = 16` covers diameters past 10⁴ (the
    * min-neighbor seed below buys roughly one more round of headroom).
    *
    * Hybrid local/distributed execution (guide §1.2 — the distributed
    * algorithm first, but don't run a 16-round fixpoint where one task
    * of work exists): the deduped edge list is counted off its own
    * cache, and when it is SMALL — at most
    * `spark.graft.cc.localMaxEdges` edges (default 1 000 000, ≈ tens of
    * MB collected: the broadcast-join size class, bounded BEFORE the
    * collect by the count) — the closure is solved with a driver-side
    * union-find and returned as a LocalRelation, which downstream
    * consumers broadcast-join against. One collect job replaces the
    * whole propagate/jump loop (measured: the loop's per-round
    * join+checkpoint jobs are pure fixed cost on small graphs — every
    * job under 0.3 s on the sf0.1 fixtures — and the 39-job
    * leakage-split gate spends most of its wall clock there). Above the
    * bound, or for an id type with no driver-side ordering (binary),
    * the distributed loop below runs unchanged — the 100 TB path is
    * untouched. The local path computes the EXACT closure (it has no
    * `maxIter` horizon), which coincides with the loop's answer for
    * every graph the loop converges on.
    *
    * @param pairs edge list with columns `id_a`, `id_b` (any direction)
    * @return (id, cluster) — cluster = min id reachable; one row per
    *         node appearing in `pairs`
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 16): DataFrame = {
    val edges = org.apache.spark.sql.graftbridge.CacheBridge.persistOnce(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct(),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one bounded aggregate sizes the problem AND materializes the edge
    // cache (the same shuffle work the first loop action paid before)
    val localMax = pairs.sparkSession.conf
      .get("spark.graft.cc.localMaxEdges", "1000000").toLong
    val idType = edges.schema("src").dataType
    val comparableIds = idType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.StringType => true
      case org.apache.spark.sql.types.BooleanType => true
      case org.apache.spark.sql.types.DateType => true
      case org.apache.spark.sql.types.TimestampType => true
      case _ => false
    }
    if (comparableIds && edges.count() <= localMax)
      return localClusters(edges, idType)
    // seed each node with min(id, min(neighbor)) — the first propagation
    // round folded into the seed aggregate (same single shuffle the old
    // identity-label distinct paid), so star/chain graphs converge one
    // full join-round earlier
    var labels = org.apache.spark.sql.graftbridge.CacheBridge.persistOnce(
      edges.groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("__mn"))
        .select(col("id"), least(col("id"), col("__mn")).as("cluster")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // labels only ever decrease, so the label sum is a strictly
    // decreasing convergence witness: one cheap aggregate per iteration
    // instead of a join-based diff
    var prevSum = labels.agg(sum(col("cluster").cast(DecimalType(38, 0))))
      .collect()(0).getDecimal(0)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // every node adopts the min label among itself and its neighbors
      val neighborLabels = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .select(col("src").as("id"), col("cluster"))
      val propagated = labels.select(col("id"), col("cluster"))
        .union(neighborLabels)
        .groupBy("id").agg(min(col("cluster")).as("cluster"))
      // pointer jump: follow the label's own label. Labels only ever
      // decrease and stay inside the component, so the jump preserves
      // correctness while composing paths — this is what turns
      // O(diameter) rounds into O(log diameter)
      // localCheckpoint truncates lineage so every iteration re-executes
      // the SAME plan shape (one codegen compile total, not one per
      // iteration) and the fixpoint loop can run indefinitely without
      // the plan growing. (Fusing two propagate+jump rounds per
      // checkpoint was tried in round 7 and REGRESSED ~2×: the fixed
      // cost is per shuffle STAGE, not per checkpoint job, so deeper
      // plans pay the same stages plus wasted work on early converge.)
      // the convergence witness rides the checkpoint's own job via
      // observe() — a separate agg job per round doubled the fixture's
      // per-iteration job count
      val obs = new org.apache.spark.sql.Observation(s"graft-cc-$i")
      val next = propagated
        .join(propagated.select(col("id").as("cluster"), col("cluster").as("__parent")),
          Seq("cluster"))
        .select(col("id"), least(col("cluster"), col("__parent")).as("cluster"))
        .observe(obs, sum(col("cluster").cast(DecimalType(38, 0))).as("label_sum"))
        .localCheckpoint(true)
      val newSum = obs.get("label_sum").asInstanceOf[java.math.BigDecimal]
      labels.unpersist()
      labels = next
      converged = newSum == prevSum
      prevSum = newSum
      i += 1
    }
    edges.unpersist()
    labels
  }

  /** Driver-side closure for [[duplicateClusters]]'s small-graph path:
    * union-find (iterative find with full path compression + union by
    * size, so no recursion and near-constant amortized ops) over the
    * ALREADY-BOUNDED collected edge list, min-id label per component,
    * result returned as a LocalRelation. Null ids order LAST (a
    * component's label is its smallest non-null member unless every
    * member is null) — matching the SQL `min`/`least` convention the
    * distributed seed uses.
    */
  private def localClusters(
      edges: DataFrame,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val spark = edges.sparkSession
    val rows = edges.collect()
    edges.unpersist()
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    val rank = scala.collection.mutable.HashMap.empty[Any, Int]
    def find(x: Any): Any = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var cur = x
      while (parent.getOrElse(cur, cur) != root) {
        val nxt = parent(cur); parent(cur) = root; cur = nxt
      }
      root
    }
    def union(a: Any, b: Any): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        val (big, small) =
          if (rank.getOrElse(ra, 1) >= rank.getOrElse(rb, 1)) (ra, rb)
          else (rb, ra)
        parent(small) = big
        rank(big) = rank.getOrElse(big, 1) + rank.getOrElse(small, 1)
      }
    }
    val nodes = scala.collection.mutable.LinkedHashSet.empty[Any]
    rows.foreach { r =>
      val a = r.get(0); val b = r.get(1)
      nodes += a; nodes += b
      union(a, b)
    }
    // nulls-last compare: min label = smallest non-null member
    def lt(x: Any, y: Any): Boolean =
      if (x == null) false
      else if (y == null) true
      else x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    val minOf = scala.collection.mutable.HashMap.empty[Any, Any]
    nodes.foreach { v =>
      val root = find(v)
      minOf.get(root) match {
        case Some(m) => if (lt(v, m)) minOf(root) = v
        case None => minOf(root) = v
      }
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](nodes.size)
    nodes.foreach { v =>
      out.add(org.apache.spark.sql.Row(v, minOf(find(v))))
    }
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("cluster", idType))))
  }

  /** Frequency-capped dedup ("soft dedup"): keep up to `k` members of
    * each connected duplicate cluster instead of one — the knob
    * training pipelines use when a bounded amount of natural
    * duplication is wanted as signal (document frequency reweighting)
    * but unbounded boilerplate is not. `k = 1` degrades to the strict
    * keep-first transitive dedup; `k ≥` the largest cluster keeps
    * everything. The k survivors are the k LOWEST ids of each cluster
    * (deterministic), selected on the k-bounded `CollectTopK` queue —
    * O(k) aggregate state per cluster in update AND merge, so a
    * boilerplate mega-cluster costs one bounded reduction, not a
    * full-membership sort in one task (the rank-window formulation's
    * failure mode at 100 TB). Docs with no duplicate edge never enter
    * the aggregate — [[duplicateClusters]] already reduces the corpus
    * to clustered ids — and the survivor set joins back on the id.
    */
  def keepKPerCluster(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    // ONE clusters pass (the CC loop runs eagerly inside the call and
    // returns a checkpointed frame — cheap to branch, expensive to
    // recompute). Membership is restricted to ids PRESENT in `docs`
    // before the k-selection: the pair list routinely references docs
    // an upstream filter already dropped, and a phantom id consuming a
    // keep slot would silently under-keep the cluster's real members.
    val clusters = duplicateClusters(pairs)
      .join(docs.select(col(idCol).as("id")), Seq("id"), "left_semi")
    val keep = clusters
      .groupBy("cluster")
      // reverse = true keeps the k SMALLEST structs (the queue's order
      // convention, as in Similarity.topKPerKey)
      .agg(array_sort(org.apache.spark.sql.graftbridge.ColumnBridge
        .collectTopK(struct(col("id")), k, reverse = true)).as("__top"))
      .select(explode(col("__top")).as("__k"))
      .select(col("__k.id").as(idCol), lit(true).as("__keep"))
    val clustered = clusters
      .select(col("id").as(idCol), lit(true).as("__in"))
    docs
      .join(clustered, Seq(idCol), "left_outer")
      .join(keep, Seq(idCol), "left_outer")
      .filter(col("__in").isNull || col("__keep").isNotNull)
      .drop("__in", "__keep")
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash of the token multiset: per bit, sum +1/-1 weighted by
    * each token hash's bit, take the sign. Near-duplicates differ in few
    * bits (compare with [[hammingDistance]]). Native one-pass Catalyst
    * expression ([[graft.functions.SimHash64Expression]]).
    */
  def simhash64(text: Column): Column =
    graft.functions.SimHash64Expression.simhash64(TextAnalysis.tokens(lower(text)))

  /** Built-in-composed SimHash (64 `aggregate` traversals of the token
    * array) — the composition the native expression replaces. Same hash
    * family (xxhash64, seed 42), so outputs are bit-identical; kept as
    * the correctness cross-check for the custom expression.
    */
  private[graft] def simhash64Builtin(text: Column): Column = {
    val hashes = transform(TextAnalysis.tokens(lower(text)), t => xxhash64(t))
    val bitSums = (0 until 64).map { bit =>
      aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, bit).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
    }
    // assemble sign bits; bit positions are disjoint so the sum is exact
    bitSums.zipWithIndex.map { case (s, i) =>
      when(s > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: bucket by 4 × 16-bit bands (docs within
    * Hamming distance 3 of each other must agree on at least one band —
    * pigeonhole), verify by Hamming distance.
    *
    * Recall guarantee: the 4-band layout pigeonholes ONLY up to
    * `maxHamming` = 3 (nBands − 1). Callers passing a larger threshold
    * get pairs at distance 4+ only when they agree on a band by luck —
    * the require below makes that misuse impossible instead of silent.
    * The Hamming filter runs BEFORE the pair dedup so `dropDuplicates`
    * shuffles only verified pairs, not every band collision.
    */
  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue
  ): DataFrame =
    hash64BandPairs(
      df.select(col(idCol), simhash64(col(textCol)).as("__sim")),
      idCol, "__sim", maxHamming, maxBucket)

  /** The banding kernel behind [[simhashNearDupPairs]], generic over WHERE
    * the 64-bit signature came from: any producer of a (id, hash64) frame
    * — text SimHash, image dHash ([[Multimodal.imageNearDupPairs]]), audio
    * fingerprints — gets the same 4 × 16-bit band → equi-join → Hamming
    * verify pipeline. One kernel, one recall proof, one shuffle shape.
    *
    * Shuffle profile: the explode emits 4 rows per signature; the
    * self-join shuffles on (band, bandval) — at 100 TB the bucket cap is
    * the guard against a degenerate signature (e.g. an all-black image
    * corpus collapsing onto one dHash) turning the join quadratic.
    */
  /** The 4 × 16-bit band values of a 64-bit signature, in band order —
    * masked arithmetic shifts, so band 3 (the sign-carrying slice) still
    * reads as an unsigned 16-bit value.
    */
  private[graft] def bands64(hash: Column): Column =
    array((0 until 4).map(b =>
      shiftright(hash, b * 16).bitwiseAND(0xffffL)): _*)

  private[graft] def hash64BandPairs(
      sig: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int,
      maxBucket: Int
  ): DataFrame = {
    require(maxHamming <= 3,
      s"4x16-bit banding guarantees recall only to Hamming 3 (got $maxHamming); " +
        "raising the threshold needs more bands, not a bigger filter")
    val banded = sig.select(
      col(idCol), col(hashCol).as("__sim"),
      posexplode(bands64(col(hashCol))).as(Seq("__band", "__bandval"))
    )
    val capped = capBuckets(banded, Seq("__band", "__bandval"), maxBucket)
    val a = capped.select(col(idCol).as("id_a"), col("__sim").as("sim_a"),
      col("__band"), col("__bandval"))
    val b = capped.select(col(idCol).as("id_b"), col("__sim").as("sim_b"),
      col("__band"), col("__bandval"))
    a.join(b, Seq("__band", "__bandval"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sim_a"), col("sim_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  // ------------------------------------------------- embedding near-dup

  /** Band width that keeps expected bucket occupancy ~`targetBucket`
    * as the corpus grows. A band of `b` bits has 2^b buckets, so the
    * RANDOM collision mass per vector is n/2^b — at FIXED width the
    * candidate-pair count grows as n²/2^b, which the sf1 soak measured
    * as 27.9× wall-clock for 10× data. Growing the width with the
    * corpus, b = ceil(log2(n/targetBucket)), pins expected occupancy
    * at `targetBucket` and restores ~linear candidate growth — the
    * standard prescription from the E2LSH line of work. Clamped to
    * [minBits, 64/nBands] (all bands slice one 64-bit signature).
    *
    * The cost of wider bands is per-band recall for NON-identical
    * near-dups (P(band agrees) = (1-θ/π)^b for angle θ) — compensate
    * with more OR-bands, or pass an explicit `nBits` when a fixed
    * recall target matters more than scaling. Identical vectors agree
    * on every band at any width, so exact-duplicate recall is 1.0
    * regardless.
    */
  def lshBitsFor(
      n: Long,
      nBands: Int,
      targetBucket: Int = 16,
      minBits: Int = 8
  ): Int = {
    val maxBits = 64 / math.max(1, nBands)
    val needed = math.ceil(
      math.log(math.max(1L, n).toDouble / targetBucket) / math.log(2.0)).toInt
    math.min(maxBits, math.max(minBits, needed))
  }

  /** Embedding-cosine near-duplicate pairs, LSH-bucketed: only vectors
    * sharing a hyperplane-signature band are compared.
    *
    * Banding (`nBands` OR-combined bands of `nBits` each, same scheme as
    * [[simhashNearDupPairs]]): a true near-dup pair only needs to agree
    * on ONE band, so recall grows with `nBands` while each band stays
    * selective. `maxBucket` drops degenerate bands (e.g. a zero-vector
    * cluster, or low-entropy embeddings collapsing onto few hyperplane
    * cells) before the self-join — without it one dense bucket of m
    * vectors costs m² pairs, the classic 100×-scale blow-up. Vectors are
    * re-attached AFTER banding+cap via a hash join on id, so the wide
    * embedding column is never carried through the band explode/cap
    * shuffle.
    *
    * `nBits = 0` (the default) sizes the bands from the corpus via
    * [[lshBitsFor]] (one extra count() job) — fixed widths go
    * quadratic as the corpus grows; see [[lshBitsFor]] for the
    * measured blow-up and the recall tradeoff.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      nBits: Int = 0,
      nBands: Int = 1,
      maxBucket: Int = Int.MaxValue
  ): DataFrame = {
    val bits = if (nBits > 0) nBits else lshBitsFor(df.count(), nBands)
    require(bits * nBands <= 64, "signature is a single 64-bit word")
    // one fused-kernel pass computes all bands' planes; bands are bit
    // slices of the signature word. The 64-bit mask needs a special
    // case: (1L << 64) wraps to 1, so the naive mask would collapse
    // every vector into band value 0 — the exact n² blow-up banding
    // exists to prevent
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val sig = df.select(col(idCol),
      VectorFunctions.lshSignature(col(vecCol), bits * nBands).as("__sig"))
    val banded = sig.select(
      col(idCol),
      posexplode(array((0 until nBands).map(b =>
        shiftright(col("__sig"), b * bits).bitwiseAND(mask)): _*))
        .as(Seq("__band", "__bandval")))
    val capped = capBuckets(banded, Seq("__band", "__bandval"), maxBucket)
    val candidates = capped.select(col(idCol).as("id_a"), col("__band"), col("__bandval"))
      .join(capped.select(col(idCol).as("id_b"), col("__band"), col("__bandval")),
        Seq("__band", "__bandval"))
      .filter(col("id_a") < col("id_b"))
      // a pair agreeing on several bands must be verified once, not once
      // per band
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    // norms computed once per vector, not once per candidate pair
    val vecs = df.select(col(idCol), col(vecCol))
      .withColumn("__norm", VectorFunctions.norm(col(vecCol)))
    candidates
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"),
        col("__norm").as("norm_a")), Seq("id_a"))
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"),
        col("__norm").as("norm_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        when(col("norm_a") * col("norm_b") === 0.0, lit(0.0))
          .otherwise(VectorFunctions.dot(col("vec_a"), col("vec_b")) /
            (col("norm_a") * col("norm_b"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Incremental embedding near-dup: collide a NEW batch of vectors
    * against an EXISTING embedding index — the continuous-ingestion
    * twin of [[embeddingNearDupPairs]], mirroring what
    * [[portableMinhashPairsAgainst]] does for text. The banded join is
    * ASYMMETRIC (batch signatures against index signatures only), so
    * cost scales with |batch| × collision-rate, never |index|², and
    * batch-internal pairs are deliberately NOT reported (run the
    * symmetric pass within the batch for those).
    *
    * At 100 TB the index side is a materialized signature table
    * (compute the banded signatures once per ingest epoch, store
    * bucketed by (band, bandval) via [[graft.plans.ScaleJoins]]);
    * `maxBucket` caps degenerate buckets on the INDEX side, where mass
    * accumulates over time.
    *
    * `nBits = 0` (the default) sizes the bands from the INDEX side's
    * count via [[lshBitsFor]] — that is where mass accumulates across
    * ingest epochs, so that is the side whose occupancy must stay
    * bounded. NOTE: a persisted signature table bakes in the width it
    * was built with; rebuild it when the index has outgrown its width.
    *
    * @return (batch_id, index_id, cosine) — batch vectors with at
    *         least one index collision at cosine >= `threshold`;
    *         anti-join the batch against `select(batch_id)` to admit
    *         survivors
    */
  def embeddingNearDupPairsAgainst(
      batch: DataFrame,
      index: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      nBits: Int = 0,
      nBands: Int = 1,
      maxBucket: Int = Int.MaxValue
  ): DataFrame = {
    val bits = if (nBits > 0) nBits else lshBitsFor(index.count(), nBands)
    require(bits * nBands <= 64, "signature is a single 64-bit word")
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    def banded(df: DataFrame, outId: String) = df
      .select(col(idCol).as(outId),
        VectorFunctions.lshSignature(col(vecCol), bits * nBands).as("__sig"))
      .select(col(outId),
        posexplode(array((0 until nBands).map(b =>
          shiftright(col("__sig"), b * bits).bitwiseAND(mask)): _*))
          .as(Seq("__band", "__bandval")))
    val b = banded(batch, "batch_id")
    val ix = capBuckets(banded(index, "index_id"), Seq("__band", "__bandval"), maxBucket)
    val candidates = b.join(ix, Seq("__band", "__bandval"))
      .filter(col("batch_id") =!= col("index_id"))
      .select("batch_id", "index_id").dropDuplicates("batch_id", "index_id")
    def vecs(df: DataFrame, id: String, v: String, n: String) = df
      .select(col(idCol).as(id), col(vecCol).as(v))
      .withColumn(n, VectorFunctions.norm(col(v)))
    candidates
      .join(vecs(batch, "batch_id", "__va", "__na"), Seq("batch_id"))
      .join(vecs(index, "index_id", "__vb", "__nb"), Seq("index_id"))
      .select(col("batch_id"), col("index_id"),
        when(col("__na") * col("__nb") === 0.0, lit(0.0))
          .otherwise(VectorFunctions.dot(col("__va"), col("__vb")) /
            (col("__na") * col("__nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  // ------------------------------------ portable (oracle-exact) minhash

  /** MinHash with engine-portable arithmetic: shingles hash through the
    * Karp-Rabin rolling hash ([[TextAnalysis.rollingHash]]) and `k`
    * fixed affine permutations mod 1e9+7, so any ANSI-SQL engine
    * reproduces the signatures bit-for-bit — the exact-oracle twin of
    * [[minhashNearDupPairs]], whose xxhash64 kernels are faster but
    * engine-specific. Use this variant when sampling/dedup decisions
    * must be auditable outside Spark; use the native one for throughput.
    *
    * All arithmetic stays far inside Long range (h < 1e9, a_j <= 19).
    */
  def portableMinhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 8
  ): DataFrame = {
    require(k >= 1 && k <= 16, "k components in [1,16]")
    // fused kernel: shingle hashes straight from the token array — the
    // transform/concat_ws/explode composition materialized millions of
    // shingle strings per batch (measured ~3.5x slower at sf0.1)
    val w = TextAnalysis.tokens(lower(col(textCol)))
    val exploded = df.select(col(idCol),
      explode(graft.functions.KrShingleHashExpression.krShingleHash(w, n)).as("__h"))
    val P = 1000000007L
    val aggs = (0 until k).map(j =>
      min((col("__h") * lit(2L * j + 3) + lit(97L * j + 1)) % P).as(s"sig_$j"))
    exploded.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Near-dup pairs from portable signatures: candidates share
    * component 0 (1-band blocking, same recall trade as
    * [[ngramJaccardNearDupPairs]]'s min-shingle block), similarity is
    * the matched-component fraction.
    */
  def portableMinhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 8,
      threshold: Double = 0.5,
      maxBucket: Int = Int.MaxValue
  ): DataFrame = {
    val sig = portableMinhashSignatures(df, idCol, textCol, n, k)
    val capped = capBuckets(sig, Seq("sig_0"), maxBucket)
    val aSide = (1 until k).foldLeft(capped.withColumnRenamed(idCol, "id_a")) {
      (d, j) => d.withColumnRenamed(s"sig_$j", s"a_$j")
    }
    val bSide = (1 until k).foldLeft(capped.withColumnRenamed(idCol, "id_b")) {
      (d, j) => d.withColumnRenamed(s"sig_$j", s"b_$j")
    }
    // component 0 is the join key, so it always matches: seed the tally at 1
    val matches = (1 until k)
      .map(j => when(col(s"a_$j") === col(s"b_$j"), 1).otherwise(0))
      .foldLeft(lit(1): Column)(_ + _)
    aSide.join(bSide, Seq("sig_0"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (matches.cast("double") / k).as("minhash_est"))
      .filter(col("minhash_est") >= threshold)
  }

  // ------------------------------------ portable (oracle-exact) simhash

  /** SimHash with engine-portable arithmetic: per-token Karp-Rabin
    * hashes (same `mod 1e9+7` kernel as [[portableMinhashSignatures]])
    * de-biased by the Knuth mix `(h·2654435761) mod 2^30` — without it
    * short-token KR hashes never wrap the modulus, the high signature
    * bits vote to 0 for every document, and the high LSH bands
    * degenerate into one O(n²) bucket — then a per-bit ±1 vote over the
    * token multiset, sign → bit. Every step is exact BIGINT arithmetic,
    * so any ANSI-SQL engine reproduces the signature bit-for-bit — the
    * exact-oracle twin of [[simhash64]], whose xxhash64 kernel is
    * faster but engine-specific. One native codegen'd pass
    * ([[graft.functions.KrSimHashExpression]]).
    *
    * Null semantics: null text → null signature (standard expression
    * null propagation), so null-text documents drop out of banding and
    * pairing entirely. (The pre-r5 aggregate/when composition folded
    * null input to signature 0, which let null-text docs pair with
    * genuine signature-0 docs; the oracle's `unnest(NULL)` drops the
    * doc, so null-propagation is the semantics both engines agree on.)
    */
  def portableSimhashSignature(text: Column, bits: Int = 28): Column =
    graft.functions.KrSimHashExpression
      .krSimHash(TextAnalysis.tokens(lower(text)), bits)

  /** Near-dup pairs from portable signatures: `nBands` pigeonhole bands
    * of `bits/nBands` bits (Hamming ≤ nBands−1 ⇒ at least one band
    * agrees), Hamming verify — the same band/cap/verify shape as
    * [[simhashNearDupPairs]], with every step reproducible by a SQL
    * oracle. Default 28-bit/4-band: 128 buckets per band, so candidate
    * generation is O(n²/128) per band — band-value cardinality is the
    * 100×-scale knob, and it only bites when the signature bits are
    * actually unbiased (see [[portableSimhashSignature]]'s mix). The
    * Hamming filter runs BEFORE the pair dedup so `dropDuplicates`
    * shuffles only verified pairs, not every band collision.
    */
  def portableSimhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue,
      bits: Int = 28,
      nBands: Int = 4
  ): DataFrame = {
    require(bits % nBands == 0, "bands must tile the signature")
    require(maxHamming < nBands,
      s"pigeonhole needs nBands > maxHamming (got $nBands bands, maxHamming $maxHamming)")
    val bandBits = bits / nBands
    val bandMask = (1L << bandBits) - 1
    val sig = df.select(col(idCol),
      portableSimhashSignature(col(textCol), bits).as("__sim"))
    val banded = sig.select(
      col(idCol), col("__sim"),
      posexplode(array((0 until nBands).map(b =>
        shiftright(col("__sim"), b * bandBits).bitwiseAND(bandMask)): _*))
        .as(Seq("__band", "__bandval")))
    val capped = capBuckets(banded, Seq("__band", "__bandval"), maxBucket)
    val a = capped.select(col(idCol).as("id_a"), col("__sim").as("sim_a"),
      col("__band"), col("__bandval"))
    val b = capped.select(col(idCol).as("id_b"), col("__sim").as("sim_b"),
      col("__band"), col("__bandval"))
    a.join(b, Seq("__band", "__bandval"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sim_a"), col("sim_b")).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  // ------------------------------- exact embedding near-dup (baseline)

  /** Exact embedding-cosine near-duplicate pairs: every id-ordered pair,
    * cosine in double precision, threshold filter. O(n²) by definition —
    * the audit/recall baseline for [[embeddingNearDupPairs]], same role
    * as [[graft.operators.Similarity.bruteForceTopK]] for ANN. Run it on
    * a bounded slice (or a sampled stratum) at scale; the LSH path is
    * the production route.
    */
  def embeddingNearDupExact(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): DataFrame = {
    val vecs = df.select(col(idCol), col(vecCol))
      .withColumn("__norm", VectorFunctions.norm(col(vecCol)))
    val a = vecs.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"),
      col("__norm").as("norm_a"))
    val b = vecs.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"),
      col("__norm").as("norm_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        when(col("norm_a") * col("norm_b") === 0.0, lit(0.0))
          .otherwise(VectorFunctions.dot(col("vec_a"), col("vec_b")) /
            (col("norm_a") * col("norm_b"))).as("cosine"))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b")
  }

  // ------------------------------------------------------ span-level dedup

  /** Cross-document span (paragraph) dedup with reassembly: split every
    * document on `sep`, keep only the globally-FIRST occurrence of each
    * span (first = lowest (doc id, position)), and rebuild each document
    * from its surviving spans in original order. This is the C4/RefinedWeb
    * "remove repeated passages, not whole documents" recipe — boilerplate
    * (headers, navbars, license blocks) dies corpus-wide while the one
    * document that carried it first keeps it.
    *
    * Output: one row per document that kept ≥ 1 span —
    * (doc_id, text, n_spans, n_kept). Documents whose every span was seen
    * earlier elsewhere drop out entirely (their reassembly is empty).
    *
    * Scale shape (100 TB): two shuffles. (1) a window partitioned by the
    * span text — Spark hash-partitions on the string, so each span set
    * lands on one reducer and `row_number` keeps the first; no global
    * sort, no driver state. (2) the doc-keyed rebuild aggregation.
    * Span-text keys skew exactly where dedup pays off (the boilerplate
    * span IS the hot key); its group only ever emits one row, and the
    * per-group state is a counter, so the hot key costs sort time, not
    * memory. For adversarial skew, pre-aggregate min-(doc,pos) per span
    * hash and join back instead.
    */
  def paragraphDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n"
  ): DataFrame = {
    val spans = df
      .select(col(idCol).as("doc_id"), col(textCol))
      .withColumn("__n_spans", size(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .select(col("doc_id"), col("__n_spans"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("__pos", "__span")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__span")).orderBy(col("doc_id"), col("__pos"))
    spans
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("__pos"), col("__span")))),
            x => x.getField("__span")),
          sep).as("text"),
        max(col("__n_spans")).cast("long").as("n_spans"),
        count(lit(1)).as("n_kept"))
  }

  // --------------------------------------------- exact-substring spans

  /** Duplicated-span detection via winnowed window fingerprints — the
    * distributable analog of suffix-array exact-substring dedup: find
    * every `window`-token span whose (normalized) text occurs in at
    * least `minDocs` distinct documents, and report each document's
    * duplicated regions with overlapping windows coalesced.
    *
    * Candidate generation is content-defined sampling (winnowing): a
    * window participates only when its de-biased Karp–Rabin fingerprint
    * satisfies `h % sel == 0`. Selection depends on CONTENT, not
    * offset, so the same span selects the same windows in every
    * document that carries it — recall is immune to the alignment
    * shifts that break stride sampling, while the exploded volume
    * drops ~`sel`-fold. The de-bias mix is mandatory here: raw KR
    * hashes of short windows cluster (see [[portableSimhashSignature]]),
    * which would skew the `% sel` keep-rate.
    *
    * Hash hits are then verified by grouping on the actual normalized
    * span text, so a KR collision can never fabricate a duplicate —
    * the reported spans are EXACT duplicates (among sampled windows),
    * and every step is mod-1e9+7 / Knuth-mix integer arithmetic an
    * ANSI-SQL engine reproduces bit-for-bit.
    *
    * Scale shape (100 TB): strictly LINEAR — no self-join anywhere,
    * unlike every banded near-dup path in this file. One shuffle of
    * narrow (hash, doc) pairs for the duplicate count, one semi-join
    * back (the candidate-hash side is collapsible to a broadcast at
    * typical dup rates), one text-keyed verify shuffle over hits only,
    * and a per-doc window for island merging. A boilerplate span shared
    * by millions of documents costs linear time — it is a count and a
    * fan-out, never a pairing — so the hot key that melts banded
    * self-joins is harmless here.
    *
    * Output: (doc_id, span_start, span_end, n_windows) — 0-based token
    * indices, inclusive; `span_end = last window start + window - 1`.
    * Documents with fewer than `window` tokens contribute one
    * degenerate whole-document window reported as span [0, window-1],
    * mirroring [[shingles]]' short-input rule.
    */
  def duplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 12,
      sel: Int = 4,
      minDocs: Int = 2
  ): DataFrame = {
    require(window >= 2, "window must be >= 2 tokens")
    require(sel >= 1, "sel must be >= 1")
    require(minDocs >= 2, "minDocs must be >= 2")
    val hits = winnowedHits(df, idCol, textCol, window, sel, minDocs)
      .select("doc_id", "__pos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("__pos")
    // gaps-and-islands over window starts: a new island begins when a
    // start lies past every previous window's end in this document
    val prevEnd = max(col("__pos") + lit(window - 1))
      .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    hits
      .withColumn("__ni", when(col("__pos") > coalesce(prevEnd, lit(-1)), 1).otherwise(0))
      .withColumn("__g", sum(col("__ni")).over(w))
      .groupBy(col("doc_id"), col("__g"))
      .agg(
        min(col("__pos")).cast("long").as("span_start"),
        (max(col("__pos")) + lit(window - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_end", "n_windows")
  }

  /** Shared kernel of [[duplicateSpans]] / [[stripDuplicateSpans]]:
    * winnow-selected window starts whose normalized span text occurs in
    * >= `minDocs` distinct documents, with the verified span text
    * attached. Columns: doc_id, __pos (0-based window start), __span.
    */
  private def winnowedHits(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int,
      sel: Int,
      minDocs: Int
  ): DataFrame = {
    val toks = TextAnalysis.tokens(lower(col(textCol)))
    def windowHashes(d: DataFrame): DataFrame = d
      .select(col(idCol).as("doc_id"), toks.as("__toks"))
      .select(col("doc_id"),
        posexplode(graft.functions.KrShingleHashExpression
          .krShingleHash(col("__toks"), window)).as(Seq("__pos", "__h")))
      // Knuth de-bias mix, exact in any BIGINT engine (h < 1e9 so the
      // product stays < 2^62); winnowing keeps 1/sel of windows
      .withColumn("__hm", (col("__h") * lit(2654435761L)) % lit(1073741824L))
      .filter(col("__hm") % sel === 0)
      .select("doc_id", "__pos", "__hm")
    val selected = windowHashes(df)
    // hash-level duplicate count: narrow (hash, doc) shuffle, linear
    val candHashes = selected
      .groupBy("__hm")
      .agg(countDistinct(col("doc_id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("__hm")
    // hashHits is consumed twice below (hit-id semi-join + verify
    // join); it is O(duplicated windows) small, and caching it stops
    // the whole winnowing pipeline from re-executing per consumer
    val hashHits = org.apache.spark.sql.graftbridge.CacheBridge.persistOnce(
      selected.join(candHashes, Seq("__hm")).select("doc_id", "__pos"),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exact verify: recompute the normalized span text for HITS ONLY.
    // The semi-join comes BEFORE the tokenize projection, so the second
    // tokenization pass runs over hit documents alone — without it the
    // projection evaluates for every corpus row on the join input and
    // the "verify" pass silently re-tokenizes all 100 TB. The exploded
    // span strings likewise exist only for the rare duplicated windows.
    val hitDocs = df
      .select(col(idCol).as("doc_id"), col(textCol).as("__rawtext"))
      .join(hashHits.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        TextAnalysis.tokens(lower(col("__rawtext"))).as("__toks"))
    val withText = hashHits
      .join(hitDocs, Seq("doc_id"))
      .withColumn("__span",
        regexp_replace(
          array_join(slice(col("__toks"), col("__pos") + 1, lit(window)), " "),
          "[^a-z0-9 ]", ""))
      .select("doc_id", "__pos", "__span")
    val verifiedSpans = withText
      .groupBy("__span")
      .agg(countDistinct(col("doc_id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("__span")
    withText.join(verifiedSpans, Seq("__span"))
      .select("doc_id", "__pos", "__span")
  }

  /** Remove duplicated spans everywhere EXCEPT their global first
    * occurrence — the dedup action over [[duplicateSpans]]' detection.
    * For each verified duplicated window text, the keeper is the lowest
    * (doc_id, position) occurrence; every other occurrence marks its
    * `window` tokens for deletion, and each document is rebuilt from
    * its surviving ORIGINAL-case tokens (single-space joined, original
    * order — duplicate detection is case-insensitive, but the rebuilt
    * text is not case-normalized; only whitespace runs collapse).
    *
    * Output: (doc_id, text, n_tokens, n_removed) for every input
    * document — documents with nothing to remove pass through with
    * `n_removed = 0`, and a document that was entirely duplicated
    * elsewhere comes back with empty text rather than disappearing
    * (the caller decides whether to drop empties).
    *
    * Overlap caveat: keeper election is PER SPAN TEXT. When two
    * distinct duplicated span texts overlap inside one document, the
    * keeper occurrence of text A can still lose tokens to the deletion
    * range of overlapping text B — "global first occurrence survives"
    * holds per text, not jointly across overlapping texts. Deletion
    * ranges union per document, so the rebuilt text is always
    * consistent; at most some keeper spans shrink.
    *
    * Scale shape: [[winnowedHits]]' linear pipeline, plus one window
    * over the hit set for keeper election and a per-doc aggregation of
    * deletion ranges; the rebuild is a narrow map (an index-aware
    * `filter` HOF over the token array — no explode of the corpus).
    */
  def stripDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 12,
      sel: Int = 4,
      minDocs: Int = 2
  ): DataFrame = {
    require(window >= 2, "window must be >= 2 tokens")
    val hits = winnowedHits(df, idCol, textCol, window, sel, minDocs)
    val keeper = org.apache.spark.sql.expressions.Window
      .partitionBy("__span").orderBy("doc_id", "__pos")
    val deletions = hits
      .withColumn("__rn", row_number().over(keeper))
      .filter(col("__rn") > 1)
      .groupBy("doc_id")
      .agg(collect_list(struct(
        col("__pos").as("s"),
        (col("__pos") + lit(window - 1)).as("e"))).as("__del"))
    // rebuild from ORIGINAL-case tokens: lower() never changes token
    // boundaries, so the lowered positions from winnowedHits index the
    // original token array 1:1 — matching casing must survive dedup.
    // (Whitespace runs still collapse to single spaces in the rebuild.)
    val toks = TextAnalysis.tokens(col(textCol))
    df.select(col(idCol).as("doc_id"), toks.as("__toks"))
      .join(deletions, Seq("doc_id"), "left")
      .withColumn("__keep",
        when(col("__del").isNull, col("__toks"))
          .otherwise(filter(col("__toks"),
            (_, i) => !exists(col("__del"),
              d => i >= d.getField("s") && i <= d.getField("e")))))
      .select(
        col("doc_id"),
        array_join(col("__keep"), " ").as("text"),
        size(col("__toks")).cast("long").as("n_tokens"),
        (size(col("__toks")) - size(col("__keep"))).cast("long").as("n_removed"))
  }

  /** Incremental near-dup: collide a NEW batch against an EXISTING
    * corpus index — the production shape of continuous ingestion (the
    * daily crawl checked against all history), which a self-join
    * near-dup pass cannot express without re-pairing the whole history
    * against itself. Same portable MinHash arithmetic and 1-band
    * blocking as [[portableMinhashPairs]], but the join is ASYMMETRIC:
    * batch signatures against index signatures, so cost scales with
    * |batch| x collision-rate, never |history|².
    *
    * At 100 TB the index side is a materialized signature table
    * (compute [[portableMinhashSignatures]] once per ingest epoch,
    * store bucketed by `sig_0` via [[graft.plans.ScaleJoins]]) and each
    * batch joins against it exchange-free; `maxBucket` caps a
    * degenerate blocking bucket on the INDEX side, where mass
    * accumulates over time.
    *
    * Output: (batch_id, index_id, minhash_est) — batch docs with at
    * least one estimated-similarity >= `threshold` collision; anti-join
    * the batch against `select(batch_id)` of this to admit survivors.
    */
  def portableMinhashPairsAgainst(
      batch: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 8,
      threshold: Double = 0.5,
      maxBucket: Int = Int.MaxValue
  ): DataFrame = {
    val bSig = portableMinhashSignatures(batch, idCol, textCol, n, k)
    val iSig = capBuckets(
      portableMinhashSignatures(index, idCol, textCol, n, k),
      Seq("sig_0"), maxBucket)
    val bSide = (1 until k).foldLeft(bSig.withColumnRenamed(idCol, "batch_id")) {
      (d, j) => d.withColumnRenamed(s"sig_$j", s"a_$j")
    }
    val iSide = (1 until k).foldLeft(iSig.withColumnRenamed(idCol, "index_id")) {
      (d, j) => d.withColumnRenamed(s"sig_$j", s"b_$j")
    }
    val matches = (1 until k)
      .map(j => when(col(s"a_$j") === col(s"b_$j"), 1).otherwise(0))
      .foldLeft(lit(1): Column)(_ + _)
    bSide.join(iSide, Seq("sig_0"))
      .select(col("batch_id"), col("index_id"),
        (matches.cast("double") / k).as("minhash_est"))
      .filter(col("minhash_est") >= threshold)
  }

  /** Materialize the near-dup signature index for a corpus — the text
    * twin of [[Similarity.writeIvfSqIndex]]'s build-once/query-many
    * contract: the portable MinHash signature table persisted BUCKETED
    * by the blocking component `sig_0`
    * ([[graft.plans.ScaleJoins.writeBucketed]]). A perpetual-crawl
    * pipeline builds this once per epoch and checks every arriving
    * batch against it with [[portableMinhashPairsAgainstIndex]] — the
    * history corpus is never re-signatured and never re-shuffled.
    */
  /** The signature table's own column names for width `k` — the
    * carryCols collision guard and the append/query-time carried-column
    * discovery share one definition (the BM25/IVF index convention).
    */
  private def minhashReservedCols(k: Int): Seq[String] =
    "index_id" +: (0 until k).map(j => s"sig_$j")

  /** Validate a stored signature table's schema for width `k` and
    * return its CARRIED metadata columns: the first 1+k columns must
    * be `index_id, sig_0..sig_{k-1}` (the signature identity), any
    * remainder is carried metadata (lang, license, source …) stored
    * verbatim per signature row for the filtered probe.
    */
  /** The stored normalization-form stamp, if the index carries one —
    * pre-stamp indexes (no `graft_norm_form` metadata) read `None`,
    * the documented accept-as-is path (see [[NormForm]]).
    */
  private def minhashNormForm(index: DataFrame): Option[String] = {
    val m = index.schema("sig_0").metadata
    if (m.contains("graft_norm_form")) Some(m.getString("graft_norm_form"))
    else None
  }

  private def minhashCarriedCols(index: DataFrame, tableName: String, k: Int): Seq[String] = {
    val reserved = minhashReservedCols(k)
    require(index.columns.length >= reserved.length &&
      index.columns.take(reserved.length).sameElements(reserved),
      s"$tableName does not hold k=$k portable minhash signatures")
    val extras = index.columns.drop(reserved.length).toSeq
    // a k smaller than the stored width would leave sig_k.. looking
    // like carried metadata — that is a signature-width mismatch, not
    // a carried column
    require(!extras.exists(_.matches("sig_\\d+")),
      s"$tableName does not hold k=$k portable minhash signatures " +
        s"(stored width is wider: ${extras.filter(_.matches("sig_\\d+")).mkString(", ")})")
    extras
  }

  def writeMinhashIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tableName: String,
      n: Int = 3,
      k: Int = 8,
      buckets: Int = 16,
      carryCols: Seq[String] = Nil,
      normForm: String = NormForm.Default
  ): Unit = {
    require(buckets > 0)
    NormForm.validate(normForm)
    // carryCols = document metadata stored verbatim on each signature
    // row (lang, source, license …) — the payload
    // [[portableMinhashPairsAgainstIndexWhere]]'s predicate filters
    // against during the banded probe. One row per doc, so there is no
    // denormalization cost at all (unlike the postings index, where a
    // doc's metadata repeats per term)
    require(carryCols.forall(c => !minhashReservedCols(k).contains(c)),
      s"carryCols collide with index columns: " +
        carryCols.filter(minhashReservedCols(k).contains).mkString(", "))
    // the shingle width is part of the signature's identity: stamp it
    // into the stored schema (column metadata on the blocking
    // component) so a query with a different n errors loudly instead
    // of silently never matching. The normalization form rides the
    // same stamp (see [[NormForm]]) — the caller declares what the
    // text was normalized with, probes/appends must declare the same
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft_minhash_n", n.toLong)
      .putString("graft_norm_form", normForm).build()
    val sig = portableMinhashSignatures(docs, idCol, textCol, n, k)
      .withColumnRenamed(idCol, "index_id")
      .withColumn("sig_0", col("sig_0").as("sig_0", meta))
    graft.plans.ScaleJoins.writeBucketed(
      graft.plans.Compaction.withCarried(sig, docs, idCol, "index_id", carryCols),
      tableName, "sig_0", buckets)
    graft.plans.Tombstones.reset(docs.sparkSession, tableName)
  }

  /** Incremental signature-index maintenance: signature an accepted
    * batch and append it to the bucketed index table — the text twin
    * of [[Similarity.appendToIvfSqIndex]], and the step that keeps a
    * perpetual crawl's history index current without rebuilds. The
    * shingle width is validated against the stored schema stamp and
    * the bucket count is read from the catalog, so an append cannot
    * silently diverge from the table's layout. Appends are NOT
    * idempotent under replay (parquet tables have no transactional
    * upsert); a replayed batch re-appends its signature rows, which
    * duplicates emitted PAIRS for those ids downstream but never
    * changes which documents collide — callers needing exact-once
    * bookkeeping deduplicate on (batch_id, index_id).
    */
  def appendToMinhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 8,
      normForm: String = NormForm.Default
  ): Unit = {
    val index = spark.table(tableName)
    minhashCarriedCols(index, tableName, k) // the signature-width check
    val storedMeta = index.schema("sig_0").metadata
    require(storedMeta.contains("graft_minhash_n") &&
      storedMeta.getLong("graft_minhash_n") == n.toLong,
      s"$tableName was built with a different shingle width than n=$n")
    NormForm.check(minhashNormForm(index), normForm, tableName)
    val carried = graft.plans.Compaction.carriedColumns(
      spark, tableName, minhashReservedCols(k), batch)
    // the write's one-row-per-id projection: a duplicated batch id
    // appends one signature row, exactly as a fresh write would
    val sig = portableMinhashSignatures(batch, idCol, textCol, n, k)
      .withColumnRenamed(idCol, "index_id")
    graft.plans.Compaction.appendBucketed(spark, tableName,
      graft.plans.Compaction.withCarried(sig, batch, idCol, "index_id", carried))
  }

  /** Operational telemetry for a materialized signature index — the
    * text twin of [[Similarity.ivfIndexStats]], measured in ONE pass
    * grouped by `sig_0`, the table's bucket column (see
    * [[graft.plans.Tombstones.rowIndexStats]]). Run between ingest
    * epochs; [[isStaleMinhashIndex]] reads it.
    */
  def minhashIndexStats(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String): graft.plans.Tombstones.RowIndexStats =
    graft.plans.Tombstones.rowIndexStats(spark, tableName, "index_id", Seq("sig_0"))

  /** The operational decision API over [[minhashIndexStats]] — parity
    * with [[Similarity.isStaleIvfSqIndex]], with remediation split by
    * which signal fired (the three degrade differently):
    *
    *  - `duplicateFraction > maxDuplicateFraction`: replay residue from
    *    [[appendToMinhashIndex]]'s at-least-once appends has piled up —
    *    wasted index bytes and duplicated emitted pairs. Remediation:
    *    [[graft.plans.Compaction.compactBucketedTable]] — it drops
    *    EXACTLY these rows (distinct through the table's own bucket
    *    spec) and needs no recompute of signatures.
    *  - `bucketSkew > maxBucketSkew`: one `sig_0` blocking value holds
    *    far more than its share — almost always an exact/near-dup
    *    cluster (boilerplate) that entered the corpus, concentrating
    *    join work and pair output on one bucket. Compaction does NOT
    *    clear this (the rows have distinct ids); remediation is to
    *    dedup the corpus (e.g. [[exact]]) and rebuild via
    *    [[writeMinhashIndex]] — or accept the documented fail-open
    *    `maxBucket` cap at query time.
    *  - `tombstoneFraction > maxTombstoneFraction`: collisions stay
    *    exact under tombstones; what degrades is bytes scanned and
    *    stored — run [[purgeMinhashIndex]].
    *
    * Text blocking keys are sparse (mean bucket ≈ 1 row), so the skew
    * default is far looser than the IVF's 4×: a bucket only flags when
    * it holds `maxBucketSkew` × the mean — tighten per corpus from
    * measured bucket-join times.
    */
  def isStaleMinhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      maxDuplicateFraction: Double = 0.25,
      maxBucketSkew: Double = 64.0,
      maxTombstoneFraction: Double = 0.2): Boolean =
    minhashIndexStats(spark, tableName)
      .isStale(maxDuplicateFraction, maxBucketSkew, maxTombstoneFraction)

  /** Delete documents from a materialized signature index — the
    * takedown / PII-purge verb, O(|ids|) however large the index:
    * [[portableMinhashPairsAgainstIndex]] drops the deleted ids from
    * the history side BEFORE the hot-bucket cap, exactly as a rebuilt
    * index would, so collision output after a delete is identical to
    * an index rebuilt without those docs — signatures are per-row,
    * nothing corpus-wide moves. The protocol, physical removal
    * included, is [[graft.plans.Tombstones]].
    *
    * @param ids one-column frame of document ids to remove
    * @return distinct NEW ids actually removed — the takedown receipt
    */
  def deleteFromMinhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      ids: DataFrame): Long =
    graft.plans.Tombstones.delete(spark, tableName, "index_id", ids, spark.table(tableName))

  /** Make signature-index deletions physical — the crash-ordered purge
    * of [[graft.plans.Tombstones]]. The stored shingle-width stamp
    * survives the rewrite (column metadata rides the bucket spec), so
    * appends still validate afterwards.
    *
    * @return (rowsBefore, rowsAfter)
    */
  def purgeMinhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String): (Long, Long) =
    graft.plans.Tombstones.purge(spark, tableName, "index_id", Nil)

  /** Incremental near-dup against a MATERIALIZED index
    * ([[writeMinhashIndex]]): identical output contract to
    * [[portableMinhashPairsAgainst]] — (batch_id, index_id,
    * minhash_est) — but the history side is the persisted signature
    * table, so an ingest epoch pays signatures for the BATCH only.
    *
    * Scale shape: the join key `sig_0` is the index's bucket column,
    * so the (big) index side joins exchange-free while the (small)
    * batch shuffles to it. When the batch's distinct blocking keys fit
    * a literal list (≤ `pruneKeys`), they are additionally pushed as
    * an IN() filter on the bucketed scan — Spark bucket-prunes the
    * read to the touched buckets (`SelectedBucketsCount` in the plan,
    * plan-gated), the same probed-bucket-only shape as
    * [[Similarity.ivfQuantizedTopKFromIndex]]. Larger batches skip the
    * literal (a million-entry IN() is its own problem) and rely on the
    * exchange-free join alone.
    *
    * `k` must match the index's (the signature width is the stored
    * schema — checked); `maxBucket` caps hot index buckets with the
    * usual fail-open contract.
    */
  def portableMinhashPairsAgainstIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 8,
      threshold: Double = 0.5,
      maxBucket: Int = Int.MaxValue,
      pruneKeys: Int = 4096,
      normForm: String = NormForm.Default
  ): DataFrame =
    minhashProbeIndex(spark, tableName, batch, idCol, textCol,
      predicate = None, n, k, threshold, maxBucket, pruneKeys, normForm)

  /** [[portableMinhashPairsAgainstIndex]] restricted to the index rows
    * matching `predicate` over the CARRIED metadata columns
    * ([[writeMinhashIndex]]'s `carryCols`) — the per-language /
    * per-license / per-domain dedup slice, parity with
    * [[TextAnalysis.bm25TopKBatchFromIndexWhere]] and the IVF filtered
    * search. The predicate applies to the index side BEFORE the
    * hot-bucket cap (the cap must see exactly the rows an index
    * rebuilt over the sub-corpus would hold), and it reaches the
    * bucket-pruned scan as a pushed filter — a per-language pass reads
    * the touched buckets' matching rows, never the whole index.
    * Output carries the matched index row's metadata columns after
    * (batch_id, index_id, minhash_est).
    */
  def portableMinhashPairsAgainstIndexWhere(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      predicate: Column,
      n: Int = 3,
      k: Int = 8,
      threshold: Double = 0.5,
      maxBucket: Int = Int.MaxValue,
      pruneKeys: Int = 4096,
      normForm: String = NormForm.Default
  ): DataFrame =
    minhashProbeIndex(spark, tableName, batch, idCol, textCol,
      Some(predicate), n, k, threshold, maxBucket, pruneKeys, normForm)

  private def minhashProbeIndex(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      predicate: Option[Column],
      n: Int,
      k: Int,
      threshold: Double,
      maxBucket: Int,
      pruneKeys: Int,
      normForm: String
  ): DataFrame = {
    val index = spark.table(tableName)
    val carried = minhashCarriedCols(index, tableName, k)
    val storedMeta = index.schema("sig_0").metadata
    require(storedMeta.contains("graft_minhash_n") &&
      storedMeta.getLong("graft_minhash_n") == n.toLong,
      s"$tableName was built with a different shingle width than n=$n — " +
        "signatures from mismatched widths never legitimately match")
    NormForm.check(minhashNormForm(index), normForm, tableName)
    // the unfiltered probe drops the carried payload before the banded
    // join (column pruning reaches the scan); the filtered probe keeps
    // it — the predicate needs it, and the caller gets it back
    val kept = if (predicate.isEmpty) Nil else carried
    val projected = index.select(
      (minhashReservedCols(k) ++ kept).map(col): _*)
    val restricted = predicate match {
      case Some(p) => projected.filter(p)
      case None => projected
    }
    val bSig = org.apache.spark.sql.graftbridge.CacheBridge.persistOnce(
      portableMinhashSignatures(batch, idCol, textCol, n, k),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keys = bSig.select("sig_0").distinct().limit(pruneKeys + 1).collect()
    // tombstones excluded BEFORE the hot-bucket cap: the cap must see
    // the live rows only, exactly as a rebuilt index would — and the
    // metadata restriction sits at the same level for the same reason
    val live = graft.plans.Tombstones.live(spark, tableName, "index_id", restricted)
    val iSig = capBuckets(
      if (keys.length <= pruneKeys)
        live.filter(col("sig_0").isin(keys.map(_.getLong(0)).toIndexedSeq: _*))
      else live,
      Seq("sig_0"), maxBucket)
    val bSide = (1 until k).foldLeft(bSig.withColumnRenamed(idCol, "batch_id")) {
      (d, j) => d.withColumnRenamed(s"sig_$j", s"a_$j")
    }
    val iSide = (1 until k).foldLeft(iSig) {
      (d, j) => d.withColumnRenamed(s"sig_$j", s"b_$j")
    }
    val matches = (1 until k)
      .map(j => when(col(s"a_$j") === col(s"b_$j"), 1).otherwise(0))
      .foldLeft(lit(1): Column)(_ + _)
    bSide.join(iSide, Seq("sig_0"))
      .select(col("batch_id") +: col("index_id") +:
        (matches.cast("double") / k).as("minhash_est") +: kept.map(col): _*)
      .filter(col("minhash_est") >= threshold)
  }

  // ------------------------------------------------- semantic dedup

  /** SemDeDup-style semantic deduplication: cluster embeddings with the
    * deterministic IVF quantizer ([[Similarity.ivfAssign]]'s argmax-
    * cosine assignment over `nClusters` hash-sampled centroids), then
    * drop every vector that has a LOWER-id cluster-mate with cosine >=
    * `threshold`. Near-duplicate *meaning* — paraphrases, templated
    * rewrites, re-crawls — collapses to one representative per cluster
    * neighborhood, the step text-level dedup (exact/minhash/simhash)
    * cannot do.
    *
    * The within-cluster pairing is an equi-join on the cluster id, so
    * the all-pairs comparison never crosses clusters: cost is
    * sum(c_i^2) over cluster sizes, not n^2. At 100 TB, `nClusters`
    * scales with the corpus (SemDeDup uses ~50k) to keep every c_i
    * bounded, and `maxCluster` is the hard backstop: clusters above it
    * are exempted from pairing (kept verbatim) rather than allowed to
    * go quadratic — the same fail-open contract as [[capBuckets]].
    *
    * With `portableCentroids` the centroid sample uses the Knuth
    * multiplicative hash ([[Corpus.portableHash]]) so the ENTIRE
    * pipeline — centroid pick, assignment, pair cosines, drop set — is
    * reproducible in ANSI SQL; the default xxhash64 sample is the
    * throughput variant.
    *
    * Output: the survivors — (id, list) rows, one per kept vector, with
    * the cluster id that justified its survival.
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nClusters: Int = 16,
      threshold: Double = 0.8,
      portableCentroids: Boolean = false,
      maxCluster: Int = Int.MaxValue
  ): DataFrame = {
    require(nClusters > 0, "nClusters must be positive")
    val assigned = Similarity
      .assignForDedup(df.select(col(idCol), col(vecCol)), idCol, vecCol,
        nClusters, portableCentroids)
      .select(col("neighbor_id").as("__id"), col("__cv"), col("__cn"), col("__list"))
    val paired =
      if (maxCluster == Int.MaxValue) assigned
      else {
        val sizes = assigned.groupBy("__list").agg(count(lit(1)).as("__csz"))
        assigned.join(sizes, Seq("__list")).filter(col("__csz") <= maxCluster)
          .drop("__csz")
      }
    val a = paired.select(col("__list"), col("__id").as("id_a"),
      col("__cv").as("__va"), col("__cn").as("__na"))
    val b = paired.select(col("__list"), col("__id").as("id_b"),
      col("__cv").as("__vb"), col("__cn").as("__nb"))
    val dropSet = a.join(b, Seq("__list"))
      .filter(col("id_a") < col("id_b"))
      .filter(
        when(col("__na") * col("__nb") === 0.0, lit(0.0))
          .otherwise(VectorFunctions.dot(col("__va"), col("__vb")) /
            (col("__na") * col("__nb"))) >= threshold)
      .select(col("id_b").as("__drop"))
      .distinct()
    assigned
      .join(dropSet, assigned("__id") === dropSet("__drop"), "left_anti")
      .select(col("__id").as(idCol), col("__list").as("list"))
  }
}
