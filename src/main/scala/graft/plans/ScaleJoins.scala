package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Join strategies for 100 TB workloads — the two cases where Catalyst's
  * default shuffle-hash/sort-merge plan is the bottleneck:
  *
  *  - **Bucketing** ([[writeBucketed]]): pre-shuffle both fact tables once
  *    at write time; every later equi-join on the bucket key is
  *    exchange-free. The shuffle you'd pay per query is paid once per
  *    ingest.
  *  - **Salting** ([[saltedJoin]]): a hot key floods one reducer in a
  *    shuffle join. Spreading the large side over `saltBuckets`
  *    sub-partitions and replicating the small side restores balance.
  *    (AQE's skew-join split handles moderate skew automatically; salting
  *    is for the pathological key that AQE can't subdivide — e.g. a
  *    single null-ish join key that is 30% of the table.)
  */
object ScaleJoins {

  /** Width floor for a COMPUTE-BOUND stage over a narrow source (guide
    * §2.2: scan parallelism derives from input BYTES, so a small file
    * feeding a heavy per-row kernel runs the whole kernel in a handful
    * of tasks while the session's other cores idle; parquet row-group
    * granularity means `files.maxPartitionBytes`/`minPartitionNum`
    * cannot split it further). When the optimizer's size estimate says
    * the source cannot reach even half the session's core count at the
    * configured split size, insert ONE round-robin exchange up to core
    * width; otherwise return `df` untouched.
    *
    * Scale-adaptive by construction: the trigger compares input size
    * against `cores × maxPartitionBytes`, so any input big enough to
    * parallelize on its own (every 100 TB table) passes through with NO
    * added exchange, and when the exchange fires its bytes are bounded
    * by that same product. Correctness-neutral: downstream kernels are
    * deterministic per row and feed key-partitioned aggregates/joins,
    * so row placement cannot change results (sort-before-repartition
    * keeps the placement retry-deterministic).
    *
    * Apply ONLY where the per-row kernel measurably dominates the
    * exchange's serialization: the r20 round measured this a WIN on the
    * quantized-ANN phase-1 scan (narrow vector rows, heavy per-row
    * scoring) and a LOSS on the clustered-write path (wide lineitem
    * rows — the exchange's full-row serialization exceeded the curve
    * compute it parallelized) and a wash on the shingle kernels.
    */
  def widenNarrowInput(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val splitBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est < BigInt(splitBytes) * math.max(1L, cores / 2L)) df.repartition(cores)
    else df
  }

  /** Persist `df` as a bucketed+sorted table. Joins between two tables
    * bucketed on the same key with the same bucket count need no
    * exchange and no sort.
    */
  def writeBucketed(
      df: DataFrame,
      tableName: String,
      bucketCol: String,
      buckets: Int
  ): Unit =
    df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(tableName)

  /** Skew-resistant equi-join: the (large, skewed) side gets a random-ish
    * but *deterministic* salt derived from row content; the small side is
    * replicated `saltBuckets` times. Join key becomes (key, salt), so the
    * hot key's rows spread over `saltBuckets` reducers.
    *
    * @param large      skewed big side
    * @param small      replicable side (≤ broadcast-ish size × saltBuckets)
    * @param key        equi-join column present on both sides
    * @param saltBuckets fan-out factor for hot keys
    */
  def saltedJoin(
      large: DataFrame,
      small: DataFrame,
      key: String,
      saltBuckets: Int,
      joinType: String = "inner"
  ): DataFrame = {
    require(saltBuckets > 0)
    // deterministic salt: hash of the whole row spreads a hot key's rows
    // uniformly without RNG (reproducible plans, stable retries)
    val salted = large.withColumn("__salt",
      pmod(xxhash64(struct(large.columns.map(col).toIndexedSeq: _*)), lit(saltBuckets)))
    val replicated = small
      .withColumn("__salt", explode(sequence(lit(0), lit(saltBuckets - 1))))
      .withColumn("__salt", col("__salt").cast("long"))
    salted
      .join(replicated, Seq(key, "__salt"), joinType)
      .drop("__salt")
  }

  /** Heavy-key certificate for [[sketchSaltedJoin]]: every key whose
    * true row count in `df` reaches `hotThreshold` is returned — the
    * Misra–Gries bound `est ≤ true ≤ est + err` means a qualifying key
    * always satisfies `est + err ≥ hotThreshold`, so filtering on the
    * certificate's upper side has NO false negatives AMONG SURVIVING
    * KEYS; a key decremented out of the sketch entirely hides at most
    * `err` true rows, so the full no-false-negative claim additionally
    * needs `err < hotThreshold` — pick `m ≥ n / hotThreshold` (MG
    * keeps every key with count > n/(m+1)) and
    * [[sketchSaltedJoin]] enforces the err condition at run time,
    * degrading to full salting when the sketch cannot certify. The
    * price is at most m near-threshold false positives (keys salted
    * without needing it, which costs a little replication, never
    * correctness).
    *
    * One bounded-state corpus pass: O(m) aggregate state with map-side
    * partials — the scan a full `groupBy(key).count()` would turn into
    * a shuffle of every distinct key.
    */
  def hotKeys(df: DataFrame, key: String, hotThreshold: Long, m: Int): DataFrame = {
    require(hotThreshold > 0 && m >= 1)
    df.select(col(key).cast("string").as("__k"))
      .filter(col("__k").isNotNull)
      .groupBy()
      .agg(graft.functions.MgSketchExpression.mgSketch(col("__k"), m).as("__sk"))
      .select(col("__sk.err").as("err"), explode(col("__sk.items")).as("__it"))
      .select(col("__it.term").as("hot_key"), col("__it.est").as("est"), col("err"))
      .filter(col("est") + col("err") >= hotThreshold)
  }

  /** `large` with a `__salt` column: hot keys spread over
    * `saltBuckets` deterministic content-hash salts, every other key
    * pinned to salt 0 — the assignment half of [[sketchSaltedJoin]],
    * split out so the spread is testable.
    */
  private[plans] def saltAssign(
      large: DataFrame, key: String, hotLit: Column, saltBuckets: Int): DataFrame =
    large.withColumn("__salt",
      when(array_contains(hotLit, col(key).cast("string")),
        pmod(xxhash64(struct(large.columns.map(col).toIndexedSeq: _*)), lit(saltBuckets)))
        .otherwise(lit(0L)))

  /** Sketch-driven adaptive salting: [[saltedJoin]] replicates the
    * WHOLE small side `saltBuckets`× — fine for a dimension table,
    * pure waste for the 99% of keys that were never skewed. Here a
    * Misra–Gries pass certifies the hot keys first ([[hotKeys]] — no
    * false negatives), and only those are salted: hot large-side rows
    * spread over `saltBuckets` reducers, hot small-side rows replicate
    * `saltBuckets`×, and every cold key joins exactly as before on
    * salt 0. Small-side inflation drops from |small| × saltBuckets to
    * |hot| × saltBuckets with |hot| ≤ m — bounded by the sketch, not
    * by the key domain.
    *
    * The hot set rides the plan as a ≤ m-element literal (bounded by
    * construction — the centroid-literal pattern). The join RESULT is
    * identical to the unsalted join for inner/left shapes whatever the
    * hot set contains — the sketch tunes the partitioning, never the
    * semantics — which is what the cross-engine gate pins. Right/full
    * outer are rejected: an unmatched replicated small-side row would
    * null-extend once per salt.
    */
  def sketchSaltedJoin(
      large: DataFrame,
      small: DataFrame,
      key: String,
      saltBuckets: Int,
      hotThreshold: Long,
      m: Int = 256,
      joinType: String = "inner"
  ): DataFrame = {
    require(saltBuckets > 0 && hotThreshold > 0 && m >= 1)
    val jt = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti").contains(jt),
      s"sketchSaltedJoin supports inner/left join shapes, got $joinType")
    val (err, hot) = collectHotKeys(large, key, hotThreshold, m)
    if (err >= hotThreshold)
      return saltedJoin(large, small, key, saltBuckets, joinType)
    if (hot.isEmpty) return large.join(small, Seq(key), joinType)
    sketchSaltedJoinWith(large, small, key, saltBuckets, hot, joinType)
  }

  /** ONE bounded collect of the whole MG sketch (≤ m items + the err
    * budget): the hot filter needs the items, and the SOUNDNESS check
    * needs err — a key ABSENT from the sketch can still hide up to
    * `err` true rows (MG undercounts by at most err), so the
    * "every key at the threshold gets salted" certificate only holds
    * while err < hotThreshold. Past that the sketch cannot clear any
    * cold key, and the only safe answer is the full salting of
    * [[saltedJoin]] — graceful degradation (more small-side
    * replication), never a silently-unsalted straggler. Keep
    * m ≥ rows/hotThreshold to stay on the adaptive path. Shared by
    * [[sketchSaltedJoin]] and [[adaptiveJoin]], so the two pay the
    * corpus pass once each, never twice per call.
    */
  private def collectHotKeys(
      large: DataFrame, key: String, hotThreshold: Long, m: Int
  ): (Long, Seq[String]) = {
    val skRow = large.select(col(key).cast("string").as("__k"))
      .filter(col("__k").isNotNull)
      .groupBy()
      .agg(graft.functions.MgSketchExpression.mgSketch(col("__k"), m).as("__sk"))
      .select(col("__sk.err"), col("__sk.items"))
      .collect()
    val err = if (skRow.isEmpty) 0L else skRow.head.getLong(0)
    val hot: Seq[String] =
      if (skRow.isEmpty) Nil
      else skRow.head.getSeq[org.apache.spark.sql.Row](1)
        .filter(it => it.getLong(1) + err >= hotThreshold)
        .map(_.getString(0))
    (err, hot)
  }

  /** The join half of [[sketchSaltedJoin]], with the certified hot set
    * already in hand.
    */
  private def sketchSaltedJoinWith(
      large: DataFrame,
      small: DataFrame,
      key: String,
      saltBuckets: Int,
      hot: Seq[String],
      joinType: String
  ): DataFrame = {
    val hotLit = typedlit(hot)
    val replicated = small.withColumn("__salt",
      explode(when(array_contains(hotLit, col(key).cast("string")),
        sequence(lit(0L), lit((saltBuckets - 1).toLong)))
        .otherwise(array(lit(0L)))))
    saltAssign(large, key, hotLit, saltBuckets)
      .join(replicated, Seq(key, "__salt"), joinType)
      .drop("__salt")
  }

  /** Bloom bit WORDS of the small side's join keys: k affine positions
    * per key over `mBits` bits, OR-reduced into ⌈mBits/64⌉ longs — a
    * semi-join reduction artifact bounded by mBits/8 bytes no matter
    * how many rows the build side has (2²⁰ bits = 128 KB). Built
    * distributed: one explode + one `bit_or` aggregate grouped by word
    * index (≤ mBits/64 rows collected), never a driver fold over keys.
    * Build once, prefilter MANY probe sides — the cross-query reuse
    * Catalyst's own runtime filters can't give you.
    */
  def keyBloomWords(
      small: DataFrame, key: String, mBits: Int, kHashes: Int): Array[Long] = {
    require(mBits >= 64 && mBits % 64 == 0 && kHashes >= 1 && kHashes <= 16)
    val nWords = mBits / 64
    // the affine positions multiply the hash by small constants, so the
    // hash must be range-clamped first — a raw 64-bit xxhash64 would
    // overflow the ANSI multiply
    val rows = small
      .filter(col(key).isNotNull)
      .select(pmod(xxhash64(col(key).cast("string")), lit(2147483647L)).as("__h"))
      .select(explode(array((0 until kHashes).map(i =>
        pmod(col("__h") * lit(2L * i + 3) + lit(97L * i + 1), lit(mBits.toLong))): _*))
        .as("__pos"))
      .groupBy((col("__pos") / 64).cast("int").as("__w"))
      .agg(bit_or(call_function("shiftleft",
          lit(1L), pmod(col("__pos"), lit(64L)).cast("int"))).as("__bits"))
      .collect() // ≤ mBits/64 rows by construction
    val words = new Array[Long](nWords)
    rows.foreach(r => words(r.getInt(0)) = r.getLong(1))
    words
  }

  /** Probe-side reduction against [[keyBloomWords]]: keep only rows
    * whose key's k bit positions are ALL set — a pure per-row filter
    * on a literal word array (no join, no shuffle, plan-gated), so at
    * 100 TB the reduction happens IN THE SCAN STAGE before any
    * exchange. No false negatives by construction (build and probe
    * share the hash family verbatim), so `filter → real join` returns
    * EXACTLY the plain join; false positives only cost shuffled bytes.
    * Null keys are kept — the downstream join owns null semantics.
    */
  def bloomPrefilter(
      large: DataFrame, key: String, words: Array[Long], kHashes: Int): DataFrame = {
    val mBits = words.length * 64L
    val wordsLit = typedlit(words.toSeq)
    val h = pmod(xxhash64(col(key).cast("string")), lit(2147483647L))
    val hit = (0 until kHashes).map { i =>
      val pos = pmod(h * lit(2L * i + 3) + lit(97L * i + 1), lit(mBits))
      (call_function("shiftright",
        element_at(wordsLit, (pos / 64).cast("int") + 1),
        pmod(pos, lit(64L)).cast("int")) bitwiseAND lit(1L)) === lit(1L)
    }.reduce(_ && _)
    large.filter(col(key).isNull || hit)
  }

  /** Bloom-reduced equi-join: build the bit words from the small side,
    * prefilter the large side in its scan stage, then run the REAL
    * join — result exactly equals the plain join (the prefilter has no
    * false negatives; false positives drop in the join), with the
    * shuffle carrying only the ~matching fraction of the large side.
    * This is the explicit, reusable form of the bloom runtime filter:
    * when one dimension screens many fact scans (a crawl pipeline
    * joining every epoch against the same allowlist), build
    * [[keyBloomWords]] once and [[bloomPrefilter]] each epoch instead.
    * Inner/left-semi only: shapes that must KEEP unmatched large rows
    * (left outer/anti) cannot prefilter the probe side.
    */
  def bloomFilteredJoin(
      large: DataFrame,
      small: DataFrame,
      key: String,
      mBits: Int = 1 << 20,
      kHashes: Int = 5,
      joinType: String = "inner"
  ): DataFrame = {
    val jt = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "leftsemi").contains(jt),
      s"bloomFilteredJoin supports inner/left_semi, got $joinType " +
        "(outer shapes must keep unmatched probe rows)")
    bloomPrefilter(large, key, keyBloomWords(small, key, mBits, kHashes), kHashes)
      .join(small, Seq(key), joinType)
  }

  /** What [[adaptiveJoin]] decided and why — the measured inputs
    * beside the chosen arm, so a pipeline can log/alert on its join
    * plans instead of discovering them in a post-mortem.
    */
  final case class JoinDecision(
      strategy: String, // broadcast | shuffle | salted
      estDistinctLarge: Long,
      estDistinctSmall: Long,
      estOverlap: Long,
      hotKeyCount: Int)

  final case class AdaptiveJoinResult(df: DataFrame, decision: JoinDecision)

  /** Sketch-driven join PLANNING — the consumer of
    * [[graft.operators.Sketches.kmvKeyOverlap]]'s estimates: before
    * committing 100 TB to an exchange, two O(k)-state KMV passes and
    * (when needed) one O(m)-state MG pass decide the join arm:
    *
    *  - **skip**: estimated distinct-key overlap below `minOverlap` —
    *    the join would match (almost) nothing; fail with a NAMED error
    *    rather than burn a full shuffle discovering it. An estimate
    *    can be wrong, so this is a guardrail with an explicit
    *    threshold the caller sets (0 disables it), not silent
    *    behavior.
    *  - **broadcast**: the small side's estimated distinct keys fit
    *    under `broadcastMaxDistinct` — hint `broadcast(small)` and
    *    skip both the shuffle and the skew question entirely.
    *  - **salted**: an MG pass certifies hot keys at `hotThreshold`
    *    (or cannot clear any — err ≥ threshold) — ride
    *    [[sketchSaltedJoin]]'s machinery with the sketch ALREADY
    *    collected (the pass is never paid twice).
    *  - **shuffle**: no skew certified — the plain equi-join, letting
    *    Catalyst/AQE plan the exchange.
    *
    * The join RESULT is identical across arms for the supported
    * inner/left shapes (the sketches tune distribution, never
    * semantics) — the cross-engine gate pins that. The decision inputs
    * ride the returned plan as an `observe()` named
    * `graft-adaptive-join-*`, so the numbers land in the listener
    * metrics of whatever action the caller finally runs, and the
    * decision itself returns in [[AdaptiveJoinResult]].
    */
  def adaptiveJoin(
      large: DataFrame,
      small: DataFrame,
      key: String,
      broadcastMaxDistinct: Long,
      hotThreshold: Long,
      minOverlap: Long = 1L,
      saltBuckets: Int = 8,
      k: Int = 1024,
      m: Int = 256,
      joinType: String = "inner"
  ): AdaptiveJoinResult = {
    require(broadcastMaxDistinct >= 0 && hotThreshold > 0 && minOverlap >= 0)
    require(saltBuckets > 0 && k > 0 && m >= 1)
    val jt = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti").contains(jt),
      s"adaptiveJoin supports inner/left join shapes, got $joinType")
    val est = graft.operators.Sketches.kmvKeyOverlap(large, key, small, key, k)
      .collect()(0) // one row by construction
    val dLarge = est.getAs[Long]("est_distinct_a")
    val dSmall = est.getAs[Long]("est_distinct_b")
    val overlap = est.getAs[Long]("est_overlap")
    // The doomed-join screen applies to MATCH-producing shapes only:
    // for left_anti (and plain left) zero overlap is a legitimate,
    // often-expected answer — "no blocklisted key present" must keep
    // everything, not throw. Inner/semi joins with ~zero overlap
    // produce ~nothing, which is the mistake the screen exists to name.
    val overlapGuarded = jt == "inner" || jt == "leftsemi"
    if (overlapGuarded && overlap < minOverlap)
      throw new IllegalStateException(
        s"adaptiveJoin: estimated distinct-key overlap $overlap is below " +
          s"minOverlap $minOverlap (large ≈ $dLarge keys, small ≈ $dSmall) — " +
          "the join would match almost nothing; verify the key columns " +
          "or lower minOverlap to force the join")
    val (strategy, hotCount, joined) =
      if (dSmall <= broadcastMaxDistinct)
        ("broadcast", 0, large.join(broadcast(small), Seq(key), joinType))
      else {
        val (err, hot) = collectHotKeys(large, key, hotThreshold, m)
        if (err >= hotThreshold)
          ("salted", hot.size, saltedJoin(large, small, key, saltBuckets, joinType))
        else if (hot.nonEmpty)
          ("salted", hot.size,
            sketchSaltedJoinWith(large, small, key, saltBuckets, hot, joinType))
        else ("shuffle", 0, large.join(small, Seq(key), joinType))
      }
    val obs = org.apache.spark.sql.Observation(
      s"graft-adaptive-join-${java.util.UUID.randomUUID()}")
    val decision = JoinDecision(strategy, dLarge, dSmall, overlap, hotCount)
    AdaptiveJoinResult(
      joined.observe(obs,
        max(lit(strategy)).as("strategy"),
        max(lit(dLarge)).as("est_distinct_large"),
        max(lit(dSmall)).as("est_distinct_small"),
        max(lit(overlap)).as("est_overlap"),
        max(lit(hotCount)).as("hot_key_count")),
      decision)
  }
}
