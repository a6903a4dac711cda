package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import org.apache.spark.sql.graftbridge.CacheBridge

import graft.operators.{Corpus, Dedup, Multimodal, NormForm, TextAnalysis}

/** Streaming corpus ingest — the training-data pipeline's cleaning
  * stages (quality gate → content dedup → per-source rollup) run
  * continuously over arriving documents instead of as batch re-sweeps.
  * New crawl output lands in a directory; each micro-batch is filtered,
  * deduplicated against the watermark horizon, and accounted, with
  * exactly-once delivery through the same idempotent `batch=<id>` sink
  * as [[IncrementalSync]].
  *
  * The batch twin of the clean stage is
  * `filter(qualityScore >= min)` ∘ [[Dedup.exact]]: the streaming path
  * must keep the same deduplicated CONTENT set (kept fingerprints are
  * deterministic; which arriving row represents a set is
  * arrival-ordered, the streaming analog of keep-first). The spec
  * gates that equivalence on fixture data.
  *
  * At 100 TB/day the state store only ever holds fingerprints inside
  * the watermark — dedup state is bounded by ingest rate × horizon,
  * not corpus size, which is exactly the property a perpetual crawler
  * needs (full-history dedup is a periodic batch job with
  * [[Dedup.exact]]; the stream handles the near-horizon repeats that
  * dominate crawl traffic).
  *
  * EPOCH SINK — the contract every `start*` verb here and
  * [[IncrementalSync.start]] share, provided in one place; each verb's
  * doc states only its own per-epoch work:
  *  - SENTINEL: a flat destination gets an empty schema-bearing
  *    `batch=-1` directory at start, so a stream whose batches are all
  *    empty (or have zero survivors) still leaves a readable empty
  *    dataset. [[startClustered]]'s z-order layout gets none.
  *  - EMPTY GUARD: an empty micro-batch (watermark advance, a quiet
  *    period) does no work at all — no write, no index probe, no
  *    append.
  *  - REPLAY: a non-empty micro-batch lands as `batch=<id>` with
  *    overwrite; Structured Streaming replays a crashed epoch (crash
  *    between the write and the offset commit) under the same id, so
  *    the replay replaces its own directory instead of duplicating
  *    rows.
  *  - OWNER REFRESH: every catalog table an epoch writes (an index and
  *    its side tables, a moments table) is refreshed after the epoch
  *    in the session that STARTED the stream, so that session reads
  *    post-epoch state with no table refresh of its own. Any other
  *    session still refreshes before reading behind the stream.
  */
object CorpusIngest {

  /** File stream over a documents directory. Schema is taken from a
    * one-off batch read; documents must carry an `ingest_time`
    * timestamp (crawl/landing time). Static corpora being replayed can
    * stamp a deterministic one (the spec derives it from `doc_id`).
    */
  def documentsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    require(schema.fieldNames.contains("ingest_time"),
      "documents stream needs an ingest_time timestamp column")
    spark.readStream.schema(schema).parquet(dir)
  }

  /** Quality gate + watermarked exact content dedup. A document passes
    * if its heuristic quality clears `minQuality`; of identical texts
    * arriving within the watermark horizon, ONE survives (which arrival
    * represents the set is micro-batch-order-dependent; the kept
    * CONTENT set is deterministic). State: one fingerprint per kept
    * document inside the horizon.
    *
    * The watermark is declared on the RAW stream, before the quality
    * filter — event time must advance on everything that arrives, or a
    * stretch of low-quality traffic would stall window closure for the
    * downstream rollup.
    */
  def clean(
      docs: DataFrame,
      minQuality: Double,
      watermark: String = "1 hour"
  ): DataFrame =
    docs
      .withWatermark("ingest_time", watermark)
      .filter(TextAnalysis.qualityScore(col("text")) >= minQuality)
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .dropDuplicatesWithinWatermark("fp")

  /** Windowed per-source accounting over the cleaned stream: documents
    * and whitespace tokens per (window, source) — the live ingest
    * dashboard numbers. Append-mode compatible (watermarked window).
    */
  def sourceRollup(
      cleaned: DataFrame,
      window: String = "1 hour"
  ): DataFrame =
    cleaned
      .groupBy(org.apache.spark.sql.functions.window(col("ingest_time"), window),
        col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("n_tokens"))

  /** Windowed distinct-vocabulary estimate over the cleaned stream: a
    * KMV sketch per (window, source) — the "is this source suddenly
    * repeating itself" live signal next to [[sourceRollup]]'s volume
    * counts. The custom bounded aggregate
    * ([[graft.functions.KmvSketchExpression]]) rides the streaming
    * state store with O(k) state per open group — distinct-token state
    * NEVER grows with ingest volume, only with windows × sources — and
    * because the sketch is order-insensitive (k smallest distinct
    * hashes, a set property), the emitted closed windows equal the
    * batch twin exactly, whatever order micro-batches replayed in.
    * Append-mode compatible (watermarked window).
    */
  def vocabRollup(
      cleaned: DataFrame,
      window: String = "1 hour",
      k: Int = 64
  ): DataFrame =
    cleaned
      .select(col("ingest_time"), col("source"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("__tok"))
      .groupBy(org.apache.spark.sql.functions.window(col("ingest_time"), window),
        col("source"))
      .agg(graft.functions.KmvSketchExpression.kmvSketch(
        graft.operators.Sketches.tokenHash(col("__tok")), k).as("__sketch"))
      .select(col("window"), col("source"),
        graft.operators.Sketches.kmvEstimate(col("__sketch"), k)
          .as("est_distinct_tokens"),
        size(col("__sketch")).cast("long").as("sketch_size"))

  /** Windowed heavy-hitter terms per (window, source): the Misra–Gries
    * sketch ([[graft.functions.MgSketchExpression]]) rides the
    * streaming state store with O(m) counters per open group — "which
    * tokens dominate this source right now" next to [[vocabRollup]]'s
    * distinct estimate, with term-frequency state that never grows
    * with ingest volume. Unlike KMV (a set property, replay-order
    * free), MG estimates are order-dependent once decrements fire, so
    * the determinism claim splits by regime: with m ≥ the window's
    * distinct tokens no decrement fires and closed windows equal the
    * batch twin EXACTLY (`err = 0`); below that, the emitted rows are
    * replay-dependent but every one carries the sound certificate
    * `est ≤ true ≤ est + err` — the spec gates both regimes.
    * Append-mode compatible (watermarked window); one row per
    * surviving counter.
    */
  def topTermsRollup(
      cleaned: DataFrame,
      window: String = "1 hour",
      m: Int = 256
  ): DataFrame =
    cleaned
      .select(col("ingest_time"), col("source"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("__tok"))
      .groupBy(org.apache.spark.sql.functions.window(col("ingest_time"), window),
        col("source"))
      .agg(graft.functions.MgSketchExpression.mgSketch(col("__tok"), m).as("__sk"))
      .select(col("window"), col("source"),
        col("__sk.err").as("err"),
        explode(col("__sk.items")).as("__it"))
      .select(col("window"), col("source"),
        col("__it.term").as("term"),
        col("__it.est").as("est"),
        col("err"))

  /** Windowed count–min matrix per (window, source): the third sketch
    * through the state store — [[vocabRollup]] estimates how many
    * distinct tokens, [[topTermsRollup]] which dominate, this one
    * answers "how often did THIS term occur" for ANY term probed after
    * the fact ([[graft.operators.Sketches.cmEstimate]] over the
    * emitted matrix). State per open group is the fixed d×w counter
    * matrix — never grows with ingest volume — and the sketch is pure
    * addition (order-insensitive like KMV, unlike MG's decrements), so
    * closed windows equal the batch twin EXACTLY whatever order
    * micro-batches replayed in. Append-mode compatible (watermarked
    * window).
    */
  def termFrequencyRollup(
      cleaned: DataFrame,
      window: String = "1 hour",
      w: Int = 64,
      d: Int = 4
  ): DataFrame =
    cleaned
      .select(col("ingest_time"), col("source"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .groupBy(org.apache.spark.sql.functions.window(col("ingest_time"), window),
        col("source"))
      .agg(graft.functions.CmSketchExpression.cmSketch(
        graft.functions.KrHashExpression.krHash(col("__tok")), lit(1L), w, d)
        .as("cm_sketch"))

  /** Windowed document-length quantile sketch per (window, source):
    * the fourth sketch through the state store — after how-many-
    * distinct ([[vocabRollup]]), which-dominate ([[topTermsRollup]])
    * and how-often ([[termFrequencyRollup]]), this one carries the
    * SHAPE of each window's length distribution
    * ([[graft.functions.QuantileSketchExpression]]): O(c·log) weighted
    * items per open group, never the window's row count. Emitted
    * sketches merge associatively downstream (hour → day → epoch
    * rollups without revisiting data) and read out via the exact
    * integer rank selection of
    * [[graft.operators.Sketches.sketchQuantiles]]'s arithmetic.
    * Determinism splits by regime exactly like MG: with c above the
    * window's row count nothing compacts and closed windows equal the
    * batch twin EXACTLY; once compaction fires the surviving items are
    * replay-dependent but total mass is conserved and the carried
    * `err` certificate stays sound under any replay order. Append-mode
    * compatible (watermarked window).
    */
  def lengthQuantilesRollup(
      cleaned: DataFrame,
      window: String = "1 hour",
      c: Int = 256
  ): DataFrame =
    cleaned
      .select(col("ingest_time"), col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("__len"))
      .groupBy(org.apache.spark.sql.functions.window(col("ingest_time"), window),
        col("source"))
      .agg(graft.functions.QuantileSketchExpression
        .quantileSketch(col("__len"), c).as("qs_sketch"))
      .select(col("window"), col("source"), col("qs_sketch"),
        aggregate(col("qs_sketch.items"), lit(0L), (a, it) => a + it.getField("w"))
          .as("n_mass"))

  /** Start the ingest: cleaned rows land in `destDir` through the epoch
    * sink (object doc) — exactly [[IncrementalSync.start]].
    */
  def start(
      cleaned: DataFrame,
      destDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    IncrementalSync.start(cleaned, destDir, checkpointDir, trigger)

  /** The per-epoch decontamination audit log as ONE frame, schema-
    * merged: epochs written before the semantic screen existed lack
    * `flagged_semantic`, and a stream resumed over such a dest dir
    * mixes both schemas under the same glob. mergeSchema unions the
    * footers and null-fills the absent column — a bare parquet read
    * can silently drop it depending on which footer Spark samples.
    */
  def decontamLog(spark: SparkSession, destDir: String): DataFrame =
    auditLog(spark, destDir, "decontam")

  /** [[decontamLog]] for the curated funnel's per-epoch audit
    * (`contaminated_semantic` is the r17-added column there).
    */
  def curateLog(spark: SparkSession, destDir: String): DataFrame =
    auditLog(spark, destDir, "curate")

  /** [[start]] composed with the persisted benchmark bloom index
    * ([[graft.operators.Corpus.bloomDecontaminationFromIndex]]):
    * every micro-batch probes the stored bit roster and CONTAMINATED
    * documents are dropped before the epoch lands — benchmark overlap
    * never reaches the training corpus, instead of being re-filtered
    * at every downstream read. The flags are exact modular arithmetic
    * over the batch, so a replayed epoch recomputes the same survivor
    * set and the epoch sink's replay contract (object doc) holds
    * unchanged.
    *
    * Each epoch also lands a one-row audit record at
    * `<destDir>_decontam_log/batch=<id>` (docs in, docs dropped, and
    * the semantic screen's flag count when that arm is on) —
    * overwrite-idempotent like the data epoch, so the log never
    * double-counts a replay. SCHEMA MIGRATION: `flagged_semantic` was
    * added with the semantic arm (r17); a stream resumed over an older
    * dest dir leaves mixed-schema epochs under one glob — read the log
    * through [[decontamLog]] (mergeSchema), not a bare parquet read. Appending a NEW eval suite to the bloom
    * index mid-stream takes effect from the next micro-batch — the
    * roster is re-read per epoch, which is the point of serving it
    * from a table instead of a captured broadcast.
    */
  def startDecontaminated(
      cleaned: DataFrame,
      destDir: String,
      checkpointDir: String,
      idCol: String,
      textCol: String,
      bloomTable: String,
      embeddingTable: Option[String] = None,
      embVecCol: String = "embedding",
      embThreshold: Double = 0.90,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery = {
    // The SEMANTIC arm: when `embeddingTable` names a persisted
    // embedding-band index ([[graft.operators.Corpus.writeEmbeddingBandIndex]]),
    // each micro-batch also bands its `embVecCol` vectors against the
    // stored benchmark rows and exact-cosine-verified hits ≥
    // `embThreshold` drop alongside the lexical flags — paraphrase-level
    // benchmark leakage the n-gram bloom screen structurally misses
    // (same wording test: reworded PII or eval items share embeddings,
    // not shingles). Same per-epoch re-read contract as the bloom
    // roster: a suite appended mid-stream
    // ([[graft.operators.Corpus.appendToEmbeddingBandIndex]]) gates
    // from the NEXT micro-batch. Both screens are deterministic over
    // the batch, so the replay contract is unchanged.
    val semScreen = semanticFlags(cleaned, embeddingTable, idCol, embVecCol, embThreshold)
    EpochSink.startFlat(cleaned, destDir, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      // the flag passes scan the batch several times (flags +
      // anti-join); pin it so the epoch isn't recomputed
      batch.persist()
      try {
        val lexFlagged = bloomFlags(batch, idCol, textCol, bloomTable, NormForm.Default)
        val semFlagged = semScreen.map(_(batch))
        val flagged = semFlagged
          .map(lexFlagged.unionByName(_)).getOrElse(lexFlagged)
        EpochSink.land(batch.join(flagged, Seq(idCol), "left_anti"), destDir, batchId)
        val nIn = batch.count()
        val nOut = spark.read.parquet(s"$destDir/batch=$batchId").count()
        // per-screen accounting beside the total: semantic hits can
        // overlap lexical ones, so the columns are flag counts, not
        // a partition of docs_dropped
        val nSem = semFlagged.map(_.distinct().count()).getOrElse(0L)
        writeAudit(spark, destDir, "decontam", batchId,
          "docs_in" -> nIn, "docs_dropped" -> (nIn - nOut), "flagged_semantic" -> nSem)
      } finally batch.unpersist()
      Nil
    }
  }

  /** [[start]] with CLUSTERED epochs — the perpetual crawler composed
    * with the z-order lifecycle, closing the gap where a stream
    * accumulates unclustered `batch=` directories until someone
    * manually reclusters: the FIRST non-empty micro-batch establishes
    * the layout contract at `destDir`
    * ([[graft.plans.ZOrder.zorderInit]] — boundaries sketched from
    * that epoch, the best view of the distribution the stream has),
    * and every epoch then lands curve-clustered in its own
    * overwrite-idempotent `batch=<id>` directory
    * ([[graft.plans.ZOrder.zorderAppendEpoch]] — same replay contract
    * as the flat sink, so a crashed-and-replayed micro-batch
    * overwrites its own epoch instead of duplicating rows). The
    * destination is a z-order layout, not a flat one, so it gets no
    * `batch=-1` sentinel.
    *
    * Operations between epochs: [[graft.plans.ZOrder.isStaleZorder]]
    * reads the accumulated file-coverage/drift,
    * [[graft.plans.ZOrder.reclusterZorderEpochs]] collapses the epochs
    * into one fresh layout through the crash-safe staged swap — the
    * stream keeps appending `batch=<id>` afterwards, readers never see
    * a partial layout. The lifecycle spec drives exactly that loop.
    */
  def startClustered(
      cleaned: DataFrame,
      destDir: String,
      checkpointDir: String,
      clusterCols: Seq[String],
      numFilesPerEpoch: Int,
      bits: Int = 6,
      curve: String = "morton",
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery = {
    require(clusterCols.nonEmpty && numFilesPerEpoch > 0)
    EpochSink.start(cleaned, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      // first non-empty epoch establishes the contract; a replay
      // re-derives the identical boundaries (deterministic sketch
      // over the same epoch), so the crash window between init and
      // append is replay-healed
      if (!graft.plans.ZOrder.hasLayout(spark, destDir))
        graft.plans.ZOrder.zorderInit(batch, clusterCols, destDir, bits, curve)
      graft.plans.ZOrder.zorderAppendEpoch(batch, destDir, batchId, numFilesPerEpoch)
      Nil
    }
  }

  /** The full crawl-epoch ingest: [[start]]'s epoch sink composed with
    * the PERSISTENT near-dup history — each micro-batch
    * is checked against the materialized signature index
    * ([[Dedup.portableMinhashPairsAgainstIndex]]: history never
    * re-signatured, scan bucket-pruned to the batch's blocking keys)
    * AND against itself ([[Dedup.portableMinhashPairs]], keep-first by
    * id — two near-dups arriving in one batch must not both survive),
    * colliders are dropped, and the survivors' signatures are appended
    * ([[Dedup.appendToMinhashIndex]]) so the NEXT batch sees them.
    * This closes the gap [[clean]]'s watermark-horizon dedup leaves:
    * the stream state covers near-horizon exact repeats, the index
    * covers all history, the self-pass covers the same batch, and
    * together an arriving document is checked against everything ever
    * accepted.
    *
    * Replay semantics: same-id index hits are EXCLUDED from the
    * collision set — a replayed batch (crash between the parquet write
    * and the offset commit) re-encounters its own appended signatures,
    * and without the exclusion every document would self-collide and
    * the idempotent `batch=<id>` overwrite would replace the previous
    * run's survivors with an EMPTY set. With it, a replay recomputes
    * the same survivor set (ids are pipeline-unique by contract), the
    * parquet overwrite is idempotent, and the only replay residue is
    * duplicate signature ROWS in the index — which never change which
    * documents collide (see [[Dedup.appendToMinhashIndex]]), only
    * waste index bytes; compact occasionally by rebuilding with
    * [[Dedup.writeMinhashIndex]] over the accepted corpus. The
    * per-batch signature cache is released after each append, so a
    * perpetual stream holds one batch's cache at a time, not one per
    * batch ever processed.
    */
  def startWithIndex(
      cleaned: DataFrame,
      destDir: String,
      checkpointDir: String,
      indexTable: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      k: Int = 8,
      threshold: Double = 0.9,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    startNearDupIngest(cleaned, destDir, checkpointDir, indexTable, idCol, trigger)(
      (spark, batch) => Dedup.portableMinhashPairsAgainstIndex(
        spark, indexTable, batch, idCol, textCol, n, k, threshold),
      batch => Dedup.portableMinhashPairs(batch, idCol, textCol, n, k, threshold),
      (spark, survivors) =>
        Dedup.appendToMinhashIndex(spark, indexTable, survivors, idCol, textCol, n, k),
      batch => Dedup.portableMinhashSignatures(batch, idCol, textCol, n, k))

  /** [[startWithIndex]]'s contract for BINARY media: each micro-batch's
    * payloads are perceptually fingerprinted (dHash), collided against
    * the persisted signature index ([[Multimodal.imagePairsAgainstIndex]],
    * same-id hits excluded for replay safety) AND against themselves
    * ([[Multimodal.imageNearDupPairs]], keep-first by id), colliders
    * drop, survivors land through the epoch sink and
    * their band rows append so the NEXT epoch sees them. Payloads no
    * parser accepts pass through UNDEDUPED — no fingerprint means no
    * identity claim; junk filtering is an upstream policy, silent
    * drops are not.
    */
  def startImageIngest(
      media: DataFrame,
      destDir: String,
      checkpointDir: String,
      indexTable: String,
      idCol: String = "doc_id",
      binCol: String = "payload",
      maxHamming: Int = 3,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    startNearDupIngest(media, destDir, checkpointDir, indexTable, idCol, trigger)(
      (spark, batch) => Multimodal.imagePairsAgainstIndex(
        spark, indexTable, batch, idCol, binCol, maxHamming),
      batch => Multimodal.imageNearDupPairs(batch, idCol, binCol, maxHamming),
      (spark, survivors) =>
        Multimodal.appendToDHashIndex(spark, indexTable, survivors, idCol, binCol),
      batch => Multimodal.imageProbeBandRows(batch, idCol, binCol))

  /** [[startImageIngest]] for AUDIO clips — the energy-sign
    * fingerprint family over the same shared machinery.
    */
  def startAudioIngest(
      media: DataFrame,
      destDir: String,
      checkpointDir: String,
      indexTable: String,
      idCol: String = "doc_id",
      binCol: String = "payload",
      maxHamming: Int = 3,
      canonicalRate: Int = 8000,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    startNearDupIngest(media, destDir, checkpointDir, indexTable, idCol, trigger)(
      (spark, batch) => Multimodal.audioPairsAgainstIndex(
        spark, indexTable, batch, idCol, binCol, maxHamming,
        canonicalRate = canonicalRate),
      batch => Multimodal.audioNearDupPairs(batch, idCol, binCol, maxHamming,
        canonicalRate = canonicalRate),
      (spark, survivors) => Multimodal.appendToAudioFingerprintIndex(
        spark, indexTable, survivors, idCol, binCol, canonicalRate),
      batch => Multimodal.audioProbeBandRows(batch, idCol, binCol, canonicalRate))

  /** Streaming maintenance of the LEXICAL index family: each
    * micro-batch of accepted documents lands through the epoch sink
    * and is appended to the persisted BM25 index —
    * postings, roster, and (when the corpus serves incremental
    * cosine) the `_norms` sidecar under the FROZEN `_terms` snapshot,
    * all through [[TextAnalysis.appendToBm25Index]]'s ordered
    * protocol. A streaming corpus can then serve
    * [[TextAnalysis.bm25TopKBatchFromIndex]] and
    * [[TextAnalysis.lexicalCosineAgainstIndex]] current to the last
    * closed epoch with O(batch) work per epoch — never a rebuild.
    *
    * RESTART RECOVERY is wired in at start: a previous run's death
    * inside an epoch leaves one of the two repairable windows
    * (postings without roster rows; roster rows without norms), and
    * the append's own preconditions would fail the stream loudly on
    * the very first new epoch. So `start` runs
    * [[TextAnalysis.repairBm25Index]] (+
    * [[TextAnalysis.repairCosineNorms]] when the sidecar exists) ONCE
    * before attaching the stream — O(postings) paid at restart, not
    * per epoch.
    *
    * Replay contract: a replayed epoch re-appends byte-identical
    * postings/roster/norms rows — reads dedupe them (the roster
    * distincts; the cosine drops posting residue before its sums) and
    * [[graft.plans.Compaction.compactBucketedTable]] reclaims the
    * bytes. The batch is pinned once per epoch (localCheckpoint) so
    * the postings, roster and norms writes inside the append all read
    * ONE tokenize pass instead of recomputing the source thrice;
    * nothing else is cached, so a perpetual stream holds no
    * accumulating cache state.
    */
  def startLexicalIngest(
      docs: DataFrame,
      destDir: String,
      checkpointDir: String,
      indexTable: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery = {
    repairLexical(docs.sparkSession, indexTable)
    EpochSink.startFlat(docs, destDir, checkpointDir, trigger) { (batch, batchId) =>
      val pinned = batch.localCheckpoint(true)
      EpochSink.land(pinned, destDir, batchId)
      TextAnalysis.appendToBm25Index(batch.sparkSession, indexTable, pinned, idCol, textCol)
      lexicalTables(indexTable)
    }
  }

  /** Streaming maintenance of a PCA projector: every micro-batch lands
    * through the epoch sink and appends ONE bounded
    * moments row ([[graft.operators.Pca.appendMoments]]) keyed by the
    * EPOCH id — Structured Streaming replays an epoch under the same
    * id, and [[graft.operators.Pca.fitFromMoments]] keeps one row per
    * key, so the crash-replay dedupe falls out of the checkpoint
    * contract with no repair step at all (the simplest lifecycle in
    * the streaming column: moments are exactly mergeable aggregates,
    * not per-row index state). Refit whenever current — the refit
    * reads `epochs × bufLen` values, never the corpus.
    */
  def startMomentsIngest(
      vecs: DataFrame,
      destDir: String,
      checkpointDir: String,
      momentsTable: String,
      dim: Int,
      vecCol: String = "embedding",
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    EpochSink.startFlat(vecs, destDir, checkpointDir, trigger) { (batch, batchId) =>
      val pinned = batch.localCheckpoint(true)
      EpochSink.land(pinned, destDir, batchId)
      graft.operators.Pca.appendMoments(
        pinned, vecCol, dim, batchId, momentsTable)
      Seq(momentsTable)
    }

  /** The COMPOSED acceptance funnel — the whole production ingest as
    * one streaming verb: every micro-batch runs
    *
    *  1. structural quality ([[TextAnalysis.qualityScore]] ≥
    *     `minQuality` AND [[TextAnalysis.wordRepetitionRatio]] ≤
    *     `maxWordRep` — [[Corpus.prepareTrainingData]]'s gate);
    *  2. benchmark decontamination against the persisted bloom index
    *     (when `bloomTable` is set — [[startDecontaminated]]'s stage);
    *  3. near-dup against the MinHash HISTORY index (same-id hits
    *     excluded — the replay rule), then intra-batch keep-first
    *     (drop any doc with a smaller-id collider) —
    *     [[startWithIndex]]'s stages;
    *  4. survivors land through the epoch sink, their
    *     signatures append to the MinHash index, and (when
    *     `bm25Table` is set) the lexical index + norms sidecar stay
    *     current — [[startLexicalIngest]]'s stage, restart repairs
    *     included.
    *
    * Every epoch also writes a one-row FUNNEL AUDIT to
    * `<destDir>_curate_log/batch=<id>` — (docs_in, low_quality,
    * contaminated, dup_history, dup_batch, accepted), overwrite-
    * idempotent like the sink, so the acceptance accounting replays
    * with the data. Stage order is the funnel's identity: a doc both
    * low-quality and contaminated counts as low_quality; a doc
    * colliding with history AND a batch sibling counts as
    * dup_history. The intra-batch rule is evaluated on the
    * POST-DECONTAM batch (a contaminated doc must not shadow a clean
    * sibling out of the corpus).
    *
    * Scale shape per epoch: O(batch) — the quality gate is a codegen
    * projection, the bloom probe broadcasts ≤ mBits/64 words, the
    * index probes are bucket-pruned scans, the appends are O(batch);
    * the batch pins once (localCheckpoint) per stage boundary so
    * funnel counts and writes share work, and the epoch's signature
    * cache releases before the next batch.
    *
    * Pass `registerCorpus = Some(name)` to record the live sink and
    * every index surface this stream maintains in the takedown
    * registry BEFORE the stream starts (the register-first crash
    * contract) — the streamed corpus is then
    * [[graft.verify.Takedown.sweep]]-able from its first epoch with
    * no manual registration step.
    *
    * `normalizeForm` CALLER CONTRACT — ENFORCED since r19:
    * normalization rewrites only the STREAM side (the funnel head), so
    * every pre-existing surface the funnel probes — the MinHash
    * history index, the bloom benchmark bits, the BM25 postings — must
    * have been built from text normalized with the SAME form. The
    * surfaces carry a normalization stamp at write
    * ([[graft.operators.NormForm]]: `graft_norm_form` column metadata
    * on the MinHash `sig_0`, a `norm_form` column in the bloom and
    * BM25 `_stats`), every probe/append this stream issues passes its
    * own form, and a stamped surface REFUSES a mismatched form with a
    * named error at the first micro-batch — the silent
    * zero-matches failure mode is gone. Pre-stamp surfaces (built
    * before r19) have no stamp and are accepted as-is: the documented
    * warn path — rebuild or restamp them to opt into enforcement. The
    * batch twin [[graft.operators.Corpus.curationVerdicts]] still
    * normalizes BOTH sides itself. The embedding-band surface is
    * exempt (vectors, not text).
    *
    * AUDIT LOG SCHEMA MIGRATION: the per-epoch `_curate_log` rows
    * gained `contaminated_semantic` when the semantic screen landed
    * (r17). Resuming an older stream over a pre-existing dest dir
    * therefore leaves MIXED-schema parquet under one glob — read the
    * logs through [[curateLog]] (mergeSchema + null-filled absent
    * columns), not a bare `spark.read.parquet`, which can silently
    * drop the newer column depending on which footer it samples.
    */
  def startCuratedIngest(
      docs: DataFrame,
      destDir: String,
      checkpointDir: String,
      minhashTable: String,
      bloomTable: Option[String] = None,
      bm25Table: Option[String] = None,
      embeddingTable: Option[String] = None,
      embVecCol: String = "embedding",
      embThreshold: Double = 0.90,
      idCol: String = "doc_id",
      textCol: String = "text",
      minQuality: Double = 0.3,
      maxWordRep: Double = 0.3,
      n: Int = 3,
      k: Int = 8,
      threshold: Double = 0.9,
      normalizeForm: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      registerCorpus: Option[String] = None,
      registryTable: String = graft.verify.Takedown.DefaultRegistry
  ): StreamingQuery = {
    // Unicode normalization at the funnel HEAD when requested
    // ([[graft.operators.Corpus.normalizeText]] — NFC | NFKC |
    // NFKC_FOLD): the text column is rewritten BEFORE quality scoring,
    // decontamination, both dedup stages, the landed epoch, and the
    // index appends, so composed and decomposed variants of one
    // document fingerprint identically across epochs and what the
    // indexes store is exactly what future batches are probed with.
    // Validate the form eagerly — a typo must fail at start, not
    // inside micro-batch N.
    normalizeForm.foreach(graft.functions.NormalizeExpression.modeOf)
    // the form every pre-existing surface must have been stamped with
    // (r19: the caller contract is ENFORCED, not just documented —
    // every index probe and append below passes this and the stamped
    // surface refuses NAMED on a mismatch; see graft.operators.NormForm)
    val normFormStamp = normalizeForm.getOrElse(NormForm.Default)
    // The semantic decontamination arm (the startDecontaminated option,
    // here inside the full funnel): when `embeddingTable` names a
    // persisted embedding-band surface, each micro-batch's vectors band
    // against the stored benchmark rows AFTER the lexical bloom screen —
    // paraphrase-level leakage shares embeddings, not shingles. Same
    // per-epoch table re-read contract; suite appends gate next batch.
    val semScreen = semanticFlags(docs, embeddingTable, idCol, embVecCol, embThreshold)
    val session = docs.sparkSession
    // register-FIRST (the Takedown wrappers' crash contract: a death
    // in between leaves a phantom, vacuously-clean registration —
    // never an unregistered surface), so a corpus this stream builds
    // is one-verb sweepable from its first epoch
    registerCorpus.foreach { corpus =>
      graft.verify.Takedown.registerCorpus(session, corpus, destDir, idCol,
        registryTable)
      graft.verify.Takedown.register(session, corpus, "minhash", minhashTable,
        "", registryTable)
      bm25Table.foreach(t => graft.verify.Takedown.register(
        session, corpus, "bm25", t, "", registryTable))
      // the funnel's bloom holds BENCHMARK shingles (the eval-suite
      // screen), never corpus text — registered as such so a later
      // Takedown.sweep of this corpus SKIPS it instead of silently
      // rebuilding the screen from the post-delete live corpus (the
      // r18 provenance-conflation defect). Same for embband.
      bloomTable.foreach(t => graft.verify.Takedown.register(
        session, corpus, "bloom", t, textCol, registryTable,
        provenance = "benchmark"))
      embeddingTable.foreach(t => graft.verify.Takedown.register(
        session, corpus, "embband", t, embVecCol, registryTable,
        provenance = "benchmark"))
    }
    bm25Table.foreach(repairLexical(session, _))
    EpochSink.startFlat(docs, destDir, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      val staged = batch.localCheckpoint(true)
      val nIn = staged.count()
      // cheap projection over the pinned batch — not re-pinned;
      // every downstream stage reads the normalized text
      val pinned = normalizeForm match {
        case Some(form) => staged.withColumn(textCol,
          graft.operators.Corpus.normalizeText(col(textCol), form))
        case None => staged
      }
      val quality = pinned
        .filter(TextAnalysis.qualityScore(col(textCol)) >= minQuality &&
          TextAnalysis.wordRepetitionRatio(col(textCol)) <= maxWordRep)
        .localCheckpoint(true)
      val nQ = quality.count()
      // a screen that is off passes its input through, count included
      val (clean, nC) = bloomTable match {
        case Some(bt) =>
          val flagged = bloomFlags(quality, idCol, textCol, bt, normFormStamp)
          val c = quality.join(flagged, Seq(idCol), "left_anti").localCheckpoint(true)
          (c, c.count())
        case None => (quality, nQ)
      }
      // the semantic screen runs on the lexically-clean survivors:
      // each stage's count is the docs the PREVIOUS stages passed
      val (semClean, nS) = semScreen match {
        case Some(flags) =>
          val c = clean.join(flags(clean), Seq(idCol), "left_anti")
            .localCheckpoint(true)
          (c, c.count())
        case None => (clean, nC)
      }
      val hits = historyDups(Dedup.portableMinhashPairsAgainstIndex(
        spark, minhashTable, semClean, idCol, textCol, n, k, threshold,
        normForm = normFormStamp), idCol)
      val noHist = semClean.join(hits, Seq(idCol), "left_anti")
        .localCheckpoint(true)
      val nH = noHist.count()
      val selfDups = batchDups(Dedup.portableMinhashPairs(
        semClean, idCol, textCol, n, k, threshold), idCol)
      val survivors = noHist.join(selfDups, Seq(idCol), "left_anti")
        .localCheckpoint(true)
      val nOut = survivors.count()
      EpochSink.land(survivors, destDir, batchId)
      Dedup.appendToMinhashIndex(
        spark, minhashTable, survivors, idCol, textCol, n, k,
        normForm = normFormStamp)
      bm25Table.foreach { t =>
        TextAnalysis.appendToBm25Index(spark, t, survivors, idCol, textCol,
          normForm = normFormStamp)
      }
      writeAudit(spark, destDir, "curate", batchId,
        "docs_in" -> nIn, "low_quality" -> (nIn - nQ), "contaminated" -> (nQ - nC),
        "contaminated_semantic" -> (nC - nS), "dup_history" -> (nS - nH),
        "dup_batch" -> (nH - nOut), "accepted" -> nOut)
      // per-epoch cache hygiene: the survivors-side signature frame
      // serves both the history probe and the intra-batch pairs
      CacheBridge.uncache(
        Dedup.portableMinhashSignatures(semClean, idCol, textCol, n, k))
      minhashTable +: bm25Table.toSeq.flatMap(lexicalTables)
    }
  }

  /** [[startImageIngest]] for VIDEO clips — the per-bit-majority
    * frame-hash fingerprint family over the same shared machinery.
    */
  def startVideoIngest(
      media: DataFrame,
      destDir: String,
      checkpointDir: String,
      indexTable: String,
      idCol: String = "doc_id",
      binCol: String = "payload",
      maxHamming: Int = 3,
      maxFrames: Int = 8,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    startNearDupIngest(media, destDir, checkpointDir, indexTable, idCol, trigger)(
      (spark, batch) => Multimodal.videoPairsAgainstIndex(
        spark, indexTable, batch, idCol, binCol, maxHamming,
        maxFrames = maxFrames),
      batch => Multimodal.videoNearDupPairs(batch, idCol, binCol, maxHamming,
        maxFrames = maxFrames),
      (spark, survivors) => Multimodal.appendToVideoFingerprintIndex(
        spark, indexTable, survivors, idCol, binCol, maxFrames),
      batch => Multimodal.videoProbeBandRows(batch, idCol, binCol, maxFrames))

  /** The shared near-dup ingest body: one implementation, four
    * fingerprint families (MinHash text, image, audio, video) — the
    * replay/idempotence/cache-hygiene contract of [[startWithIndex]],
    * with (batch_id, index_id) / (id_a, id_b) collision frames, the
    * index append and the probe-side cache frame supplied by the
    * family.
    */
  private def startNearDupIngest(
      stream: DataFrame,
      destDir: String,
      checkpointDir: String,
      indexTable: String,
      idCol: String,
      trigger: Trigger
  )(indexHits: (SparkSession, DataFrame) => DataFrame,
    selfPairs: DataFrame => DataFrame,
    appendIndex: (SparkSession, DataFrame) => Unit,
    probeCacheFrame: DataFrame => DataFrame): StreamingQuery =
    EpochSink.startFlat(stream, destDir, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      val hits = historyDups(indexHits(spark, batch), idCol)
      val selfDups = batchDups(selfPairs(batch), idCol)
      val survivors = batch
        .join(hits, Seq(idCol), "left_anti")
        .join(selfDups, Seq(idCol), "left_anti")
        // the anti-join input is re-derived from the batch TWICE
        // (land + append below): localCheckpoint pins one result so
        // the two consumers can't diverge on a re-computed batch
        .localCheckpoint(true)
      EpochSink.land(survivors, destDir, batchId)
      appendIndex(spark, survivors)
      // release this batch's probe cache (persistOnce'd inside the
      // index check) — a perpetual stream must hold one batch's cache
      // at a time, never one entry per micro-batch forever
      CacheBridge.uncache(probeCacheFrame(batch))
      Seq(indexTable)
    }

  /** The batch ids an index probe's (batch_id, index_id) hits collide
    * with. Same-id hits are EXCLUDED — the replay rule of
    * [[startWithIndex]]: a replayed batch re-encounters its own
    * appended signatures.
    */
  private def historyDups(hits: DataFrame, idCol: String): DataFrame =
    hits.filter(col("batch_id") =!= col("index_id"))
      .select(col("batch_id").as(idCol)).distinct()

  /** The intra-batch rule over (id_a, id_b) pairs: pairs come id_a <
    * id_b, and ANY doc with a smaller-id collider is dropped, so
    * dropping every id_b keeps the lowest id of each duplicate
    * neighborhood — deterministic, but note it is neither
    * greedy-sequential nor connected-component semantics (chain A<B<C
    * with pairs (A,B),(B,C) keeps A only: C drops for colliding with
    * the already-dropped B).
    */
  private def batchDups(pairs: DataFrame, idCol: String): DataFrame =
    pairs.select(col("id_b").as(idCol)).distinct()

  /** The ids of `frame` the persisted bloom index flags. */
  private def bloomFlags(frame: DataFrame, idCol: String, textCol: String,
      bloomTable: String, normForm: String): DataFrame =
    Corpus.bloomDecontaminationFromIndex(frame, idCol, textCol, bloomTable,
      normForm = normForm)
      .filter(col("flagged")).select(idCol)

  /** The semantic screen's per-epoch flag builder when `embeddingTable`
    * is set: the ids of a frame whose `embVecCol` vectors hit the
    * persisted embedding-band surface at ≥ `embThreshold`. The stream
    * is checked for `embVecCol` HERE, before it starts — a missing
    * column must fail at start, not inside micro-batch N.
    */
  private def semanticFlags(stream: DataFrame, embeddingTable: Option[String], idCol: String,
      embVecCol: String, embThreshold: Double): Option[DataFrame => DataFrame] =
    embeddingTable.map { tbl =>
      require(stream.columns.contains(embVecCol),
        s"semantic decontamination needs the stream to carry '$embVecCol'")
      frame => Corpus.embeddingDecontaminationFromIndex(
        frame, idCol, embVecCol, tbl, embThreshold)
        .filter(col("contaminated")).select(idCol)
    }

  /** Restart recovery of a streamed BM25 index (see
    * [[startLexicalIngest]]): heal both crash windows once, before the
    * stream attaches.
    */
  private def repairLexical(spark: SparkSession, table: String): Unit = {
    TextAnalysis.repairBm25Index(spark, table)
    if (spark.catalog.tableExists(table + "_norms"))
      TextAnalysis.repairCosineNorms(spark, table)
  }

  /** The catalog tables a BM25 append writes: postings, roster, norms. */
  private def lexicalTables(table: String): Seq[String] =
    Seq(table, table + "_docs", table + "_norms")

  /** One epoch's audit record: a one-row frame of named counts at
    * `<destDir>_<name>_log/batch=<id>`, overwrite-idempotent like the
    * data epoch.
    */
  private def writeAudit(spark: SparkSession, destDir: String, name: String, batchId: Long,
      counts: (String, Long)*): Unit =
    spark.range(1).select(counts.map { case (c, v) => lit(v).as(c) }: _*)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${destDir}_${name}_log/batch=$batchId")

  /** The `<destDir>_<name>_log` audit records of every epoch, read
    * through mergeSchema (see [[decontamLog]]).
    */
  private def auditLog(spark: SparkSession, destDir: String, name: String): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(s"${destDir}_${name}_log")
}
