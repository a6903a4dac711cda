package graft.verify

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Dedup, Multimodal, Similarity, TextAnalysis}
import graft.plans.{Compaction, Snapshots, ZOrder}

/** One-verb takedown orchestration across the engine's surface zoo.
  *
  * Round-15 state of the art: every surface family had its OWN
  * crash-safe, gate-proven deletion verb — `Compaction.deleteWhere` on
  * the live dataset, `deleteFrom{Minhash,Bm25,IvfSq,IvfPq,DHash}Index`
  * (+ the purge that makes them physical), `Snapshots.purgeVersions`
  * for retained history, `Comparator.absenceAudit` to prove the
  * result. A COMPLETE takedown therefore required ~10 correctly
  * ordered manual calls, and the remaining compliance risk was not a
  * broken verb but a FORGOTTEN one: an index family nobody remembered
  * the corpus had. Nothing discovered which surfaces existed.
  *
  * This object closes that last mile with a SURFACE REGISTRY — a tiny
  * catalog table mapping (corpus, family, surface) — plus
  * [[Takedown.sweep]], which runs the whole ordered pipeline against
  * every registered surface in one call and returns the composed
  * absence audit as its receipt, and [[Takedown.surfaceStats]], the
  * registry-driven staleness dashboard over the same rows.
  *
  * Registration happens at WRITE time: call [[register]], then the
  * family write (`Dedup.writeMinhashIndex`, `TextAnalysis.writeBm25Index`,
  * … with every option the operator takes); [[registerCorpus]],
  * [[enableVersioning]], [[writeBloomIndex]] and
  * [[writeEmbeddingBandIndex]] do the same in one call. Registering
  * FIRST means a death between the two leaves a PHANTOM registration (a
  * surface with no data — vacuously clean, skipped by the sweep) rather
  * than an UNREGISTERED surface (data the sweep would miss). The
  * registry deliberately over-approximates.
  *
  * The bucketed tombstone indexes are dispatched through ONE table of
  * index families (`IndexFamilies`): each row names the family's id
  * column, stored layout, side tables, delete/purge/staleness verbs and
  * maintenance action, so sweep, audit, discovery, dashboard and
  * maintenance all read the same row. `live`, `bloom` and `embband`
  * are not tombstone indexes and keep their own code.
  *
  * The sweep's ORDER is what makes a mid-sweep death rerunnable:
  *
  *  1. gather the matching ids from live + retained versions (the
  *     pre-delete copies);
  *  2. tombstone + purge every registered index family (ids-keyed —
  *     safe first: reads already exclude tombstones);
  *  3. delete from the live dataset (z-order-aware dispatch);
  *  4. [[Snapshots.purgeVersions]] over retained history;
  *  5. rebuild every registered ROSTER bloom from the post-delete live
  *     corpus (bloom bits cannot be unset — rebuild IS the delete);
  *     BENCHMARK blooms hold eval-suite shingles, not corpus content,
  *     and are skipped like embband (see [[BloomProvenances]]);
  *  6. the composed [[Comparator.absenceAudit]] over live + every
  *     index surface + every retained version.
  *
  * A death after step 3 on a VERSIONED corpus still recovers its ids
  * from the archived pre-delete version on rerun; on an unversioned
  * corpus every step before the death already ran ids-complete (the
  * index deletes precede the live delete precisely so the ids they
  * need still exist), and the rerun's no-op steps are all idempotent.
  *
  * STRICT MODE (default): before touching anything, the sweep scans
  * the catalog for tables that LOOK like an index family (the stored
  * layouts are self-describing) but are registered nowhere, and
  * refuses if any of them still carries a matching id — the
  * forgotten-surface failure made loud instead of silent.
  *
  * Scale shape: the registry is O(surfaces) rows; ids are a slim
  * one-column frame (broadcast into every probe); each family verb
  * keeps its own documented cost (tombstones O(|ids|), purges
  * O(index), live delete O(dataset), version purge O(matching
  * versions' bytes)). Batch takedown requests and run ONE sweep.
  */
object Takedown {

  /** Default registry catalog table. */
  val DefaultRegistry = "graft_surfaces"

  /** One bucketed tombstone-index family, as every registry verb sees
    * it.
    *
    * @param idCol       the stored id column the tombstones and the
    *                    audit probes key on
    * @param layout      recognizes the stored layout from a table's
    *                    column list (strict-mode discovery)
    * @param sides       side tables hung off the base table, by suffix —
    *                    never surfaces of their own
    * @param audited     the sides that hold per-id rows the audit probes
    *                    too, as (suffix, audit-name tag)
    * @param remediation the dashboard's remediation text for a stale
    *                    surface
    * @param maintain    runs that remediation; returns the receipt's
    *                    action
    */
  private final case class IndexFamily(
      idCol: String,
      layout: Seq[String] => Boolean,
      sides: Seq[String],
      audited: Seq[(String, String)],
      delete: (SparkSession, String, DataFrame) => Long,
      purge: (SparkSession, String) => (Long, Long),
      isStale: (SparkSession, String) => Boolean,
      remediation: String,
      maintain: (SparkSession, String) => String)

  /** Purge, then compact a table that still reads stale: when replay
    * residue alone raised the flag the purge no-ops by design, and the
    * staged distinct rewrite of [[Compaction.compactBucketedTable]] is
    * what drops it.
    */
  private def purgeThenCompact(verb: String,
      purge: (SparkSession, String) => (Long, Long),
      isStale: (SparkSession, String) => Boolean): (SparkSession, String) => String =
    (spark, table) => {
      purge(spark, table)
      if (isStale(spark, table)) {
        Compaction.compactBucketedTable(spark, table)
        s"$verb+compact"
      } else verb
    }

  /** The index-family table, by registry family name. IVF-SQ and IVF-PQ
    * share one layout and one row; so do dHash, audio and video.
    */
  private val IndexFamilies: Map[String, IndexFamily] = {
    val minhash = IndexFamily("index_id",
      cols => cols.take(2) == Seq("index_id", "sig_0"),
      sides = Nil, audited = Nil,
      Dedup.deleteFromMinhashIndex(_, _, _), Dedup.purgeMinhashIndex(_, _),
      Dedup.isStaleMinhashIndex(_, _),
      "compactBucketedTable / purgeMinhashIndex",
      purgeThenCompact("purgeMinhashIndex", Dedup.purgeMinhashIndex(_, _),
        Dedup.isStaleMinhashIndex(_, _)))
    // BM25's roster and norms hold per-doc rows (a zero-token doc lives
    // in the roster only), so the audit probes them beside the postings
    val bm25 = IndexFamily("doc_id",
      cols => Seq("doc_id", "term", "tf").forall(cols.contains),
      sides = Seq("_docs", "_norms", "_norms_stats", "_terms", "_stats"),
      audited = Seq("_docs" -> "_roster", "_norms" -> "_norm"),
      TextAnalysis.deleteFromBm25Index(_, _, _), TextAnalysis.purgeBm25Index(_, _),
      TextAnalysis.isStaleBm25Index(_, _),
      "repairBm25Index / purgeBm25Index / refreshCosineNorms",
      (spark, table) => {
        // norms must follow the restamped snapshot; a missing roster is
        // repaired first
        TextAnalysis.purgeBm25Index(spark, table)
        if (!spark.catalog.tableExists(table + "_docs"))
          TextAnalysis.repairBm25Index(spark, table)
        TextAnalysis.restampBm25Index(spark, table)
        TextAnalysis.refreshCosineNorms(spark, table)
        "purgeBm25Index+restamp+refreshNorms"
      })
    // the appended-fraction / list-skew modes need a REBUILD against the
    // corpus vectors, which maintenance cannot conjure — the purge runs,
    // the surface may still read stale, the rebuild stays deliberate
    val ivf = IndexFamily("neighbor_id",
      cols => cols.contains("neighbor_id") && cols.contains("__list"),
      sides = Seq("_centroids", "_pqseeds"), audited = Nil,
      Similarity.deleteFromIvfSqIndex(_, _, _), Similarity.purgeIvfSqIndex(_, _),
      Similarity.isStaleIvfSqIndex(_, _),
      "rebuild (pinQuantizerFrom) / purgeIvfSqIndex",
      (spark, table) => {
        Similarity.purgeIvfSqIndex(spark, table)
        "purgeIvfSqIndex"
      })
    val hash64 = IndexFamily("index_id",
      cols => cols.take(4) == Seq("index_id", "dhash", "band", "bandval"),
      sides = Nil, audited = Nil,
      Multimodal.deleteFromDHashIndex(_, _, _), Multimodal.purgeDHashIndex(_, _),
      Multimodal.isStaleDHashIndex(_, _),
      "compactBucketedTable / purgeDHashIndex",
      purgeThenCompact("purgeDHashIndex", Multimodal.purgeDHashIndex(_, _),
        Multimodal.isStaleDHashIndex(_, _)))
    Map("minhash" -> minhash, "bm25" -> bm25, "ivfsq" -> ivf, "ivfpq" -> ivf,
      "dhash" -> hash64, "audio" -> hash64, "video" -> hash64)
  }

  /** Families the registry accepts: the index families above, plus
    * `live` — the corpus dataset directory (aux = its id column) — and
    * the `bloom` and `embband` screens; `bloom` additionally records the
    * text column it was built from (aux) so the sweep can rebuild it.
    */
  val KnownFamilies: Set[String] =
    IndexFamilies.keySet ++ Set("live", "bloom", "embband")

  /** Bloom-surface provenance — the field whose absence made the two
    * flagship compositions unsafe together (r18 finding): a `bloom`
    * row is either
    *
    *  - `roster` — a do-not-train roster built over the LIVE corpus
    *    text. Rebuilding it from the post-delete corpus IS the delete
    *    (bloom bits cannot be unset), so [[sweep]] step 6 rebuilds it
    *    and [[maintain]] may widen it from the live directory; or
    *  - `benchmark` — an eval-suite decontamination screen built from
    *    BENCHMARK text (the [[graft.streaming.CorpusIngest]] funnel's
    *    stored side). Its bits are NOT corpus-derived: a corpus
    *    takedown has nothing to delete from them, and a
    *    rebuild-from-live would silently replace the eval-suite
    *    screen with corpus shingles — so sweep SKIPS it (the embband
    *    rule) and a widening rebuild must come from the registered
    *    benchmark `source` directory or report needs-rebuild.
    *
    * Pre-provenance registrations read as `""` (unknown): [[sweep]]
    * refuses them LOUDLY before touching anything — guessing either
    * way silently corrupts one of the two conventions. Migration for
    * such rows is one call: [[setBloomProvenance]].
    */
  val BloomProvenances: Set[String] = Set("roster", "benchmark")

  /** One registered surface row (the registry's read-side shape). */
  private final case class Reg(family: String, surface: String, aux: String,
      provenance: String, source: String)

  /** Side-table suffixes of the index families — every family's
    * [[graft.plans.Tombstones]] table plus the sides its row names.
    * Strict-mode discovery skips a side whose base table exists: the
    * base is the surface.
    */
  private val SideSuffixes: Seq[String] =
    ("_tombstones" +: IndexFamilies.values.toSeq.flatMap(_.sides)).distinct

  /** The registry table with read-side schema compatibility: a
    * pre-provenance registry (4 columns) reads with `provenance` and
    * `source` filled as `""` (unknown) — no rewrite needed to READ;
    * the first post-r19 [[register]] call widens it physically so
    * 6-column appends land.
    */
  private def registryFrame(spark: SparkSession, registryTable: String): DataFrame = {
    val t = spark.table(registryTable)
    val p = if (t.columns.contains("provenance")) t
      else t.withColumn("provenance", lit(""))
    if (p.columns.contains("source")) p else p.withColumn("source", lit(""))
  }

  /** Record a surface for `corpus`. Idempotent (re-registering the
    * same triple is a no-op — but re-registering a surface under a
    * CONFLICTING non-empty provenance refuses loudly: silently keeping
    * the old value would flip sweep semantics behind the caller's
    * back; [[setBloomProvenance]] is the deliberate update verb).
    * Loud on an unknown family. Safe to call for surfaces built long
    * before the registry existed. `provenance`/`source` are the bloom
    * family's fields (see [[BloomProvenances]]); other families leave
    * them empty.
    */
  def register(
      spark: SparkSession,
      corpus: String,
      family: String,
      surface: String,
      aux: String = "",
      registryTable: String = DefaultRegistry,
      provenance: String = "",
      source: String = ""): Unit = {
    require(KnownFamilies.contains(family),
      s"unknown surface family '$family' (known: ${KnownFamilies.toSeq.sorted.mkString(", ")})")
    require(corpus.nonEmpty && surface.nonEmpty, "corpus and surface must be non-empty")
    require(provenance.isEmpty || BloomProvenances.contains(provenance),
      s"provenance must be one of ${BloomProvenances.toSeq.sorted.mkString(" | ")} (or empty), got '$provenance'")
    import spark.implicits._
    val row = Seq((corpus, family, surface, aux, provenance, source))
      .toDF("corpus", "family", "surface", "aux", "provenance", "source")
    if (spark.catalog.tableExists(registryTable)) {
      // one-time physical widening of a pre-provenance registry so the
      // 6-column append below lands; legacy rows read provenance = ""
      // (unknown) until setBloomProvenance records the split
      if (!spark.table(registryTable).columns.contains("source")) {
        val migrated = registryFrame(spark, registryTable).collect() // O(surfaces)
          .map(r => (r.getString(0), r.getString(1), r.getString(2),
            r.getString(3), r.getString(4), r.getString(5)))
        migrated.toSeq
          .toDF("corpus", "family", "surface", "aux", "provenance", "source")
          .write.mode("overwrite").format("parquet").saveAsTable(registryTable)
      }
      val existing = registryFrame(spark, registryTable)
        .filter(col("corpus") === corpus && col("family") === family &&
          col("surface") === surface)
        .select("provenance")
        .limit(1).collect() // bounded: the registry is O(surfaces) rows
      if (existing.nonEmpty) {
        val stored = existing.head.getString(0)
        // a caller EXPLICITLY stating provenance over a pre-provenance
        // row ("" = unknown) is the migration path, not a conflict —
        // upgrade in place; two different NON-empty provenances are a
        // semantic flip and refuse
        require(provenance.isEmpty || stored.isEmpty || stored == provenance,
          s"surface '$surface' of corpus '$corpus' is already registered with " +
            s"provenance '$stored' — re-registering it as '$provenance' would " +
            "silently change sweep semantics; record the change deliberately " +
            "with Takedown.setBloomProvenance")
        if (stored.isEmpty && provenance.nonEmpty)
          updateProvenance(spark, corpus, family, surface, provenance, source,
            registryTable)
      } else
        row.write.mode("append").format("parquet").saveAsTable(registryTable)
    } else row.write.format("parquet").saveAsTable(registryTable)
    spark.catalog.refreshTable(registryTable)
  }

  /** Record (or correct) a bloom surface's provenance — the migration
    * verb for pre-provenance registrations (which [[sweep]] refuses)
    * and the only way to CHANGE a stored provenance. For `benchmark`
    * blooms, `source` may name the parquet directory holding the
    * benchmark rows (with the registered text column) so [[maintain]]
    * can widen the screen from its true source; roster blooms rebuild
    * from the live directory and take no source.
    */
  def setBloomProvenance(
      spark: SparkSession,
      corpus: String,
      surface: String,
      provenance: String,
      source: String = "",
      registryTable: String = DefaultRegistry): Unit = {
    require(BloomProvenances.contains(provenance),
      s"provenance must be one of ${BloomProvenances.toSeq.sorted.mkString(" | ")}, got '$provenance'")
    require(provenance == "benchmark" || source.isEmpty,
      "source names a benchmark bloom's rebuild directory — roster blooms rebuild from live")
    updateProvenance(spark, corpus, "bloom", surface, provenance, source,
      registryTable)
  }

  /** Rewrite one registry row's (provenance, source) in place — the
    * registry is O(surfaces) rows, so the staged collect-and-overwrite
    * is bounded. Loud when the row doesn't exist.
    */
  private def updateProvenance(
      spark: SparkSession,
      corpus: String,
      family: String,
      surface: String,
      provenance: String,
      source: String,
      registryTable: String): Unit = {
    require(spark.catalog.tableExists(registryTable),
      s"surface registry $registryTable does not exist")
    val rows = registryFrame(spark, registryTable).collect() // O(surfaces)
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getString(5)))
    require(rows.exists(r => r._1 == corpus && r._2 == family && r._3 == surface),
      s"no $family surface '$surface' registered for corpus '$corpus'")
    val updated = rows.map {
      case (c, f, s, aux, _, _) if c == corpus && f == family && s == surface =>
        (c, f, s, aux, provenance, source)
      case other => other
    }
    import spark.implicits._
    updated.toSeq.distinct
      .toDF("corpus", "family", "surface", "aux", "provenance", "source")
      .write.mode("overwrite").format("parquet").saveAsTable(registryTable)
    spark.catalog.refreshTable(registryTable)
  }

  /** The registered surfaces of `corpus`, distinct (replayed appends
    * dedupe at read — the tombstone-table rule), ordered (family,
    * surface) so every consumer sees one deterministic sequence.
    * Always 6 columns — a pre-provenance registry reads with
    * `provenance`/`source` = `""`.
    */
  def registered(
      spark: SparkSession,
      corpus: String,
      registryTable: String = DefaultRegistry): DataFrame = {
    require(spark.catalog.tableExists(registryTable),
      s"surface registry $registryTable does not exist — register surfaces first")
    registryFrame(spark, registryTable)
      .filter(col("corpus") === corpus)
      .distinct()
      .orderBy("family", "surface")
  }

  /** [[registered]] as typed rows — the shape sweep/maintain consume. */
  private def regsOf(
      spark: SparkSession,
      corpus: String,
      registryTable: String): Array[Reg] =
    registered(spark, corpus, registryTable).collect()
      .map(r => Reg(r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getString(5)))

  /** Register the corpus's LIVE dataset directory (family `live`,
    * aux = its id column) — the root surface every sweep starts from.
    */
  def registerCorpus(
      spark: SparkSession,
      corpus: String,
      dir: String,
      idCol: String,
      registryTable: String = DefaultRegistry): Unit =
    register(spark, corpus, "live", dir, idCol, registryTable)

  /** [[Snapshots.enableVersioning]] that first records the live
    * surface — retained versions are then discovered per sweep via
    * [[Snapshots.versionSurfaces]], never registered row by row.
    */
  def enableVersioning(
      spark: SparkSession,
      corpus: String,
      dir: String,
      idCol: String,
      registryTable: String = DefaultRegistry): Unit = {
    registerCorpus(spark, corpus, dir, idCol, registryTable)
    Snapshots.enableVersioning(spark, dir)
  }

  /** Self-registering bloom write. `provenance` is REQUIRED — the one
    * decision the registry cannot infer (see [[BloomProvenances]]):
    * `"roster"` = do-not-train roster over the live corpus text
    * (sweep rebuilds it from the post-delete corpus), `"benchmark"` =
    * eval-suite decontamination screen (sweep skips it; a widening
    * rebuild reads `benchmarkSource`, a parquet directory holding the
    * benchmark rows, when given).
    */
  def writeBloomIndex(spark: SparkSession, corpus: String,
      benchmark: DataFrame, benchTextCol: String, tableName: String,
      provenance: String,
      n: Int = 8, mBits: Int = 1 << 18, k: Int = 5,
      benchmarkSource: String = "",
      normForm: String = "NONE",
      registryTable: String = DefaultRegistry): Unit = {
    require(BloomProvenances.contains(provenance),
      s"bloom provenance must be one of ${BloomProvenances.toSeq.sorted.mkString(" | ")}, got '$provenance'")
    require(provenance == "benchmark" || benchmarkSource.isEmpty,
      "benchmarkSource is for benchmark blooms — roster blooms rebuild from live")
    register(spark, corpus, "bloom", tableName, benchTextCol, registryTable,
      provenance, benchmarkSource)
    Corpus.writeBloomIndex(benchmark, benchTextCol, tableName, n, mBits, k,
      normForm)
  }

  /** The embedding-band benchmark surface (streaming semantic
    * decontamination's stored side), registered like the others.
    * Holds BENCHMARK vectors, not corpus rows — a corpus takedown
    * sweep has nothing to delete from it (like bloom, it has no
    * per-corpus-id rows; unlike bloom, it isn't even derived from the
    * corpus, so the sweep skips it entirely) — but registration keeps
    * it on the staleness dashboard and under [[maintain]]'s compactor.
    */
  def writeEmbeddingBandIndex(spark: SparkSession, corpus: String,
      benchmark: DataFrame, benchVecCol: String, tableName: String,
      nBits: Int = 0, nBands: Int = 6,
      registryTable: String = DefaultRegistry): Unit = {
    // embband is ALWAYS benchmark-derived — stamped so the registry
    // reads uniformly, though the family alone already makes sweep
    // skip it
    register(spark, corpus, "embband", tableName, benchVecCol, registryTable,
      provenance = "benchmark")
    Corpus.writeEmbeddingBandIndex(benchmark, benchVecCol, tableName, nBits, nBands)
  }

  // ------------------------------------------------------------ sweep

  /** The one-verb takedown: delete every row matching `condition` from
    * EVERY registered surface of `corpus` — index families first
    * (tombstone + purge), then the live dataset (z-order aware), then
    * retained versions, then bloom rebuilds — and return the composed
    * [[Comparator.absenceAudit]] over all of them as the receipt: one
    * row per matched id, one `<surface>_rows` column per surface,
    * every cell 0 when the sweep is complete.
    *
    * SQL DELETE semantics throughout ([[Compaction.deleteWhere]]'s
    * rule): a row is swept only when the predicate is TRUE; NULL
    * survives. `condition` is evaluated against the live dataset's
    * columns (and the retained versions', which share them).
    *
    * Registered-but-missing tables (a registration whose write died)
    * are skipped: no data is vacuously clean. Strict mode refuses on
    * DISCOVERED unregistered index-layout tables still holding a
    * matching id — see [[discoverUnregistered]].
    *
    * Rerunnable across any mid-sweep death — see the object doc's
    * ordering argument. Idempotent once complete: a second sweep
    * finds no matching ids and audits an empty probe set.
    */
  def sweep(
      spark: SparkSession,
      corpus: String,
      condition: Column,
      registryTable: String = DefaultRegistry,
      strict: Boolean = true,
      targetFileBytes: Long = 128L << 20): DataFrame = {
    val rows = regsOf(spark, corpus, registryTable)
    require(rows.nonEmpty, s"no surfaces registered for corpus '$corpus'")
    val lives = rows.filter(_.family == "live")
    require(lives.length == 1,
      s"corpus '$corpus' must register exactly one live surface (found ${lives.length})")
    val (liveDir, idCol) = (lives.head.surface, lives.head.aux)
    require(idCol.nonEmpty, s"live registration for '$corpus' lacks its id column (aux)")
    // PRE-FLIGHT, before any mutation: every bloom surface must carry
    // provenance. Guessing corrupts one convention or the other (a
    // roster bloom left unrebuilt keeps deleted content flaggable but
    // never forgets it; a benchmark bloom rebuilt from live loses the
    // eval-suite screen entirely), and a mid-sweep refusal would be
    // worse — a rerun after migration would find zero matching ids and
    // never reach the roster rebuild.
    rows.filter(r => r.family == "bloom" &&
        !BloomProvenances.contains(r.provenance))
      .foreach { r =>
        throw new IllegalArgumentException(
          s"bloom surface '${r.surface}' of corpus '$corpus' has no recorded " +
            "provenance (a pre-provenance registration) — record it first with " +
            "Takedown.setBloomProvenance(spark, corpus, surface, \"roster\" | " +
            "\"benchmark\"): the sweep rebuilds a ROSTER bloom from the " +
            "post-delete live corpus, but must SKIP a BENCHMARK decontamination " +
            "bloom (rebuilding it from the corpus would silently replace the " +
            "eval-suite screen with corpus shingles)")
      }
    val pred = coalesce(condition, lit(false))

    // 1. matching ids from live + retained versions — gathered BEFORE
    // any delete so the index tombstones and the audit probes agree;
    // pinned because live is about to be rewritten underneath
    val versioned = Snapshots.isVersioned(spark, liveDir)
    val versionFrames =
      if (versioned) Snapshots.versionSurfaces(spark, liveDir, idCol) else Seq.empty
    val ids = (spark.read.parquet(liveDir).filter(pred).select(col(idCol)) +:
      versionFrames.map(_._2.filter(pred).select(col(idCol))))
      .reduce(_.unionByName(_))
      .distinct()
      .localCheckpoint(true)

    // a sweep with NOTHING to do stops here: every delete verb below
    // is a full rewrite of its surface, and paying O(corpus + indexes)
    // to remove zero rows would make the documented "idempotent once
    // complete" rerun an expensive no-op instead of a cheap one. The
    // bounded count is over the slim matched-ids frame.
    if (ids.isEmpty)
      return Comparator.absenceAudit(
        ids.toDF(idCol), idCol, auditSurfaces(spark, corpus, registryTable))

    // 2. strict: the forgotten-surface check, loud
    if (strict) {
      val forgotten = discoverUnregistered(spark, registryTable, ids, idCol)
      require(forgotten.isEmpty,
        s"takedown sweep for '$corpus' found UNREGISTERED index-layout " +
          s"tables still holding matching ids: ${forgotten.mkString(", ")} — " +
          "register them (Takedown.register) or clean them up first")
    }

    // 3. index families: tombstone the ids, then make it physical.
    // roster blooms are rebuilt in step 6; benchmark blooms and embband
    // hold BENCHMARK content, not corpus rows — a corpus takedown has
    // nothing to remove from them
    rows.foreach { r =>
      IndexFamilies.get(r.family).filter(_ => spark.catalog.tableExists(r.surface))
        .foreach { f =>
          f.delete(spark, r.surface, ids)
          f.purge(spark, r.surface)
        }
    }

    // 4. live delete — z-order clustered datasets route through the
    // layout-preserving verb, mirroring purgeVersions' dispatch
    val (fs, qualified) = {
      val p = new org.apache.hadoop.fs.Path(liveDir)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      (f, f.makeQualified(p))
    }
    if (fs.exists(new org.apache.hadoop.fs.Path(qualified, "_zorder_meta"))) {
      // file count from current data bytes — purgeVersions' sizing rule
      val bytes = Compaction.listData(fs, qualified)._2
      val parts = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      ZOrder.deleteWhereZorder(spark, liveDir, condition, parts)
    } else
      Compaction.deleteWhere(spark, liveDir, condition, targetFileBytes)

    // 5. retained history (covers the version the delete just archived)
    if (versioned) Snapshots.purgeVersions(spark, liveDir, condition, targetFileBytes)

    // 6. ROSTER blooms only: bits cannot be unset — rebuild from the
    // post-delete live corpus with the STORED hash-family parameters
    // and the registered text column. BENCHMARK blooms are skipped
    // (the pre-flight check above guarantees the split is recorded):
    // their bits are eval-suite shingles, not corpus content — a
    // rebuild-from-live here is exactly the r18 defect this field
    // exists to prevent.
    rows.filter(r => r.family == "bloom" && r.provenance == "roster")
      .foreach { case Reg(_, table, textCol, _, _) =>
        if (spark.catalog.tableExists(table)) {
          require(textCol.nonEmpty,
            s"bloom registration for $table lacks its text column (aux) — " +
              "the sweep cannot rebuild it")
          val p = spark.table(table + "_stats").collect()
          require(p.length == 1, s"${table}_stats must hold exactly one row")
          // the rebuild must re-apply the STORED normalization form to
          // the live text (the bits were built from normalized
          // shingles) and re-stamp it, or the rebuilt roster would
          // silently stop matching the normalized probes it serves
          val form = Corpus.bloomIndexNormForm(spark, table).getOrElse("NONE")
          val live = spark.read.parquet(liveDir)
          val src = if (form == "NONE") live
            else live.withColumn(textCol,
              Corpus.normalizeText(col(textCol), form))
          Corpus.writeBloomIndex(src, textCol, table,
            n = p.head.getAs[Int]("shingle_n"), mBits = p.head.getAs[Int]("m_bits"),
            k = p.head.getAs[Int]("k_hashes"), normForm = form)
        }
      }

    // 7. the receipt: absence across EVERY surface, history included
    val surfaces = auditSurfaces(spark, corpus, registryTable)
    Comparator.absenceAudit(ids.toDF(idCol), idCol, surfaces)
  }

  /** The audit surface list a sweep (or an independent re-audit)
    * covers: live, every registered index family's id-presence frame
    * (plus its row's audited sides — BM25's roster and norms), and one
    * surface per retained version. Names are deterministic: family
    * name, suffixed `_2`, `_3`… when a corpus registers several tables
    * of one family.
    * Bloom has no per-id rows (bits are shared) and is excluded — its
    * deletion story is the rebuild in [[sweep]] step 6.
    */
  def auditSurfaces(
      spark: SparkSession,
      corpus: String,
      registryTable: String = DefaultRegistry): Seq[(String, DataFrame, String)] = {
    val rows = registered(spark, corpus, registryTable).collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3)))
    val (_, liveDir, idCol) = rows.filter(_._1 == "live").head
    val counters = scala.collection.mutable.Map.empty[String, Int]
    def name(family: String, suffix: String = ""): String = {
      val k = family + suffix
      val n = counters.getOrElse(k, 0) + 1
      counters(k) = n
      if (n == 1) k else s"${k}_$n"
    }
    val live = Seq(("live", spark.read.parquet(liveDir), idCol))
    val index = rows.toSeq.flatMap { case (family, table, _) =>
      IndexFamilies.get(family).filter(_ => spark.catalog.tableExists(table))
        .toSeq.flatMap { f =>
          val idc = f.idCol
          (name(family), spark.table(table).select(idc).distinct(), idc) +:
            f.audited
              .filter { case (sfx, _) => spark.catalog.tableExists(table + sfx) }
              .map { case (sfx, tag) =>
                (name(family, tag), spark.table(table + sfx).select(idc), idc)
              }
        }
    }
    val versions =
      if (Snapshots.isVersioned(spark, liveDir))
        Snapshots.versionSurfaces(spark, liveDir, idCol)
      else Seq.empty
    live ++ index ++ versions
  }

  /** Catalog tables that LOOK like an index family's stored layout but
    * appear in NO registry row, restricted to those still holding at
    * least one of `ids` — the forgotten-surface list [[sweep]]'s
    * strict mode refuses on. Side tables (`_tombstones`, `_docs`, …)
    * are skipped when their base table (the name minus the suffix) is
    * itself a catalog table: the base is the surface. A name that
    * merely ENDS in a side suffix with no such base (a forgotten index
    * called `crawl_docs`) is sniffed like any other table. One bounded
    * `limit(1)` semi-probe per candidate.
    */
  def discoverUnregistered(
      spark: SparkSession,
      registryTable: String,
      ids: DataFrame,
      idsCol: String): Seq[String] = {
    val known = spark.table(registryTable).select("surface").distinct()
      .collect().map(_.getString(0).toLowerCase).toSet + registryTable.toLowerCase
    val tables = spark.catalog.listTables().collect().map(_.name).toSeq.sorted
    val present = tables.map(_.toLowerCase).toSet
    tables
      .filterNot(n => known.contains(n.toLowerCase))
      .filterNot { n =>
        val lower = n.toLowerCase
        SideSuffixes.exists(s => lower.endsWith(s) && present(lower.dropRight(s.length)))
      }
      .flatMap { n =>
        val cols = scala.util.Try(spark.table(n).columns.toSeq).getOrElse(Seq.empty)
        val idc = IndexFamilies.values.find(_.layout(cols)).map(_.idCol)
        idc.filter { c =>
          val t = spark.table(n)
          // isEmpty (executeTake(1)), not limit(1).count(): count plans
          // an aggregate whose exchange AQE materializes as extra
          // stage-jobs per probed surface; take(1) short-circuits on
          // the first surviving row (the Snapshots.purgeVersions rule)
          !t.join(
            broadcast(ids.select(col(idsCol).cast(t.schema(c).dataType).as(c))
              .filter(col(c).isNotNull).distinct()),
            Seq(c), "left_semi")
            .isEmpty
        }.map(_ => n)
      }
  }

  /** Registry-driven staleness dashboard: ONE frame over every
    * registered surface of `corpus` — (corpus, family, surface,
    * present, stale, remediation) — unioning the per-family `isStale*`
    * verdicts at their default thresholds, plus a `versions` row when
    * the live dataset retains history. `present = false` rows (a
    * registration whose write died) read stale = null. The flags are
    * EXACTLY the per-family calls — this is a view, not a second
    * opinion; drive remediation by the named verb.
    */
  def surfaceStats(
      spark: SparkSession,
      corpus: String,
      registryTable: String = DefaultRegistry): DataFrame = {
    import spark.implicits._
    val rows = regsOf(spark, corpus, registryTable)
    val out = rows.flatMap { case Reg(family, surface, _, prov, src) =>
      family match {
        case "live" =>
          val zordered = {
            val p = new org.apache.hadoop.fs.Path(surface)
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            fs.exists(new org.apache.hadoop.fs.Path(fs.makeQualified(p), "_zorder_meta"))
          }
          val liveRow =
            if (zordered)
              (corpus, "live", surface, true,
                Some(ZOrder.isStaleZorder(spark, surface)), "reclusterZorder")
            else
              (corpus, "live", surface, true,
                Some(false), "compactParquet")
          val versionRow =
            if (Snapshots.isVersioned(spark, surface))
              Seq((corpus, "versions", surface, true,
                Some(Snapshots.isStaleVersions(spark, surface)), "vacuumVersions"))
            else Seq.empty
          liveRow +: versionRow
        case fam =>
          val present = spark.catalog.tableExists(surface)
          val (stale, fix): (Option[Boolean], String) =
            if (!present) (None, "re-run the registered write")
            else IndexFamilies.get(fam) match {
              case Some(f) => (Some(f.isStale(spark, surface)), f.remediation)
              case None if fam == "bloom" =>
                // remediation depends on provenance — maintain widens a
                // roster bloom from live, a benchmark bloom only from
                // its registered source, and refuses to guess for a
                // pre-provenance row
                val fix = prov match {
                  case "roster" => "maintain (rebuild wider from live)"
                  case "benchmark" if src.nonEmpty =>
                    "maintain (rebuild wider from registered source)"
                  case "benchmark" =>
                    "register a benchmark source (setBloomProvenance) then maintain"
                  case _ => "setBloomProvenance (roster | benchmark) first"
                }
                (Some(Corpus.isStaleBloomIndex(spark, surface)), fix)
              case None => // embband
                (Some(Corpus.isStaleEmbeddingBandIndex(spark, surface)),
                  "compactEmbeddingBandIndex")
            }
          Seq((corpus, fam, surface, present, stale, fix))
      }
    }
    out.toSeq.toDF("corpus", "family", "surface", "present", "stale", "remediation")
  }

  /** Registry-driven one-verb maintenance — [[surfaceStats]] names each
    * stale family's remediation; this RUNS it, through the existing
    * crash-safe machinery (staged swaps and rewrites throughout), and
    * returns the receipt: one row per dashboard surface —
    * (corpus, family, surface, stale_before, action, stale_after) —
    * with fresh/absent surfaces reported as `action = none` so the
    * receipt is the whole dashboard, not a diff.
    *
    * Verb mapping (the dashboard's remediation column, executed):
    *  - live (z-ordered, drifted) → [[ZOrder.reclusterZorder]], file
    *    count sized current-bytes / `targetFileBytes` (the sweep's rule)
    *  - versions over budget → [[Snapshots.vacuumVersions]] keeping
    *    `keepLastVersions`
    *  - an index family → its table row's `maintain` action: the
    *    tombstone purge (the staged distinct rewrite also drops replay
    *    residue), then per family — the signature indexes compact a
    *    table residue alone left stale, BM25 restamps and refreshes its
    *    cosine norms, and IVF reports `stale_after = true` when only a
    *    rebuild against the corpus vectors can help
    *  - bloom over fill → rebuild WIDER from the registered text
    *    column over its PROVENANCE source: live corpus for a roster
    *    bloom ([[sweep]] step 6's path), the registered benchmark
    *    directory for a benchmark bloom (never live — that would
    *    replace the eval-suite screen with corpus shingles). `mBits`
    *    grows by doublings until the predicted fill clears the
    *    staleness bar ([[Corpus.bloomRebuildBits]] — one blind
    *    doubling on a saturated filter would stay stale and re-run
    *    the full rebuild every pass), capped at 2^30: at the cap the
    *    surface reports needs-rebuild instead of thrashing. Hash
    *    count and shingle width stay the stored ones. A bloom
    *    registered without its text column, a benchmark bloom without
    *    a source, or a pre-provenance registration is reported, not
    *    attempted.
    *  - embband residue → [[Corpus.compactEmbeddingBandIndex]]
    */
  def maintain(
      spark: SparkSession,
      corpus: String,
      registryTable: String = DefaultRegistry,
      keepLastVersions: Int = 8,
      targetFileBytes: Long = 128L << 20): DataFrame = {
    import spark.implicits._
    val dash = surfaceStats(spark, corpus, registryTable).collect()
      .map(r => (r.getString(1), r.getString(2), r.getBoolean(3),
        if (r.isNullAt(4)) None else Some(r.getBoolean(4))))
    // the registry rows carry what the dashboard view drops: the bloom
    // rebuild needs its aux (text column), provenance, source, and the
    // live dir
    val regRows = regsOf(spark, corpus, registryTable)
    val liveDir = regRows.find(_.family == "live").map(_.surface)
    val actions = dash.map { case (family, surface, present, stale) =>
      val action: String =
        if (!(present && stale.contains(true))) "none"
        else if (IndexFamilies.contains(family))
          IndexFamilies(family).maintain(spark, surface)
        else family match {
          case "live" =>
            val p = new org.apache.hadoop.fs.Path(surface)
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            val qualified = fs.makeQualified(p)
            val bytes = Compaction.listData(fs, qualified)._2
            // floor of 4, not 1: z-order staleness reads per-file span
            // COVERAGE, and a 1-2 file layout covers ~the whole span
            // per file by construction — it would re-read stale forever
            // however fresh its boundaries (and a layout that can't
            // skip files has no reason to exist). At scale the byte
            // sizing dominates; the floor only binds on small data.
            val parts =
              math.max(4L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
            // epoch-partitioned layout (a streamed sink's batch= dirs)
            // repairs through the epoch collapser; a flat layout through
            // the plain recluster — both staged, readers never see a
            // partial layout
            val epochLayout = fs.exists(qualified) && fs.listStatus(qualified)
              .exists(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
            if (epochLayout) {
              ZOrder.reclusterZorderEpochs(spark, surface, parts)
              "reclusterZorderEpochs"
            } else {
              ZOrder.reclusterZorder(spark, surface, parts)
              "reclusterZorder"
            }
          case "versions" =>
            Snapshots.vacuumVersions(spark, surface, keepLastVersions)
            s"vacuumVersions(keepLast=$keepLastVersions)"
          case "bloom" =>
            val reg = regRows.find(r => r.family == "bloom" && r.surface == surface)
            val textCol = reg.map(_.aux).filter(_.nonEmpty)
            val prov = reg.map(_.provenance).getOrElse("")
            // provenance picks the rebuild SOURCE: a roster bloom
            // re-derives from the live corpus, a benchmark bloom must
            // read its registered benchmark directory — never live
            // (the sweep-step-6 rule; a "maintained" benchmark bloom
            // rebuilt from corpus text would be the r18 defect again)
            val rebuildFrom: Option[DataFrame] = prov match {
              case "roster"    => liveDir.map(spark.read.parquet(_))
              case "benchmark" => reg.map(_.source).filter(_.nonEmpty)
                .map(spark.read.parquet(_))
              case _ => None
            }
            (textCol, rebuildFrom) match {
              case (Some(tc), Some(raw)) =>
                val st = Corpus.bloomIndexStats(spark, surface).head()
                // fill past threshold = this width is spent. Grow by
                // doublings until the PREDICTED fill clears the bar
                // (one doubling on a badly saturated filter would stay
                // stale and re-run the full rebuild every maintain
                // pass); at the 2^30 cap, report instead of thrashing.
                Corpus.bloomRebuildBits(st.getAs[Int]("m_bits"),
                  st.getAs[Long]("set_bits")) match {
                  case Some(mBits) =>
                    // re-apply + re-stamp the stored normalization form
                    // (the sweep-step-6 rule)
                    val form = Corpus.bloomIndexNormForm(spark, surface)
                      .getOrElse("NONE")
                    val src = if (form == "NONE") raw
                      else raw.withColumn(tc,
                        Corpus.normalizeText(col(tc), form))
                    Corpus.writeBloomIndex(src, tc, surface,
                      n = st.getAs[Int]("shingle_n"), mBits = mBits,
                      k = st.getAs[Int]("k_hashes"), normForm = form)
                    s"writeBloomIndex(mBits=$mBits)"
                  case None =>
                    "needs-rebuild (bloom width already at the 2^30 cap)"
                }
              case (None, _) =>
                "needs-rebuild (bloom registration lacks text column)"
              case _ if prov == "benchmark" =>
                "needs-rebuild (benchmark bloom has no registered source — " +
                  "setBloomProvenance(source=...) names its rebuild directory)"
              case _ if prov == "roster" =>
                "needs-rebuild (no live surface registered for the corpus)"
              case _ =>
                "needs-provenance (pre-provenance bloom registration — " +
                  "record roster | benchmark with Takedown.setBloomProvenance)"
            }
          case "embband" =>
            Corpus.compactEmbeddingBandIndex(spark, surface)
            "compactEmbeddingBandIndex"
        }
      (family, surface, stale, action)
    }
    // stale_after from a FRESH dashboard pass — the same flags the
    // next maintenance would read, never this pass's assumptions
    val after = surfaceStats(spark, corpus, registryTable).collect()
      .map(r => (r.getString(1), r.getString(2)) ->
        (if (r.isNullAt(4)) None else Some(r.getBoolean(4)))).toMap
    actions.toSeq.map { case (family, surface, staleBefore, action) =>
      (corpus, family, surface, staleBefore, action,
        after.getOrElse((family, surface), None))
    }.toDF("corpus", "family", "surface", "stale_before", "action", "stale_after")
  }
}
