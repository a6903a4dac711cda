package graft.verify

import graft.SparkSpec
import graft.operators.{Corpus, Dedup, Multimodal, Similarity, TextAnalysis}
import graft.plans.{Compaction, Snapshots}
import org.apache.spark.sql.functions._

/** The one-verb takedown story: registry-driven sweep over every
  * surface family, loud refusal on forgotten surfaces, crash-ordering
  * rerunnability, the bloom rebuild, and the staleness dashboard.
  * Ids live at +5e6 so the strict discovery scan never collides with
  * other suites' index tables in the shared warehouse.
  */
class TakedownSpec extends SparkSpec {

  // 7.7e6 is unique to this suite: other suites plant ids at +5e5,
  // +1e6, +5e6 — sharing any of those ranges would make the strict
  // discovery scan (correctly!) flag their unregistered index tables
  // as holding our swept ids when the whole suite runs in one session
  private val Off = 7700000L

  // ONE registry table across the suite — the production shape: the
  // strict discovery scan treats every corpus's registered surfaces
  // as known, so corpora sharing an id domain never flag each other
  private val SharedReg = "tkd_shared_reg"

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/corpus"

  private def mix8(z0: Long): Int = {
    var z = z0 * 0x9E3779B97F4A7C15L
    z ^= (z >>> 33); z *= 0xFF51AFD7ED558CCDL; z ^= (z >>> 33)
    (z & 0xffL).toInt
  }

  private def img(d: Int): Array[Byte] = {
    val px = new Array[Byte](9 * 8 * 3)
    var o = 0
    for (y <- 0 until 8; x <- 0 until 9) {
      val v = mix8(x + 9L * y + 72L * d + 1).toByte
      px(o) = v; px(o + 1) = v; px(o + 2) = v; o += 3
    }
    "P6\n9 8\n255\n".getBytes("US-ASCII") ++ px
  }

  /** Register first, then the family write — the order Takedown's
    * registry contract documents (a death in between leaves a phantom
    * registration, never an unregistered surface).
    */
  private def registerThenWrite(corpus: String, family: String, table: String)(
      write: String => Unit): Unit = {
    Takedown.register(spark, corpus, family, table, registryTable = SharedReg)
    write(table)
  }

  private def embFrame(n: Int) = {
    import spark.implicits._
    (0 until n).map(d => (Off + d,
      Array.tabulate(8)(j => mix8(d * 8L + j) / 255.0f)))
      .toDF("doc_id", "embedding")
  }

  private def imgFrame(n: Int) = {
    import spark.implicits._
    (0 until n).map(d => (Off + d, img(d))).toDF("doc_id", "payload")
  }

  private def docsFrame(n: Int) = {
    import spark.implicits._
    // every token carries the doc number, so every token n-gram is
    // doc-UNIQUE — the bloom-rebuild test needs shingles that belong
    // to exactly one document (shared shingles survive a rebuild
    // through the surviving docs, correctly but unhelpfully here)
    (0 until n).map(d => (Off + d,
      s"u${d}a u${d}b u${d}c u${d}d u${d}e u${d}f"))
      .toDF("doc_id", "text")
  }

  test("sweep: all families registered, one verb, zero residue everywhere — and the audit frame is the receipt") {
    import spark.implicits._
    val dir = tmp("graft_tkd1")
    val reg = SharedReg
    val docs = docsFrame(70)
    docs.write.parquet(dir)
    Takedown.enableVersioning(spark, "tkd1", dir, "doc_id", reg)
    Compaction.compactParquet(spark, dir) // v1 = full pre-takedown corpus
    registerThenWrite("tkd1", "bm25", "tkd1_bm25")(
      TextAnalysis.writeBm25Index(docs, "doc_id", "text", _, buckets = 4))
    TextAnalysis.refreshCosineNorms(spark, "tkd1_bm25")
    registerThenWrite("tkd1", "minhash", "tkd1_mh")(
      Dedup.writeMinhashIndex(docs, "doc_id", "text", _, buckets = 4))
    val emb = embFrame(70)
    registerThenWrite("tkd1", "ivfsq", "tkd1_sq")(
      Similarity.writeIvfSqIndex(emb, "doc_id", "embedding", _,
        nCentroids = 4, buckets = 4))
    registerThenWrite("tkd1", "ivfpq", "tkd1_pq")(
      Similarity.writeIvfPqIndex(emb, "doc_id", "embedding", _,
        nCentroids = 4, m = 4, nCodes = 8, buckets = 4))
    registerThenWrite("tkd1", "dhash", "tkd1_dh")(
      Multimodal.writeDHashIndex(imgFrame(70), "doc_id", "payload", _, buckets = 4))
    // the registry knows every family (registered at write time)
    val fams = Takedown.registered(spark, "tkd1", reg)
      .select("family").collect().map(_.getString(0)).toSet
    assert(fams === Set("live", "bm25", "minhash", "ivfsq", "ivfpq", "dhash"))

    val audit = Takedown.sweep(spark, "tkd1",
      (col("doc_id") - Off) % 7 === 0, registryTable = reg)
    val cols = audit.columns.filter(_.endsWith("_rows"))
    assert(cols.toSet === Set("live_rows", "bm25_rows", "bm25_roster_rows",
      "bm25_norm_rows", "minhash_rows", "ivfsq_rows", "ivfpq_rows",
      "dhash_rows", "v1_rows", "v2_rows"), cols.mkString(","))
    val rows = audit.collect()
    assert(rows.length === 10) // 70 ids, every 7th doomed
    rows.foreach { r =>
      cols.foreach(c => assert(r.getAs[Long](c) === 0L,
        s"residue on $c for id ${r.getAs[Long]("id")}"))
    }
    // survivors keep their presence on every surface
    val ctl = Comparator.absenceAudit(Seq(Off + 1L).toDF("doc_id"), "doc_id",
      Takedown.auditSurfaces(spark, "tkd1", reg)).head()
    cols.foreach(c => assert(ctl.getAs[Long](c) === 1L, s"control lost on $c"))
    // live really shrank; versions really purged
    assert(spark.read.parquet(dir).count() === 60L)
    assert(Snapshots.readVersion(spark, dir, 1L)
      .filter((col("doc_id") - Off) % 7 === 0).count() === 0L)
    // idempotent: a second sweep finds nothing and audits empty
    assert(Takedown.sweep(spark, "tkd1", (col("doc_id") - Off) % 7 === 0,
      registryTable = reg).count() === 0L)
  }

  test("strict sweep fails loudly on an unregistered index-layout table holding swept ids; registering it (or strict=false) proceeds") {
    val docs = docsFrame(40)
    val emb = embFrame(40)
    val imgs = imgFrame(40)
    // one FORGOTTEN surface per stored layout discovery recognizes:
    // built through the primitive verb, never registered — exactly the
    // operational error the registry exists to catch. (case, family,
    // write): the `crawl_docs` case is a minhash index whose NAME ends
    // in a side-table suffix with no base table behind it — a surface
    // in its own right, not a side table
    val layouts: Seq[(String, String, String => Unit)] = Seq(
      ("minhash", "minhash", (t: String) =>
        Dedup.writeMinhashIndex(docs, "doc_id", "text", t, buckets = 4)),
      ("crawl_docs", "minhash", (t: String) =>
        Dedup.writeMinhashIndex(docs, "doc_id", "text", t, buckets = 4)),
      ("bm25", "bm25", (t: String) =>
        TextAnalysis.writeBm25Index(docs, "doc_id", "text", t, buckets = 4)),
      ("ivfsq", "ivfsq", (t: String) => Similarity.writeIvfSqIndex(emb, "doc_id",
        "embedding", t, nCentroids = 4, buckets = 4)),
      ("ivfpq", "ivfpq", (t: String) => Similarity.writeIvfPqIndex(emb, "doc_id",
        "embedding", t, nCentroids = 4, m = 4, nCodes = 8, buckets = 4)),
      ("dhash", "dhash", (t: String) =>
        Multimodal.writeDHashIndex(imgs, "doc_id", "payload", t, buckets = 4)))
    layouts.foreach { case (name, family, write) =>
      // a corpus per layout: a completed sweep leaves no ids to refuse on
      val (corpus, forgotten) = (s"tkd2_$name", s"tkd2_forgotten_$name")
      val dir = tmp(s"graft_tkd2_$family")
      docs.write.parquet(dir)
      Takedown.registerCorpus(spark, corpus, dir, "doc_id", SharedReg)
      write(forgotten)
      val e = intercept[IllegalArgumentException] {
        Takedown.sweep(spark, corpus, (col("doc_id") - Off) % 5 === 0,
          registryTable = SharedReg)
      }
      assert(e.getMessage.contains("UNREGISTERED") &&
        e.getMessage.contains(forgotten), s"$name: ${e.getMessage}")
      // nothing was touched: the refusal precedes every delete
      assert(spark.read.parquet(dir).count() === 40L, name)
      // register the forgotten surface -> the same sweep completes clean
      Takedown.register(spark, corpus, family, forgotten, registryTable = SharedReg)
      val audit = Takedown.sweep(spark, corpus, (col("doc_id") - Off) % 5 === 0,
        registryTable = SharedReg)
      val cols = audit.columns.filter(_.endsWith("_rows"))
      assert(cols.contains(s"${family}_rows"), s"$name: ${cols.mkString(",")}")
      assert(audit.count() === 8L, name)
      assert(audit.filter(cols.map(col).reduce(_ + _) > 0).count() === 0L, name)
    }
  }

  test("crash-ordering: a sweep that died mid-way (after some index deletes, or after the live delete) completes on rerun") {
    import spark.implicits._
    val dir = tmp("graft_tkd3")
    val reg = SharedReg
    val docs = docsFrame(50)
    docs.write.parquet(dir)
    Takedown.enableVersioning(spark, "tkd3", dir, "doc_id", reg)
    registerThenWrite("tkd3", "bm25", "tkd3_bm25")(
      TextAnalysis.writeBm25Index(docs, "doc_id", "text", _, buckets = 4))
    registerThenWrite("tkd3", "minhash", "tkd3_mh")(
      Dedup.writeMinhashIndex(docs, "doc_id", "text", _, buckets = 4))
    val cond = (col("doc_id") - Off) % 4 === 0
    val doomed = docs.filter(cond).select("doc_id")
    // crash shape A: one family tombstoned, everything else untouched
    Dedup.deleteFromMinhashIndex(spark, "tkd3_mh", doomed)
    // crash shape B stacked on top: the live delete also ran (archiving
    // the pre-delete copy as a version) before the death
    Compaction.deleteWhere(spark, dir, cond)
    assert(spark.read.parquet(dir).filter(cond).count() === 0L)
    // the rerun recovers the ids from the retained version and finishes
    val audit = Takedown.sweep(spark, "tkd3", cond, registryTable = reg)
    assert(audit.count() === 13L) // ids 0,4,...,48
    val cols = audit.columns.filter(_.endsWith("_rows"))
    audit.collect().foreach { r =>
      cols.foreach(c => assert(r.getAs[Long](c) === 0L,
        s"residue on $c for id ${r.getAs[Long]("id")}"))
    }
    val ctl = Comparator.absenceAudit(Seq(Off + 1L).toDF("doc_id"), "doc_id",
      Takedown.auditSurfaces(spark, "tkd3", reg)).head()
    assert(ctl.getAs[Long]("live_rows") === 1L)
    assert(ctl.getAs[Long]("bm25_rows") === 1L)
    assert(ctl.getAs[Long]("minhash_rows") === 1L)
  }

  test("bloom surface: the sweep rebuilds it from the post-delete corpus — doomed docs stop flagging, survivors keep flagging") {
    val dir = tmp("graft_tkd4")
    val reg = SharedReg
    val docs = docsFrame(40)
    docs.write.parquet(dir)
    Takedown.registerCorpus(spark, "tkd4", dir, "doc_id", reg)
    // a do-not-train roster bloom built over the WHOLE corpus text
    Takedown.writeBloomIndex(spark, "tkd4", docs, "text", "tkd4_bloom",
      provenance = "roster",
      n = 4, registryTable = reg)
    val cond = (col("doc_id") - Off) % 5 === 0
    val doomedDocs = docs.filter(cond)
    def flagged(probe: org.apache.spark.sql.DataFrame): Long =
      Corpus.bloomDecontaminationFromIndex(probe, "doc_id", "text", "tkd4_bloom")
        .filter(col("flagged")).count()
    assert(flagged(doomedDocs) === doomedDocs.count(),
      "pre-sweep: every doomed doc's shingles are in the bloom")
    Takedown.sweep(spark, "tkd4", cond, registryTable = reg)
    // the rebuild holds only the survivors' shingles: doomed docs (with
    // per-doc unique tokens) stop flagging, survivors keep flagging
    assert(flagged(doomedDocs) === 0L,
      "post-sweep: the rebuilt bloom must not know the doomed docs")
    val survivors = spark.read.parquet(dir)
    assert(flagged(survivors) === survivors.count())
  }

  test("surfaceStats: one dashboard frame, flags exactly the per-family isStale calls, phantom registrations read present=false") {
    val dir = tmp("graft_tkd5")
    val reg = SharedReg
    val docs = docsFrame(40)
    docs.write.parquet(dir)
    Takedown.enableVersioning(spark, "tkd5", dir, "doc_id", reg)
    Compaction.compactParquet(spark, dir) // one retained version
    registerThenWrite("tkd5", "bm25", "tkd5_bm25")(
      TextAnalysis.writeBm25Index(docs, "doc_id", "text", _, buckets = 4))
    registerThenWrite("tkd5", "minhash", "tkd5_mh")(
      Dedup.writeMinhashIndex(docs, "doc_id", "text", _, buckets = 4))
    // phantom: registered, never written (the register-first crash shape)
    Takedown.register(spark, "tkd5", "dhash", "tkd5_never_written",
      registryTable = reg)
    val stats = Takedown.surfaceStats(spark, "tkd5", reg).collect()
      .map(r => (r.getString(1), r.getString(2)) ->
        (r.getBoolean(3), if (r.isNullAt(4)) None else Some(r.getBoolean(4))))
      .toMap
    assert(stats(("live", dir)) === ((true, Some(false))))
    assert(stats(("versions", dir))._1 === true)
    assert(stats(("versions", dir))._2 ===
      Some(Snapshots.isStaleVersions(spark, dir)))
    assert(stats(("bm25", "tkd5_bm25"))._2 ===
      Some(TextAnalysis.isStaleBm25Index(spark, "tkd5_bm25")))
    assert(stats(("minhash", "tkd5_mh"))._2 ===
      Some(Dedup.isStaleMinhashIndex(spark, "tkd5_mh")))
    assert(stats(("dhash", "tkd5_never_written")) === ((false, None)),
      "a phantom registration reads present=false, stale=null")
    // remediation names a verb for every present surface
    Takedown.surfaceStats(spark, "tkd5", reg).collect().foreach { r =>
      assert(r.getString(5).nonEmpty)
    }
  }

  test("sweep over a STREAMED curated corpus: the surfaces the ingest funnel maintains are swept by the same one verb") {
    import spark.implicits._
    // 9.3e6 keeps this corpus's ids disjoint from every other suite's
    // planted range in the shared warehouse (strict-discovery rule)
    val S = 9300000L
    def T(d: Long) = s"v${d}a v${d}b v${d}c v${d}d v${d}e v${d}f"
    val seed = Seq((S + 100L, T(S + 100L))).toDF("doc_id", "text")
    val (mh, bm, bloom) = ("tkd_cur_mh", "tkd_cur_bm", "tkd_cur_bloom")
    val reg = SharedReg
    // seed every index registered-then-written, then stream — the
    // funnel's appends keep the REGISTERED tables current
    registerThenWrite("tkd_cur", "minhash", mh)(
      Dedup.writeMinhashIndex(seed, "doc_id", "text", _, buckets = 4))
    registerThenWrite("tkd_cur", "bm25", bm)(
      TextAnalysis.writeBm25Index(seed, "doc_id", "text", _, buckets = 4))
    TextAnalysis.refreshCosineNorms(spark, bm)
    // the funnel's screen holds BENCHMARK shingles — provenance
    // "benchmark", the field whose absence made the pre-r19 sweep
    // silently rebuild this bloom from the post-delete corpus
    Takedown.writeBloomIndex(spark, "tkd_cur",
      Seq((1L, "bench secret xqj wqk eqm rqn")).toDF("doc_id", "text"),
      "text", bloom, provenance = "benchmark", n = 4, registryTable = reg)
    val srcDir = tmp("graft_tkd_cur_src")
    val outDir = tmp("graft_tkd_cur_out")
    val ckpt = tmp("graft_tkd_cur_ckpt")
    (0L until 6L).map(d => (S + d, T(S + d)))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(srcDir)
    // the stream registers its OWN surfaces (live sink included) —
    // register-first, so the corpus is sweepable from epoch one
    graft.streaming.CorpusIngest.startCuratedIngest(
      spark.readStream.schema(spark.read.parquet(srcDir).schema).parquet(srcDir),
      outDir, ckpt, mh, bloomTable = Some(bloom), bm25Table = Some(bm),
      registerCorpus = Some("tkd_cur"), registryTable = reg)
      .awaitTermination(180000)
    assert(Takedown.registered(spark, "tkd_cur", reg)
      .filter(col("family") === "live").count() === 1L)
    assert(spark.read.parquet(outDir).count() === 6L)

    // take down one streamed doc with the one verb; the audit frame
    // is the receipt — zero residue on every registered surface
    val audit = Takedown.sweep(spark, "tkd_cur",
      col("doc_id") === (S + 2L), registryTable = reg)
    val row = audit.collect()
    assert(row.length === 1)
    audit.columns.filter(_.endsWith("_rows")).foreach { c =>
      assert(row.head.getAs[Long](c) === 0L, s"$c must read zero residue")
    }
    // live keeps the survivors, the rosters shrink coherently, and —
    // because purgeBm25Index sweeps the norms sidecar with the roster —
    // the incremental cosine's validity check still passes
    assert(spark.read.parquet(outDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet ===
      ((0L until 6L).map(S + _).toSet - (S + 2L)))
    assert(spark.table(bm + "_docs").filter(col("doc_id") === (S + 2L)).count() === 0L)
    assert(spark.table(mh).filter(col("index_id") === (S + 2L)).count() === 0L)
    val cos = TextAnalysis.lexicalCosineAgainstIndex(spark, bm,
      Seq((S + 900L, T(S + 4L))).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cos.toSeq === Seq((S + 900L, S + 4L)),
      "streamed history must stay cosine-scorable after the sweep")
    // the r19 provenance assertions — both FAILED before the split
    // landed (the pre-r19 sweep rebuilt this benchmark bloom from the
    // 5 surviving corpus docs): the eval-suite screen still flags the
    // planted benchmark phrase, and does NOT flag the corpus docs a
    // resumed stream would re-deliver
    val benchProbe = Corpus.bloomDecontaminationFromIndex(
      Seq((1L, "bench secret xqj wqk eqm rqn")).toDF("doc_id", "text"),
      "doc_id", "text", bloom)
    assert(benchProbe.head().getBoolean(2),
      "post-sweep: the benchmark phrase must still be flagged — the sweep " +
        "must not rebuild a benchmark bloom from the live corpus")
    val corpusProbe = Corpus.bloomDecontaminationFromIndex(
      spark.read.parquet(outDir), "doc_id", "text", bloom)
    assert(corpusProbe.filter(col("flagged")).count() === 0L,
      "post-sweep: surviving corpus docs must not read as benchmark leakage")
  }

  test("maintain: one call runs the named verbs for every stale surface — three dirty families go fresh, data preserved") {
    val dir = tmp("graft_tkd_m")
    val reg = SharedReg
    val docs = docsFrame(40)
    docs.write.parquet(dir)
    Takedown.registerCorpus(spark, "tkdm", dir, "doc_id", reg)
    registerThenWrite("tkdm", "minhash", "tkdm_mh")(
      Dedup.writeMinhashIndex(docs, "doc_id", "text", _, buckets = 4))
    registerThenWrite("tkdm", "bm25", "tkdm_bm25")(
      TextAnalysis.writeBm25Index(docs, "doc_id", "text", _, buckets = 4))
    TextAnalysis.refreshCosineNorms(spark, "tkdm_bm25")
    val vecs = table("embeddings").limit(30).select("embedding")
    Takedown.writeEmbeddingBandIndex(spark, "tkdm", vecs, "embedding",
      "tkdm_emb", registryTable = reg)

    // dirty 1 + 2: tombstone 25% of the signature and postings indexes
    // (past the 20% staleness bar) — purge is the named remediation
    val dead = docs.filter(col("doc_id") < Off + 10).select("doc_id")
    Dedup.deleteFromMinhashIndex(spark, "tkdm_mh", dead)
    TextAnalysis.deleteFromBm25Index(spark, "tkdm_bm25", dead)
    // dirty 3: a fully replayed append doubles the embband rows (50%
    // residue, past the 25% bar) — compact is the named remediation
    graft.operators.Corpus.appendToEmbeddingBandIndex("tkdm_emb", vecs, "embedding")
    assert(Dedup.isStaleMinhashIndex(spark, "tkdm_mh"))
    assert(TextAnalysis.isStaleBm25Index(spark, "tkdm_bm25"))
    assert(graft.operators.Corpus.isStaleEmbeddingBandIndex(spark, "tkdm_emb"))

    // data-equality baselines: what a reader sees BEFORE maintenance
    // (tombstones already applied logically) must survive it untouched
    val mhLiveBefore = spark.table("tkdm_mh")
      .join(spark.table("tkdm_mh_tombstones").select("index_id").distinct(),
        Seq("index_id"), "left_anti")
      .collect().map(_.toString).sorted.toSeq
    val embFlagsBefore = graft.operators.Corpus
      .embeddingDecontaminationFromIndex(
        table("embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", "tkdm_emb", threshold = 0.9)
      .orderBy("vec_id").collect().toSeq

    val receipt = Takedown.maintain(spark, "tkdm", reg).collect()
    val byFamily = receipt.map(r => r.getString(1) -> (r.getString(4),
      if (r.isNullAt(5)) None else Some(r.getBoolean(5)))).toMap
    // dirty families carried stale_before = true on the receipt
    assert(receipt.filter(r => Seq("minhash", "bm25", "embband")
      .contains(r.getString(1))).forall(_.getBoolean(3)))
    assert(byFamily("minhash")._1.startsWith("purgeMinhashIndex"))
    assert(byFamily("bm25")._1 === "purgeBm25Index+restamp+refreshNorms")
    assert(byFamily("embband")._1 === "compactEmbeddingBandIndex")
    assert(byFamily("live")._1 === "none", "a fresh surface is left alone")
    Seq("minhash", "bm25", "embband").foreach { f =>
      assert(byFamily(f)._2 === Some(false), s"$f must read fresh after maintain") }

    // the per-family flags agree with the receipt
    assert(!Dedup.isStaleMinhashIndex(spark, "tkdm_mh"))
    assert(!TextAnalysis.isStaleBm25Index(spark, "tkdm_bm25"))
    assert(!graft.operators.Corpus.isStaleEmbeddingBandIndex(spark, "tkdm_emb"))

    // data equality: the minhash purge made the logical view physical,
    assert(spark.table("tkdm_mh").collect().map(_.toString).sorted.toSeq
      === mhLiveBefore)
    assert(!spark.catalog.tableExists("tkdm_mh_tombstones"))
    // the bm25 roster and norms sidecars agree doc-for-doc post-restamp,
    val roster = spark.table("tkdm_bm25_docs").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(roster === (10 until 40).map(Off + _).toSet)
    assert(spark.table("tkdm_bm25_norms").select("doc_id")
      .collect().map(_.getLong(0)).toSet === roster)
    // and the embband probe flags are byte-identical after compaction
    val embFlagsAfter = graft.operators.Corpus
      .embeddingDecontaminationFromIndex(
        table("embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", "tkdm_emb", threshold = 0.9)
      .orderBy("vec_id").collect().toSeq
    assert(embFlagsAfter === embFlagsBefore)

    // maintain is idempotent: a second call finds nothing to do
    val second = Takedown.maintain(spark, "tkdm", reg).collect()
    assert(second.forall(_.getString(4) === "none"))
  }

  test("maintain: a fill-saturated bloom rebuilds WIDER from the registered text column — fresh in one verb, flags preserved") {
    val dir = tmp("graft_tkd_mb")
    val reg = SharedReg
    val docs = docsFrame(40)
    docs.write.parquet(dir)
    Takedown.registerCorpus(spark, "tkdmb", dir, "doc_id", reg)
    // deliberately narrow: 40 docs × 5 doc-unique 2-gram shingles × 4
    // hash positions ≈ 800 insertions into 2048 bits — fill ≈ 32%,
    // past the 25% staleness bar; ONE doubling (4096) lands ≈ 18%
    Takedown.writeBloomIndex(spark, "tkdmb", docs, "text", "tkdmb_bloom",
      provenance = "roster", n = 2, mBits = 2048, k = 4, registryTable = reg)
    assert(Corpus.isStaleBloomIndex(spark, "tkdmb_bloom"),
      "the fixture must saturate the filter or the test proves nothing")
    import spark.implicits._
    val probe = docs.unionByName((0 until 5)
      .map(d => (Off + 900L + d, s"z${d}a z${d}b z${d}c z${d}d z${d}e z${d}f"))
      .toDF("doc_id", "text"))

    val receipt = Takedown.maintain(spark, "tkdmb", reg).collect()
      .map(r => r.getString(1) -> (r.getString(4),
        if (r.isNullAt(5)) None else Some(r.getBoolean(5)))).toMap
    assert(receipt("bloom")._1 === "writeBloomIndex(mBits=4096)",
      receipt("bloom")._1)
    assert(receipt("bloom")._2 === Some(false),
      "one maintain call must leave the bloom fresh")
    assert(!Corpus.isStaleBloomIndex(spark, "tkdmb_bloom"))
    // the rebuild kept the stored hash family and doubled only the width
    val stats = spark.table("tkdmb_bloom_stats").head()
    assert((stats.getInt(0), stats.getInt(1), stats.getInt(2)) === ((4096, 4, 2)))
    // flags: every live-corpus doc still reads contaminated, the novel
    // docs read clean — the rebuild preserved the filter's decisions
    val flags = Corpus.bloomDecontaminationFromIndex(
      probe, "doc_id", "text", "tkdmb_bloom")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    (0 until 40).foreach(d => assert(flags(Off + d),
      s"in-corpus doc $d must stay flagged after the rebuild"))
    (0 until 5).foreach(d => assert(!flags(Off + 900L + d),
      s"novel doc $d must stay clean after the rebuild"))
    // idempotent: the freshly-rebuilt bloom is left alone next call
    val second = Takedown.maintain(spark, "tkdmb", reg).collect()
      .filter(_.getString(1) == "bloom")
    assert(second.forall(_.getString(4) === "none"))
  }

  test("maintain: a drifted z-ordered live surface repairs through the staged epoch recluster") {
    import graft.plans.ZOrder
    val reg = SharedReg
    val dir = tmp("graft_tkd_mz")
    val base = docsFrame(60)
    // epoch 0 sets the layout contract; epochs 1-2 land entirely
    // outside the stored boundaries -- the edge-bucket drift signal
    ZOrder.zorderInit(base, Seq("doc_id"), dir)
    ZOrder.zorderAppendEpoch(base, dir, 0L, numFiles = 2)
    ZOrder.zorderAppendEpoch(base.select((col("doc_id") + 100000L).as("doc_id"),
      col("text")), dir, 1L, numFiles = 2)
    ZOrder.zorderAppendEpoch(base.select((col("doc_id") + 200000L).as("doc_id"),
      col("text")), dir, 2L, numFiles = 2)
    assert(ZOrder.isStaleZorder(spark, dir), "two drifted epochs must read stale")
    Takedown.registerCorpus(spark, "tkdmz", dir, "doc_id", reg)
    val before = spark.read.parquet(dir).drop("batch")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val receipt = Takedown.maintain(spark, "tkdmz", reg).collect()
      .map(r => r.getString(1) -> (r.getString(4),
        if (r.isNullAt(5)) None else Some(r.getBoolean(5)))).toMap
    assert(receipt("live")._1 === "reclusterZorderEpochs",
      "an epoch-partitioned layout must repair through the epoch collapser")
    assert(receipt("live")._2 === Some(false))
    assert(!ZOrder.isStaleZorder(spark, dir))
    val after = spark.read.parquet(dir).drop("batch")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(after === before, "recluster is a pure permutation")
  }

  test("sweep refuses a pre-provenance bloom BEFORE touching anything; setBloomProvenance is the migration") {
    val dir = tmp("graft_tkd_pv")
    val reg = SharedReg
    val docs = docsFrame(20)
    docs.write.parquet(dir)
    Takedown.registerCorpus(spark, "tkdpv", dir, "doc_id", reg)
    // a legacy registration: bloom recorded without provenance (the
    // low-level register path pre-r19 callers used)
    Corpus.writeBloomIndex(docs, "text", "tkdpv_bloom", n = 2)
    Takedown.register(spark, "tkdpv", "bloom", "tkdpv_bloom", "text", reg)
    val cond = (col("doc_id") - Off) % 7 === 0
    val e = intercept[IllegalArgumentException] {
      Takedown.sweep(spark, "tkdpv", cond, registryTable = reg)
    }
    assert(e.getMessage.contains("setBloomProvenance") &&
      e.getMessage.contains("tkdpv_bloom"), e.getMessage)
    // pre-flight means PRE-flight: the refused sweep mutated nothing —
    // a mid-sweep refusal would leave a rerun with zero matching ids
    // and the roster rebuild unreachable
    assert(spark.read.parquet(dir).count() === 20L,
      "the refused sweep must not have deleted from live")
    // migrate, then the sweep completes with roster semantics: doomed
    // docs' doc-unique shingles leave the rebuilt roster
    Takedown.setBloomProvenance(spark, "tkdpv", "tkdpv_bloom", "roster",
      registryTable = reg)
    Takedown.sweep(spark, "tkdpv", cond, registryTable = reg)
    val flags = Corpus.bloomDecontaminationFromIndex(docs, "doc_id", "text",
      "tkdpv_bloom").collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    (0 until 20).foreach { d =>
      assert(flags(Off + d) === (d % 7 != 0),
        s"doc $d: roster rebuild must forget exactly the doomed docs")
    }
    // conflicting NON-empty provenances refuse; same value is a no-op
    val e2 = intercept[IllegalArgumentException] {
      Takedown.register(spark, "tkdpv", "bloom", "tkdpv_bloom", "text", reg,
        provenance = "benchmark")
    }
    assert(e2.getMessage.contains("already registered"), e2.getMessage)
    Takedown.register(spark, "tkdpv", "bloom", "tkdpv_bloom", "text", reg,
      provenance = "roster")
  }

  test("maintain: a benchmark bloom widens from its registered SOURCE, never from live — and reports needs-rebuild without one") {
    import spark.implicits._
    val dir = tmp("graft_tkd_mbs")
    val benchDir = tmp("graft_tkd_mbs_bench")
    val reg = SharedReg
    val docs = docsFrame(40)
    docs.write.parquet(dir)
    // benchmark rows share NO shingles with the corpus (b-tokens vs
    // u-tokens) — the one property that makes source-vs-live provable
    val bench = (0 until 40).map(d => (Off + 500L + d,
      s"b${d}a b${d}b b${d}c b${d}d b${d}e b${d}f")).toDF("doc_id", "text")
    bench.write.parquet(benchDir)
    Takedown.registerCorpus(spark, "tkdmbs", dir, "doc_id", reg)
    // saturated on purpose (the tkdmb fixture rule): 40 docs × 5
    // doc-unique 2-grams × 4 hashes ≈ 800 insertions into 2048 bits
    Takedown.writeBloomIndex(spark, "tkdmbs", bench, "text", "tkdmbs_bloom",
      provenance = "benchmark", n = 2, mBits = 2048, k = 4,
      registryTable = reg)
    assert(Corpus.isStaleBloomIndex(spark, "tkdmbs_bloom"),
      "the fixture must saturate the filter or the test proves nothing")
    val bitsBefore = spark.table("tkdmbs_bloom_stats").head().getInt(0)

    // without a source: reported, NOT rebuilt (and NEVER from live)
    val r1 = Takedown.maintain(spark, "tkdmbs", reg).collect()
      .filter(_.getString(1) == "bloom").head
    assert(r1.getString(4).startsWith("needs-rebuild (benchmark bloom has no registered source"),
      r1.getString(4))
    assert(spark.table("tkdmbs_bloom_stats").head().getInt(0) === bitsBefore,
      "no source: the stored screen must be untouched")

    // register the true source, then maintain widens from IT: the
    // benchmark rows still flag, the corpus docs still don't — a
    // live-rebuild would invert both
    Takedown.setBloomProvenance(spark, "tkdmbs", "tkdmbs_bloom", "benchmark",
      source = benchDir, registryTable = reg)
    val st = Corpus.bloomIndexStats(spark, "tkdmbs_bloom").head()
    val expected = Corpus.bloomRebuildBits(
      st.getAs[Int]("m_bits"), st.getAs[Long]("set_bits")).get
    val r2 = Takedown.maintain(spark, "tkdmbs", reg).collect()
      .filter(_.getString(1) == "bloom").head
    assert(r2.getString(4) === s"writeBloomIndex(mBits=$expected)", r2.getString(4))
    assert(r2.getBoolean(3) === true)
    assert(!r2.isNullAt(5) && !r2.getBoolean(5),
      "the widened benchmark screen must read fresh")
    val benchFlags = Corpus.bloomDecontaminationFromIndex(bench, "doc_id",
      "text", "tkdmbs_bloom").filter(!col("flagged")).count()
    assert(benchFlags === 0L, "every benchmark row must still be flagged")
    // bit-for-bit: the widened screen equals a from-scratch build over
    // the benchmark SOURCE — the strongest form of "never read live"
    // (and immune to the width-dependent false-positive pattern a
    // flags-only comparison would be exposed to)
    Corpus.writeBloomIndex(bench, "text", "tkdmbs_twin",
      n = 2, mBits = expected, k = 4)
    val got = spark.table("tkdmbs_bloom").select("bit").distinct()
      .collect().map(_.get(0)).toSet
    val want = spark.table("tkdmbs_twin").select("bit").distinct()
      .collect().map(_.get(0)).toSet
    assert(got === want,
      "widened screen == a from-scratch build over the benchmark source")
  }

  test("bloomRebuildBits: multi-doubling clears the bar in one pass; the 2^30 cap reports instead of thrashing") {
    // at the cap: no rebuild can help — None, so maintain reports
    // instead of re-running a full-corpus write every pass
    assert(Corpus.bloomRebuildBits(1 << 30, 900000000L) === None)
    // 60% fill: one doubling lands 30% (> 25% bar — the pre-r19 blind
    // double would rebuild and STAY stale), two land 15% — ×4 in one verb
    assert(Corpus.bloomRebuildBits(2048, 1229L) === Some(8192))
    // just past the bar: a single doubling suffices (the tkdmb shape)
    assert(Corpus.bloomRebuildBits(2048, 656L) === Some(4096))
    // a filter so full even the cap can't clear it: one best-effort
    // rebuild at the cap (the NEXT pass then reads None and reports)
    assert(Corpus.bloomRebuildBits(1 << 29, (1L << 29) - 1) === Some(1 << 30))
  }
}
