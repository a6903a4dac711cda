package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Dedup, TextAnalysis}
import graft.plans.Compaction

class CorpusIngestSpec extends SparkSpec {

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** documents + a planted exact duplicate of doc 0 (id 10000), stamped
    * one per minute from a 1-hour base: ingest spans ~8 hours, so a
    * 1-hour watermark closes all but the tail windows within ONE
    * AvailableNow run (the run's final catch-up batch executes with the
    * advanced watermark — a watermark advanced by a run's LAST batch is
    * never persisted, so multi-run flushing can't be relied on).
    * The base offset keeps every event time strictly above the initial
    * watermark of 0 — a row AT the watermark is late-dropped.
    * The duplicate collides with doc 0 at the same minute, so whichever
    * row the stream keeps lands in the same window with the same token
    * count.
    */
  private def writeMain(dir: String): Unit = {
    val docs = table("documents")
      .select("doc_id", "text", "lang", "source")
    val dup = docs.filter(col("doc_id") === 0)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"),
        col("lang"), col("source"))
    docs.union(dup)
      .withColumn("ingest_time",
        timestamp_micros((lit(3600L) + pmod(col("doc_id"), lit(500L)) * 60L) * 1000000L))
      .write.mode("overwrite").parquet(dir)
  }

  private val MinQ = 0.3

  /** The batch twin of the clean stage over the same landing dir. */
  private def twinClean(dir: String) = Dedup.exact(
    spark.read.parquet(dir)
      .filter(TextAnalysis.qualityScore(col("text")) >= MinQ),
    "doc_id", "text")
    .withColumn("fp", TextAnalysis.fingerprint(col("text")))

  test("streaming clean keeps the batch twin's content set, exactly once") {
    val srcDir = tmp("graft_ingest_src1")
    writeMain(srcDir)
    val outDir = tmp("graft_ingest_out")
    val cleaned = CorpusIngest.clean(
      CorpusIngest.documentsStream(spark, srcDir), MinQ, watermark = "1 hour")
    CorpusIngest.start(cleaned, outDir, tmp("graft_ingest_ckpt"))
      .awaitTermination(180000)
    val streamed = spark.read.parquet(s"$outDir/batch=*")

    // same kept-content set (fingerprints), no fingerprint twice
    val sFps = streamed.select("fp").collect().map(_.getLong(0)).toSeq
    val tFps = twinClean(srcDir).select("fp").collect().map(_.getLong(0)).toSeq
    assert(sFps.length === sFps.distinct.length, "stream emitted a dup fp")
    assert(sFps.toSet === tFps.toSet)
    // exactly one representative of the planted duplicate pair survives
    // (which one is micro-batch-order-dependent — that's the contract)
    assert(streamed.filter(col("doc_id").isin(0L, 10000L)).count() === 1)
    // the quality gate cut something, but not everything
    val total = spark.read.parquet(srcDir).count()
    assert(streamed.count() > 0 && streamed.count() < total)
  }

  test("startWithIndex: history colliders drop, survivors append, the next epoch remembers them") {
    import spark.implicits._
    val history = table("documents").select("doc_id", "text").filter(col("doc_id") < 250)
    graft.operators.Dedup.writeMinhashIndex(history, "doc_id", "text",
      "ingest_mh_idx", buckets = 4)
    val idxBefore = spark.table("ingest_mh_idx").count()

    def stamp(df: org.apache.spark.sql.DataFrame) = df.withColumn("ingest_time",
      timestamp_micros((lit(3600L) + pmod(col("doc_id"), lit(500L)) * 60L) * 1000000L))
    val srcDir = tmp("graft_ingest_idx_src")
    val outDir = tmp("graft_ingest_idx_out")
    val ckpt = tmp("graft_ingest_idx_ckpt")
    // epoch 1: 30 unique synthetic docs, one verbatim copy of history
    // doc 7 (must collide with the index and drop), and an intra-batch
    // near-dup PAIR (1050/1051: same text + a trailing marker — exact
    // fingerprints differ so clean() passes both; the self-pass must
    // keep only the lower id)
    // every token carries the doc tag: distinct docs share NO shingles
    // (a shared template would make the fresh docs near-dup EACH OTHER
    // and the self-pass would rightly thin them)
    def phrase(tag: String) = (1 to 25).map(t => s"${tag}w$t").mkString(" ")
    val fresh = (0 until 30).map(i => (1000L + i, phrase(s"e1d$i")))
      .toDF("doc_id", "text")
    val pair = Seq(
      (1050L, phrase("pairdoc")),
      (1051L, phrase("pairdoc") + " trailing extra marker")
    ).toDF("doc_id", "text")
    val copied = history.filter(col("doc_id") === 7)
      .select(lit(20000L).as("doc_id"), col("text"))
    stamp(fresh.union(pair).union(copied)).write.mode("overwrite").parquet(srcDir)

    def run(): Unit = {
      val cleaned = CorpusIngest.clean(
        CorpusIngest.documentsStream(spark, srcDir), minQuality = 0.0,
        watermark = "1 hour")
      // 0.75 = 6 of 8 components: the near-dup cases land at 7-8/8 and
      // unrelated docs at 0/8 (verified offline), so the gate has two
      // components of margin on each side
      CorpusIngest.startWithIndex(cleaned, outDir, ckpt, "ingest_mh_idx",
        threshold = 0.75)
        .awaitTermination(180000)
    }
    run()
    val epoch1 = spark.read.parquet(s"$outDir/batch=*")
    val ids1 = epoch1.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids1.contains(20000L), "history collider must be dropped")
    assert((1000L until 1030L).forall(ids1.contains), ids1.toSeq.sorted.mkString(","))
    // intra-batch near-dup pair: keep-first by id
    assert(ids1.contains(1050L) && !ids1.contains(1051L), ids1.toSeq.sorted.mkString(","))
    // survivors' signatures were appended (this OUTER session resolved
    // the table pre-append, so it must refresh — the appending session
    // refreshes itself, it cannot reach ours)
    spark.catalog.refreshTable("ingest_mh_idx")
    assert(spark.table("ingest_mh_idx").count() === idxBefore + 31)

    // epoch 2: a NEAR-dup of an epoch-1 survivor (trailing marker, so
    // its exact fingerprint dodges clean()'s watermark state and only
    // the appended INDEX can catch it) and one genuinely new doc —
    // the index remembers the prior epoch
    val epoch2 = Seq(
      (2000L, phrase("e1d3") + " trailing extra marker"),
      (2001L, phrase("e2new"))
    ).toDF("doc_id", "text")
    stamp(epoch2).write.mode("append").parquet(srcDir)
    run()
    val ids2 = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids2.contains(2000L), "epoch-1 survivor near-dup must collide via the appended index")
    assert(ids2.contains(2001L), ids2.toSeq.sorted.mkString(","))
  }

  test("startImageIngest: perceptual colliders drop, non-images pass through, the next epoch remembers survivors") {
    import spark.implicits._
    // hashed per-(doc, pixel) grays with a FULL-AVALANCHE mix (a
    // multiplicative hash is linear — adjacent pixels would keep a
    // near-constant difference and every doc's gradient signs would
    // match): distinct docs get decorrelated dHashes; deterministic —
    // green once, green always
    def mix8(z0: Long): Int = {
      var z = z0 * 0x9E3779B97F4A7C15L
      z ^= (z >>> 33); z *= 0xFF51AFD7ED558CCDL; z ^= (z >>> 33)
      (z & 0xffL).toInt
    }
    def img(d: Int, bump: Int = 0): Array[Byte] = {
      val px = new Array[Byte](9 * 8 * 3)
      var o = 0
      for (y <- 0 until 8; x <- 0 until 9) {
        val b = if (x == 0 && y == 0) bump else 0
        val v = ((mix8(x + 9 * y + 72 * d + 1) + b) % 256).toByte
        px(o) = v; px(o + 1) = v; px(o + 2) = v; o += 3
      }
      "P6\n9 8\n255\n".getBytes("US-ASCII") ++ px
    }
    val history = (0 until 10).map(d => (d.toLong, img(d))).toDF("doc_id", "payload")
    graft.operators.Multimodal.writeDHashIndex(history, "doc_id", "payload",
      "ingest_dh_idx", buckets = 4)
    val srcDir = tmp("graft_mi_src")
    val outDir = tmp("graft_mi_out")
    val ckpt = tmp("graft_mi_ckpt")
    // epoch 1: 8 fresh images, one exact copy of history image 3 (must
    // collide), an intra-batch near-pair (1050 base / 1051 one-pixel
    // bump: keep-first drops 1051), and a NON-image payload (no
    // fingerprint -> passes through undeduped)
    val fresh = (0 until 8).map(i => (1000L + i, img(100 + i * 3)))
    val pair = Seq((1050L, img(500)), (1051L, img(500, bump = 40)))
    val copied = Seq((20000L, img(3)))
    val junk = Seq((30000L, "not an image".getBytes("US-ASCII")))
    (fresh ++ pair ++ copied ++ junk).toDF("doc_id", "payload")
      .write.mode("overwrite").parquet(srcDir)
    def mediaStream() = spark.readStream
      .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
    def run(): Unit =
      CorpusIngest.startImageIngest(mediaStream(), outDir, ckpt, "ingest_dh_idx")
        .awaitTermination(180000)
    run()
    val ids1 = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids1.contains(20000L), "history collider must drop")
    assert((1000L until 1008L).forall(ids1.contains), ids1.toSeq.sorted.mkString(","))
    assert(ids1.contains(1050L) && !ids1.contains(1051L), ids1.toSeq.sorted.mkString(","))
    assert(ids1.contains(30000L), "non-image payloads pass through undeduped")
    // epoch 2: a copy of an epoch-1 survivor (only the appended index
    // can catch it) + a genuinely new image
    Seq((2000L, img(100)), (2001L, img(700)))
      .toDF("doc_id", "payload").write.mode("append").parquet(srcDir)
    run()
    val ids2 = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids2.contains(2000L), "epoch-1 survivor copy must collide via the appended index")
    assert(ids2.contains(2001L), ids2.toSeq.sorted.mkString(","))
  }

  test("startAudioIngest: volume/rate twins of accepted clips collide across epochs") {
    import spark.implicits._
    def wave(base: Int, n: Int): Seq[Int] =
      (0 until n).map(j => 2 * ((j * j * 7 + j * 31 + base * 131) % 12000 - 6000))
    def wavBytes(samples: Seq[Int], rate: Int): Array[Byte] = {
      val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
      def ascii(s: String): Unit = bb ++= s.getBytes("US-ASCII")
      def le16(v: Int): Unit = { bb += (v & 0xff).toByte; bb += ((v >> 8) & 0xff).toByte }
      def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >> 16) & 0xffff) }
      ascii("RIFF"); le32(36 + samples.length * 2); ascii("WAVE")
      ascii("fmt "); le32(16); le16(1); le16(1); le32(rate); le32(rate * 2)
      le16(2); le16(16); ascii("data"); le32(samples.length * 2)
      samples.foreach(s => le16(s & 0xffff))
      bb.toArray
    }
    val history = (0 until 6).map(d => (d.toLong, wavBytes(wave(d, 120), 4000)))
      .toDF("doc_id", "payload")
    graft.operators.Multimodal.writeAudioFingerprintIndex(history,
      "doc_id", "payload", "ingest_afp_idx", buckets = 4, canonicalRate = 4000)
    val srcDir = tmp("graft_ai_src")
    val outDir = tmp("graft_ai_out")
    val ckpt = tmp("graft_ai_ckpt")
    // epoch 1: a fresh clip + a HALF-VOLUME DOUBLE-RATE twin of history
    // clip 2 (only the perceptual fingerprint can see through that)
    Seq(
      (1000L, wavBytes(wave(50, 120), 4000)),
      (1001L, wavBytes(wave(2, 120).flatMap(v => Seq(v / 2, v / 2)), 8000)))
      .toDF("doc_id", "payload").write.mode("overwrite").parquet(srcDir)
    def run(): Unit =
      CorpusIngest.startAudioIngest(
        spark.readStream.schema(spark.read.parquet(srcDir).schema).parquet(srcDir),
        outDir, ckpt, "ingest_afp_idx", canonicalRate = 4000)
        .awaitTermination(180000)
    run()
    val ids1 = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 === Set(1000L), ids1.toSeq.sorted.mkString(","))
    // epoch 2: a rate-doubled twin of the epoch-1 SURVIVOR — the
    // appended fingerprints remember it
    Seq((2000L, wavBytes(wave(50, 120).flatMap(v => Seq(v, v)), 8000)),
      (2001L, wavBytes(wave(60, 120), 4000)))
      .toDF("doc_id", "payload").write.mode("append").parquet(srcDir)
    run()
    val ids2 = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids2.contains(2000L), "epoch-1 survivor's rate twin must collide")
    assert(ids2.contains(2001L), ids2.toSeq.sorted.mkString(","))
  }

  test("startVideoIngest: noisy re-delivered clips collide across epochs, non-video passes through") {
    import spark.implicits._
    // full-avalanche per-(clip, frame, pixel) grays — the image-ingest
    // fixture rule: linear ramps would make every clip's gradient
    // signs collide
    def mix8(z0: Long): Int = {
      var z = z0 * 0x9E3779B97F4A7C15L
      z ^= (z >>> 33); z *= 0xFF51AFD7ED558CCDL; z ^= (z >>> 33)
      (z & 0xffL).toInt
    }
    def frame(base: Int, t: Int, bump: Int): Array[Byte] = {
      val px = new Array[Byte](9 * 8 * 3)
      var o = 0
      for (y <- 0 until 8; x <- 0 until 9) {
        val b = if (x == 0 && y == 0) bump else 0
        val v = ((mix8(x + 9L * y + 72L * (base * 3 + t) + 1) + b) % 256).toByte
        px(o) = v; px(o + 1) = v; px(o + 2) = v; o += 3
      }
      "P6\n9 8\n255\n".getBytes("US-ASCII") ++ px
    }
    def avi(frames: Seq[Array[Byte]]): Array[Byte] = {
      val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
      def ascii(s: String): Unit = bb ++= s.getBytes("US-ASCII")
      def le32(v: Int): Unit =
        (0 to 3).foreach(i => bb += ((v >> (8 * i)) & 0xff).toByte)
      val frameSz = frames.head.length
      val moviSz = 4 + frames.size * (8 + frameSz + (frameSz & 1))
      ascii("RIFF"); le32(4 + 76 + 8 + moviSz); ascii("AVI ")
      ascii("LIST"); le32(68); ascii("hdrl"); ascii("avih"); le32(56)
      le32(40000); le32(0); le32(0); le32(0); le32(frames.size); le32(0)
      le32(1); le32(0); le32(9); le32(8); le32(0); le32(0); le32(0); le32(0)
      ascii("LIST"); le32(moviSz); ascii("movi")
      frames.foreach { f =>
        ascii("00db"); le32(f.length); bb ++= f
        if ((f.length & 1) == 1) bb += 0
      }
      bb.toArray
    }
    // 3 frames per clip; the "noisy re-delivery" bumps ONE frame's
    // corner — the per-bit majority absorbs it, so the twin collides
    def vclip(base: Int, noisy: Boolean = false): Array[Byte] =
      avi((0 until 3).map(t => frame(base, t, if (noisy && t == 0) 40 else 0)))
    val history = (0 until 6).map(d => (d.toLong, vclip(d))).toDF("doc_id", "payload")
    graft.operators.Multimodal.writeVideoFingerprintIndex(history,
      "doc_id", "payload", "ingest_vfp_idx", buckets = 4)
    val srcDir = tmp("graft_vi_src")
    val outDir = tmp("graft_vi_out")
    val ckpt = tmp("graft_vi_ckpt")
    // epoch 1: a fresh clip, a NOISY re-delivery of history clip 2
    // (only the majority fingerprint sees through the frame noise),
    // and a non-video payload (passes through undeduped)
    Seq(
      (1000L, vclip(50)),
      (1001L, vclip(2, noisy = true)),
      (3000L, "not a video".getBytes("US-ASCII")))
      .toDF("doc_id", "payload").write.mode("overwrite").parquet(srcDir)
    def run(): Unit =
      CorpusIngest.startVideoIngest(
        spark.readStream.schema(spark.read.parquet(srcDir).schema).parquet(srcDir),
        outDir, ckpt, "ingest_vfp_idx")
        .awaitTermination(180000)
    run()
    val ids1 = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 === Set(1000L, 3000L), ids1.toSeq.sorted.mkString(","))
    // epoch 2: a noisy twin of the epoch-1 SURVIVOR — the appended
    // fingerprints remember it — plus a genuinely new clip
    Seq((2000L, vclip(50, noisy = true)), (2001L, vclip(60)))
      .toDF("doc_id", "payload").write.mode("append").parquet(srcDir)
    run()
    val ids2 = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids2.contains(2000L), "epoch-1 survivor's noisy twin must collide")
    assert(ids2.contains(2001L), ids2.toSeq.sorted.mkString(","))
  }

  test("startLexicalIngest: streamed epochs == the same appends in batch bit for bit; restart heals both crash windows") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    def doc(d: Int) = (d.toLong, s"w${d % 7}a w${d % 5}b w${d % 3}c shared tok${d % 11}")
    val history = (0 until 40).map(doc).toDF("doc_id", "text")
    TextAnalysis.writeBm25Index(history, "doc_id", "text", "lex_ing_idx", buckets = 4)
    TextAnalysis.refreshCosineNorms(spark, "lex_ing_idx")
    // the batch twin: identical build, identical appends, no stream
    TextAnalysis.writeBm25Index(history, "doc_id", "text", "lex_ing_twin", buckets = 4)
    TextAnalysis.refreshCosineNorms(spark, "lex_ing_twin")
    val e1 = (100 until 120).map(doc).toDF("doc_id", "text")
    val e2 = (200 until 215).map(doc).toDF("doc_id", "text")
    val srcDir = tmp("graft_lx_src")
    val outDir = tmp("graft_lx_out")
    val ckpt = tmp("graft_lx_ckpt")
    e1.write.mode("overwrite").parquet(srcDir)
    def run(): Unit = {
      val q = CorpusIngest.startLexicalIngest(
        spark.readStream.schema(spark.read.parquet(srcDir).schema).parquet(srcDir),
        outDir, ckpt, "lex_ing_idx")
      q.awaitTermination(180000)
      assert(q.exception.isEmpty, q.exception.map(_.toString).getOrElse(""))
    }
    run()
    assert(spark.read.parquet(s"$outDir/batch=*").count() === 20L,
      "epoch 1 must land in the sink")
    e2.write.mode("append").parquet(srcDir)
    run()
    TextAnalysis.appendToBm25Index(spark, "lex_ing_twin", e1, "doc_id", "text")
    TextAnalysis.appendToBm25Index(spark, "lex_ing_twin", e2, "doc_id", "text")
    def rows(t: String) = spark.table(t).collect().map(_.toSeq).toSet
    assert(rows("lex_ing_idx") === rows("lex_ing_twin"), "postings must match")
    assert(rows("lex_ing_idx_docs") === rows("lex_ing_twin_docs"), "roster must match")
    assert(rows("lex_ing_idx_norms") === rows("lex_ing_twin_norms"), "norms must match")
    // lexical retrieval and incremental cosine are current to the
    // last closed epoch — identical to the batch twin, and streamed
    // docs really are scorable history
    val queries = Seq((1L, "shared"), (2L, "w1a")).toDF("query_id", "term")
    def topk(t: String) = TextAnalysis.bm25TopKBatchFromIndex(spark, t, queries, k = 8)
      .collect().map(_.toSeq).toSet
    assert(topk("lex_ing_idx") === topk("lex_ing_twin"))
    assert(topk("lex_ing_idx").nonEmpty)
    val probe = Seq((9000L, "w1a w1b shared")).toDF("doc_id", "text")
    def cos(t: String) = TextAnalysis.lexicalCosineAgainstIndex(
      spark, t, probe, "doc_id", "text", minCosNum = 0, minCosDen = 1)
      .collect().map(_.toSeq).toSet
    assert(cos("lex_ing_idx") === cos("lex_ing_twin"))
    assert(cos("lex_ing_idx").exists(_(1).asInstanceOf[Long] >= 100L),
      "a streamed doc must be scorable cosine history")

    // both crash windows at once: a postings-without-roster doc (100)
    // and a roster-without-norms doc (101) — the incremental cosine
    // refuses loudly, and the next stream START heals both before its
    // epoch appends
    graft.plans.Compaction.rewriteTable(spark, "lex_ing_idx_docs")(
      _.filter(col("doc_id") =!= 100L))
    graft.plans.Compaction.rewriteTable(spark, "lex_ing_idx_norms")(
      _.filter(col("doc_id") =!= 101L))
    val e = intercept[IllegalArgumentException] { cos("lex_ing_idx") }
    assert(e.getMessage.contains("diverges from the live roster"), e.getMessage)
    val e3 = Seq(doc(300)).toDF("doc_id", "text")
    e3.write.mode("append").parquet(srcDir)
    run() // restart recovery: repairBm25Index + repairCosineNorms, then epoch 3
    TextAnalysis.appendToBm25Index(spark, "lex_ing_twin", e3, "doc_id", "text")
    assert(rows("lex_ing_idx_docs") === rows("lex_ing_twin_docs"),
      "restart must backfill the dropped roster row bit-exactly")
    assert(rows("lex_ing_idx_norms") === rows("lex_ing_twin_norms"),
      "restart must backfill the dropped norm row bit-exactly")
    assert(cos("lex_ing_idx") === cos("lex_ing_twin"))
    // the batch=<id> sink holds exactly the streamed epochs
    val sunk = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sunk === ((100L until 120L) ++ (200L until 215L) :+ 300L).toSet)
  }

  test("startMomentsIngest: streamed epochs refit the batch-whole PCA projector; replay can't double-count") {
    import graft.operators.Pca
    val emb = table("embeddings").select("vec_id", "embedding")
    val e1 = emb.filter(col("vec_id") % 2 === 0)
    val e2 = emb.filter(col("vec_id") % 2 === 1)
    val srcDir = tmp("graft_pm_src")
    val outDir = tmp("graft_pm_out")
    val ckpt = tmp("graft_pm_ckpt")
    spark.sql("DROP TABLE IF EXISTS pm_ing_moments")
    e1.write.mode("overwrite").parquet(srcDir)
    def run(): Unit = {
      val q = CorpusIngest.startMomentsIngest(
        spark.readStream.schema(spark.read.parquet(srcDir).schema).parquet(srcDir),
        outDir, ckpt, "pm_ing_moments", dim = 64)
      q.awaitTermination(180000)
      assert(q.exception.isEmpty, q.exception.map(_.toString).getOrElse(""))
    }
    run()
    e2.write.mode("append").parquet(srcDir)
    run()
    val streamed = Pca.fitFromMoments(spark, "pm_ing_moments", 8)
    val whole = Pca.fit(emb, "embedding", 64, 8)
    assert(streamed.count == whole.count)
    streamed.mean.zip(whole.mean).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"mean drift: $a vs $b") }
    streamed.eigenvalues.zip(whole.eigenvalues).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"eigenvalue drift: $a vs $b") }
    // crash-replay twin: re-append under an EPOCH ID the stream already
    // used (what a replayed micro-batch does) — the refit is unchanged
    val epochIds = spark.table("pm_ing_moments")
      .select("batch_id").collect().map(_.getLong(0)).toSet
    Pca.appendMoments(e2, "embedding", 64, epochIds.max, "pm_ing_moments")
    val replayed = Pca.fitFromMoments(spark, "pm_ing_moments", 8)
    // tolerance compare, not case-class equality: the re-appended buffer
    // is computed by a separate job whose partial-merge order isn't
    // pinned, so a float-ulp difference can flip the array-min dedupe
    // pick without changing the projector beyond ulp noise
    assert(replayed.count == streamed.count, "replayed epoch changed the row count")
    replayed.mean.zip(streamed.mean).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"replay mean drift: $a vs $b") }
    replayed.eigenvalues.zip(streamed.eigenvalues).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"replay eigenvalue drift: $a vs $b") }
    // the batch=<id> sink holds exactly the streamed vectors
    assert(spark.read.parquet(s"$outDir/batch=*").count() === emb.count())
  }

  test("startCuratedIngest: the composed funnel — quality, decontam, history-dup, batch-dup — with exact per-epoch accounting and all indexes current") {
    import spark.implicits._
    import graft.operators.{Corpus, Dedup, TextAnalysis}
    def T(d: Int) = s"u${d}a u${d}b u${d}c u${d}d u${d}e u${d}f" // doc-unique tokens
    val history = (0 until 6).map(d => (d.toLong, T(d))).toDF("doc_id", "text")
    Dedup.writeMinhashIndex(history, "doc_id", "text", "cur_mh", buckets = 4)
    TextAnalysis.writeBm25Index(history, "doc_id", "text", "cur_bm", buckets = 4)
    TextAnalysis.refreshCosineNorms(spark, "cur_bm")
    val benchText = "bench secret aaa bbb ccc ddd"
    Corpus.writeBloomIndex(Seq((999L, benchText)).toDF("doc_id", "text"),
      "text", "cur_bloom", n = 4)
    val srcDir = tmp("graft_ci_src")
    val outDir = tmp("graft_ci_out")
    val ckpt = tmp("graft_ci_ckpt")
    // epoch 1: one of each funnel class + two accepted
    Seq(
      (1000L, T(100)),                                  // accepted
      (1001L, ("spam " * 10).trim),                     // low quality (word rep)
      (1002L, benchText),                               // benchmark contamination
      (1003L, T(2)),                                    // history near-dup
      (1010L, T(200)), (1011L, T(200)))                 // intra-batch pair
      .toDF("doc_id", "text").write.mode("overwrite").parquet(srcDir)
    def run(): Unit = CorpusIngest.startCuratedIngest(
      spark.readStream.schema(spark.read.parquet(srcDir).schema).parquet(srcDir),
      outDir, ckpt, "cur_mh", bloomTable = Some("cur_bloom"),
      bm25Table = Some("cur_bm")).awaitTermination(180000)
    run()
    val ids1 = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 === Set(1000L, 1010L), ids1.toSeq.sorted.mkString(","))
    val log1 = spark.read.parquet(s"${outDir}_curate_log/batch=*")
      .collect().map(r => (0 to 6).map(r.getLong)).head
    assert(log1 === Seq(6L, 1L, 1L, 0L, 1L, 1L, 2L),
      s"(in, low_quality, contaminated, contaminated_semantic, " +
        s"dup_history, dup_batch, accepted) = $log1")
    // epoch 2: a copy of an epoch-1 SURVIVOR (only the appended
    // signatures catch it) + a fresh doc
    Seq((2000L, T(100)), (2001L, T(300)))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    run()
    val ids2 = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids2 === Set(1000L, 1010L, 2001L), ids2.toSeq.sorted.mkString(","))
    val log2 = spark.read.parquet(s"${outDir}_curate_log/batch=*")
      .orderBy("docs_in").collect().map(r => (0 to 6).map(r.getLong))
    assert(log2.head === Seq(2L, 0L, 0L, 0L, 1L, 0L, 1L), log2.mkString(";"))
    // every index family is current to the last epoch: the minhash
    // roster holds exactly history + accepted, and so do the BM25
    // roster and the norms sidecar (the lexical stage kept them
    // aligned, so the incremental cosine's validity check passes)
    val mhIds = spark.table("cur_mh").select("index_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(mhIds === (0L until 6L).toSet ++ Set(1000L, 1010L, 2001L))
    val roster = spark.table("cur_bm_docs").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(roster === (0L until 6L).toSet ++ Set(1000L, 1010L, 2001L))
    val cos = TextAnalysis.lexicalCosineAgainstIndex(spark, "cur_bm",
      Seq((9000L, T(300))).toDF("doc_id", "text"), "doc_id", "text",
      minCosNum = 4, minCosDen = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cos.toSeq === Seq((9000L, 2001L)),
      "the epoch-2 survivor must be scorable cosine history")
  }

  test("curated epoch with neither screen: counts already known are not recounted (job budget)") {
    import spark.implicits._
    def T(d: Int) = s"u${d}a u${d}b u${d}c u${d}d u${d}e u${d}f"
    spark.sql("DROP TABLE IF EXISTS jb_mh")
    Dedup.writeMinhashIndex((0 until 6).map(d => (d.toLong, T(d))).toDF("doc_id", "text"),
      "doc_id", "text", "jb_mh", buckets = 4)
    val srcDir = tmp("graft_ci_jb_src")
    val outDir = tmp("graft_ci_jb_out")
    (0 until 10).map(i => (100L + i, T(100 + i))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
    // the epoch's own jobs: Spark tags every job of a micro-batch with
    // its batch id
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("streaming.sql.batchId") != null))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try CorpusIngest.startCuratedIngest(stream, outDir, tmp("graft_ci_jb_ckpt"), "jb_mh")
      .awaitTermination(180000)
    finally {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    val log = spark.read.parquet(s"${outDir}_curate_log/batch=*")
      .collect().map(r => (0 to 6).map(r.getLong)).toSeq
    assert(log === Seq(Seq(10L, 0L, 0L, 0L, 0L, 0L, 10L)), log.mkString(";"))
    // 29 when the disabled screens recounted their unchanged input
    assert(jobs.get <= 25, s"one curated epoch ran ${jobs.get} Spark jobs")
  }

  test("startWithIndex → compact → resume: index and batch= layout survive, crash leftover recovered") {
    import spark.implicits._
    def phrase(tag: String) = (1 to 25).map(t => s"${tag}w$t").mkString(" ")
    def stamp(df: org.apache.spark.sql.DataFrame) = df.withColumn("ingest_time",
      timestamp_micros((lit(3600L) + pmod(col("doc_id"), lit(500L)) * 60L) * 1000000L))
    val srcDir = tmp("graft_ic_src")
    val outDir = tmp("graft_ic_out") + "/corpus"
    val ckpt = tmp("graft_ic_ckpt")
    val history = Seq((1L, phrase("hist1")), (2L, phrase("hist2"))).toDF("doc_id", "text")
    Dedup.writeMinhashIndex(history, "doc_id", "text", "ingest_compact_idx", buckets = 4)

    def run(): Unit = {
      val cleaned = CorpusIngest.clean(
        CorpusIngest.documentsStream(spark, srcDir), minQuality = 0.0,
        watermark = "1 hour")
      CorpusIngest.startWithIndex(cleaned, outDir, ckpt, "ingest_compact_idx",
        threshold = 0.75)
        .awaitTermination(180000)
    }
    // epoch 1: 12 fresh docs through the indexed ingest
    stamp((0 until 12).map(i => (1000L + i, phrase(s"c1d$i"))).toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(srcDir)
    run()
    val pre = spark.read.parquet(outDir)
      .select("doc_id", "text").orderBy("doc_id")
      .collect().map(_.toString).toSeq
    assert(pre.length === 12)

    // stage the worst mid-sequence crash state: the dataset renamed
    // aside to __compact_old, nothing at outDir (a compactor died
    // between its two install renames while the stream was paused)
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(new org.apache.hadoop.fs.Path(outDir))
    val old = new org.apache.hadoop.fs.Path(qualified.getParent,
      qualified.getName + "__compact_old")
    assert(fs.rename(qualified, old))
    // re-running compaction recovers the leftover, then compacts;
    // batch= partition layout preserved for the resumed writer
    Compaction.compactParquet(spark, outDir, targetFileBytes = 512L << 20)
    assert(!fs.exists(old))
    val compacted = spark.read.parquet(outDir)
    assert(compacted.columns.contains("batch"))
    assert(compacted.select("doc_id", "text").orderBy("doc_id")
      .collect().map(_.toString).toSeq === pre)
    val epoch1MaxBatch = compacted.agg(max(col("batch").cast("long")))
      .collect()(0).getLong(0)

    // epoch 2 resumes the SAME checkpoint over the compacted dataset:
    // a near-dup of an epoch-1 survivor (only the index can catch it)
    // must drop, a new doc must land in a fresh batch= directory
    stamp(Seq(
      (2000L, phrase("c1d3") + " trailing extra marker"),
      (2001L, phrase("c2new"))
    ).toDF("doc_id", "text")).write.mode("append").parquet(srcDir)
    run()
    val post = spark.read.parquet(outDir)
    val ids = post.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(2000L), "post-compaction index must still catch the near-dup")
    assert(ids.contains(2001L), ids.toSeq.sorted.mkString(","))
    assert(post.count() === 13)
    // the resumed stream appended a NEW batch= directory beside the
    // compacted ones
    assert(post.filter(col("batch").cast("long") > epoch1MaxBatch &&
      col("doc_id") === 2001L).count() === 1)
  }

  test("a stream with zero survivors still leaves a readable empty dataset") {
    type Verb = (org.apache.spark.sql.DataFrame, String, String) =>
      org.apache.spark.sql.streaming.StreamingQuery
    val srcDir = tmp("graft_ingest_src_empty")
    writeMain(srcDir)
    // the indexed verbs are pointed at real surfaces they must never touch
    val history = table("documents").select("doc_id", "text").filter(col("doc_id") < 50)
    Dedup.writeMinhashIndex(history, "doc_id", "text", "empty_mh_idx", buckets = 4)
    TextAnalysis.writeBm25Index(history, "doc_id", "text", "empty_bm_idx", buckets = 4)
    graft.operators.Corpus.writeBloomIndex(history, "text", "empty_bloom_idx", n = 4)
    // every flat verb: the sentinel and the empty-batch guard are one sink's
    val verbs: Seq[(String, Verb)] = Seq(
      "start" -> ((s, out, ckpt) => CorpusIngest.start(s, out, ckpt)),
      "startWithIndex" -> ((s, out, ckpt) =>
        CorpusIngest.startWithIndex(s, out, ckpt, "empty_mh_idx")),
      "startLexicalIngest" -> ((s, out, ckpt) =>
        CorpusIngest.startLexicalIngest(s, out, ckpt, "empty_bm_idx")),
      "startDecontaminated" -> ((s, out, ckpt) => CorpusIngest.startDecontaminated(
        s, out, ckpt, "doc_id", "text", "empty_bloom_idx")),
      "startCuratedIngest" -> ((s, out, ckpt) =>
        CorpusIngest.startCuratedIngest(s, out, ckpt, "empty_mh_idx")),
      "IncrementalSync.start" -> ((s, out, ckpt) => IncrementalSync.start(s, out, ckpt)))
    verbs.foreach { case (verb, run) =>
      val outDir = tmp("graft_ingest_empty_out")
      // an unreachable quality bar drops every row: each micro-batch is
      // empty and skips its write, so only the batch=-1 schema sentinel
      // stands between the reader and path-not-found
      val cleaned = CorpusIngest.clean(
        CorpusIngest.documentsStream(spark, srcDir), minQuality = 1e9,
        watermark = "1 hour")
      val q = run(cleaned, outDir, tmp("graft_ingest_empty_ckpt"))
      q.awaitTermination(180000)
      assert(q.exception.isEmpty, s"$verb: ${q.exception.map(_.toString).getOrElse("")}")
      val back = spark.read.parquet(outDir)
      assert(back.count() === 0, verb)
      // schema survives, so downstream joins/aggregations still resolve
      assert(Seq("doc_id", "text", "fp").forall(back.columns.contains),
        s"$verb: ${back.columns.mkString(",")}")
      // empty micro-batches write nothing: the sentinel is the only epoch
      assert(new java.io.File(outDir).list().filter(_.startsWith("batch=")).toSeq
        === Seq("batch=-1"), verb)
    }
  }

  test("owner-session refresh: the session that started an indexed ingest reads the appended survivors with no refreshTable") {
    import spark.implicits._
    type Run = (String, String) => org.apache.spark.sql.streaming.StreamingQuery
    def phrase(tag: String) = (1 to 25).map(t => s"${tag}w$t").mkString(" ")
    // full-avalanche per-(image, pixel) grays — the image-ingest
    // fixture rule: distinct images get decorrelated dHashes
    def mix8(z0: Long): Int = {
      var z = z0 * 0x9E3779B97F4A7C15L
      z ^= (z >>> 33); z *= 0xFF51AFD7ED558CCDL; z ^= (z >>> 33)
      (z & 0xffL).toInt
    }
    def img(d: Int): Array[Byte] = {
      val px = new Array[Byte](9 * 8 * 3)
      var o = 0
      for (y <- 0 until 8; x <- 0 until 9) {
        val v = mix8(x + 9L * y + 72L * d + 1).toByte
        px(o) = v; px(o + 1) = v; px(o + 2) = v; o += 3
      }
      "P6\n9 8\n255\n".getBytes("US-ASCII") ++ px
    }
    def stream(df: org.apache.spark.sql.DataFrame) = {
      val src = tmp("graft_own_src")
      df.write.mode("overwrite").parquet(src)
      spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    }
    // (index, history build, the ingest) — every arrival is new
    // content, so every arrival survives and appends
    val cases: Seq[(String, () => Unit, Run)] = Seq(
      ("own_mh_idx",
        () => Dedup.writeMinhashIndex(
          (0 until 3).map(i => (i.toLong, phrase(s"oh$i"))).toDF("doc_id", "text"),
          "doc_id", "text", "own_mh_idx", buckets = 4),
        (out, ckpt) => CorpusIngest.startWithIndex(
          stream((0 until 5).map(i => (100L + i, phrase(s"on$i"))).toDF("doc_id", "text")),
          out, ckpt, "own_mh_idx", threshold = 0.75)),
      ("own_dh_idx",
        () => graft.operators.Multimodal.writeDHashIndex(
          (0 until 4).map(d => (d.toLong, img(d))).toDF("doc_id", "payload"),
          "doc_id", "payload", "own_dh_idx", buckets = 4),
        (out, ckpt) => CorpusIngest.startImageIngest(
          stream((0 until 4).map(i => (100L + i, img(100 + 3 * i))).toDF("doc_id", "payload")),
          out, ckpt, "own_dh_idx")))
    cases.foreach { case (idx, build, run) =>
      build()
      // resolve the index in THIS session before the stream: its
      // relation cache now holds the pre-stream file listing
      val before = spark.table(idx).count()
      val q = run(tmp("graft_own_out"), tmp("graft_own_ckpt"))
      q.awaitTermination(180000)
      assert(q.exception.isEmpty, s"$idx: ${q.exception.map(_.toString).getOrElse("")}")
      // a fresh session lists the table's files anew: the ground truth
      val fresh = spark.newSession().table(idx).count()
      assert(fresh > before, s"$idx: the stream appended nothing")
      assert(spark.table(idx).count() === fresh,
        s"$idx: the starting session still reads the pre-stream index")
    }
  }

  test("source rollup emits exactly the closed windows of the batch aggregation") {
    val srcDir = tmp("graft_ingest_src2")
    writeMain(srcDir)
    val outDir = tmp("graft_ingest_roll_out")
    val rolled = CorpusIngest.sourceRollup(
      CorpusIngest.clean(
        CorpusIngest.documentsStream(spark, srcDir), MinQ, watermark = "1 hour"),
      window = "1 hour")
    rolled.writeStream
      .option("checkpointLocation", tmp("graft_ingest_roll_ckpt"))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$outDir/batch=$id")
      }
      .start()
      .awaitTermination(180000)
    val streamed = spark.read.parquet(s"$outDir/batch=*")
      .select(col("window.start").as("ws"), col("source"),
        col("n_docs"), col("n_tokens"))

    // watermark after the data batch: max event (1h + 499 min) - 1h =
    // 7h19m. Exactly the windows ending at or before it have emitted.
    val wmSec = 3600L + 499L * 60 - 3600L
    val twin = twinClean(srcDir)
      .groupBy(window(col("ingest_time"), "1 hour").getField("start").as("ws"),
        col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("n_tokens"))
      .filter(col("ws").cast("long") + 3600L <= wmSec)
    val s = streamed.collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val t = twin.collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(s === t)
    assert(s.nonEmpty)
  }

  test("vocab rollup: streaming KMV sketch equals the batch twin on closed windows") {
    val srcDir = tmp("graft_ingest_src3")
    writeMain(srcDir)
    val outDir = tmp("graft_ingest_vocab_out")
    val rolled = CorpusIngest.vocabRollup(
      CorpusIngest.clean(
        CorpusIngest.documentsStream(spark, srcDir), MinQ, watermark = "1 hour"),
      window = "1 hour", k = 64)
    rolled.writeStream
      .option("checkpointLocation", tmp("graft_ingest_vocab_ckpt"))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$outDir/batch=$id")
      }
      .start()
      .awaitTermination(180000)
    val streamed = spark.read.parquet(s"$outDir/batch=*")
      .select(col("window.start").as("ws"), col("source"),
        col("est_distinct_tokens"), col("sketch_size"))

    // same closed-window rule as the source rollup; the sketch is a set
    // property of each window's distinct token hashes, so the streaming
    // result must equal the batch recompute EXACTLY, not approximately
    val wmSec = 3600L + 499L * 60 - 3600L
    val twin = twinClean(srcDir)
      .select(col("ingest_time"), col("source"),
        explode(graft.operators.TextAnalysis.tokens(lower(col("text")))).as("__tok"))
      .groupBy(window(col("ingest_time"), "1 hour").getField("start").as("ws"),
        col("source"))
      .agg(graft.functions.KmvSketchExpression.kmvSketch(
        graft.operators.Sketches.tokenHash(col("__tok")), 64).as("__sketch"))
      .select(col("ws"), col("source"),
        graft.operators.Sketches.kmvEstimate(col("__sketch"), 64)
          .as("est_distinct_tokens"),
        size(col("__sketch")).cast("long").as("sketch_size"))
      .filter(col("ws").cast("long") + 3600L <= wmSec)
    val s = streamed.collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val t = twin.collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(s === t)
    assert(s.nonEmpty)
    // the state each open group carried is capped at k hashes
    assert(streamed.collect().forall(_.getLong(3) <= 64L))
  }

  test("term-frequency rollup: streaming count-min matrix equals the batch twin on closed windows") {
    val srcDir = tmp("graft_ingest_src5")
    writeMain(srcDir)
    val outDir = tmp("graft_ingest_cm_out")
    CorpusIngest.termFrequencyRollup(
      CorpusIngest.clean(
        CorpusIngest.documentsStream(spark, srcDir), MinQ, watermark = "1 hour"),
      window = "1 hour", w = 32, d = 4)
      .writeStream
      .option("checkpointLocation", tmp("graft_ingest_cm_ckpt"))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$outDir/batch=$id")
      }
      .start()
      .awaitTermination(180000)
    val streamed = spark.read.parquet(s"$outDir/batch=*")
      .select(col("window.start").as("ws"), col("source"), col("cm_sketch"))

    // pure addition is order-insensitive, so the emitted matrices must
    // equal the batch recompute EXACTLY, whatever order batches ran in
    val wmSec = 3600L + 499L * 60 - 3600L
    val twin = twinClean(srcDir)
      .select(col("ingest_time"), col("source"),
        explode(graft.operators.TextAnalysis.tokens(lower(col("text")))).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .groupBy(window(col("ingest_time"), "1 hour").getField("start").as("ws"),
        col("source"))
      .agg(graft.functions.CmSketchExpression.cmSketch(
        graft.functions.KrHashExpression.krHash(col("__tok")), lit(1L), 32, 4)
        .as("cm_sketch"))
      .filter(col("ws").cast("long") + 3600L <= wmSec)
    val s = streamed.collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getSeq[Long](2))).toSet
    val t = twin.collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getSeq[Long](2))).toSet
    assert(s === t)
    assert(s.nonEmpty)
    // state per open group is the fixed matrix, and a probe through
    // the emitted matrix dominates the window's true count
    assert(streamed.collect().forall(_.getSeq[Long](2).length == 128))
    val probed = streamed
      .select(col("ws"), col("source"),
        graft.operators.Sketches.cmEstimate(col("cm_sketch"),
          graft.functions.KrHashExpression.krHash(lit("the")), 32, 4).as("est"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val truth = twinClean(srcDir)
      .select(col("ingest_time"), col("source"),
        explode(graft.operators.TextAnalysis.tokens(lower(col("text")))).as("__tok"))
      .filter(col("__tok") === "the")
      .groupBy(window(col("ingest_time"), "1 hour").getField("start").as("ws"),
        col("source"))
      .agg(count(lit(1)).as("c"))
      .filter(col("ws").cast("long") + 3600L <= wmSec)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    truth.foreach { case (k, c) =>
      assert(probed.getOrElse(k, 0L) >= c, s"$k: probe under true count")
    }
  }

  test("top-terms rollup: streaming MG sketch — exact regime equals batch, tight regime certifies") {
    val srcDir = tmp("graft_ingest_src4")
    writeMain(srcDir)
    val wmSec = 3600L + 499L * 60 - 3600L
    // exact per-(window, source, token) truth over the closed windows
    val truth = twinClean(srcDir)
      .select(col("ingest_time"), col("source"),
        explode(graft.operators.TextAnalysis.tokens(lower(col("text")))).as("term"))
      .groupBy(window(col("ingest_time"), "1 hour").getField("start").as("ws"),
        col("source"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("ws").cast("long") + 3600L <= wmSec)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getString(2)) -> r.getLong(3))
      .toMap

    def runRollup(m: Int, tag: String): Seq[(java.sql.Timestamp, String, String, Long, Long)] = {
      val outDir = tmp(s"graft_ingest_mg_${tag}_out")
      CorpusIngest.topTermsRollup(
        CorpusIngest.clean(
          CorpusIngest.documentsStream(spark, srcDir), MinQ, watermark = "1 hour"),
        window = "1 hour", m = m)
        .writeStream
        .option("checkpointLocation", tmp(s"graft_ingest_mg_${tag}_ckpt"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.write.mode("overwrite").parquet(s"$outDir/batch=$id")
        }
        .start()
        .awaitTermination(180000)
      spark.read.parquet(s"$outDir/batch=*")
        .select(col("window.start").as("ws"), col("source"),
          col("term"), col("est"), col("err"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4))).toSeq
    }

    // exact regime: m above the fixture vocabulary -> no decrement ever
    // fires and the closed windows ARE the exact counts
    val exact = runRollup(m = 1024, tag = "x")
    assert(exact.nonEmpty)
    assert(exact.forall(_._5 == 0L), "exact regime must carry err = 0")
    assert(exact.map(t => (t._1, t._2, t._3) -> t._4).toMap === truth)

    // tight regime: m below vocabulary -> estimates are replay-order-
    // dependent, but every emitted row must satisfy the certificate
    // est <= true <= est + err against the exact truth
    val tight = runRollup(m = 8, tag = "t")
    assert(tight.nonEmpty)
    assert(tight.exists(_._5 > 0L), "m=8 should be below the window vocabulary")
    tight.foreach { case (ws, src, term, est, err) =>
      val truef = truth.getOrElse((ws, src, term), 0L)
      assert(est <= truef && truef <= est + err,
        s"certificate violated: ($ws, $src, $term) est=$est err=$err true=$truef")
    }
  }

  test("length-quantiles rollup: exact regime equals batch, tight regime conserves mass") {
    val srcDir = tmp("graft_ingest_src6")
    writeMain(srcDir)
    val wmSec = 3600L + 499L * 60 - 3600L
    // exact per-(window, source) length multisets over closed windows
    val lens = twinClean(srcDir)
      .select(col("ingest_time"), col("source"),
        graft.operators.TextAnalysis.tokenCount(col("text")).cast("long").as("len"))
      .groupBy(window(col("ingest_time"), "1 hour").getField("start").as("ws"),
        col("source"))
      .agg(sort_array(collect_list(col("len"))).as("lens"))
      .filter(col("ws").cast("long") + 3600L <= wmSec)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getSeq[Long](2)).toMap

    def runRollup(c: Int, tag: String) = {
      val outDir = tmp(s"graft_ingest_qs_${tag}_out")
      CorpusIngest.lengthQuantilesRollup(
        CorpusIngest.clean(
          CorpusIngest.documentsStream(spark, srcDir), MinQ, watermark = "1 hour"),
        window = "1 hour", c = c)
        .writeStream
        .option("checkpointLocation", tmp(s"graft_ingest_qs_${tag}_ckpt"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.write.mode("overwrite").parquet(s"$outDir/batch=$id")
        }
        .start()
        .awaitTermination(180000)
      spark.read.parquet(s"$outDir/batch=*")
        .select(col("window.start").as("ws"), col("source"),
          col("qs_sketch.err").as("err"), col("qs_sketch.items").as("items"),
          col("n_mass"))
        .collect()
        .map(r => ((r.getTimestamp(0), r.getString(1)), r.getLong(2),
          r.getSeq[org.apache.spark.sql.Row](3).map(it => (it.getLong(0), it.getLong(1))),
          r.getLong(4))).toSeq
    }

    // exact regime: c above every window's row count -> no compaction,
    // the emitted items ARE the sorted length multiset at weight 1
    val exact = runRollup(c = 2048, tag = "x")
    assert(exact.nonEmpty)
    exact.foreach { case (key, err, items, mass) =>
      assert(err === 0L, s"$key: exact regime err $err")
      assert(items.map(_._1) === lens(key), s"$key: items != batch multiset")
      assert(items.forall(_._2 == 1L) && mass === lens(key).length.toLong)
    }
    assert(exact.map(_._1).toSet === lens.keySet)

    // tight regime: compaction fires, surviving items are replay-
    // dependent — but total mass is conserved exactly and the err
    // budget stays within the per-window MRL bound
    val tight = runRollup(c = 2, tag = "t")
    assert(tight.exists(_._2 > 0L), "c=2 should force compaction")
    tight.foreach { case (key, err, items, mass) =>
      val n = lens(key).length.toLong
      assert(mass === n, s"$key: mass $mass != rows $n")
      assert(err < n, s"$key: err $err must stay below the window size")
      assert(items.length < lens(key).length || err == 0L,
        s"$key: compaction must shrink the item set")
    }
  }

  test("startWithIndex after a takedown: a deleted history doc stops blocking new arrivals; purge preserves that") {
    import spark.implicits._
    def phrase(tag: String) = (1 to 25).map(t => s"${tag}w$t").mkString(" ")
    def stamp(df: org.apache.spark.sql.DataFrame) = df.withColumn("ingest_time",
      timestamp_micros((lit(3600L) + pmod(col("doc_id"), lit(500L)) * 60L) * 1000000L))
    val srcDir = tmp("graft_idel_src")
    val outDir = tmp("graft_idel_out") + "/corpus"
    val ckpt = tmp("graft_idel_ckpt")
    val history = Seq((1L, phrase("keep1")), (2L, phrase("taken2")))
      .toDF("doc_id", "text")
    Dedup.writeMinhashIndex(history, "doc_id", "text", "ingest_del_idx", buckets = 4)
    def run(): Unit =
      CorpusIngest.startWithIndex(
        CorpusIngest.clean(CorpusIngest.documentsStream(spark, srcDir),
          minQuality = 0.0, watermark = "1 hour"),
        outDir, ckpt, "ingest_del_idx", threshold = 0.75)
        .awaitTermination(180000)
    // epoch 1: near-dups of BOTH history docs — both must drop
    stamp(Seq(
      (100L, phrase("keep1") + " trailing extra marker"),
      (101L, phrase("taken2") + " trailing extra marker"))
      .toDF("doc_id", "text")).write.mode("overwrite").parquet(srcDir)
    run()
    assert(spark.read.parquet(outDir).filter(col("doc_id").isin(100L, 101L))
      .count() === 0, "both history docs still block")
    // takedown: doc 2 deleted — a NEW near-dup of it must now be
    // ADMITTED (content re-enters the corpus legitimately after the
    // original's removal), while doc 1 keeps blocking
    Dedup.deleteFromMinhashIndex(spark, "ingest_del_idx", Seq(2L).toDF("doc_id"))
    stamp(Seq(
      (200L, phrase("taken2") + " other trailing words here"),
      (201L, phrase("keep1") + " other trailing words here"))
      .toDF("doc_id", "text")).write.mode("append").parquet(srcDir)
    run()
    val ids2 = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids2.contains(200L), "deleted history doc must stop blocking")
    assert(!ids2.contains(201L), "surviving history doc must still block")
    // ...and doc 200's own signatures were appended, so the takedown
    // content is now guarded by its NEW representative
    spark.catalog.refreshTable("ingest_del_idx")
    // purge makes the deletion physical; the stream's behavior is
    // unchanged (tombstone-table-missing IS the purged state)
    Dedup.purgeMinhashIndex(spark, "ingest_del_idx")
    stamp(Seq((300L, phrase("taken2") + " third trailing variant marker"))
      .toDF("doc_id", "text")).write.mode("append").parquet(srcDir)
    run()
    val ids3 = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids3.contains(300L),
      "the re-admitted representative (200) must now block its own near-dups")
  }

  test("startClustered lifecycle: clustered epochs accumulate, drift flips staleness, one recluster repairs, the stream resumes") {
    val srcDir = tmp("graft_zst_src")
    val destDir = tmp("graft_zst_out") + "/corpus"
    val ckpt = tmp("graft_zst_ckpt")
    def stamp(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("ingest_time",
        timestamp_micros((lit(3600L) + pmod(col("doc_id"), lit(500L)) * 60L) * 1000000L))
    val base = table("documents").select("doc_id", "text").filter(col("doc_id") < 300)
    def shifted(by: Long) = base.select((col("doc_id") + by).as("doc_id"), col("text"))
    def runOnce(): Unit = {
      val q = CorpusIngest.startClustered(
        CorpusIngest.documentsStream(spark, srcDir).select("doc_id", "text"),
        destDir, ckpt, clusterCols = Seq("doc_id"), numFilesPerEpoch = 2)
      assert(q.awaitTermination(180000), "clustered ingest did not finish")
    }
    // epoch 1 establishes the layout contract from its own distribution
    stamp(base).write.mode("overwrite").parquet(srcDir)
    runOnce()
    assert(graft.plans.ZOrder.hasLayout(spark, destDir))
    assert(!graft.plans.ZOrder.isStaleZorder(spark, destDir),
      "a one-epoch layout is fresh by construction")
    // epochs 2 and 3 drift: every id lands OUTSIDE the stored boundary
    // range, piling into the edge bucket — the zorderStats drift signal
    stamp(shifted(100000)).write.mode("append").parquet(srcDir)
    runOnce()
    stamp(shifted(200000)).write.mode("append").parquet(srcDir)
    runOnce()
    val allRows = spark.read.parquet(destDir)
    assert(allRows.select("batch").distinct().count() >= 3, "one clustered dir per epoch")
    assert(allRows.count() === base.count() * 3)
    val before = spark.read.parquet(destDir).drop("batch")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(graft.plans.ZOrder.isStaleZorder(spark, destDir),
      "two drifted epochs must flip the staleness flag")
    // ONE maintenance pass collapses the epochs under fresh boundaries;
    // the swap is staged, so readers never observe a partial layout and
    // not one row moves content-wise
    graft.plans.ZOrder.reclusterZorderEpochs(spark, destDir, numFiles = 4)
    assert(!graft.plans.ZOrder.isStaleZorder(spark, destDir),
      "fresh boundaries must clear the flag")
    val after = spark.read.parquet(destDir).drop("batch")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(after === before, "recluster is a pure permutation")
    assert(spark.read.parquet(destDir).select("batch").distinct().count() === 1,
      "epochs collapse into one")
    // the stream keeps appending clustered epochs after the recluster
    stamp(shifted(300000)).write.mode("append").parquet(srcDir)
    runOnce()
    assert(spark.read.parquet(destDir).count() === base.count() * 4)
  }

  test("decontaminated ingest drops exactly the bloom-indexed flags; a new suite applies from the next epoch") {
    import graft.operators.Corpus
    val srcDir = tmp("graft_ingest_dcsrc")
    val docs = table("documents").select("doc_id", "text", "lang", "source")
    docs.withColumn("ingest_time",
        timestamp_micros((lit(3600L) + pmod(col("doc_id"), lit(500L)) * 60L) * 1000000L))
      .write.mode("overwrite").parquet(srcDir)
    Corpus.writeBloomIndex(docs.filter(col("doc_id") % 97 === 0), "text",
      "bloom_stream_idx", n = 8, mBits = 1 << 18, k = 5)
    val outDir = tmp("graft_ingest_dcout")
    val ckpt = tmp("graft_ingest_dcckpt")
    CorpusIngest.startDecontaminated(
      CorpusIngest.documentsStream(spark, srcDir), outDir,
      ckpt, "doc_id", "text", "bloom_stream_idx")
      .awaitTermination(180000)
    // the streamed survivor set IS the batch twin's unflagged set
    val streamedIds = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val twinKept = Corpus.bloomDecontaminationFromIndex(
        docs, "doc_id", "text", "bloom_stream_idx")
      .filter(!col("flagged")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(streamedIds === twinKept)
    assert(streamedIds.size < docs.count(), "fixture planted no contamination")
    // the audit log accounts for every document exactly once
    val log = spark.read.parquet(s"${outDir}_decontam_log/batch=*")
    val (nIn, nDropped) = (
      log.agg(sum("docs_in")).head.getLong(0),
      log.agg(sum("docs_dropped")).head.getLong(0))
    assert(nIn === docs.count())
    assert(nDropped === docs.count() - streamedIds.size)
    // append a second suite mid-stream: the NEXT epoch sees it
    Corpus.appendToBloomIndex("bloom_stream_idx",
      docs.filter(col("doc_id") % 89 === 0), "text")
    val shifted = docs.select((col("doc_id") + 700000L).as("doc_id"),
      col("text"), col("lang"), col("source"))
    shifted.withColumn("ingest_time",
        timestamp_micros((lit(3600L) + pmod(col("doc_id"), lit(500L)) * 60L) * 1000000L))
      .write.mode("append").parquet(srcDir)
    // SAME checkpoint: only the appended files form the next epoch —
    // committed epochs are never reprocessed under the wider roster
    CorpusIngest.startDecontaminated(
      CorpusIngest.documentsStream(spark, srcDir), outDir,
      ckpt, "doc_id", "text", "bloom_stream_idx")
      .awaitTermination(180000)
    val secondKept = Corpus.bloomDecontaminationFromIndex(
        shifted, "doc_id", "text", "bloom_stream_idx")
      .filter(!col("flagged")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val allIds = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(allIds.filter(_ >= 700000L) === secondKept,
      "the appended suite must gate the second wave")
  }

  test("semantic decontamination in-stream: the embedding screen drops paraphrase-level leakage the bloom screen misses; a suite appended mid-stream gates the next epoch") {
    import graft.operators.Corpus
    import graft.verify.Takedown
    // corpus = embeddings fixture wearing doc clothes: the text column
    // is per-id unique (the bloom screen can never flag semantically
    // planted rows — that separation is the point of the test)
    val emb = table("embeddings").select(
      col("vec_id").as("doc_id"),
      concat(lit("unique body "), col("vec_id")).as("text"),
      col("embedding"))
    val srcDir = tmp("graft_ingest_semsrc")
    emb.write.mode("overwrite").parquet(srcDir)
    // lexical benchmark: the exact text of docs 100 and 101
    spark.sql("DROP TABLE IF EXISTS sem_bloom_idx")
    spark.sql("DROP TABLE IF EXISTS sem_bloom_idx_stats")
    Corpus.writeBloomIndex(emb.filter(col("doc_id").isin(100L, 101L)),
      "text", "sem_bloom_idx", n = 3)
    // semantic benchmark: the EMBEDDINGS of ids 5..9, registered as a
    // takedown surface like every other stored index
    spark.sql("DROP TABLE IF EXISTS sem_emb_idx")
    spark.sql("DROP TABLE IF EXISTS sem_emb_idx_stats")
    spark.sql("DROP TABLE IF EXISTS graft_surfaces_semspec")
    Takedown.writeEmbeddingBandIndex(spark, "semspec",
      emb.filter(col("doc_id") >= 5 && col("doc_id") < 10), "embedding",
      "sem_emb_idx", registryTable = "graft_surfaces_semspec")
    val outDir = tmp("graft_ingest_semout")
    val ckpt = tmp("graft_ingest_semckpt")
    def run(): Unit = CorpusIngest.startDecontaminated(
      spark.readStream.schema(spark.read.parquet(srcDir).schema).parquet(srcDir),
      outDir, ckpt, "doc_id", "text", "sem_bloom_idx",
      embeddingTable = Some("sem_emb_idx"), embVecCol = "embedding",
      embThreshold = 0.9).awaitTermination(180000)
    run()
    // streamed survivor set == the batch twins' composed unflagged set
    val streamed = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val lexFlagged = Corpus.bloomDecontaminationFromIndex(
        emb, "doc_id", "text", "sem_bloom_idx")
      .filter(col("flagged")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val semFlagged = Corpus.embeddingDecontaminationFromIndex(
        emb, "doc_id", "embedding", "sem_emb_idx", threshold = 0.9)
      .filter(col("contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val allIds = emb.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed === allIds -- lexFlagged -- semFlagged)
    // the screens caught DIFFERENT documents: semantic leakage (5..9)
    // is invisible to the n-gram bloom, and vice versa
    assert((5L until 10L).toSet.subsetOf(semFlagged))
    assert(semFlagged.intersect(lexFlagged).isEmpty)
    assert(lexFlagged.nonEmpty, "the lexical screen must also have bitten")
    // per-screen accounting landed beside the total
    val log = spark.read.parquet(s"${outDir}_decontam_log/batch=*")
    assert(log.agg(sum("docs_in")).head.getLong(0) === allIds.size.toLong)
    assert(log.agg(sum("docs_dropped")).head.getLong(0)
      === (lexFlagged.size + semFlagged.size).toLong)
    assert(log.agg(sum("flagged_semantic")).head.getLong(0)
      === semFlagged.size.toLong)
    // mid-stream benchmark append: embeddings of 20..24 join the suite;
    // a second wave re-using those vectors under new ids drops at the
    // NEXT epoch (same checkpoint — committed epochs stay committed)
    Corpus.appendToEmbeddingBandIndex("sem_emb_idx",
      emb.filter(col("doc_id") >= 20 && col("doc_id") < 25)
        .select(col("embedding")), "embedding")
    val wave2 = emb.select((col("doc_id") + 700000L).as("doc_id"),
      concat(lit("second wave "), col("doc_id")).as("text"),
      col("embedding"))
    wave2.write.mode("append").parquet(srcDir)
    run()
    val after = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val wave2Sem = Corpus.embeddingDecontaminationFromIndex(
        wave2, "doc_id", "embedding", "sem_emb_idx", threshold = 0.9)
      .filter(col("contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert((Set(700005L, 700006L, 700007L, 700008L, 700009L) ++
      Set(700020L, 700021L, 700022L, 700023L, 700024L)).subsetOf(wave2Sem),
      "original AND appended suites must both gate the second wave")
    assert(after.filter(_ >= 700000L)
      === wave2.select("doc_id").collect().map(_.getLong(0)).toSet -- wave2Sem,
      "the second wave survives exactly minus the (now wider) semantic screen")
    // first-wave epochs were NOT reprocessed under the wider suite
    assert(after.filter(_ < 700000L) === streamed)
    // the registered surface shows up on the staleness dashboard
    val dash = Takedown.surfaceStats(spark, "semspec", "graft_surfaces_semspec")
      .filter(col("family") === "embband").collect()
    assert(dash.length === 1 && dash.head.getAs[Boolean]("present"))
  }

  test("curated ingest with a semantic screen: paraphrase-level leakage drops between the bloom stage and the dedup stages, with its own accounting column and registered surface") {
    import spark.implicits._
    import graft.operators.{Corpus, Dedup}
    import graft.verify.Takedown
    def T(d: Int) = s"c${d}a c${d}b c${d}c c${d}d c${d}e c${d}f"
    val vecOf = table("embeddings").select("vec_id", "embedding")
    def vec(id: Long) = vecOf.filter(col("vec_id") === id).head().getSeq[Float](1)
    val history = Seq((0L, T(0), vec(400L))).toDF("doc_id", "text", "embedding")
    spark.sql("DROP TABLE IF EXISTS sem_cur_mh")
    Dedup.writeMinhashIndex(history, "doc_id", "text", "sem_cur_mh", buckets = 4)
    spark.sql("DROP TABLE IF EXISTS sem_cur_emb")
    spark.sql("DROP TABLE IF EXISTS sem_cur_emb_stats")
    Corpus.writeEmbeddingBandIndex(
      vecOf.filter(col("vec_id") >= 5 && col("vec_id") < 8).select("embedding"),
      "embedding", "sem_cur_emb")
    val srcDir = tmp("graft_ci_sem_src")
    val outDir = tmp("graft_ci_sem_out")
    val ckpt = tmp("graft_ci_sem_ckpt")
    spark.sql("DROP TABLE IF EXISTS graft_surfaces_semcur")
    // text is per-doc unique — ONLY the embedding ties 3001 to the
    // benchmark, which is exactly what the lexical stages can't see
    Seq(
      (3000L, T(100), vec(200L)),   // accepted
      (3001L, T(101), vec(5L)),     // semantic leak (bench vector 5)
      (3002L, T(0), vec(201L)))     // history near-dup (text of doc 0)
      .toDF("doc_id", "text", "embedding")
      .write.mode("overwrite").parquet(srcDir)
    CorpusIngest.startCuratedIngest(
      spark.readStream.schema(spark.read.parquet(srcDir).schema).parquet(srcDir),
      outDir, ckpt, "sem_cur_mh",
      embeddingTable = Some("sem_cur_emb"), embThreshold = 0.9,
      registerCorpus = Some("semcur"), registryTable = "graft_surfaces_semcur")
      .awaitTermination(180000)
    val ids = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(3000L), ids.toSeq.sorted.mkString(","))
    val log = spark.read.parquet(s"${outDir}_curate_log/batch=*").head()
    assert(log.getAs[Long]("contaminated_semantic") === 1L)
    assert(log.getAs[Long]("dup_history") === 1L)
    assert(log.getAs[Long]("accepted") === 1L)
    // the embband surface registered with the rest of the funnel
    val fams = Takedown.registered(spark, "semcur", "graft_surfaces_semcur")
      .select("family").collect().map(_.getString(0)).toSet
    assert(fams === Set("live", "minhash", "embband"))
  }

  test("curated ingest with normalizeForm: composed and decomposed variants dedupe across and within epochs; landed text and indexes carry the normalized form") {
    import spark.implicits._
    import graft.operators.Dedup
    def cps(c: Int) = new String(Character.toChars(c))
    val comp = "caf" + cps(0xE9)   // é composed
    val deco = "cafe" + cps(0x301) // e + combining acute
    // the variant word appears 3×/12 tokens: distinct enough raw (the
    // un-normalized shingle Jaccard is ~0.18, far under the 0.9 bar)
    // while staying under the funnel's 0.3 word-repetition cap
    def text(v: String, tag: String) =
      s"$v $tag alpha bravo $v charlie delta echo $v ${tag}x golf hotel"
    val history = Seq((0L, text(comp, "zero"))).toDF("doc_id", "text")
    spark.sql("DROP TABLE IF EXISTS nrm_mh")
    // the history text is composed (= NFC-normalized) — stamp the index
    // accordingly, since r19 the stream's probe REFUSES a mismatched
    // stamp instead of silently not matching (NormFormContractSpec)
    Dedup.writeMinhashIndex(history, "doc_id", "text", "nrm_mh", buckets = 4,
      normForm = "NFC")
    val srcDir = tmp("graft_ci_nrm_src")
    val outDir = tmp("graft_ci_nrm_out")
    val ckpt = tmp("graft_ci_nrm_ckpt")
    Seq(
      (50L, text(deco, "zero")),   // decomposed twin of history doc 0
      (51L, text(comp, "fresh")),  // accepted
      (60L, text(comp, "pair")),   // intra-batch variant pair:
      (61L, text(deco, "pair")))   //   keep-first leaves 60
      .toDF("doc_id", "text").write.mode("overwrite").parquet(srcDir)
    def run(): Unit = CorpusIngest.startCuratedIngest(
      spark.readStream.schema(spark.read.parquet(srcDir).schema).parquet(srcDir),
      outDir, ckpt, "nrm_mh", normalizeForm = Some("NFC"))
      .awaitTermination(180000)
    run()
    def landedIds() = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(landedIds() === Set(51L, 60L))
    // the epoch stores the NORMALIZED text — what the corpus serves is
    // what was fingerprinted
    val landedText = spark.read.parquet(s"$outDir/batch=*")
      .filter(col("doc_id") === 60L).select("text").head().getString(0)
    assert(landedText.contains(comp) && !landedText.contains(deco))
    // epoch 2: a decomposed twin of the ACCEPTED doc must fall to the
    // history probe — the appended index rows carry normalized text too
    Seq((70L, text(deco, "fresh"))).toDF("doc_id", "text")
      .write.mode("append").parquet(srcDir)
    run()
    assert(landedIds() === Set(51L, 60L), "the cross-epoch twin must drop")
    val log2 = spark.read.parquet(s"${outDir}_curate_log/batch=*")
      .agg(sum("dup_history"), sum("dup_batch")).head()
    assert(log2.getLong(0) === 2L, "ids 50 and 70 are history dups")
    assert(log2.getLong(1) === 1L, "id 61 is the batch dup")
    // teeth: the identical stream WITHOUT normalizeForm lands the twin
    spark.sql("DROP TABLE IF EXISTS nrm_mh_raw")
    Dedup.writeMinhashIndex(history, "doc_id", "text", "nrm_mh_raw", buckets = 4)
    val srcRaw = tmp("graft_ci_nrmraw_src")
    Seq((50L, text(deco, "zero"))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(srcRaw)
    val outRaw = tmp("graft_ci_nrmraw_out")
    CorpusIngest.startCuratedIngest(
      spark.readStream.schema(spark.read.parquet(srcRaw).schema).parquet(srcRaw),
      outRaw, tmp("graft_ci_nrmraw_ckpt"), "nrm_mh_raw")
      .awaitTermination(180000)
    assert(spark.read.parquet(s"$outRaw/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(50L),
      "without normalization the decomposed twin sails through — the " +
        "assertion above only proves something because this one holds")
  }

  test("audit-log readers merge mixed epoch schemas: a resumed pre-semantic stream's log reads as one frame") {
    import spark.implicits._
    // simulate the r17 migration: epoch 0 was written BEFORE the
    // semantic screen existed (no flagged_semantic), epoch 1 after
    val dest = tmp("graft_ci_logmig")
    Seq((10L, 2L)).toDF("docs_in", "docs_dropped")
      .write.parquet(s"${dest}_decontam_log/batch=0")
    Seq((8L, 1L, 1L)).toDF("docs_in", "docs_dropped", "flagged_semantic")
      .write.parquet(s"${dest}_decontam_log/batch=1")
    val log = CorpusIngest.decontamLog(spark, dest)
    assert(log.columns.contains("flagged_semantic"),
      "mergeSchema must surface the newer column across mixed epochs")
    val byBatch = log.select("docs_in", "flagged_semantic")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(byBatch === Map(10L -> None, 8L -> Some(1L)),
      "pre-migration epochs read null, post-migration epochs their value")
    // the curated funnel's log reader behaves identically
    Seq((5L, 1L, 0L, 1L, 0L, 3L)).toDF("docs_in", "low_quality",
      "contaminated", "dup_history", "dup_batch", "accepted")
      .write.parquet(s"${dest}_curate_log/batch=0")
    Seq((6L, 0L, 1L, 1L, 0L, 0L, 4L)).toDF("docs_in", "low_quality",
      "contaminated", "contaminated_semantic", "dup_history", "dup_batch",
      "accepted")
      .write.parquet(s"${dest}_curate_log/batch=1")
    val clog = CorpusIngest.curateLog(spark, dest)
    assert(clog.columns.contains("contaminated_semantic"))
    assert(clog.count() === 2L)
    assert(clog.agg(sum("accepted")).head().getLong(0) === 7L)
  }
}
