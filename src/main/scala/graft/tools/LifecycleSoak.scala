package graft.tools

import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

import graft.Harness
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Index-lifecycle + streaming-ingest soak: the build/append/compact/
  * stats costs the query-side soak (`tools/soak.py`) doesn't see —
  * index BUILD is where a 100 TB deployment spends its first day, and
  * a super-linearity there is invisible to query timings over an
  * already-built index.
  *
  * Run once per scale by `tools/soak.py`; prints ONE JSON line of
  * seconds per step (plus the streaming checkpoint's on-disk size) so
  * the soak can ratio sf1 against sf0.1:
  *
  *  - `mhb`/`mha`/`mhs`/`mhc`: MinHash signature index build over the
  *    even-id history, append of the 10 % arriving epoch, stats pass,
  *    and compaction (after a deliberate replayed append, so the
  *    compactor has real residue to drop);
  *  - `ivb`/`iva`/`ivs`: IVF-SQ index build, 10 % append, stats;
  *  - `bmb`/`bma`/`bmq`/`bms`: BM25 postings index build, 10 % append,
  *    an indexed batched query, stats — the retrieval family's
  *    build-once/query-many costs;
  *  - `ing`/`ckpt_mb`: the full indexed streaming ingest of the epoch
  *    (quality gate → watermarked exact dedup → near-dup vs the
  *    persistent index → survivor append), and the state checkpoint's
  *    size — the state-store growth check at 10× data;
  *  - `jdb`: the live Migrator sync of `lineitem` into on-disk
  *    embedded Derby (DDL on first load, truncate + batched INSERT) —
  *    the migration data path's own scale ratio, complementing the
  *    per-bench sf0.1 `jdbc_sync` absolute number;
  *  - `ebb`/`eba`/`ebp`/`ebd`/`mnt`: the embedding-band benchmark
  *    surface's lifecycle (build, suite append, the full-corpus
  *    decontamination probe — the per-epoch streaming screen cost —
  *    and suite removal through the staged swap), plus ONE
  *    registry-driven `Takedown.maintain` call over the registered
  *    corpus with real replay residue to reclaim — the maintenance
  *    verb's own scale shape (O(surfaces) dispatch + the compactor).
  */
object LifecycleSoak {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local("graft-lifecycle-soak")

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // dev knob: GRAFT_LC_STEPS=jdb (comma-set of mh,ivf,bm,ing,jdb) probes
    // one lifecycle family; unset = all. Skipped steps report -1.
    val steps = sys.env.get("GRAFT_LC_STEPS").map(_.split(",").toSet)
    def on(s: String) = steps.forall(_.contains(s))

    val docs = graft.Fixtures.normalizeTs(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

    // ---- MinHash signature index lifecycle (text near-dup history)
    val mhT = "lc_mh_idx"
    val history = docs.filter(col("doc_id") % 2 === 0)
    val epoch = docs.filter(col("doc_id") % 10 === 1)
    val (mhb, mha, mhs, mhc) = if (on("mh")) {
      val b = timed(Dedup.writeMinhashIndex(
        history, "doc_id", "text", mhT, n = 3, k = 8, buckets = 16))
      val a = timed(Dedup.appendToMinhashIndex(
        spark, mhT, epoch, "doc_id", "text", n = 3, k = 8))
      // replay the append: at-least-once residue is exactly what the
      // compactor exists to drop — compact must face a real workload
      Dedup.appendToMinhashIndex(spark, mhT, epoch, "doc_id", "text", n = 3, k = 8)
      val s = timed(Dedup.minhashIndexStats(spark, mhT))
      val c = timed(graft.plans.Compaction.compactBucketedTable(spark, mhT))
      (b, a, s, c)
    } else (-1.0, -1.0, -1.0, -1.0)

    // ---- IVF-SQ vector index lifecycle
    val ivT = "lc_ivf_idx"
    val (ivb, iva, ivs) = if (on("ivf")) {
      val b = timed(Similarity.writeIvfSqIndex(
        emb.filter(col("vec_id") % 10 =!= 1), "vec_id", "embedding", ivT,
        nCentroids = 16, buckets = 16))
      val a = timed(Similarity.appendToIvfSqIndex(
        spark, ivT, emb.filter(col("vec_id") % 10 === 1), "vec_id", "embedding"))
      val s = timed(Similarity.ivfIndexStats(spark, ivT))
      (b, a, s)
    } else (-1.0, -1.0, -1.0)

    // ---- BM25 postings index lifecycle (retrieval history): build
    // over the even-id history, 10 % epoch append, an indexed batched
    // query (the recurring cost the index exists to shrink), stats
    val bmT = "lc_bm25_idx"
    val (bmb, bma, bmq, bms) = if (on("bm")) {
      import spark.implicits._
      val b = timed(TextAnalysis.writeBm25Index(
        history, "doc_id", "text", bmT, buckets = 16))
      val a = timed(TextAnalysis.appendToBm25Index(
        spark, bmT, epoch, "doc_id", "text"))
      val bag = Seq(
        (1L, "spark"), (1L, "hash"), (2L, "vector"), (2L, "window"),
        (3L, "merge"), (3L, "batch")).toDF("query_id", "term")
      val q = timed {
        val n = TextAnalysis.bm25TopKBatchFromIndex(spark, bmT, bag, k = 20)
          .count()
        require(n > 0, "indexed bm25 returned no rows")
      }
      val s = timed(TextAnalysis.bm25IndexStats(spark, bmT))
      (b, a, q, s)
    } else (-1.0, -1.0, -1.0, -1.0)

    // ---- streaming indexed ingest of the epoch against the history
    // index (the q_stream_ingest_twin pipeline shape: landing dir →
    // quality gate → watermarked exact dedup → near-dup vs index →
    // idempotent batch sink + survivor signature append); needs the
    // mh section's index, so "ing" only runs when "mh" also ran
    val (ing, ckptMb) = if (on("ing") && on("mh")) {
      val normKey = array_join(TextAnalysis.tokens(lower(col("text"))), " ")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(normKey).orderBy(col("doc_id"))
      val landing = epoch
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("doc_id"), col("text"),
          timestamp_micros((lit(3600L) + pmod(col("doc_id"), lit(500L)) * 60L) * 1000000L)
            .as("ingest_time"))
      val land = java.nio.file.Files.createTempDirectory("graft_lc_land").toString
      val out = java.nio.file.Files.createTempDirectory("graft_lc_out").toString + "/corpus"
      val ckpt = java.nio.file.Files.createTempDirectory("graft_lc_ckpt").toString
      landing.write.mode("overwrite").parquet(land)
      val t = timed {
        val cleaned = graft.streaming.CorpusIngest.clean(
          graft.streaming.CorpusIngest.documentsStream(spark, land),
          minQuality = 0.3, watermark = "1 hour")
        val sq = graft.streaming.CorpusIngest.startWithIndex(
          cleaned, out, ckpt, mhT, n = 3, k = 8, threshold = 0.5)
        if (!sq.awaitTermination(600000)) {
          sq.stop()
          throw new IllegalStateException("ingest did not finish within 600 s")
        }
      }
      val mb = {
        def size(f: java.io.File): Long =
          if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L)
          else f.length
        size(new java.io.File(ckpt)) / (1024.0 * 1024.0)
      }
      Seq(land, new java.io.File(out).getParent, ckpt).foreach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
      (t, mb)
    } else (-1.0, -1.0)

    // ---- embedding-band benchmark surface lifecycle + one-verb
    // maintenance (the r17/r18 additions, soaked like the older
    // families). The probe is the step that scales with the CORPUS
    // (benchmark side is gate-constant); build/append/delete scale
    // with the benchmark; maintain with surfaces + residue.
    val ebT = "lc_emb_band"
    val (ebb, eba, ebp, ebd, mnt) = if (on("eb")) {
      val reg = "lc_reg"
      val bench = emb.filter(col("vec_id") % 20 === 0).select(col("embedding"))
      val suite = emb.filter(col("vec_id") % 20 === 1).select(col("embedding"))
      val b = timed(graft.verify.Takedown.writeEmbeddingBandIndex(spark,
        "lc_corpus", bench, "embedding", ebT, registryTable = reg))
      val a = timed(graft.operators.Corpus.appendToEmbeddingBandIndex(
        ebT, suite, "embedding"))
      val p = timed {
        val n = graft.operators.Corpus.embeddingDecontaminationFromIndex(
          emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
          ebT, threshold = 0.8).filter(col("contaminated")).count()
        require(n > 0, "embband probe flagged nothing")
      }
      val d = timed(graft.operators.Corpus.deleteFromEmbeddingBandIndex(
        spark, ebT, suite, "embedding"))
      // one-verb maintenance over the registered corpus: the live
      // dataset is the (read-only) fixture dir — fresh by construction,
      // dispatch cost only — while the embband surface carries a fully
      // replayed append (50% residue) for the compactor to reclaim
      graft.verify.Takedown.registerCorpus(spark, "lc_corpus",
        s"$sfDir/documents.parquet", "doc_id", reg)
      graft.operators.Corpus.appendToEmbeddingBandIndex(ebT, bench, "embedding")
      val m = timed {
        val receipt = graft.verify.Takedown.maintain(spark, "lc_corpus", reg)
          .collect()
        require(receipt.exists(r => r.getString(1) == "embband" &&
          r.getString(4) != "none"), "maintain found nothing to do")
      }
      (b, a, p, d, m)
    } else (-1.0, -1.0, -1.0, -1.0, -1.0)

    // ---- live JDBC migration of the fact table into on-disk Derby
    val jdb = if (!on("jdb")) -1.0 else {
      val dbDir = java.nio.file.Files.createTempDirectory("graft_lc_derby")
      System.setProperty("derby.system.home", dbDir.toString)
      // same recovery-time log tuning as graft.Bench's durable arm
      // (r19: 64M log switch / 128M checkpoint / 1M log buffer — see
      // Bench.scala for the A/B that adopted it), so the soak's scale
      // RATIO measures the protocol the bench actually ships.
      // GRAFT_JDB_LOGTUNE=0 restores engine defaults for A/B probes.
      if (sys.env.getOrElse("GRAFT_JDB_LOGTUNE", "1") != "0") {
        System.setProperty("derby.storage.logSwitchInterval", "67108864")
        System.setProperty("derby.storage.checkpointInterval", "134217728")
        System.setProperty("derby.storage.logBufferSize", "1048576")
      }
      val conn = sys.env.getOrElse("GRAFT_JDB_CONN", "16").toInt
      val batch = sys.env.getOrElse("GRAFT_JDB_BATCH", "5000").toInt
      // GRAFT_JDB_TABLES=all syncs the whole fixture DB (the bench's
      // jdbc_sync shape) instead of lineitem alone; GRAFT_JDB_PAR sets
      // how many tables are in flight — used to measure whether
      // cross-TABLE writers contend on an embedded engine the way
      // cross-PARTITION writers within one table did (connectionBudget)
      val tables = sys.env.getOrElse("GRAFT_JDB_TABLES", "lineitem")
      val par = sys.env.getOrElse("GRAFT_JDB_PAR", "1").toInt
      try {
        val m = new graft.Migrator(spark,
          graft.sources.FixtureSource(sfDir),
          graft.sinks.JdbcDest(s"jdbc:derby:$dbDir/db;create=true",
            new java.util.Properties(), batchRowSize = batch,
            maxConnections = conn),
          graft.config.SyncConfig(maxParallel = par))
        val t = timed {
          if (tables == "all") {
            val rs = m.run()
            require(rs.nonEmpty && rs.forall(_.ok),
              s"sync failed: ${rs.filterNot(_.ok).map(_.error).mkString(";")}")
          } else {
            val r = m.copyTable(tables)
            require(r.ok, s"$tables sync failed: ${r.error}")
          }
        }
        t
      } finally org.apache.commons.io.FileUtils.deleteQuietly(dbDir.toFile)
    }

    // tools/soak.py finds the line by its first key (`{"mhb"`)
    val line = Seq("mhb" -> mhb, "mha" -> mha, "mhs" -> mhs, "mhc" -> mhc,
      "ivb" -> ivb, "iva" -> iva, "ivs" -> ivs, "bmb" -> bmb, "bma" -> bma,
      "bmq" -> bmq, "bms" -> bms, "ebb" -> ebb, "eba" -> eba, "ebp" -> ebp,
      "ebd" -> ebd, "mnt" -> mnt, "ing" -> ing, "jdb" -> jdb, "ckpt_mb" -> ckptMb)
    println(Harness.toJson(ListMap(line.map { case (k, v) => k -> Harness.Raw(f"$v%.3f") }: _*)))
    spark.stop()
  }
}
