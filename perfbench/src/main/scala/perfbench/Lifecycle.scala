package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Similarity}
import graft.plans.{Compaction, Snapshots}

/** The index and table lifecycle, measured as a layer: one maintenance
  * cycle of [[Lifecycle.RoundsPerCycle]] rounds on its own seeded corpus.
  * Each round appends a batch to a MinHash index and an IVF-SQ index,
  * upserts it (plus updates of live rows) into a versioned parquet table,
  * probes both indexes with a small batch, then deletes as many of the
  * oldest ids as it appended, from the indexes and from the table. The
  * cycle ends with both index purges, a compaction and a version vacuum,
  * after which the live ids, a rebuilt-from-scratch index's answers and
  * the bytes on disk are checked. The live size never changes.
  *
  * The probe answers are small: they sit under the engine's size gates,
  * where the fixed cost of each Spark job dominates.
  */
final class Lifecycle(seed: Long) {
  import Lifecycle._

  private var round = 0
  private val zipf = new Gen.Zipf(Vocab, 1.0)
  private val mh = "pb_mh"
  private val ivf = "pb_ivf"
  private def table(ctx: Ctx) = new java.io.File(ctx.work, "lifecycle-table").getAbsolutePath

  def fingerprint(seed: Long): String = {
    val fp = new Fingerprint
    val g = new Generator(seed)
    g.docs(0L until Live).foreach(r => fp.add(r.mkString("|")))
    (0 until 3).foreach(k => g.batch(k).foreach(r => fp.add(r.mkString("|"))))
    fp.hex
  }

  def facts: Seq[(String, String)] = Seq(
    "lifecycle_live_documents" -> Live.toString,
    "lifecycle_batch" -> s"$Batch appended and $Batch deleted per round, $Updates live rows updated",
    "lifecycle_probes_per_round" -> Probes.toString,
    "lifecycle_rounds" -> RoundsPerCycle.toString,
    "lifecycle_indexes" -> s"minhash n=3 k=8 16 buckets; ivf-sq $Centroids centroids 16 buckets")

  /** Seeded rows: documents by id, and each round's batch and probes. */
  private final class Generator(seed: Long) {
    private val r0 = Gen.rng(seed, 7)
    val vocab: Array[String] = Gen.vocabulary(r0, Vocab)
    val centers: Array[Array[Double]] = Gen.centers(r0, Clusters, Dim)
    /** (id, rev, text, vec); a document's content depends only on (id, rev). */
    def doc(id: Long, rev: Int): Row = {
      val r = Gen.rng(seed, 1000003L * id + rev + 11)
      val words = Gen.doc(r, vocab, zipf, MinWords + r.nextInt(MaxWords - MinWords + 1))
      Row(id, rev, words.mkString(" "), Gen.clustered(r, centers, 0.5).toSeq)
    }
    def docs(ids: Seq[Long]): Seq[Row] = ids.map(doc(_, 0))
    /** Round k's new rows: ids Live + k*Batch until Live + (k+1)*Batch. */
    def batch(k: Int): Seq[Row] = docs((Live + k.toLong * Batch) until (Live + (k + 1L) * Batch))
    /** Round k's updates: revision k+1 of live ids not deleted this round. */
    def updates(k: Int): Seq[Row] = {
      val r = Gen.rng(seed, 500000L + k)
      val lo = (k + 1L) * Batch
      Seq.fill(Updates)(lo + r.nextLong(Live - Batch)).distinct.map(doc(_, k + 1))
    }
    /** Round k's probes: near copies of live documents, with their source. */
    def probes(k: Int): Seq[(Long, Row)] = {
      val r = Gen.rng(seed, 900000L + k)
      val lo = k.toLong * Batch
      (0 until Probes).map { i =>
        val src = lo + r.nextLong(Live)
        val d = doc(src, 0)
        val words = Gen.nearCopy(r, d.getString(2).split(" "), vocab, zipf, 0.02)
        val v = d.getSeq[Float](3).map(x => x + 0.001f * r.nextGaussian().toFloat)
        (src, Row(ProbeBase + i, words.mkString(" "), v))
      }
    }
  }

  private val gen = new Generator(seed)

  /** Build the indexes and the table, run one cycle, check it, drop it;
    * returns the lifecycle's per-layer metrics. Spans carry the pass the
    * caller set.
    */
  def run(ctx: Ctx): Map[String, Double] = {
    setup(ctx)
    try {
      cycle(ctx)
      check(ctx)
      metrics(ctx)
    } finally dropState(ctx)
  }

  private def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val base = spark.createDataFrame(java.util.Arrays.asList(gen.docs(0L until Live): _*), DocSchema)
      .localCheckpoint(eager = true)
    base.select("id", "rev", "text").write.parquet(table(ctx))
    Snapshots.enableVersioning(spark, table(ctx))
    Dedup.writeMinhashIndex(base, "id", "text", mh)
    Similarity.writeIvfSqIndex(base, "id", "vec", ivf, nCentroids = Centroids)
  }

  private def dropState(ctx: Ctx): Unit = {
    ctx.spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith(mh) || n.startsWith(ivf))
      .foreach(n => ctx.spark.sql(s"DROP TABLE IF EXISTS `$n`"))
    Seq("", "__versions", "_ref").foreach(s =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table(ctx) + s)))
    ctx.spark.catalog.clearCache()
  }

  /** Ids live after round k: the window that every round slides by Batch. */
  private def liveAfter(k: Int): (Long, Long) = ((k + 1L) * Batch, Live + (k + 1L) * Batch)

  // bytes on disk of the table with its versions, its files, bytes of its live files
  private var tableBytes, tableFiles, liveTableBytes = 0L
  private var spaceAmp = 0.0

  private def cycle(ctx: Ctx): Unit = {
    val spark = ctx.spark
    (0 until RoundsPerCycle).foreach { _ =>
      val k = round
      val batch = frame(spark, gen.batch(k), DocSchema)
      val updates = gen.updates(k)
      val upd = frame(spark, gen.batch(k) ++ updates, DocSchema).select("id", "rev", "text")
      val probes = gen.probes(k)
      val probeDf = frame(spark, probes.map(_._2), ProbeSchema)
      val (lo, hi) = liveAfter(k)
      val (prevLo, _) = liveAfter(k - 1)
      val deleted = spark.range(prevLo, lo).toDF("id")

      ctx.op("append:minhash", "index.append")(
        Dedup.appendToMinhashIndex(spark, mh, batch, "id", "text"))(_ => Nil)
      ctx.op("append:ivf", "index.append")(
        Similarity.appendToIvfSqIndex(spark, ivf, batch, "id", "vec"))(_ => Nil)
      ctx.op("upsert", "plans.upsert")(Compaction.upsertParquet(spark, table(ctx), upd, Seq("id"))) {
        case (before, replaced, after) =>
          if (before == Live && after == Live + Batch && replaced == updates.size) Nil
          else Seq(s"upsert (before, replaced, after) = ($before, $replaced, $after)")
      }
      def inWindow(ids: Iterable[Long]) = ids.filter(i => i >= prevLo && i < hi).size == ids.size
      ctx.op("probe:minhash", "index.probe") {
        Dedup.portableMinhashPairsAgainstIndex(spark, mh, probeDf, "pid", "text")
          .select("batch_id", "index_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      } { got =>
        val found = probes.count { case (src, row) => got.contains((row.getLong(0), src)) }
        (if (inWindow(got.map(_._2))) Nil else Seq("a deleted or unknown id answered a probe")) ++
          (if (found >= MinhashProbeFloor * Probes) Nil
          else Seq(s"$found of $Probes probes found their source"))
      }
      ctx.op("probe:ivf", "index.probe") {
        Similarity.ivfQuantizedTopKFromIndex(spark, ivf, probeDf, "pid", "vec", k = TopK)
          .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      } { got =>
        val found = probes.count { case (src, row) => got.contains((row.getLong(0), src)) }
        (if (inWindow(got.map(_._2))) Nil else Seq("a deleted or unknown id answered a probe")) ++
          (if (found >= IvfProbeFloor * Probes) Nil
          else Seq(s"$found of $Probes probes found their source"))
      }
      ctx.op("delete:minhash", "index.delete")(Dedup.deleteFromMinhashIndex(spark, mh, deleted)) { n =>
        if (n == Batch) Nil else Seq(s"deleted $n ids, expected $Batch")
      }
      ctx.op("delete:ivf", "index.delete")(Similarity.deleteFromIvfSqIndex(spark, ivf, deleted)) { n =>
        if (n == Batch) Nil else Seq(s"deleted $n ids, expected $Batch")
      }
      ctx.op("delete:table", "plans.delete")(
        Compaction.deleteWhere(spark, table(ctx), col("id") < lo)) { case (before, after) =>
        if (before == Live + Batch && after == Live) Nil else Seq(s"(before, after) = ($before, $after)")
      }
      round += 1
    }
    ctx.op("purge:minhash", "index.purge")(Dedup.purgeMinhashIndex(spark, mh)) { case (_, after) =>
      if (after == Live) Nil else Seq(s"$after rows after purge, expected $Live")
    }
    ctx.op("purge:ivf", "index.purge")(Similarity.purgeIvfSqIndex(spark, ivf)) { case (_, after) =>
      if (after == Live) Nil else Seq(s"$after rows after purge, expected $Live")
    }
    ctx.op("compact", "plans.compact")(Compaction.compactParquet(spark, table(ctx))) { case (_, after) =>
      if (after >= 1) Nil else Seq("compaction left no data files")
    }
    ctx.op("vacuum", "plans.vacuum")(Snapshots.vacuumVersions(spark, table(ctx), keepLast = 2)) { _ =>
      val left = Snapshots.listVersions(spark, table(ctx)).count()
      if (left <= 2) Nil else Seq(s"$left versions kept, expected at most 2")
    }
    checkLive(ctx)
    val live = files(new java.io.File(table(ctx)))
    val all = live ++ files(new java.io.File(table(ctx) + "__versions"))
    tableBytes = all.map(_.length).sum
    tableFiles = all.size
    liveTableBytes = live.map(_.length).sum
  }

  /** Live ids of both indexes and of the table equal the expected window,
    * and the table holds each updated row's latest revision.
    */
  private def checkLive(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val (lo, hi) = liveAfter(round - 1)
    val want = (lo until hi).toSet
    def idSet(df: DataFrame) = df.collect().map(_.getLong(0)).toSet
    val rows = spark.read.parquet(table(ctx)).select("id", "rev").collect()
    val revs = rows.map(r => r.getLong(0) -> r.getInt(1)).toMap
    val wantRev = (0 until round).flatMap(k => gen.updates(k).map(r => r.getLong(0) -> r.getInt(1)))
      .groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).max }.filter(x => want.contains(x._1))
    ctx.check("lifecycle live set", Seq(
      "minhash index" -> idSet(spark.table(mh).select("index_id")),
      "ivf index" -> idSet(spark.table(ivf).select("neighbor_id")),
      "table" -> revs.keySet
    ).collect { case (what, got) if got != want =>
      s"$what: ${(want -- got).size} live ids missing, ${(got -- want).size} dead ids present"
    } ++ (if (rows.length != want.size) Seq(s"table has ${rows.length} rows for ${want.size} ids") else Nil) ++
      wantRev.collect { case (id, rev) if revs.get(id).exists(_ != rev) =>
        s"table row $id at revision ${revs(id)}, expected $rev" }.take(3))
  }

  /** Probes answer as an index rebuilt from the live documents would, and
    * the bytes on disk compare with a fresh copy of the live data.
    */
  private def check(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val (lo, hi) = liveAfter(round - 1)
    val live = spark.createDataFrame(java.util.Arrays.asList(gen.docs(lo until hi): _*), DocSchema)
      .localCheckpoint(eager = true)
    // Rebuilt from scratch: same documents, same quantizer.
    Dedup.writeMinhashIndex(live, "id", "text", s"${mh}_ref")
    Similarity.writeIvfSqIndex(live, "id", "vec", s"${ivf}_ref", pinQuantizerFrom = Some(ivf))
    val refTable = table(ctx) + "_ref"
    spark.read.parquet(table(ctx)).write.parquet(refTable)
    val probeDf = frame(spark, gen.probes(round).map(_._2), ProbeSchema)
    def mhPairs(t: String) = Dedup.portableMinhashPairsAgainstIndex(spark, t, probeDf, "pid", "text")
      .select("batch_id", "index_id").collect().toSet
    def ivfTop(t: String) = Similarity.ivfQuantizedTopKFromIndex(spark, t, probeDf, "pid", "vec", k = TopK)
      .select("query_id", "neighbor_id").collect().toSet
    ctx.check("lifecycle rebuilt-index probes", Seq(
      if (mhPairs(mh) == mhPairs(s"${mh}_ref")) None else Some("minhash probes differ from a rebuilt index"),
      if (ivfTop(ivf) == ivfTop(s"${ivf}_ref")) None else Some("ivf probes differ from a rebuilt index")
    ).flatten)
    val warehouse = new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    def bytes(names: String*) = names.map(n => files(new java.io.File(warehouse, n)).map(_.length).sum).sum
    val onDisk = bytes(mh, s"${mh}_tombstones", ivf, s"${ivf}_centroids", s"${ivf}_tombstones") +
      files(new java.io.File(table(ctx))).map(_.length).sum +
      files(new java.io.File(table(ctx) + "__versions")).map(_.length).sum
    val fresh = bytes(s"${mh}_ref", s"${ivf}_ref", s"${ivf}_ref_centroids") +
      files(new java.io.File(refTable)).map(_.length).sum
    spaceAmp = onDisk.toDouble / fresh
  }

  private def metrics(ctx: Ctx): Map[String, Double] = {
    val t = ctx.tracer
    val spans = t.spans.filter(s => s.name.startsWith("index.") || s.name.startsWith("plans."))
    val passes = spans.map(_.pass).distinct
    def written(prefix: String) =
      spans.filter(_.name.startsWith(prefix)).map(t.countersFor(_).outputBytes).sum.toDouble
    val ingested = RoundsPerCycle.toDouble * (Batch + Updates) * UserBytesPerRow
    Map(
      "index.append_s" -> Layers.selfS(t, "index.append", passes),
      "index.probe_s" -> Layers.selfS(t, "index.probe", passes),
      "index.delete_s" -> Layers.selfS(t, "index.delete", passes),
      "index.purge_s" -> Layers.selfS(t, "index.purge", passes),
      "index.probe.jobs" -> Layers.count(t, "index.probe", passes)(_.jobs),
      "plans.upsert_s" -> Layers.selfS(t, "plans.upsert", passes),
      "plans.delete_s" -> Layers.selfS(t, "plans.delete", passes),
      "plans.compact_s" -> Layers.selfS(t, "plans.compact", passes),
      "plans.vacuum_s" -> Layers.selfS(t, "plans.vacuum", passes),
      "plans.bytes_written_per_live_byte" -> written("plans.") / liveTableBytes,
      "plans.files_on_disk" -> tableFiles.toDouble,
      "lifecycle.write_amp" -> written("") / ingested,
      "lifecycle.space_amp" -> spaceAmp)
  }
}

object Lifecycle {
  val Live = 4000
  val Batch = 100
  val Updates = 25
  val Probes = 16
  val RoundsPerCycle = 2
  val Vocab = 20000
  val MinWords = 30
  val MaxWords = 60
  val Dim = 64
  val Clusters = 16
  val Centroids = 16
  val TopK = 5
  val ProbeBase = 50000000L
  val MinhashProbeFloor = 0.4
  val IvfProbeFloor = 0.5
  /** Raw bytes of one user row: 8-byte id, 4-byte revision, about 45
    * words of text, 64 float32 components.
    */
  val UserBytesPerRow = 8 + 4 + 45 * 7 + Dim * 4

  val DocSchema = StructType(Seq(StructField("id", LongType, false), StructField("rev", IntegerType, false),
    StructField("text", StringType, false), StructField("vec", ArrayType(FloatType, false), false)))
  val ProbeSchema = StructType(Seq(StructField("pid", LongType, false),
    StructField("text", StringType, false), StructField("vec", ArrayType(FloatType, false), false)))

  def frame(spark: org.apache.spark.sql.SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  def files(dir: java.io.File): Seq[java.io.File] =
    if (!dir.exists) Nil
    else org.apache.commons.io.FileUtils.listFiles(dir, null, true).asScala.toSeq
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_SUCCESS"))

}
