package graft.plans

import graft.SparkSpec
import graft.operators.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared tombstone lifecycle, driven through each row-level
  * family's public verbs.
  */
class TombstonesSpec extends SparkSpec {

  private final case class Family(
      name: String,
      corpus: () => DataFrame,
      build: String => Unit,
      delete: (String, DataFrame) => Long,
      purge: String => (Long, Long),
      answers: String => Seq[String])

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // 9×8 gray P6 images in near-pairs: even = base, odd = one-pixel bump
  private def img(d: Int): Array[Byte] =
    "P6\n9 8\n255\n".getBytes("US-ASCII") ++
      (for (y <- 0 until 8; x <- 0 until 9; _ <- 0 until 3) yield
        ((x * 31 + y * 17 + (d / 2) * 7 +
          (if (x == 0 && y == 0 && d % 2 == 1) 40 else 0)) % 256).toByte).toArray

  private lazy val families: Seq[Family] = {
    import spark.implicits._
    val docs = () => table("documents").filter(col("doc_id") < 300)
      .select("doc_id", "text")
    val vecs = () => table("embeddings").filter(col("vec_id") < 300)
      .select("vec_id", "embedding")
    val media = () => (0 until 60).map(d => (d.toLong, img(d))).toDF("id", "payload")
    Seq(
      Family("minhash", docs,
        t => Dedup.writeMinhashIndex(docs(), "doc_id", "text", t, buckets = 4),
        Dedup.deleteFromMinhashIndex(spark, _, _),
        Dedup.purgeMinhashIndex(spark, _),
        t => sorted(Dedup.portableMinhashPairsAgainstIndex(spark, t, docs(),
          "doc_id", "text", threshold = 0.3))),
      Family("ivf-sq", vecs,
        t => Similarity.writeIvfSqIndex(vecs(), "vec_id", "embedding", t,
          nCentroids = 8, buckets = 4),
        Similarity.deleteFromIvfSqIndex(spark, _, _),
        Similarity.purgeIvfSqIndex(spark, _),
        t => sorted(Similarity.ivfQuantizedTopKFromIndex(spark, t,
          vecs().filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, nProbe = 8, shortlist = 300))),
      Family("dhash", media,
        t => Multimodal.writeDHashIndex(media(), "id", "payload", t, buckets = 4),
        Multimodal.deleteFromDHashIndex(spark, _, _),
        Multimodal.purgeDHashIndex(spark, _),
        t => sorted(Multimodal.imagePairsAgainstIndex(spark, t, media(),
          "id", "payload"))))
  }

  /** A third of the corpus ids — every family's corpus is keyed by its first column. */
  private def gone(f: Family): DataFrame = {
    val c = f.corpus()
    c.select(c.columns.head).filter(col(c.columns.head) % 3 === 0)
  }

  test("delete, then rebuild the same name, equals a fresh build") {
    families.foreach { f =>
      val t = s"tsl_rebuild_${f.name.replace("-", "_")}"
      f.build(t)
      assert(f.delete(t, gone(f)) > 0L, f.name)
      f.build(t)
      f.build(t + "_fresh")
      assert(f.answers(t) === f.answers(t + "_fresh"),
        s"${f.name}: a rebuild must not keep the replaced index's tombstones")
    }
  }

  test("purge crash states: rewrite landed with tombstones kept reads like the final state; reruns complete") {
    families.foreach { f =>
      val t = s"tsl_crash_${f.name.replace("-", "_")}"
      f.build(t)
      f.delete(t, gone(f))
      val logical = f.answers(t)
      spark.table(t + "_tombstones").write.saveAsTable(t + "_saved")
      val (before, after) = f.purge(t)
      assert(before > after, s"${f.name}: purge must drop the dead rows")
      // the crash state: the index rewrite landed, the tombstone drop did not
      spark.table(t + "_saved").write.saveAsTable(t + "_tombstones")
      assert(f.answers(t) === logical, s"${f.name}: crash state must not change answers")
      assert(f.purge(t) === ((after, after)), s"${f.name}: a rerun completes the purge")
      assert(!spark.catalog.tableExists(t + "_tombstones"), f.name)
      assert(f.answers(t) === logical, s"${f.name}: purge must not change answers")
      assert(f.purge(t) === ((after, after)), s"${f.name}: a second purge is a no-op")
    }
  }
}
