package graft.operators

import graft.SparkSpec
import graft.verify.Comparator
import org.apache.spark.sql.functions._

/** The compliance composition: one takedown id set deleted from ALL
  * FOUR materialized index families, purged, and then proven absent
  * from every storage surface with [[Comparator.absenceAudit]] — the
  * negative-space audit a PII purge or license revocation ends with.
  * Each family's delete == rebuild behavior is pinned in its own spec;
  * this one pins the cross-family story: one id set, four indexes,
  * zero residue anywhere.
  */
class DeletionAuditSpec extends SparkSpec {

  test("one takedown sweeps all four index families; the audit reads zero residue everywhere") {
    import spark.implicits._
    val docs = table("documents")
      .select("doc_id", "text").filter(col("doc_id") < 400)
    val emb = table("embeddings")
      .select("vec_id", "embedding").filter(col("vec_id") < 300)
    // the takedown set: one predicate, applied to both id domains the
    // way a real request names concrete ids
    val deadDocs = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
    val deadVecs = emb.filter(col("vec_id") % 7 === 0).select("vec_id")

    TextAnalysis.writeBm25Index(docs, "doc_id", "text", "audit_bm25", buckets = 4)
    Dedup.writeMinhashIndex(docs, "doc_id", "text", "audit_mh", buckets = 4)
    Similarity.writeIvfSqIndex(emb, "vec_id", "embedding", "audit_sq",
      nCentroids = 8, buckets = 4)
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", "audit_pq",
      nCentroids = 4, m = 4, nCodes = 8, buckets = 4)

    // delete everywhere, then purge everywhere — receipts must agree
    // with the planted set sizes
    assert(TextAnalysis.deleteFromBm25Index(spark, "audit_bm25", deadDocs)
      === deadDocs.count())
    assert(Dedup.deleteFromMinhashIndex(spark, "audit_mh", deadDocs)
      === deadDocs.count())
    assert(Similarity.deleteFromIvfSqIndex(spark, "audit_sq", deadVecs)
      === deadVecs.count())
    assert(Similarity.deleteFromIvfSqIndex(spark, "audit_pq", deadVecs)
      === deadVecs.count())
    TextAnalysis.purgeBm25Index(spark, "audit_bm25")
    Dedup.purgeMinhashIndex(spark, "audit_mh")
    Similarity.purgeIvfSqIndex(spark, "audit_sq")
    Similarity.purgeIvfSqIndex(spark, "audit_pq")

    // the audit: per deleted id, EVERY surface must count zero rows —
    // postings, roster, signatures, SQ codes, PQ codes — while a
    // control id (not deleted) keeps its expected presence
    def emptyIds(name: String) =
      spark.emptyDataFrame.select(lit(0L).as(name)).filter(lit(false))
    val docSurfaces = Seq(
      ("bm25_postings", spark.table("audit_bm25"), "doc_id"),
      ("bm25_roster", spark.table("audit_bm25_docs"), "doc_id"),
      ("bm25_tombstones",
        if (spark.catalog.tableExists("audit_bm25_tombstones"))
          spark.table("audit_bm25_tombstones") else emptyIds("doc_id"), "doc_id"),
      ("minhash_sigs", spark.table("audit_mh"), "index_id"))
    val docAudit = Comparator.absenceAudit(deadDocs, "doc_id", docSurfaces)
    val docBad = docAudit.filter(
      col("bm25_postings_rows") + col("bm25_roster_rows") +
        col("bm25_tombstones_rows") + col("minhash_sigs_rows") > 0)
    assert(docBad.count() === 0, docBad.collect().mkString(", "))
    val vecSurfaces = Seq(
      ("sq_codes", spark.table("audit_sq"), "neighbor_id"),
      ("pq_codes", spark.table("audit_pq"), "neighbor_id"))
    val vecAudit = Comparator.absenceAudit(deadVecs, "vec_id", vecSurfaces)
    val vecBad = vecAudit.filter(col("sq_codes_rows") + col("pq_codes_rows") > 0)
    assert(vecBad.count() === 0, vecBad.collect().mkString(", "))

    // control: a surviving id still shows on every family's surface
    val control = Seq(1L).toDF("doc_id") // 1 % 7 != 0
    val ctl = Comparator.absenceAudit(control, "doc_id", docSurfaces).head()
    assert(ctl.getAs[Long]("bm25_postings_rows") > 0)
    assert(ctl.getAs[Long]("bm25_roster_rows") === 1L)
    assert(ctl.getAs[Long]("minhash_sigs_rows") === 1L)
    val ctlVec = Comparator.absenceAudit(Seq(1L).toDF("vec_id"), "vec_id",
      vecSurfaces).head()
    assert(ctlVec.getAs[Long]("sq_codes_rows") === 1L)
    assert(ctlVec.getAs[Long]("pq_codes_rows") === 1L)

    // ...and the deleted ids are gone from the QUERY surfaces too: the
    // four families' retrieval paths return no dead id even when asked
    // to look everywhere
    val deadDocSet = deadDocs.collect().map(_.getLong(0)).toSet
    val bm25Hits = TextAnalysis.bm25TopKBatchFromIndex(spark, "audit_bm25",
      Seq((1L, "spark"), (1L, "hash"), (1L, "merge")).toDF("query_id", "term"),
      k = 100000)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bm25Hits.intersect(deadDocSet).isEmpty)
    val mhHits = Dedup.portableMinhashPairsAgainstIndex(spark, "audit_mh",
      docs.limit(100), "doc_id", "text", threshold = 0.3)
      .select("index_id").collect().map(_.getLong(0)).toSet
    assert(mhHits.intersect(deadDocSet).isEmpty)
    val deadVecSet = deadVecs.collect().map(_.getLong(0)).toSet
    val sqHits = Similarity.ivfQuantizedTopKFromIndex(spark, "audit_sq",
      emb.limit(10), "vec_id", "embedding", k = 50, nProbe = 8, shortlist = 300)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(sqHits.nonEmpty && sqHits.intersect(deadVecSet).isEmpty)
    val pqHits = Similarity.ivfPqTopKFromIndex(spark, "audit_pq",
      emb.limit(10), "vec_id", "embedding", k = 50, nProbe = 4, shortlist = 300)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(pqHits.nonEmpty && pqHits.intersect(deadVecSet).isEmpty)
  }
}
