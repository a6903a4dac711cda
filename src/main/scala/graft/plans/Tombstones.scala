package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The tombstone lifecycle of the bucketed index families — minhash
  * and dHash/audio/video (`index_id`), IVF-SQ/PQ (`neighbor_id`), BM25
  * (`doc_id`) — keyed by the family's id column.
  *
  * Delete is logical and O(|ids|): [[delete]] appends ids to
  * `<table>_tombstones`, and every read goes through [[live]], so a
  * deleted id leaves every answer at once, exactly as in an index
  * rebuilt without it. The bytes stay on disk until [[purge]]: id →
  * bucket is id → content, which only a full scan recovers.
  *
  * The purge is crash-safe by ORDERING, not by a transaction: (1) the
  * index rewrite rides [[Compaction.rewriteBucketedTable]]'s staged
  * swap (tag `purge`); (2) each sidecar rewrite rides
  * [[Compaction.rewriteTable]]'s; (3) only THEN is the tombstone table
  * dropped. A death after any step leaves the tombstones intact, and
  * anti-joining already-purged rows is a no-op, so every intermediate
  * state reads like the final one and a rerun completes the purge. A
  * missing tombstone table IS the "nothing deleted" state, so the drop
  * needs no staging. The rewrites run the standard distinct, so a purge
  * also compacts replay residue.
  */
object Tombstones {

  private def tombstoneTable(tableName: String): String = tableName + "_tombstones"

  /** The distinct tombstoned ids, if any were ever written — `None` is
    * both "never deleted" and the post-purge state.
    */
  def set(spark: SparkSession, tableName: String, idCol: String): Option[DataFrame] =
    if (spark.catalog.tableExists(tombstoneTable(tableName)))
      Some(spark.table(tombstoneTable(tableName)).select(idCol).distinct())
    else None

  /** `rows` without the tombstoned ids — a broadcast anti-join ABOVE
    * the scan `rows` holds, so bucket pruning and pushed predicates
    * still reach it.
    */
  def live(spark: SparkSession, tableName: String, idCol: String,
      rows: DataFrame): DataFrame =
    set(spark, tableName, idCol) match {
      case Some(ts) => rows.join(broadcast(ts), Seq(idCol), "left_anti")
      case None => rows
    }

  /** Rows of `rows` whose id is tombstoned — rows, not distinct ids, so
    * replay duplicates of a deleted id count as the disk they hold.
    */
  def deadRows(spark: SparkSession, tableName: String, idCol: String,
      rows: DataFrame): Long =
    set(spark, tableName, idCol) match {
      case Some(ts) => rows.join(broadcast(ts), Seq(idCol), "left_semi").count()
      case None => 0L
    }

  /** Tombstone `ids` (a one-column frame, cast to the index's id type).
    * Unknown ids tombstone harmlessly and re-deletes are idempotent.
    *
    * @param known the rows whose ids count as present (the index table,
    *              or BM25's roster, which also holds zero-token docs)
    * @return distinct NEW ids removed — present in live `known` and not
    *         already tombstoned; the takedown receipt
    */
  def delete(spark: SparkSession, tableName: String, idCol: String,
      ids: DataFrame, known: DataFrame): Long = {
    require(ids.columns.length == 1, "ids must be a one-column frame of ids")
    val idType = spark.table(tableName).schema(idCol).dataType
    val fresh = ids.select(col(ids.columns.head).cast(idType).as(idCol))
      .filter(col(idCol).isNotNull).distinct()
      .join(live(spark, tableName, idCol, known).select(idCol), Seq(idCol), "left_semi")
      // pinned: the receipt read and the append below must not re-read
      // the tombstone table this very append grows
      .localCheckpoint(true)
    val n = fresh.count()
    fresh.write.mode("append").format("parquet")
      .saveAsTable(tombstoneTable(tableName))
    spark.catalog.refreshTable(tombstoneTable(tableName))
    n
  }

  /** Make deletions physical in the crash-safe order of the class doc;
    * `sidecars` are table-name suffixes of plain side tables to sweep.
    *
    * @return (rowsBefore, rowsAfter) of the index table
    */
  def purge(spark: SparkSession, tableName: String, idCol: String,
      sidecars: Seq[String]): (Long, Long) =
    set(spark, tableName, idCol) match {
      case None =>
        val n = spark.table(tableName).count()
        (n, n)
      case Some(ts) =>
        val pinned = ts.localCheckpoint(true) // survive the drop below
        def sweep(df: DataFrame): DataFrame =
          df.join(broadcast(pinned), Seq(idCol), "left_anti")
        val counts = Compaction.rewriteBucketedTable(spark, tableName, tag = "purge")(sweep)
        sidecars.map(tableName + _).filter(spark.catalog.tableExists).foreach { t =>
          Compaction.rewriteTable(spark, t)(df => sweep(df.distinct()))
        }
        spark.sql(s"DROP TABLE IF EXISTS `${tombstoneTable(tableName)}`")
        counts
    }

  /** Forget every tombstone — what a full index write does, since the
    * rebuilt table is the whole truth. Called AFTER the write: a death
    * in between leaves old tombstones hiding ids of the new build, never
    * a deleted id of the old build visible again.
    */
  def reset(spark: SparkSession, tableName: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS `${tombstoneTable(tableName)}`")

  /** Telemetry of a row-level signature index (minhash, dHash, audio,
    * video).
    *
    * @param distinctRows      total − distinct is exactly the replay
    *                          residue of at-least-once appends
    * @param duplicateFraction (total − distinct) / total — the rows
    *                          [[Compaction.compactBucketedTable]] drops
    * @param maxBucketRows     hottest blocking key — the ceiling on one
    *                          bucket-join task; a degenerate cluster
    *                          shows here before it shows as a slow query
    * @param bucketSkew        maxBucketRows / mean rows per key
    * @param tombstoneFraction [[deadRows]] / totalRows — the disk and
    *                          scan waste [[purge]] reclaims
    */
  final case class RowIndexStats(
      totalRows: Long,
      distinctRows: Long,
      duplicateFraction: Double,
      maxBucketRows: Long,
      nBlockingKeys: Long,
      bucketSkew: Double,
      tombstoneFraction: Double) {

    /** Any signal past its threshold: duplicates compact, skew means
      * dedup and rebuild, tombstones purge.
      */
    def isStale(maxDuplicateFraction: Double, maxBucketSkew: Double,
        maxTombstoneFraction: Double): Boolean =
      duplicateFraction > maxDuplicateFraction || bucketSkew > maxBucketSkew ||
        tombstoneFraction > maxTombstoneFraction
  }

  /** Measure [[RowIndexStats]] in ONE pass grouped by the table's own
    * bucket columns, so the shuffle rides the bucket layout. Rows in
    * different blocking groups are distinct by construction, so the
    * global distinct count is the sum of within-group distincts.
    */
  def rowIndexStats(spark: SparkSession, tableName: String, idCol: String,
      bucketCols: Seq[String]): RowIndexStats = {
    val t = spark.table(tableName)
    val r = t.groupBy(bucketCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        count_distinct(struct(t.columns.map(col).toIndexedSeq: _*)).as("d"))
      .agg(sum(col("n")), sum(col("d")), max(col("n")), count(lit(1)))
      .collect()(0)
    // an EMPTY index aggregates to (null, null, null, 0) — sum/max over
    // zero groups — and must report zeros, not NPE
    val total = if (r.isNullAt(0)) 0L else r.getLong(0)
    val distinctRows = if (r.isNullAt(1)) 0L else r.getLong(1)
    val maxBucket = if (r.isNullAt(2)) 0L else r.getLong(2)
    val nKeys = r.getLong(3)
    val mean = if (nKeys == 0L) 0.0 else total.toDouble / nKeys
    val dead = deadRows(spark, tableName, idCol, t)
    RowIndexStats(
      total,
      distinctRows,
      if (total == 0L) 0.0 else (total - distinctRows).toDouble / total,
      maxBucket,
      nKeys,
      if (mean == 0.0) 1.0 else maxBucket / mean,
      if (total == 0L) 0.0 else dead.toDouble / total)
  }
}
