package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one micro-batch sink skeleton under every streaming verb in this
  * package — the epoch-sink contract [[CorpusIngest]]'s object doc
  * states. A verb supplies only its per-epoch work: a body over one
  * NON-EMPTY micro-batch that returns the catalog tables it wrote.
  */
private[streaming] object EpochSink {

  /** [[start]] over a flat `batch=<id>` destination: the schema
    * sentinel lands first, then the stream attaches.
    */
  def startFlat(stream: DataFrame, destDir: String, checkpointDir: String, trigger: Trigger)(
      epoch: (DataFrame, Long) => Seq[String]): StreamingQuery = {
    ensureDest(stream, destDir)
    start(stream, checkpointDir, trigger)(epoch)
  }

  /** Attach `stream` with `epoch` as its per-batch body. The tables the
    * body returns are refreshed in the session that STARTED the
    * stream: the micro-batch runs in the stream's CLONED session,
    * whose table refresh cannot invalidate the OWNER session's table
    * relation cache — refreshing it here lets the session that started
    * the stream serve post-epoch reads without the external-writer
    * stale-cache footgun (any OTHER session still follows the standard
    * Spark rule: refresh the table before reading behind an external
    * writer).
    */
  def start(stream: DataFrame, checkpointDir: String, trigger: Trigger)(
      epoch: (DataFrame, Long) => Seq[String]): StreamingQuery = {
    val owner = stream.sparkSession
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // watermark-advance micro-batches arrive EMPTY (the final
        // AvailableNow pass; quiet periods on a perpetual stream):
        // skip the whole epoch — an absent batch=<id> directory reads
        // the same as an empty one, a replayed empty batch recomputes
        // empty, and any index state is untouched either way. (A
        // guard, not `return`: returning from a closure is non-local
        // and would abort the stream.)
        if (!batch.isEmpty)
          epoch(batch, batchId)
            .filter(owner.catalog.tableExists)
            .foreach(owner.catalog.refreshTable)
      }
      .start()
  }

  /** Land one epoch at `destDir/batch=<id>` — overwrite, so a replayed
    * micro-batch (crash between the write and the offset commit)
    * replaces its own directory instead of duplicating rows.
    */
  def land(frame: DataFrame, destDir: String, batchId: Long): Unit =
    frame.write
      .mode("overwrite")
      .parquet(s"$destDir/batch=$batchId")

  /** Pre-create `destDir` with an empty schema-bearing `batch=-1`
    * sentinel (mode `ignore`: first start wins, restarts no-op). Empty
    * micro-batches skip their writes, so a run whose batches are ALL
    * empty — or a stream with zero survivors — would otherwise never
    * create `destDir` and downstream `spark.read.parquet(destDir)`
    * would throw path-not-found instead of yielding an empty frame.
    * Real batch ids are ≥ 0, so the sentinel partition can never
    * collide, and its zero rows leave every read-back unchanged.
    */
  private def ensureDest(stream: DataFrame, destDir: String): Unit = {
    val spark = stream.sparkSession
    spark
      .createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stream.schema)
      // an emptyRDD has ZERO partitions → zero tasks → no part files,
      // and a directory holding only _SUCCESS still fails schema
      // inference; one empty part file with a schema footer is the
      // whole point of the sentinel
      .repartition(1)
      .write.mode("ignore").parquet(s"$destDir/batch=-1")
  }
}
