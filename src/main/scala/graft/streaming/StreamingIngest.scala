package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.index.{UpdateConfig, Updater}

/** Structured Streaming ingestion — the reference's "streaming" is
  * incremental batch appends behind `POST /update` (SURVEY §1.1, §3.2:
  * per-index semaphore serializes updates; no true stream engine). The
  * Spark-native equivalent: a `foreachBatch` sink that funnels every
  * micro-batch through the U1 update dispatcher, so the buffer /
  * centroid-expansion / rebuild thresholds apply to streams unchanged.
  * Micro-batches arrive serially per query — the same serialization
  * guarantee as the reference's update semaphore.
  */
object StreamingIngest {

  /** Wrap a streaming `docs(doc_id, embeddings)` source into an index
    * updater sink. `doc_id` is the id LOCAL to each micro-batch
    * (0..n-1); the dispatcher offsets it into the global dense space.
    * Call `.start()` on the result (optionally after `.trigger(...)`). */
  def indexSink(
      docs: DataFrame,
      indexPath: String,
      cfg: UpdateConfig = UpdateConfig(),
      checkpoint: Option[String] = None
  ): DataStreamWriter[org.apache.spark.sql.Row] = {
    val w = docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, indexPath, cfg): Unit
      }
    checkpoint.map(c => w.option("checkpointLocation", c)).getOrElse(w)
  }

  /** Apply one micro-batch exactly once. foreachBatch is at-least-once:
    * after a sink-side failure the engine REPLAYS the last micro-batch,
    * and a blind re-apply double-appends every document. The manifest
    * records the last applied batchId — replays at or below it are
    * skipped, recorded only AFTER the update completes so a crash
    * before completion replays (never skips) the batch.
    *
    * Partial-failure story: an `stream_inflight` marker brackets the
    * (non-transactional) multi-table update. If a crash lands between
    * marker write and batch record, the replay finds the marker and
    * fails loudly instead of double-appending — recovery is restoring
    * the index directory from the previous commit point (every table
    * rewrite in the Updater is temp+atomic-rename, so the pre-batch
    * state is what any external snapshot/backup captured) or rebuilding
    * from the source-of-truth stream. Returns true when applied, false
    * when skipped. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      indexPath: String,
      cfg: UpdateConfig = UpdateConfig()): Boolean = {
    if (batch.isEmpty) return false
    val spark = batch.sparkSession
    val inflight = s"$indexPath/stream_inflight"
    val lastApplied = lastAppliedBatchId(indexPath)
    if (lastApplied.exists(batchId <= _)) {
      // Self-heal a stale marker: a crash in the window between the
      // manifest's last_stream_batch_id write and marker removal leaves
      // the marker behind with a batchId the manifest already records as
      // applied — state is fully consistent, so clear it instead of
      // poisoning every subsequent batch. A marker AHEAD of the manifest
      // is a genuine partial apply and still fails below on that batch.
      // A corrupt/empty marker is unparsable — leave it in place so the
      // loud IllegalStateException path below (on the first unapplied
      // batch) reports the recovery guidance instead of an NFE here.
      if (graft.util.Fs.exists(inflight)) {
        val marked = new String(graft.util.Fs.readBytes(inflight), "UTF-8").trim.toLongOption
        if (marked.exists(m => lastApplied.exists(m <= _)))
          graft.util.Fs.deleteRecursively(inflight)
      }
      return false
    }
    if (graft.util.Fs.exists(inflight)) {
      throw new IllegalStateException(
        s"index at $indexPath has a partially-applied stream batch " +
          "(stream_inflight marker present); restore the directory from " +
          "the last consistent snapshot or rebuild before resuming the stream")
    }
    graft.util.Fs.writeBytes(inflight, batchId.toString.getBytes("UTF-8"))
    // re-densify the batch's local ids (a stream micro-batch has no id
    // contract) then hand off to the U1 dispatcher
    val local = batch.select("doc_id", "embeddings")
      .orderBy("doc_id")
    val withLocal = graft.meta.MetadataOps.denseResequenceScalable(
      local, "doc_id", spark.sessionState.conf.numShufflePartitions)
      .select(col("new_id").as("doc_id"), col("embeddings"))
    val idx = Updater.update(spark, indexPath, withLocal, cfg)
    graft.index.MultiVectorIndex.writeManifest(indexPath,
      idx.manifest + ("last_stream_batch_id" -> batchId.toString))
    graft.util.Fs.deleteRecursively(inflight)
    true
  }

  /** Last stream batchId applied to the index, from its manifest. */
  def lastAppliedBatchId(indexPath: String): Option[Long] = {
    if (!graft.util.Fs.exists(s"$indexPath/manifest.json")) return None
    val node = graft.index.MultiVectorIndex.jsonMapper.readTree(
      graft.util.Fs.readBytes(s"$indexPath/manifest.json"))
    Option(node.get("last_stream_batch_id")).map(_.asText().toLong)
  }

  /** Event-time tumbling-window aggregation with a watermark — the
    * streaming twin of the `st_window_agg` declared query. Input needs
    * `ts: timestamp`, `event_type`, `value`. */
  def windowedAgg(
      events: DataFrame,
      window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n"), col("sum_value"))

  /** Run a bounded ingestion stream to completion (tests / backfills):
    * processes all available data then stops. */
  def runOnce(writer: DataStreamWriter[org.apache.spark.sql.Row]): StreamingQuery = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }
}
