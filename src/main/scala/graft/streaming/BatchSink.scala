package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The engine's exactly-once micro-batch sink, spelled once — what the
  * reference writes out per store as rotate → upload → commit offset →
  * delete local copy (s3.clj, azureblob.clj). Every `foreachBatch`
  * writer in this package (the [[EventAnalytics]] stream twins,
  * [[IngestPipeline]], [[TakedownPipeline]], [[Archive.startMultiSink]])
  * runs its per-batch body through [[start]], which owns the policy:
  *
  *  - an empty micro-batch runs no body and writes no directory
  *    (§2.1.5). The guard is `isEmpty`, a one-row probe, not a count;
  *  - every write is idempotent on the batch id: [[land]] overwrites
  *    `<dir>/batch_run=N` (the archive's multi-sink keeps its own
  *    `batch_id=N` layout). foreachBatch alone is at-least-once; a
  *    checkpoint-replayed batch re-runs under the same id and REPLACES
  *    its own earlier, possibly partial, directories instead of
  *    appending duplicates, so every sink of one query is exactly-once
  *    behind a single checkpoint directory (§2.1.6-7);
  *  - the frames a body persists through [[graft.core.EngineCache]] are
  *    released when the body finishes, also when it throws. The release
  *    is [[graft.core.EngineCache.releaseOwned]] on the stream thread, so
  *    state the caller persisted before starting the query (a frozen
  *    vocab, a corpus table) stays cached for every batch.
  */
object BatchSink {

  /** Start `stream` with `body` run once per non-empty micro-batch. */
  def start(stream: DataFrame, checkpoint: String,
            trigger: Trigger = Trigger.ProcessingTime(0))(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          try body(batch, batchId)
          finally graft.core.EngineCache.releaseOwned()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Land `df` as batch `batchId` of the table at `dir`. */
  def land(df: DataFrame, dir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$dir/batch_run=$batchId")
}
