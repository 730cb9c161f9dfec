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
  *
  * A body that lands several independent frames per batch lands them
  * with [[landAll]], which writes them at the same time:
  *
  *  - each frame of two or more gets its own lander thread, started by
  *    the calling (stream) thread, so it inherits the batch's Spark local
  *    properties. One of them is the query's job group (its run id),
  *    which `StreamingQuery.stop()` cancels, so a stop reaches every
  *    lander's jobs. There is no pool (a pooled thread keeps the job
  *    group of the query that created it) and no thread-count setting:
  *    a call starts one thread per frame it is given;
  *  - it returns only after every lander has finished. A failure is
  *    rethrown after that join: the first one, with any others attached
  *    as suppressed. An interrupt of the calling thread (a stop) is also
  *    held until the join ends, then rethrown ahead of the failures the
  *    cancelled writes report. The body's `finally` release therefore
  *    never unpersists a cache a sibling write is still scanning, which
  *    can yield an empty, not a recomputed, scan;
  *  - frames are BUILT on the calling thread and the landers only write
  *    them, so the release above, scoped to that thread, finds every
  *    frame.
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
    landAll(batchId)(Seq(df -> dir))

  /** Name prefix of the threads [[landAll]] starts. */
  private[graft] val LanderPrefix = "batch-sink-lander"

  /** Land each independent `(frame, dir)` as batch `batchId` of its
    * table, all at once; returns when every write has finished. A single
    * frame has nothing to overlap with and lands on the calling thread. */
  def landAll(batchId: Long)(frames: Seq[(DataFrame, String)]): Unit =
    frames match {
      case Seq((df, dir)) => write(df, dir, batchId)
      case _ =>
        val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val landers = frames.zipWithIndex.map { case ((df, dir), i) =>
          val t = new Thread(() =>
            try write(df, dir, batchId)
            catch { case e: Throwable => failures.add(e) },
            s"$LanderPrefix-$batchId-$i")
          t.setDaemon(true)
          t.start()
          t
        }
        var interrupt: Option[InterruptedException] = None
        landers.foreach { t =>
          while (t.isAlive)
            try t.join()
            catch { case e: InterruptedException => interrupt = interrupt.orElse(Some(e)) }
        }
        // a stop surfaces as the interrupt it is, not as the cancelled
        // writes it caused
        val errors = interrupt.toSeq ++ failures.toArray(Array.empty[Throwable])
        errors.headOption.foreach { first =>
          errors.tail.foreach(first.addSuppressed)
          throw first
        }
    }

  private def write(df: DataFrame, dir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$dir/batch_run=$batchId")
}
