package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's core capability — archive every Kafka topic to object
  * storage — as one Structured Streaming query (SURVEY.md §2.1 parity
  * checklist; BASELINE.json north star).
  *
  * Reference → engine mapping:
  *  - ZooKeeper topic discovery every 10 s (kafka.clj:22-41) →
  *    `subscribePattern` + `metadata.max.age.ms`: the Kafka source
  *    re-resolves matching topics without restart.
  *  - whitelist/blacklist `(whitelist ∩ topics) − blacklist`
  *    (kafka.clj:182-186) → [[topicFilter]] on the stream (works for any
  *    source); whitelist also compiled into the subscribe pattern so
  *    non-matching topics are never fetched.
  *  - per-(topic, partition) file isolation (kafka.clj:103-120) →
  *    `partitionBy("topic", "partition")` — Hive-style layout like the
  *    reference's `topic/partition=N/` object keys (s3.clj:15-20).
  *  - 60 s rotation timer (kafka.clj:84-99) → `Trigger.ProcessingTime`;
  *    a micro-batch IS a rotation; empty batches write no files (§2.1.5).
  *  - upload→commit ordering, at-least-once (s3.clj:40-80) → checkpoint +
  *    file-sink manifest: exactly-once, strictly stronger (§2.1.6-7).
  *  - bounded buffers (async.clj:8-14) → `maxOffsetsPerTrigger`.
  *
  * At scale: one streaming query handles all topics; parallelism = Kafka
  * partition count (1 TopicPartition → 1 task), no per-topic threads to
  * manage. The sink path is `s3a://…` in production — the s3a committer
  * does the multipart upload the reference hand-rolled.
  */
object Archive {

  /** Columns the archive persists — the reference keeps only value bytes
    * (kafka.clj:58); we keep the full replay identity (topic, partition,
    * offset) plus key and timestamp, making the archive a queryable table
    * and dedup by (topic, partition, offset) possible downstream. */
  val archiveColumns: Seq[String] =
    Seq("key", "value", "topic", "partition", "offset", "timestamp")

  final case class ArchiveConfig(
      outputPath: String,
      checkpointPath: String,
      whitelist: Option[Seq[String]] = None, // None = all topics (§2.1.2)
      blacklist: Seq[String] = Nil,
      rotationInterval: String = "60 seconds", // reference default (§2.1.4)
      maxOffsetsPerTrigger: Option[Long] = None,
      queryName: Option[String] = None) // names telemetry metric lines

  /** `(whitelist ∩ topics) − blacklist`; whitelist None = all topics —
    * the reference's listen-topics semantics (kafka.clj:182-186). */
  def topicFilter(cfg: ArchiveConfig) = {
    val white = cfg.whitelist
      .map(ws => col("topic").isin(ws: _*))
      .getOrElse(lit(true))
    val black =
      if (cfg.blacklist.isEmpty) lit(true)
      else !col("topic").isin(cfg.blacklist: _*)
    white && black
  }

  /** Kafka source for production use. Not exercisable in this container
    * (no broker) but the options are the whole story: subscribePattern
    * for dynamic discovery, earliest start like `auto.offset.reset
    * smallest` (etc/config.example.edn:3-5), rate limiting. */
  def kafkaSource(spark: SparkSession, bootstrap: String,
                  cfg: ArchiveConfig): DataFrame = {
    val pattern = cfg.whitelist.map(_.mkString("|")).getOrElse(".*")
    val base = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribePattern", pattern)
      .option("startingOffsets", "earliest")
      // re-resolve the topic list within the reference's 10 s bound
      .option("kafka.metadata.max.age.ms", "10000")
      .option("failOnDataLoss", "false")
    cfg.maxOffsetsPerTrigger
      .fold(base)(n => base.option("maxOffsetsPerTrigger", n.toString))
      .load()
  }

  /** File-stream source with admission control — the no-broker analog of
    * [[kafkaSource]]'s `maxOffsetsPerTrigger` (both ride Spark's
    * SupportsAdmissionControl contract: the SOURCE bounds what each
    * micro-batch admits, which is the reference's bounded-buffer
    * backpressure, async.clj:8-14 / s3.clj:100,117-124 — in-flight data
    * is capped no matter how far behind the stream is). */
  def fileSource(spark: SparkSession, dir: String,
                 schema: org.apache.spark.sql.types.StructType,
                 maxFilesPerTrigger: Int): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Wire any Kafka-schema stream (real source or MemoryStream in tests)
    * into the archival sink. One micro-batch ≈ one reference rotation. */
  def start(stream: DataFrame, cfg: ArchiveConfig): StreamingQuery =
    startWith(stream, cfg, Trigger.ProcessingTime(cfg.rotationInterval))

  /** Backfill/catch-up run: `Trigger.AvailableNow` drains everything the
    * source has (still in rate-limited micro-batches — admission limits
    * like maxOffsetsPerTrigger are honored) and terminates. Shares the
    * continuous form's checkpoint, so operators can alternate scheduled
    * drains with the always-on query — the "run the archiver as a cron
    * job" deployment the reference can't express (its consumer loop only
    * runs forever, kafka.clj:124-141). */
  def drain(stream: DataFrame, cfg: ArchiveConfig): StreamingQuery =
    startWith(stream, cfg, Trigger.AvailableNow())

  private def startWith(stream: DataFrame, cfg: ArchiveConfig,
                        trigger: Trigger): StreamingQuery = {
    val writer = stream
      .filter(topicFilter(cfg))
      .selectExpr(archiveColumns: _*)
      .writeStream
      .format("parquet")
      .partitionBy("topic", "partition")
      .option("path", cfg.outputPath)
      .option("checkpointLocation", cfg.checkpointPath)
      .trigger(trigger)
    cfg.queryName.fold(writer)(writer.queryName).start()
  }

  /** Read the archive back as a partition-prunable table (§2.1.8): filters
    * on topic/partition prune directories before any I/O. */
  def readArchive(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Time-travel read over a [[startMultiSink]] archive: the batch_id=N
    * partition directories double as a commit history, so "the table as
    * of batch N" is one partition-pruned predicate — no snapshot
    * manifests, no table format, and the pruning happens at the listing
    * (only directories ≤ N are read at all). This is the §2.1.8
    * queryable-layout guarantee turned into a versioned read: replaying
    * an analysis against last night's state is `asOfBatch(n)`, and an
    * incremental consumer diffs two reads with `batch_id` bounds. */
  def readArchiveAsOf(spark: SparkSession, path: String,
                      maxBatchId: Long): DataFrame =
    spark.read.parquet(path).filter(col("batch_id") <= maxBatchId)

  /** Multi-sink delivery via [[BatchSink]]: one micro-batch (one
    * rotation) fans out to (1) the parquet archive and (2) a per-batch
    * topic-count index table — the "rotated-file event" metadata stream
    * the reference pushes to its uploaders (kafka.clj:93-97) turned into
    * a queryable table. Both sinks overwrite their own `batch_id=N`
    * directory — one directory per batch instead of one manifest entry.
    * Readers see a normal Hive-partitioned table with batch_id as a
    * column (and can prune on it). */
  def startMultiSink(stream: DataFrame, cfg: ArchiveConfig,
                     indexPath: String): StreamingQuery =
    BatchSink.start(
      stream.filter(topicFilter(cfg)).selectExpr(archiveColumns: _*),
      cfg.checkpointPath, Trigger.ProcessingTime(cfg.rotationInterval)) {
      (batch, batchId) =>
        batch.write.mode("overwrite")
          .partitionBy("topic", "partition")
          .parquet(s"${cfg.outputPath}/batch_id=$batchId")
        batch.groupBy(col("topic"))
          .agg(count(lit(1)).as("n_records"),
            min(col("offset")).as("first_offset"),
            max(col("offset")).as("last_offset"))
          .write.mode("overwrite")
          .parquet(s"$indexPath/batch_id=$batchId")
    }

  /** Schema-evolution read: a long-lived archive accumulates files
    * written by different producer versions (new columns appear; old
    * files simply lack them). `mergeSchema` unions all file footers into
    * one schema and fills absent columns with null — readers never break
    * on old data. At scale, footer merging over millions of files is
    * driver work: pin the schema explicitly once it stabilizes (this
    * helper is for the evolving window). */
  def readArchiveEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Small-file compaction — the operational other half of a streaming
    * archive: a 60 s rotation writes ~1440 files per (topic, partition)
    * per day, and at 100 TB the file count (not the bytes) is what kills
    * readers and object-store listings. Rewrites the tree into ≤
    * `targetRecordsPerFile`-row files, same Hive layout, rows sorted by
    * offset within each partition so files stay offset-ranged like the
    * reference's offset-named objects (s3.clj:16-20). Fully distributed
    * (scan → shuffle on the layout keys → write); writes to a NEW root —
    * object stores have no atomic directory rename, so the swap (point
    * readers at the new root, delete the old) stays with the caller. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetRecordsPerFile: Long): Unit =
    readArchive(spark, inPath)
      .repartition(col("topic"), col("partition"))
      .sortWithinPartitions(col("topic"), col("partition"), col("offset"))
      .write
      .partitionBy("topic", "partition")
      .option("maxRecordsPerFile", targetRecordsPerFile)
      .mode("overwrite")
      .parquet(outPath)

  /** [[compact]] with the reader-visible swap INCLUDED: the compacted
    * tree lands as the next version of a warehouse table and the
    * pointer flips atomically ([[graft.core.Warehouse.publish]]) — a
    * compactor killed mid-rewrite leaves readers on the previous
    * complete version, never a partial tree, which is exactly the step
    * plain [[compact]] (correctly) refuses to fake over an object
    * store's non-atomic directory rename. Returns the published
    * version. */
  def compactPublish(spark: SparkSession, inPath: String, table: String,
                     targetRecordsPerFile: Long): Long =
    graft.core.Warehouse.publish(
      readArchive(spark, inPath)
        .repartition(col("topic"), col("partition"))
        .sortWithinPartitions(col("topic"), col("partition"), col("offset")),
      table, Seq("topic", "partition"),
      Map("maxRecordsPerFile" -> targetRecordsPerFile.toString))

  /** Restart-on-failure supervision — the reference retries consumer
    * build and uploads forever with 15 s pauses (kafka.clj:124-141,
    * s3.clj:40-80). Spark's analog: re-start the query from its
    * checkpoint after a failure; exactly-once delivery makes the retry
    * safe (the failed batch replays, the file-sink manifest ignores
    * already-committed files). `attempt` should start the query and block
    * until it finishes (throwing on failure); returns the restart count
    * once an attempt completes cleanly. */
  def supervise(maxRestarts: Int, pauseMs: Long)(attempt: () => Unit): Int = {
    var restarts = 0
    var done = false
    while (!done) {
      try { attempt(); done = true }
      catch {
        // NonFatal only: an OOM or interrupt must propagate, not trigger
        // a restart of a query in a possibly-corrupted JVM
        case scala.util.control.NonFatal(e) if restarts < maxRestarts =>
          restarts += 1
          Thread.sleep(pauseMs)
      }
    }
    restarts
  }
}
