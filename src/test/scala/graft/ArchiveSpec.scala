package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.Archive
import graft.streaming.Archive.ArchiveConfig

/** Reference-parity tests for the archival pipeline (SURVEY.md §2.1):
  * partition-isolated Hive layout, white/blacklist, no empty files,
  * checkpoint restart without loss or duplicates. Driven by a
  * MemoryStream with the Kafka source schema (FIXTURES.md §D). */
class ArchiveSpec extends SparkSpec {

  case class KMsg(key: Array[Byte], value: Array[Byte], topic: String,
                  partition: Int, offset: Long, timestamp: Timestamp)

  private def msg(topic: String, partition: Int, offset: Long): KMsg =
    KMsg(null, s"$topic-$partition-$offset".getBytes("UTF-8"), topic,
      partition, offset, new Timestamp(1700000000000L + offset * 1000))

  test("archive writes topic/partition Hive layout, applies topic filter, " +
       "skips empty batches, and resumes exactly-once from checkpoint") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val out = Files.createTempDirectory("archive-out").toString
    val ckpt = Files.createTempDirectory("archive-ckpt").toString
    val cfg = ArchiveConfig(out, ckpt,
      whitelist = Some(Seq("orders", "clicks", "audit")),
      blacklist = Seq("audit"),
      rotationInterval = "1 seconds")

    val source = MemoryStream[KMsg]
    source.addData(
      msg("orders", 0, 0), msg("orders", 0, 1), msg("orders", 1, 0),
      msg("clicks", 0, 0),
      msg("audit", 0, 0),      // blacklisted
      msg("internal", 0, 0))   // not whitelisted
    val q1 = Archive.start(source.toDF(), cfg)
    q1.processAllAvailable()
    q1.stop()

    val archived = Archive.readArchive(spark, out)
    // §2.1.2 white/blacklist: (whitelist ∩ topics) − blacklist
    assert(archived.select("topic").distinct().collect().map(_.getString(0)).sorted
      === Array("clicks", "orders"))
    assert(archived.count() === 4)
    // §2.1.3/§2.1.8 layout: Hive-style topic=/partition= directories
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_ == "_spark_metadata").sorted
    assert(dirs === Array("topic=clicks", "topic=orders"))
    val pdirs = new java.io.File(s"$out/topic=orders").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(pdirs === Array("partition=0", "partition=1"))
    // offsets preserved for replay identity
    val off = archived.filter("topic = 'orders' AND partition = 0")
      .select("offset").collect().map(_.getLong(0)).sorted
    assert(off === Array(0L, 1L))

    // §2.1.5 empty batch ⇒ no new files
    val filesBefore = fileCount(out)
    val q2 = Archive.start(source.toDF(), cfg)
    q2.processAllAvailable() // no new data
    q2.stop()
    assert(fileCount(out) === filesBefore, "empty window must produce no output")

    // §2.1.6-7 restart from checkpoint: new data only, no duplicates
    source.addData(msg("orders", 0, 2))
    val q3 = Archive.start(source.toDF(), cfg)
    q3.processAllAvailable()
    q3.stop()
    val after = Archive.readArchive(spark, out)
    assert(after.count() === 5)
    assert(after.filter("topic = 'orders' AND partition = 0").count() === 3)
    // exactly-once: no (topic, partition, offset) duplicates
    assert(after.dropDuplicates("topic", "partition", "offset").count() === 5)
  }

  test("archive read-back prunes partitions on topic/partition filters") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val out = Files.createTempDirectory("archive-out2").toString
    val ckpt = Files.createTempDirectory("archive-ckpt2").toString
    val source = MemoryStream[KMsg]
    source.addData(msg("a", 0, 0), msg("a", 1, 1), msg("b", 0, 0))
    val q = Archive.start(source.toDF(), ArchiveConfig(out, ckpt, rotationInterval = "1 seconds"))
    q.processAllAvailable()
    q.stop()
    val plan = Archive.readArchive(spark, out)
      .filter("topic = 'a' AND partition = 1")
      .queryExecution.executedPlan.toString
    // partition filters must appear as PartitionFilters on the scan, not post-scan
    assert(plan.contains("PartitionFilters") &&
      (plan.contains("topic") && plan.contains("partition")))
  }

  test("compaction merges small files, preserves rows, layout, and offsets") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val out = Files.createTempDirectory("compact-in").toString
    val ckpt = Files.createTempDirectory("compact-ckpt").toString
    val compacted = Files.createTempDirectory("compact-out").toString
    val source = MemoryStream[KMsg]
    val cfg = ArchiveConfig(out, ckpt, rotationInterval = "1 seconds")
    // 5 micro-batches -> >= 5 small files per (topic, partition)
    val q = Archive.start(source.toDF(), cfg)
    (0 until 5).foreach { b =>
      source.addData((0 until 4).map(i => msg("orders", 0, b * 4L + i)): _*)
      q.processAllAvailable()
    }
    q.stop()
    assert(fileCount(out) >= 5)

    Archive.compact(spark, out, compacted, targetRecordsPerFile = 1000)
    assert(fileCount(compacted) === 1, "20 rows at 1000/file is one file")
    val before = Archive.readArchive(spark, out)
      .select("topic", "partition", "offset", "value")
    val after = Archive.readArchive(spark, compacted)
      .select("topic", "partition", "offset", "value")
    assert(after.count() === 20)
    assert(before.exceptAll(after).isEmpty && after.exceptAll(before).isEmpty,
      "compaction must preserve content exactly")
    // layout preserved: same Hive directories
    assert(new java.io.File(s"$compacted/topic=orders/partition=0").isDirectory)
  }

  test("AvailableNow drain processes the backlog, terminates, and stays " +
       "exactly-once across repeated drains") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val out = Files.createTempDirectory("drain-out").toString
    val ckpt = Files.createTempDirectory("drain-ckpt").toString
    val cfg = ArchiveConfig(out, ckpt)
    val source = MemoryStream[KMsg]
    source.addData(msg("orders", 0, 0), msg("orders", 0, 1), msg("clicks", 0, 0))

    val q1 = Archive.drain(source.toDF(), cfg)
    // AvailableNow terminates on its own once the backlog is drained
    assert(q1.awaitTermination(60000), "drain must self-terminate")
    assert(Archive.readArchive(spark, out).count() === 3)

    // second drain with no new data: terminates, writes nothing
    val filesBefore = fileCount(out)
    val q2 = Archive.drain(source.toDF(), cfg)
    assert(q2.awaitTermination(60000))
    assert(fileCount(out) === filesBefore)

    // third drain picks up only the delta from the shared checkpoint
    source.addData(msg("orders", 0, 2))
    val q3 = Archive.drain(source.toDF(), cfg)
    assert(q3.awaitTermination(60000))
    val after = Archive.readArchive(spark, out)
    assert(after.count() === 4)
    assert(after.dropDuplicates("topic", "partition", "offset").count() === 4)
  }

  test("supervision restarts a failed query from checkpoint without duplicates") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val out = Files.createTempDirectory("sup-out").toString
    val ckpt = Files.createTempDirectory("sup-ckpt").toString
    val source = MemoryStream[KMsg]
    source.addData(msg("orders", 0, 0), msg("orders", 0, 1))
    val cfg = ArchiveConfig(out, ckpt, rotationInterval = "1 seconds")

    // a stage that fails exactly once mid-batch (first attempt), then
    // passes — the transient-sink-failure scenario the reference retries
    ArchiveSpec.failOnce.set(true)
    val failingOnce = org.apache.spark.sql.functions.udf { (offset: Long) =>
      if (ArchiveSpec.failOnce.getAndSet(false)) sys.error("transient failure")
      offset
    }
    val restarts = Archive.supervise(maxRestarts = 3, pauseMs = 50) { () =>
      val stream = source.toDF()
        .withColumn("offset", failingOnce(org.apache.spark.sql.functions.col("offset")))
      val q = Archive.start(stream, cfg)
      try q.processAllAvailable() finally q.stop()
    }
    assert(restarts === 1, "first attempt fails, second succeeds")
    val archived = Archive.readArchive(spark, out)
    assert(archived.count() === 2)
    assert(archived.dropDuplicates("topic", "partition", "offset").count() === 2,
      "checkpoint replay after failure must stay exactly-once")
  }

  test("foreachBatch multi-sink delivers archive + batch index exactly-once " +
       "across a checkpoint restart") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val out = Files.createTempDirectory("msink-out").toString
    val idx = Files.createTempDirectory("msink-idx").toString
    val ckpt = Files.createTempDirectory("msink-ckpt").toString
    val cfg = ArchiveConfig(out, ckpt, rotationInterval = "1 seconds")

    val source = MemoryStream[KMsg]
    source.addData(msg("orders", 0, 0), msg("orders", 0, 1), msg("clicks", 0, 0))
    val q1 = Archive.startMultiSink(source.toDF(), cfg, idx)
    q1.processAllAvailable()
    // §2.1.5: an empty micro-batch (batch 1) writes nothing to either sink
    source.addData()
    q1.processAllAvailable()
    q1.stop()
    assert(!new java.io.File(s"$out/batch_id=1").exists() &&
      !new java.io.File(s"$idx/batch_id=1").exists(),
      "an empty batch must land no directory")

    // restart from the same checkpoint; only the new data may appear
    source.addData(msg("orders", 0, 2))
    val q2 = Archive.startMultiSink(source.toDF(), cfg, idx)
    q2.processAllAvailable()
    q2.stop()
    assert(new java.io.File(s"$out/batch_id=2").exists(),
      "the restarted run's data is batch 2, after the empty batch 1")

    val archived = Archive.readArchive(spark, out)
    assert(archived.count() === 4)
    assert(archived.dropDuplicates("topic", "partition", "offset").count() === 4,
      "batch_id-keyed overwrite must keep replays exactly-once")
    // the index sink agrees with the archive sink batch by batch
    val index = Archive.readArchive(spark, idx)
    assert(index.selectExpr("CAST(sum(n_records) AS BIGINT)").head().getLong(0) === 4L)
    val ordersIdx = index.filter("topic = 'orders'")
      .selectExpr("min(first_offset)", "max(last_offset)").head()
    assert(ordersIdx.getLong(0) === 0L && ordersIdx.getLong(1) === 2L)
    // both sinks are batch_id-partitioned (prunable, idempotent target)
    assert(archived.columns.contains("batch_id"))
    assert(index.columns.contains("batch_id"))

    // time travel: "as of batch 0" excludes the restarted run's batch,
    // and the bound prunes PARTITIONS, not rows — the predicate must
    // show up as a partition filter on the scan
    val asOf = Archive.readArchiveAsOf(spark, out, 0L)
    assert(asOf.count() === 3)
    assert(asOf.agg(org.apache.spark.sql.functions.max("offset"))
      .head().getLong(0) === 1L)
    val plan = asOf.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("batch_id"),
      s"as-of bound must prune batch_id partitions:\n$plan")
  }

  test("mergeSchema read spans producer schema evolution; old files read " +
       "with nulls for later columns") {
    val sq = spark
    import sq.implicits._
    val root = Files.createTempDirectory("evolve").toString
    // v1 producer: no headers column
    Seq(("orders", 0L, "a")).toDF("topic", "offset", "value")
      .write.parquet(s"$root/d1")
    // v2 producer adds a headers map
    Seq(("orders", 1L, "b", Map("k" -> "v")))
      .toDF("topic", "offset", "value", "headers")
      .write.parquet(s"$root/d2")
    val evolved = Archive.readArchiveEvolved(spark, s"$root/*")
    assert(evolved.columns.sorted === Array("headers", "offset", "topic", "value"))
    assert(evolved.count() === 2)
    val byOffset = evolved.orderBy("offset").collect()
    assert(byOffset(0).isNullAt(byOffset(0).fieldIndex("headers")),
      "pre-evolution rows surface the new column as null")
    assert(!byOffset(1).isNullAt(byOffset(1).fieldIndex("headers")))
  }

  private def fileCount(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(dir))
  }
}

object ArchiveSpec {
  /** Shared flag for the fail-once UDF: static so executor threads in the
    * local JVM see the same state across the restart. */
  val failOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
}
