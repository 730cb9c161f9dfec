package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.storage.StorageLevel
import graft.core.EngineCache
import graft.streaming.BatchSink

/** The shared micro-batch sink releases what a batch body persisted,
  * whether the body finishes or throws. (Empty batches: ArchiveSpec's
  * multi-sink test.) */
class BatchSinkSpec extends SparkSpec {

  test("frames a batch body persists are unpersisted once the batch lands") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val dir = Files.createTempDirectory("graft-bsink").toString
    val source = MemoryStream[Long]
    val held = new AtomicReference[DataFrame]()
    val levelInBody = new AtomicReference[StorageLevel]()
    val q = BatchSink.start(source.toDF(), s"$dir/ckpt") { (batch, batchId) =>
      val doubled = EngineCache.persisted(batch.selectExpr("value * 2 AS v"))
      held.set(doubled)
      levelInBody.set(doubled.storageLevel)
      BatchSink.land(doubled, s"$dir/out", batchId)
    }
    source.addData(1L, 2L, 3L)
    q.processAllAvailable()
    q.stop()
    assert(levelInBody.get === StorageLevel.MEMORY_AND_DISK)
    assert(held.get.storageLevel === StorageLevel.NONE,
      "the batch's persisted frame must be released after the batch")
    assert(spark.read.parquet(s"$dir/out/batch_run=0").as[Long].collect().sorted
      === Array(2L, 4L, 6L))
  }

  test("a throwing batch body fails the query with its exception and " +
       "still unpersists its frames") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val dir = Files.createTempDirectory("graft-bsink-fail").toString
    val source = MemoryStream[Long]
    val held = new AtomicReference[DataFrame]()
    val q = BatchSink.start(source.toDF(), s"$dir/ckpt") { (batch, _) =>
      val frame = EngineCache.persisted(batch.selectExpr("value"))
      frame.count()
      held.set(frame)
      throw new IllegalStateException("sink write failed")
    }
    source.addData(1L)
    val e = intercept[StreamingQueryException](q.processAllAvailable())
    q.stop()
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage == "sink write failed"), s"query failure must carry the body's exception: $e")
    assert(held.get.storageLevel === StorageLevel.NONE,
      "a failed batch must still release its persisted frame")
  }
}
