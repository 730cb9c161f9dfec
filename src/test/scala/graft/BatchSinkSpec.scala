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
  * whether the body finishes or throws, and lands a batch's independent
  * frames concurrently with `landAll`. (Empty batches: ArchiveSpec's
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

  private def landerAlive: Boolean =
    Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .exists(t => t.getName.startsWith(BatchSink.LanderPrefix) && t.isAlive)

  test("landAll lands every frame of the batch") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val dir = Files.createTempDirectory("graft-bsink-all").toString
    val source = MemoryStream[Long]
    val q = BatchSink.start(source.toDF(), s"$dir/ckpt") { (batch, batchId) =>
      BatchSink.landAll(batchId)(Seq(
        batch.selectExpr("value") -> s"$dir/a",
        batch.selectExpr("value * 10 AS value") -> s"$dir/b",
        batch.selectExpr("value * 100 AS value") -> s"$dir/c"))
    }
    source.addData(1L, 2L)
    q.processAllAvailable()
    source.addData(3L)
    q.processAllAvailable()
    q.stop()
    def landed(t: String, run: Int) =
      spark.read.parquet(s"$dir/$t/batch_run=$run").as[Long].collect().sorted.toSeq
    assert(Seq("a", "b", "c").map(landed(_, 0)) ===
      Seq(Seq(1L, 2L), Seq(10L, 20L), Seq(100L, 200L)))
    assert(Seq("a", "b", "c").map(landed(_, 1)) ===
      Seq(Seq(3L), Seq(30L), Seq(300L)))
    assert(!landerAlive, "no lander thread may outlive its batch")
  }

  test("landAll fails with a lander's exception only after every sibling has landed") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.{col, udf}
    val dir = Files.createTempDirectory("graft-bsink-join").toString
    LanderProbe.slowDone.set(false)
    val slow = udf { (v: Long) =>
      Thread.sleep(1500)
      LanderProbe.slowDone.set(true)
      v
    }.asNondeterministic()
    val boom = udf { (v: Long) =>
      if (v >= 0) throw new IllegalStateException("lander boom")
      v
    }.asNondeterministic()
    val source = MemoryStream[Long]
    val q = BatchSink.start(source.toDF(), s"$dir/ckpt") { (batch, batchId) =>
      BatchSink.landAll(batchId)(Seq(
        batch.select(boom(col("value")).as("v")) -> s"$dir/boom",
        batch.select(slow(col("value")).as("v")) -> s"$dir/slow"))
    }
    source.addData(1L)
    val e = intercept[StreamingQueryException](q.processAllAvailable())
    // read before anything else runs: the state the failure surfaced in
    val slowDoneAtFailure = LanderProbe.slowDone.get
    val slowCompleteAtFailure =
      Files.exists(java.nio.file.Paths.get(s"$dir/slow/batch_run=0/_SUCCESS"))
    val alive = landerAlive
    q.stop()
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage == "lander boom"), s"query failure must carry the lander's exception: $e")
    assert(slowDoneAtFailure, "the slow sibling must have run before the failure surfaced")
    assert(slowCompleteAtFailure, "the slow sibling's directory must be complete")
    assert(spark.read.parquet(s"$dir/slow/batch_run=0").as[Long].collect() === Array(1L))
    assert(!alive, "no lander thread may be alive once the failure surfaces")
  }

  test("stop() during a wave returns after every lander has ended, as a clean stop") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.{col, udf}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val dir = Files.createTempDirectory("graft-bsink-stop").toString
    LanderProbe.stuckStarted.set(false)
    // runs until the stop cancels the query's job group
    val stuck = udf { (v: Long) =>
      LanderProbe.stuckStarted.set(true)
      Thread.sleep(60000)
      v
    }.asNondeterministic()
    val source = MemoryStream[Long]
    val q = BatchSink.start(source.toDF(), s"$dir/ckpt") { (batch, batchId) =>
      BatchSink.landAll(batchId)(Seq(
        batch.selectExpr("value") -> s"$dir/quick",
        batch.select(stuck(col("value")).as("v")) -> s"$dir/stuck"))
    }
    source.addData(1L)
    eventually(timeout(30.seconds)) { assert(LanderProbe.stuckStarted.get) }
    val t0 = System.nanoTime()
    q.stop()
    assert((System.nanoTime() - t0) / 1e9 < 30, "the stop must cancel the landers' jobs")
    assert(!landerAlive, "no lander thread may outlive the stop")
    assert(q.exception.isEmpty, s"a stop mid-wave is not a query failure: ${q.exception}")
  }

  test("every job a lander starts carries the query's job group") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val dir = Files.createTempDirectory("graft-bsink-group").toString
    val targets = Seq("lander-a", "lander-b", "lander-c").map(t => s"$dir/$t")
    // execution id -> plan text, and every job's (execution id, group)
    val plans = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case s: SparkListenerSQLExecutionStart =>
          plans.put(s.executionId.toString, s.physicalPlanDescription)
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def p(k: String) = Option(j.properties).flatMap(x => Option(x.getProperty(k)))
        jobs.add((p("spark.sql.execution.id").getOrElse(""),
          p("spark.jobGroup.id").getOrElse("")))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val source = MemoryStream[Long]
    val q = BatchSink.start(source.toDF(), s"$dir/ckpt") { (batch, batchId) =>
      BatchSink.landAll(batchId)(targets.map(t => batch.selectExpr("value") -> t))
    }
    try {
      source.addData(1L, 2L, 3L)
      q.processAllAvailable()
    } finally {
      q.stop()
    }
    // the jobs of each lander's write: the jobs of the execution whose
    // plan writes that lander's directory
    def groupsOf(target: String): Seq[String] = {
      val execs = plans.entrySet().toArray(Array.empty[java.util.Map.Entry[String, String]])
        .filter(_.getValue.contains(s"$target/batch_run=0")).map(_.getKey).toSet
      jobs.toArray(Array.empty[(String, String)]).toSeq
        .filter(j => execs(j._1)).map(_._2)
    }
    try eventually(timeout(30.seconds)) {
      targets.foreach(t => assert(groupsOf(t).nonEmpty, s"no job seen writing $t"))
    } finally spark.sparkContext.removeSparkListener(listener)
    targets.foreach { t =>
      assert(groupsOf(t).toSet === Set(q.runId.toString),
        s"every job writing $t must carry the run id as its job group")
    }
  }

  test("an ingest batch leaves no persisted frame behind") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.operators.LlmQueries
    import graft.streaming.IngestPipeline
    EngineCache.releaseAll() // no engine frames from earlier tests
    val d = graft.core.Tables.load(spark, sfDir, "documents")
    val grams = EngineCache.persisted(LlmQueries.corpusGramsAtRest(spark, sfDir))
    val sig = EngineCache.persisted(graft.llm.Dedup.signatureFrame(
      d.filter(col("source") =!= LlmQueries.BatchSource), "doc_id", "text",
      LlmQueries.WordShingleN, LlmQueries.MinhashK))
    val cfg = IngestPipeline.Config(
      graft.operators.StatsOps.trainedClsWeights(
        d.select("doc_id", "text", "lang", "n_chars")),
      scoreFloor = 0.0, LlmQueries.WordShingleN, LlmQueries.MinhashK,
      LlmQueries.MinhashBands, LlmQueries.MinhashTau)
    val docs = d.filter(col("source") === LlmQueries.BatchSource)
      .select("doc_id", "text", "lang", "n_chars")
      .as[(Long, String, String, Long)].collect().toSeq
    // the caller's frozen state is cached before the count is taken
    grams.count()
    sig.count()
    val dir = Files.createTempDirectory("graft-bsink-ingest").toString
    val source = MemoryStream[(Long, String, String, Long)]
    val cachedBeforeStart = spark.sparkContext.getPersistentRDDs.size
    val q = IngestPipeline.start(
      source.toDF().toDF("doc_id", "text", "lang", "n_chars"),
      grams, sig, cfg, dir, s"$dir/ckpt")
    try {
      source.addData(docs: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(!spark.read.parquet(s"$dir/funnel/batch_run=0").isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.size === cachedBeforeStart,
      "an ingest micro-batch must not leave persisted frames behind")
    assert(!landerAlive, "no lander thread may outlive its batch")
    EngineCache.releaseAll()
  }
}

/** Flags the executor side of a UDF sets; the test session is local, so
  * the executor and the spec share this JVM. */
object LanderProbe {
  val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
  val stuckStarted = new java.util.concurrent.atomic.AtomicBoolean(false)
}
