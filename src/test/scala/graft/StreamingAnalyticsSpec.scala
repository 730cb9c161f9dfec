package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.EventAnalytics
import graft.streaming.EventAnalytics.Event

/** Event-time semantics: tumbling windows, watermark late-data drop,
  * streaming dedup, stateful sessionization. Assertions on micro-batch
  * boundaries via processAllAvailable (SURVEY.md §7.4: no sleeps). */
class StreamingAnalyticsSpec extends SparkSpec {

  // 10-minute-aligned epoch base so window starts land on exact minutes
  private val BASE = 1699999800000L

  private def ev(id: Long, minute: Int, user: Long = 1, typ: String = "click",
                 value: Double = 1.0): Event =
    Event(id, new Timestamp(BASE + minute * 60000L), user, typ, value)

  /** The directories [[graft.streaming.TakedownPipeline]] lands per batch. */
  private val takedownStores =
    Seq("ids", "gramdec", "cbloomdec", "cmsdec", "ddqdec", "report")

  /** Restarts a stream so that it REPLAYS micro-batch `n`, as a crash
    * between the sink write and the commit would: `n`'s commit-log entry
    * and its checksum go before `restart` runs, which must put batch n's
    * input in the source before its query starts. Each of `dirs` is a
    * directory batch n wrote; the replay must rewrite it (data files
    * before and after, none of them the same file), not append to it. */
  private def replayBatch(ckpt: String, n: Int, dirs: String*)(
      restart: => Unit): Unit = {
    def dataFiles(d: String): Set[String] = {
      val f = new java.io.File(d)
      if (!f.isDirectory) Set.empty
      else org.apache.commons.io.FileUtils.listFiles(f, null, true)
        .toArray(Array.empty[java.io.File]).map(_.getName)
        .filter(_.startsWith("part-")).toSet
    }
    val before = dirs.map(dataFiles)
    Seq(s"commits/$n", s"commits/.$n.crc").foreach { p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$ckpt/$p"))
    }
    restart
    dirs.zip(before).foreach { case (d, was) =>
      val now = dataFiles(d)
      assert(was.nonEmpty && now.nonEmpty, s"$d: batch $n's output")
      assert((now intersect was).isEmpty,
        s"$d: the replay must rewrite batch $n's output, not append to it")
    }
  }

  test("tumbling window aggregates by event time and drops late rows past watermark") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val source = MemoryStream[Event]
    val agg = EventAnalytics.tumblingCounts(source.toDF(), "5 minutes", "10 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("tumbling_out").start()

    source.addData(ev(1, 0), ev(2, 5), ev(3, 11))
    q.processAllAvailable()
    // advance watermark far enough to close the first two windows
    source.addData(ev(4, 40))
    q.processAllAvailable()
    // late arrival for the long-closed first window: must be dropped
    source.addData(ev(5, 1))
    q.processAllAvailable()
    source.addData(ev(6, 60))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("tumbling_out")
      .select("win_start", "n").collect()
      .map(r => (r.getTimestamp(0).getTime - BASE) / 60000 -> r.getLong(1))
      .toMap
    assert(rows(0L) === 2, "window [0,10) has events at minutes 0 and 5; late row dropped")
    assert(rows(10L) === 1)
  }

  test("dropDuplicatesWithinWatermark removes replayed event ids") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val source = MemoryStream[Event]
    val q = EventAnalytics.dedupEvents(source.toDF(), "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("dedup_out").start()
    source.addData(ev(1, 0), ev(2, 1))
    q.processAllAvailable()
    source.addData(ev(1, 0), ev(3, 2)) // replayed id=1
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup_out").count() === 3)
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val source = MemoryStream[Event]
    val sessions = EventAnalytics.sessionize(source.toDS(), gapMs = 10 * 60000L)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    // user 1: events at 0,5 (one session), then 30 (gap > 10min → new session)
    source.addData(ev(1, 0), ev(2, 5), ev(3, 30))
    q.processAllAvailable()
    source.addData(ev(4, 60)) // closes the minute-30 session
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sess_out")
      .select("user_id", "n_events").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(out.contains((1L, 2))) // the 0-5 session closed with 2 events
    assert(out.contains((1L, 1))) // the minute-30 session closed by minute-60 event
  }

  test("stream-stream join matches purchases to in-window clicks only") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val joined = EventAnalytics.clickToPurchaseJoin(
      clicks.toDF(), purchases.toDF(), "10 minutes", "30 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    // clicks at minutes 0 and 50; purchases at 20 (matches the minute-0
    // click: 20 <= 30 lookback) and 60 (matches ONLY minute-50: the
    // minute-0 click is 60 min stale)
    clicks.addData(ev(101, 0, user = 1), ev(102, 50, user = 1))
    purchases.addData(ev(201, 20, user = 1, typ = "purchase"),
      ev(202, 60, user = 1, typ = "purchase"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("ssj_out").select("p_event", "c_event").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((201L, 101L), (202L, 102L)))
  }

  test("streaming windowed HLL sketches are byte-identical to the batch build") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val source = MemoryStream[Event]
    val sketches = EventAnalytics.windowedUserSketches(
      source.toDF(), watermark = "10 minutes", window_ = "5 minutes")
    val q = sketches.writeStream.outputMode("complete")
      .format("memory").queryName("hll_stream_out").start()
    // two 5-minute windows; users overlap across types within a window
    val data = Seq(
      ev(1, 0, user = 1), ev(2, 1, user = 2), ev(3, 2, user = 1),
      ev(4, 3, user = 3, typ = "view"),
      ev(5, 6, user = 1), ev(6, 7, user = 4), ev(7, 8, user = 4))
    source.addData(data: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hll_stream_out")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getAs[Array[Byte]](2))
      .toMap
    // batch build over the identical rows, same grouping
    import org.apache.spark.sql.functions.{col, expr, window}
    val batch = data.toDF()
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(expr("hll_build(user_id)").as("sk"))
      .select(col("window.start"), col("event_type"), col("sk"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getAs[Array[Byte]](2))
      .toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (k, sk) =>
      assert(java.util.Arrays.equals(sk, batch(k)),
        s"stream/batch sketch mismatch for $k")
    }
    // and the sketches answer the cardinality question correctly
    val est = streamed.map { case (k, sk) =>
      k -> math.round(graft.functions.HllSketch.estimate(sk)) }
    val exact = data.groupBy(e =>
      (new Timestamp(e.ts.getTime / 300000L * 300000L), e.event_type))
      .view.mapValues(_.map(_.user_id).distinct.size.toLong).toMap
    assert(est === exact)
  }

  test("streaming windowed DDSketches are byte-identical to the batch build " +
       "and read correct quantiles") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val source = MemoryStream[Event]
    val sketches = EventAnalytics.windowedValueSketches(
      source.toDF(), watermark = "10 minutes", window_ = "5 minutes")
    val q = sketches.writeStream.outputMode("complete")
      .format("memory").queryName("ddq_stream_out").start()
    val data = (1 to 20).map(i => ev(i.toLong, i % 5, value = i.toDouble))
    source.addData(data: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ddq_stream_out").collect()
      .map(r => r.getTimestamp(0) -> r.getAs[Array[Byte]](2)).toMap
    import org.apache.spark.sql.functions.{col, expr, window}
    val batch = data.toDF()
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(expr("ddq_build(CAST(floor(value * 100 + 0.5) AS BIGINT))").as("sk"))
      .select(col("window.start"), col("sk")).collect()
      .map(r => r.getTimestamp(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (k, sk) =>
      assert(java.util.Arrays.equals(sk, batch(k)),
        s"stream/batch sketch mismatch for $k")
      // median of the window's cent values within 1% relative
      val n = graft.functions.DdSketch.count(sk)
      assert(n > 0)
      val est = graft.functions.DdSketch.quantile(sk, 1.0)
      val exactMax = data.filter(e =>
        e.ts.getTime / 300000L * 300000L == k.getTime)
        .map(e => math.round(e.value * 100)).max.toDouble
      assert(math.abs(est - exactMax) <= 0.011 * exactMax, s"$est vs $exactMax")
    }
  }

  test("streaming windowed count-min sketches are byte-identical to the " +
       "batch build and bound frequencies from above") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val source = MemoryStream[Event]
    val sketches = EventAnalytics.windowedFreqSketches(
      source.toDF(), watermark = "10 minutes", window_ = "5 minutes")
    val q = sketches.writeStream.outputMode("complete")
      .format("memory").queryName("cms_stream_out").start()
    // skewed user frequencies within one window, plus a second window
    val data = Seq(
      ev(1, 0, user = 1), ev(2, 1, user = 1), ev(3, 2, user = 1),
      ev(4, 3, user = 2), ev(5, 4, user = 3),
      ev(6, 6, user = 1), ev(7, 7, user = 9))
    source.addData(data: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cms_stream_out").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getAs[Array[Byte]](2))
      .toMap
    import org.apache.spark.sql.functions.{col, expr, window}
    val batch = data.toDF()
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(expr("cms_build(user_id)").as("sk"))
      .select(col("window.start"), col("event_type"), col("sk")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getAs[Array[Byte]](2))
      .toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (k, sk) =>
      assert(java.util.Arrays.equals(sk, batch(k)),
        s"stream/batch sketch mismatch for $k")
    }
    // count-min guarantee holds on the streamed bytes: est >= true count
    data.groupBy(e => (new Timestamp(e.ts.getTime / 300000L * 300000L),
        e.event_type)).foreach { case (k, evs) =>
      evs.groupBy(_.user_id).foreach { case (u, hits) =>
        assert(graft.functions.CmSketch.estimate(streamed(k), u) >= hits.size)
      }
      assert(graft.functions.CmSketch.count(streamed(k)) === evs.size)
    }
  }

  test("streaming windowed bloom filters are byte-identical to the batch " +
       "build and admit no false negatives") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val source = MemoryStream[Event]
    val sketches = EventAnalytics.windowedMembershipSketches(
      source.toDF(), watermark = "10 minutes", window_ = "5 minutes")
    val q = sketches.writeStream.outputMode("complete")
      .format("memory").queryName("bloom_stream_out").start()
    val data = Seq(
      ev(1, 0, user = 11), ev(2, 1, user = 12), ev(3, 2, user = 13),
      ev(4, 6, user = 14), ev(5, 7, user = 15))
    source.addData(data: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("bloom_stream_out").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getAs[Array[Byte]](2))
      .toMap
    import org.apache.spark.sql.functions.{col, expr, window}
    val batch = data.toDF()
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(expr("bloom_build(user_id)").as("sk"))
      .select(col("window.start"), col("event_type"), col("sk")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getAs[Array[Byte]](2))
      .toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (k, sk) =>
      assert(java.util.Arrays.equals(sk, batch(k)),
        s"stream/batch filter mismatch for $k")
    }
    // no false negatives on the streamed bytes; absent keys mostly miss
    data.groupBy(e => (new Timestamp(e.ts.getTime / 300000L * 300000L),
        e.event_type)).foreach { case (k, evs) =>
      evs.foreach(e =>
        assert(graft.functions.BloomSketch.contains(streamed(k), e.user_id)))
    }
  }

  test("multiSink replaying a micro-batch replaces rather than duplicates") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val aggPath = java.nio.file.Files.createTempDirectory("msink-agg").toString
    val rawPath = java.nio.file.Files.createTempDirectory("msink-raw").toString
    val ckpt = java.nio.file.Files.createTempDirectory("msink-ckpt").toString

    def runOnce(data: Seq[Event]): Unit = {
      val source = MemoryStream[Event]
      source.addData(data: _*)
      val q = EventAnalytics.multiSink(source.toDF(), aggPath, rawPath)
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
    }
    runOnce(Seq(ev(1, 0), ev(2, 1)))
    // a fresh MemoryStream with the SAME checkpoint replays batch 0 with
    // the same batchId — the failure-retry scenario; dynamic partition
    // overwrite must replace the batch's partition, not append to it
    replayBatch(ckpt, 0, s"$rawPath/batch_id=0", s"$aggPath/batch_id=0") {
      runOnce(Seq(ev(1, 0), ev(2, 1)))
    }

    assert(spark.read.parquet(rawPath).count() === 2,
      "replayed batchId must overwrite its own partition (exactly-once)")
    val agg = spark.read.parquet(aggPath)
    assert(agg.count() === 1 && agg.select("n").head.getLong(0) === 2)
  }

  test("streaming near-dedup against at-rest signatures equals the batch increment") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import graft.operators.LlmQueries
    import org.apache.spark.sql.functions.col
    val d = graft.core.Tables.load(spark, sfDir, "documents")
    val corpusSig = graft.llm.Dedup.signatureFrame(
      d.filter(col("source") =!= LlmQueries.BatchSource), "doc_id", "text",
      LlmQueries.WordShingleN, LlmQueries.MinhashK)
      .transform(graft.core.EngineCache.persisted)
    val batchDocs = d.filter(col("source") === LlmQueries.BatchSource)
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(batchDocs.length >= 2)
    // the batch source arrives as TWO micro-batches — the incremental
    // contract must hold per batch, not just in one shot
    val (h1, h2) = batchDocs.splitAt(batchDocs.length / 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-snd").toString
    val source = MemoryStream[(Long, String)]
    val q = EventAnalytics.startStreamingNearDedup(
      source.toDF().toDF("doc_id", "text"), corpusSig,
      LlmQueries.WordShingleN, LlmQueries.MinhashK, LlmQueries.MinhashBands,
      LlmQueries.MinhashTau, s"$dir/hits", s"$dir/ckpt")
    source.addData(h1.toIndexedSeq: _*); q.processAllAvailable()
    source.addData(h2.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val got = spark.read.parquet(s"$dir/hits")
      .select("batch_id", "corpus_id", "jaccard").collect().map(key).toSet
    // ground truth: the one-shot q145-style increment over the whole
    // batch source (cross-side pairs don't depend on the batch split)
    val want = graft.llm.Dedup.incrementalLshPairs(corpusSig,
      graft.llm.Dedup.signatureFrame(
        d.filter(col("source") === LlmQueries.BatchSource), "doc_id", "text",
        LlmQueries.WordShingleN, LlmQueries.MinhashK),
      LlmQueries.MinhashK, LlmQueries.MinhashBands, LlmQueries.MinhashTau)
      .collect().map(key).toSet
    assert(got == want)
    assert(want.nonEmpty, "fixture surprise: no cross-side near-dups")
  }

  test("accumulating near-dedup grows its state and catches intra-stream dups") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import graft.operators.LlmQueries
    import org.apache.spark.sql.functions.col
    val d = graft.core.Tables.load(spark, sfDir, "documents")
    val corpusSig = graft.llm.Dedup.signatureFrame(
      d.filter(col("source") =!= LlmQueries.BatchSource), "doc_id", "text",
      LlmQueries.WordShingleN, LlmQueries.MinhashK)
      .transform(graft.core.EngineCache.persisted)
    val batchDocs = d.filter(col("source") === LlmQueries.BatchSource)
      .select("doc_id", "text").as[(Long, String)].collect()
    val (h1, h2base) = batchDocs.splitAt(batchDocs.length / 2)
    // plant an intra-STREAM duplicate: a doc of micro-batch 1 is a
    // verbatim copy of a micro-batch 0 doc under a fresh id — invisible
    // to the frozen-corpus twin, and exactly what accumulation catches
    val planted = (900001L, h1.head._2)
    val h2 = h2base :+ planted
    val dir = java.nio.file.Files.createTempDirectory("graft-acc").toString
    def runOnce(feed: org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)] => Unit): Unit = {
      val source = MemoryStream[(Long, String)]
      feed(source)
      val q = EventAnalytics.startStreamingNearDedupAccumulating(
        source.toDF().toDF("doc_id", "text"), corpusSig,
        LlmQueries.WordShingleN, LlmQueries.MinhashK, LlmQueries.MinhashBands,
        LlmQueries.MinhashTau, dir, s"$dir/ckpt")
      q.processAllAvailable()
      q.stop()
    }
    runOnce { s => s.addData(h1.toIndexedSeq: _*) }
    // restart from the checkpoint: batch 0 replays (and must not see its
    // own earlier signature write), then batch 1 arrives
    replayBatch(s"$dir/ckpt", 0, s"$dir/sigs/batch_run=0",
        s"$dir/hits/batch_run=0") {
      runOnce { s =>
        s.addData(h1.toIndexedSeq: _*)
        s.addData(h2.toIndexedSeq: _*)
      }
    }
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard").collect().map(key).toSet
    def batchPairs(docs: Seq[(Long, String)],
                   state: org.apache.spark.sql.DataFrame) = {
      val df = docs.toDF("doc_id", "text")
      val sig = graft.llm.Dedup.signatureFrame(df, "doc_id", "text",
        LlmQueries.WordShingleN, LlmQueries.MinhashK)
      pairs(graft.llm.Dedup.incrementalLshPairs(state, sig,
          LlmQueries.MinhashK, LlmQueries.MinhashBands, LlmQueries.MinhashTau)
        .select(col("batch_id").as("id_a"), col("corpus_id").as("id_b"),
          col("jaccard"))) ++
        pairs(graft.llm.Dedup.minhashLshPairs(df, "doc_id", "text",
          LlmQueries.WordShingleN, LlmQueries.MinhashK,
          LlmQueries.MinhashBands, LlmQueries.MinhashTau))
    }
    // sequential ground truth: batch 0 vs corpus; batch 1 vs corpus ∪
    // batch 0's signatures — the state GREW between micro-batches
    val sig1 = graft.llm.Dedup.signatureFrame(h1.toSeq.toDF("doc_id", "text"),
      "doc_id", "text", LlmQueries.WordShingleN, LlmQueries.MinhashK)
    val want0 = batchPairs(h1.toSeq, corpusSig)
    val want1 = batchPairs(h2,
      corpusSig.select("id", "hs", "sig").unionByName(sig1))
    assert(pairs(spark.read.parquet(s"$dir/hits")
      .filter(col("batch_run") === 0)) === want0)
    assert(pairs(spark.read.parquet(s"$dir/hits")
      .filter(col("batch_run") === 1)) === want1)
    // the planted copy is caught AGAINST THE EARLIER MICRO-BATCH (state
    // accumulation), with exact Jaccard 1.0 for the verbatim text
    assert(want1.contains((planted._1, h1.head._1, 1.0)),
      "intra-stream duplicate must be caught via the accumulated state")
    graft.core.EngineCache.releaseAll()
  }

  test("streaming PQ index append equals the batch encode, micro-batch by micro-batch") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.col
    // the q151 batch: vectors arriving after the codebook froze
    val newVecs = graft.core.Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") % 10 === graft.operators.ScaleOps.PqBatchMod)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    assert(newVecs.length >= 2)
    val (h1, h2) = newVecs.splitAt(newVecs.length / 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-spq").toString
    val source = MemoryStream[(Long, Array[Float])]
    val q = EventAnalytics.startStreamingIndexAppend(
      source.toDF().toDF("vec_id", "embedding"), sfDir,
      s"$dir/index", s"$dir/ckpt")
    source.addData(h1.toIndexedSeq: _*); q.processAllAvailable()
    source.addData(h2.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getInt(2))
    val got = spark.read.parquet(s"$dir/index")
      .select("vec_id", "m", "code").collect().map(key).toSet
    // ground truth: the full q105 batch encode restricted to these ids
    val ids = newVecs.map(_._1).toSet
    val want = graft.operators.ScaleOps.pqEncode(spark, sfDir)
      .select("vec_id", "m", "code").collect().map(key)
      .filter(t => ids.contains(t._1)).toSet
    assert(got == want)
    assert(want.size == newVecs.length * graft.operators.ScaleOps.PqM)
  }

  test("streaming z-order append encodes micro-batches with the frozen bounds") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.col
    // the q200 batch: rows arriving after the base layout published
    val newRows = graft.core.Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_orderkey") % 10 === graft.operators.ScaleOps.ZBatchMod)
      .selectExpr("l_partkey", "l_suppkey", "l_orderkey",
        "CAST(l_linenumber AS BIGINT)")
      .as[(Long, Long, Long, Long)].collect()
    assert(newRows.length >= 2)
    val (h1, h2) = newRows.splitAt(newRows.length / 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-szo").toString
    val source = MemoryStream[(Long, Long, Long, Long)]
    val q = EventAnalytics.startStreamingZorderAppend(
      source.toDF().toDF("p", "s", "o", "ln"), sfDir,
      s"$dir/zrows", s"$dir/ckpt")
    source.addData(h1.toIndexedSeq: _*); q.processAllAvailable()
    source.addData(h2.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val got = spark.read.parquet(s"$dir/zrows")
      .select("o", "ln", "z").collect().map(key).toSet
    // ground truth: the one-shot frozen-bounds encode of the same rows
    val want = graft.operators.ScaleOps.zorderEncodeFrozen(spark, sfDir,
        newRows.toSeq.toDF("p", "s", "o", "ln"))
      .select("o", "ln", "z").collect().map(key).toSet
    assert(got == want, "stream-time codes must equal the batch encode")
    assert(got.size == newRows.length)
    graft.core.EngineCache.releaseAll()
  }

  test("streaming winnowing fingerprints merge to the one-shot set row-for-row") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val shared = (0 until 30).map(i => f"seg${i}%02d").mkString
    val docs = Seq(
      (1L, "first-head-aaaaaaaaaaaaaaaaaaaa" + shared),
      (2L, "other-head-bbbbbbbbbbbbbbbbbbbb" + shared),
      (3L, (0 until 40).map(i => f"blk${(i * 7) % 100}%02d").mkString))
    val dir = java.nio.file.Files.createTempDirectory("graft-swin").toString
    val source = MemoryStream[(Long, String)]
    val q = EventAnalytics.startStreamingWinnowFps(
      source.toDF().toDF("doc_id", "text"), s"$dir/fps", s"$dir/ckpt")
    source.addData(docs.take(2): _*); q.processAllAvailable()
    source.addData(docs.drop(2): _*); q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$dir/fps").select("doc_id", "fp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.operators.CorpusFilterOps
      .winnowFps(docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      "stream-landed fingerprints must equal the one-shot set")
    graft.core.EngineCache.releaseAll()
  }

  test("streaming CUSUM shards reproduce the batch detector, mid-hour split included") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val t0 = java.time.Instant.parse("2024-06-01T00:00:00Z")
    // two types: "shift" jumps +5 at hour 24; "flat" stays constant;
    // three events per hour so a mid-hour batch cut leaves partials
    val rows = (0 until 48).flatMap { h =>
      (0 until 3).map { j =>
        val ts = java.sql.Timestamp.from(t0.plusSeconds(h * 3600L + j * 900L))
        Seq(("shift", ts, (if (h < 24) 10.0 else 15.0) + j * 0.25),
          ("flat", ts, 8.5 + j * 0.25))
      }.flatten
    }
    // cut INSIDE hour 24: partials for the same hour land in two batches
    val cut = rows.indexWhere { case (_, ts, _) =>
      ts.toInstant == t0.plusSeconds(24 * 3600L + 900L) }
    val (h1, h2) = rows.splitAt(cut)
    val dir = java.nio.file.Files.createTempDirectory("graft-scusum").toString
    val source = MemoryStream[(String, java.sql.Timestamp, Double)]
    val q = EventAnalytics.startStreamingCusumHourly(
      source.toDF().toDF("event_type", "ts", "value"),
      s"$dir/hourly", s"$dir/ckpt")
    source.addData(h1.toIndexedSeq: _*); q.processAllAvailable()
    source.addData(h2.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) = r.getString(0) ->
      (r.getLong(1), r.getTimestamp(2).toInstant, r.getDouble(3))
    val got = graft.operators.StatsOps
      .cusumFromShards(spark, s"$dir/hourly").collect().map(key).toMap
    rows.toDF("event_type", "ts", "value")
      .createOrReplaceTempView("graft_cusum_stream_test")
    val want = graft.operators.StatsOps
      .cusumOn(spark, "graft_cusum_stream_test").collect().map(key).toMap
    assert(got == want,
      s"stream-landed monitor must equal the batch detector:\n$got\n$want")
    assert(got("shift")._3 > 0 && got("flat")._3 == 0.0)
    graft.core.EngineCache.releaseAll()
  }

  test("streaming profile refresh merges to the one-shot profile") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.{col, expr}
    val rnd = new scala.util.Random(31)
    val t0 = java.time.Instant.parse("2024-05-01T00:00:00Z")
    val rows = (0 until 240).map { i =>
      (i.toLong, rnd.nextInt(50).toLong, rnd.nextInt(10).toLong,
        rnd.nextInt(7) + 1, (rnd.nextInt(50) + 1).toDouble,
        rnd.nextInt(90000) / 100.0, rnd.nextInt(11) / 100.0,
        rnd.nextInt(9) / 100.0,
        java.sql.Timestamp.from(t0.plusSeconds(rnd.nextInt(500000).toLong)))
    }
    val names = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_shipdate")
    val (h1, h2) = rows.splitAt(97) // merge is split-invariant: any cut
    val dir = java.nio.file.Files.createTempDirectory("graft-sprof").toString
    val source = MemoryStream[(Long, Long, Long, Int, Double, Double,
      Double, Double, java.sql.Timestamp)]
    val q = EventAnalytics.startStreamingProfileRefresh(
      source.toDF().toDF(names: _*), s"$dir/prof", s"$dir/ckpt")
    source.addData(h1.toIndexedSeq: _*); q.processAllAvailable()
    source.addData(h2.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))
    val got = spark.read.parquet(s"$dir/prof")
      .groupBy("col_name")
      .agg(expr("sum(n)").as("n"), expr("sum(n_nulls)").as("nn"),
        expr("min(min_num)").as("mn"), expr("max(max_num)").as("mx"),
        expr("CAST(hll_merge_est(sk) AS DOUBLE)").as("est"))
      .collect().map(key).toMap
    val want = graft.operators.ScaleOps
      .profileRowsOfProjected(rows.toDF(names: _*))
      .select(col("col_name"), col("n"), col("n_nulls"),
        col("min_num"), col("max_num"),
        expr("CAST(hll_est(sk) AS DOUBLE)").as("est"))
      .collect().map(key).toMap
    assert(got == want,
      s"stream-merged profile must equal the one-shot profile:\n$got\n$want")
    graft.core.EngineCache.releaseAll()
  }

  test("streaming bitmap encode merges to the one-shot index bit-for-bit") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.{col, expr}
    val rnd = new scala.util.Random(23)
    val rows = (0 until 300).map { _ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(7) + 1,
        Seq("A", "N", "R")(rnd.nextInt(3)), Seq("F", "O")(rnd.nextInt(2)))
    }
    // micro-batches split on l_orderkey — the rid-key-prefix contract
    val (h1, h2) = rows.partition(_._1 % 2 == 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-sbm").toString
    val source = MemoryStream[(Long, Int, String, String)]
    val q = EventAnalytics.startStreamingBitmapEncode(
      source.toDF().toDF("l_orderkey", "l_linenumber",
        "l_returnflag", "l_linestatus"),
      s"$dir/words", s"$dir/ckpt")
    source.addData(h1.toIndexedSeq: _*); q.processAllAvailable()
    source.addData(h2.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    def words(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("col", "val", "word_id").agg(expr("bit_or(w)").as("w"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val got = words(spark.read.parquet(s"$dir/words")
      .select(col("col"), col("val"), col("word_id"), col("w")))
    val want = words(graft.operators.ScaleOps.bitmapIndexOf(
      rows.toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")))
    assert(got == want,
      "stream-time bitmap words must merge to the batch index exactly")
    graft.core.EngineCache.releaseAll()
  }

  test("streaming bloom shards merge to the one-shot filters, replay harmless") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.expr
    val rnd = new scala.util.Random(31)
    val rows = (0 until 300).map { _ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(2000).toLong) }
    val (h1, h2) = rows.partition(_._1 % 2 == 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-sbf").toString
    // batch 0, crash, restart (batch 0 REPLAYS), batch 1: bit-OR is
    // idempotent, so even a double-landed batch must change nothing
    def runOnce(feed: org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long)] => Unit): Unit = {
      val source = MemoryStream[(Long, Long)]
      feed(source)
      val q = EventAnalytics.startStreamingBloomShards(
        source.toDF().toDF("l_orderkey", "l_partkey"),
        s"$dir/blooms", s"$dir/ckpt")
      q.processAllAvailable()
      q.stop()
    }
    runOnce { s => s.addData(h1.toIndexedSeq: _*) }
    replayBatch(s"$dir/ckpt", 0, s"$dir/blooms/batch_run=0") {
      runOnce { s =>
        s.addData(h1.toIndexedSeq: _*)
        s.addData(h2.toIndexedSeq: _*)
      }
    }
    val got = spark.read.parquet(s"$dir/blooms")
      .groupBy("shard").agg(expr("bloom_merge(sk)").as("sk"))
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
    val want = rows.groupBy(r => (r._1 % 8).toInt)
      .map { case (sh, rs) =>
        sh -> graft.functions.BloomSketch.sketchOf(rs.map(_._2)) }
    assert(got.keySet == want.keySet, s"shards: ${got.keySet}")
    want.foreach { case (sh, sk) =>
      assert(java.util.Arrays.equals(got(sh), sk),
        s"shard $sh stream-merged filter must equal the one-shot build") }
    // and the merged filters carry the no-false-negative contract
    rows.foreach { case (o, p) =>
      assert(graft.functions.BloomSketch.contains(got((o % 8).toInt), p),
        s"inserted key $p must probe true in shard ${o % 8}") }
    graft.core.EngineCache.releaseAll()
  }

  test("streaming view deltas fold to the one-shot rebuild across inserts, revisions, deletes") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    // base summary: two groups
    val base = Seq(("P1", 3L, 1000L), ("P2", 2L, 500L))
      .toDF("grp", "n_orders", "rev_cents")
    // CDC feed: (key, grp, old, new) — an insert (null old), a revision,
    // a delete (null new), split across two micro-batches with a
    // restart REPLAY of batch 0 in between (overwrite must absorb it)
    val b0 = Seq[(Long, String, Option[Long], Option[Long])](
      (10L, "P1", None, Some(700L)),        // insert
      (11L, "P1", Some(400L), Some(900L)))  // revision
    val b1 = Seq[(Long, String, Option[Long], Option[Long])](
      (12L, "P2", Some(200L), None),        // delete
      (13L, "P3", None, Some(50L)))         // insert into a NEW group
    val dir = java.nio.file.Files.createTempDirectory("graft-ivm").toString
    def runOnce(feed: org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, Option[Long], Option[Long])] => Unit)
        : Unit = {
      val source = MemoryStream[(Long, String, Option[Long], Option[Long])]
      feed(source)
      val q = EventAnalytics.startStreamingViewDeltas(
        source.toDF().toDF("key", "grp", "old_cents", "new_cents"),
        s"$dir/deltas", s"$dir/ckpt")
      q.processAllAvailable()
      q.stop()
    }
    runOnce { s => s.addData(b0.toIndexedSeq: _*) }
    replayBatch(s"$dir/ckpt", 0, s"$dir/deltas/batch_run=0") {
      runOnce { s =>
        s.addData(b0.toIndexedSeq: _*) // the replay
        s.addData(b1.toIndexedSeq: _*)
      }
    }
    val got = EventAnalytics.summaryFromDeltas(base, s"$dir/deltas")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // one-shot: P1 gains the insert (+1, +700) and the revision (+500);
    // P2 loses the delete (-1, -200); P3 is born (+1, +50)
    assert(got == Map("P1" -> (4L, 2200L), "P2" -> (1L, 300L),
        "P3" -> (1L, 50L)),
      s"folded deltas must equal the one-shot rebuild: $got")
    graft.core.EngineCache.releaseAll()
  }

  test("streaming kmv shards merge to the one-shot sketches, replay harmless") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.expr
    val rnd = new scala.util.Random(37)
    val rows = (0 until 400).map { _ =>
      (Seq("click", "view")(rnd.nextInt(2)), rnd.nextInt(120).toLong) }
    val (h1, h2) = rows.partition(_._2 % 2 == 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-skv").toString
    // batch 0, crash, restart (batch 0 REPLAYS), batch 1: the KMV merge
    // is idempotent set union, so a double-landed batch changes nothing
    def runOnce(feed: org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Long)] => Unit): Unit = {
      val source = MemoryStream[(String, Long)]
      feed(source)
      val q = EventAnalytics.startStreamingKmvShards(
        source.toDF().toDF("event_type", "user_id"),
        s"$dir/kmv", s"$dir/ckpt")
      q.processAllAvailable()
      q.stop()
    }
    runOnce { s => s.addData(h1.toIndexedSeq: _*) }
    replayBatch(s"$dir/ckpt", 0, s"$dir/kmv/batch_run=0") {
      runOnce { s =>
        s.addData(h1.toIndexedSeq: _*)
        s.addData(h2.toIndexedSeq: _*)
      }
    }
    val got = spark.read.parquet(s"$dir/kmv")
      .groupBy("event_type").agg(expr("kmv_merge(sk)").as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val want = rows.groupBy(_._1)
      .map { case (t, rs) =>
        t -> graft.functions.KmvSketch.sketchOf(rs.map(_._2)) }
    assert(got.keySet == want.keySet, s"types: ${got.keySet}")
    want.foreach { case (t, sk) =>
      assert(java.util.Arrays.equals(got(t), sk),
        s"type $t stream-merged sketch must equal the one-shot build") }
    // the merged sketches answer the set expressions exactly (exact
    // mode at this cardinality) — the q267 serve off stream-time shards
    val (cs, vs) = (rows.filter(_._1 == "click").map(_._2).toSet,
      rows.filter(_._1 == "view").map(_._2).toSet)
    assert(graft.functions.KmvSketch.intersectEst(
      got("click"), got("view")) == (cs intersect vs).size.toDouble &&
      graft.functions.KmvSketch.diffEst(
        got("click"), got("view")) == (cs diff vs).size.toDouble,
      "set expressions over stream-merged sketches must be exact here")
    graft.core.EngineCache.releaseAll()
  }

  test("streaming tombstones merge to the one-shot delete bitmap and serve") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.{col, expr}
    val rnd = new scala.util.Random(29)
    val rows = (0 until 300).map { _ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(7) + 1,
        Seq("A", "N", "R")(rnd.nextInt(3)), Seq("F", "O")(rnd.nextInt(2)))
    }
    val li = rows.toDF("l_orderkey", "l_linenumber",
      "l_returnflag", "l_linestatus")
    // the delete cohort, arriving in two micro-batches split on
    // l_orderkey — the rid-key-prefix contract the twin documents
    val del = rows.filter(_._1 % 5 == 2)
    val (d1, d2) = del.partition(_._1 % 2 == 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-stb").toString
    val source = MemoryStream[(Long, Int, String, String)]
    val q = EventAnalytics.startStreamingTombstones(
      source.toDF().toDF("l_orderkey", "l_linenumber",
        "l_returnflag", "l_linestatus"),
      s"$dir/tomb", s"$dir/ckpt")
    source.addData(d1.toIndexedSeq: _*); q.processAllAvailable()
    source.addData(d2.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    // merged stream-time tombstone == the one-shot tombstone bitmap
    val merged = spark.read.parquet(s"$dir/tomb")
      .groupBy("word_id").agg(expr("bit_or(tw)").as("tw"))
    val want = graft.operators.ScaleOps.bitmapTombstoneOf(
        del.toDF("l_orderkey", "l_linenumber", "l_returnflag",
          "l_linestatus"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = merged.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want,
      "stream-merged tombstone words must equal the one-shot bitmap")
    // and serving with the merged tombstone equals a rebuild without
    // the deleted rows — the q231 contract end-to-end at stream time
    val served = graft.operators.ScaleOps.bitmapCountsDeleted(
        graft.operators.ScaleOps.bitmapIndexOf(li), merged)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val truth = rows.filter(_._1 % 5 != 2).groupBy(r => (r._3, r._4))
      .map { case (k, v) => k -> v.size.toLong }
    assert(served == truth,
      s"stream-time delete must serve rebuild-equal counts: $served vs $truth")
    graft.core.EngineCache.releaseAll()
  }

  test("streaming gram decrements merge to the one-shot delete and serve rebuild-equal") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.{col, expr, count, lit, sum}
    // 9-word docs = two overlapping 8-grams each; doc 3 shares its text
    // with tombstoned doc 6 (its grams must SURVIVE the delete), doc 6's
    // second gram window and doc 16's text are exclusive (must leave)
    val mk = (s: String) => s
    val corpus = Seq(
      3L -> "a b c d e f g h i",
      6L -> "a b c d e f g h i",
      16L -> "q r s t u v w x y",
      20L -> "k l m n o p q1 r1 s1").map { case (i, t) => (i, mk(t)) }
    val docsDf = corpus.toDF("doc_id", "text")
    val L = graft.operators.LlmQueries
    val base = L.distinctDocGramsOf(docsDf)
      .groupBy("ghash").agg(count(lit(1)).as("df"))
      .withColumn("shard", expr("CAST(pmod(ghash, 8) AS INT)"))
      .transform(graft.core.EngineCache.persisted)
    // tombstoned docs (6, 16) arrive in two micro-batches
    val dir = java.nio.file.Files.createTempDirectory("graft-sgd").toString
    val source = MemoryStream[(Long, String)]
    val q = EventAnalytics.startStreamingGramDeletes(
      source.toDF().toDF("doc_id", "text"), s"$dir/dec", s"$dir/ckpt")
    source.addData(corpus.filter(_._1 == 6L).toIndexedSeq: _*)
    q.processAllAvailable()
    source.addData(corpus.filter(_._1 == 16L).toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val mergedDec = spark.read.parquet(s"$dir/dec")
      .groupBy("ghash").agg(sum("dec").as("dec"))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val served = key(L.gramSetAfterDelete(base, mergedDec))
    // one-shot decrement and a rebuild on the filtered corpus agree
    val oneShot = key(L.gramSetAfterDelete(base,
      L.gramDecrementsOf(docsDf.filter(col("doc_id").isin(6L, 16L)))))
    val rebuilt = key(L.distinctDocGramsOf(
        docsDf.filter(!col("doc_id").isin(6L, 16L)))
      .groupBy("ghash").agg(count(lit(1)).as("df"))
      .withColumn("shard", expr("CAST(pmod(ghash, 8) AS INT)"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_grams"), sum("df").as("doc_incidences"),
        expr("bit_xor(ghash)").as("hash_xor"))
      .orderBy("shard"))
    assert(served == oneShot && served == rebuilt,
      s"stream-merged decrements must serve rebuild-equal rollups:\n" +
        s"$served\n$oneShot\n$rebuilt")
    graft.core.EngineCache.releaseAll()
  }

  test("streaming cbloom decrements merge to a BYTE-equal subtracted filter") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.expr
    val CB = graft.functions.CountingBloom
    val corpus = Seq(
      (3L, "alpha beta gamma"), (6L, "delta epsilon zeta"),
      (16L, "eta theta iota"), (20L, "kappa lambda mu"))
    def fps(rows: Seq[(Long, String)]) = rows.map { case (_, t) =>
      spark.sql(s"SELECT ${graft.core.Determinism.xhashExpr(
        s"array_join(array_sort(array_distinct(split(trim('$t'), '\\\\s+'))), ' ')")}")
        .head().getLong(0)
    }
    val baseSk = CB.sketchOf(fps(corpus))
    // tombstoned docs (6, 16) arrive split across two micro-batches
    val dir = java.nio.file.Files.createTempDirectory("graft-scb").toString
    val source = MemoryStream[(Long, String)]
    val q = EventAnalytics.startStreamingCbloomDeletes(
      source.toDF().toDF("doc_id", "text"), s"$dir/dec", s"$dir/ckpt")
    source.addData(corpus.filter(_._1 == 6L).toIndexedSeq: _*)
    q.processAllAvailable()
    source.addData(corpus.filter(_._1 == 16L).toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val mergedDec = spark.read.parquet(s"$dir/dec")
      .agg(expr("cbloom_merge(dsk)")).head().getAs[Array[Byte]](0)
    val served = CB.diffSketches(baseSk, mergedDec)
    // linearity: stream-merged diff is BYTE-identical to the one-shot
    // diff AND to a rebuild on the surviving corpus
    val oneShot = CB.diffSketches(baseSk,
      CB.sketchOf(fps(corpus.filter(r => r._1 == 6L || r._1 == 16L))))
    val rebuilt = CB.sketchOf(fps(corpus.filterNot(r =>
      r._1 == 6L || r._1 == 16L)))
    assert(java.util.Arrays.equals(served, oneShot) &&
      java.util.Arrays.equals(served, rebuilt),
      "stream-merged decrement sketch must be byte-equal to one-shot and rebuild")
    // and the membership answers follow: survivors in, tombstones out
    val live = fps(corpus.filterNot(r => r._1 == 6L || r._1 == 16L))
    assert(live.forall(CB.contains(served, _)), "survivor lost")
    graft.core.EngineCache.releaseAll()
  }

  test("streaming wordpiece: micro-batch splits serve exactly the one-shot frozen rows") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val L = graft.operators.LlmQueries
    val base = Seq((1L, "abab abab abab ab")).toDF("doc_id", "text")
    val batchRows = Seq((50L, "abab ababab ba"), (51L, "ab ab abab"))
    val dir = java.nio.file.Files.createTempDirectory("graft-swp").toString
    val source = MemoryStream[(Long, String)]
    graft.core.EngineCache.releaseAll() // no engine frames from earlier tests
    val q = EventAnalytics.startStreamingWordpiece(
      source.toDF().toDF("doc_id", "text"), base, s"$dir/out", s"$dir/ckpt")
    val cachedAtStart = spark.sparkContext.getPersistentRDDs.size
    source.addData(batchRows.take(1).toIndexedSeq: _*)
    q.processAllAvailable()
    source.addData(batchRows.drop(1).toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    // the frozen vocab is this thread's and is cached lazily (the first
    // batch materializes it); once it is released, nothing a micro-batch
    // persisted may be left
    graft.core.EngineCache.releaseOwned()
    assert(spark.sparkContext.getPersistentRDDs.size === cachedAtStart,
      "micro-batches must not leave persisted frames behind")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_words", "n_pieces", "n_unk", "ck").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val streamed = key(spark.read.parquet(s"$dir/out"))
    val oneShot = key(L.wordpieceFrozenOf(
      batchRows.toDF("doc_id", "text"), L.wordpieceVocabOf(base)))
    assert(streamed == oneShot,
      s"stream-split serve must equal one-shot: $streamed vs $oneShot")
    graft.core.EngineCache.releaseAll()
  }

  test("streaming unigram: micro-batch splits serve exactly the one-shot frozen rows") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val L = graft.operators.LlmQueries
    // base {aaaa ×3}: the trained distribution is {aaaa, a} (the q258
    // spec's hard-EM dropping argument); batches exercise both [UNK]
    // protocols and the dropped-piece re-segmentation
    val base = Seq((1L, "aaaa aaaa aaaa")).toDF("doc_id", "text")
    val batchRows = Seq((50L, "aaaa aa b"), (51L, "aa aaaaaaaaaaaaa aaaa"))
    val dir = java.nio.file.Files.createTempDirectory("graft-sug").toString
    val source = MemoryStream[(Long, String)]
    val q = EventAnalytics.startStreamingUnigram(
      source.toDF().toDF("doc_id", "text"), base, s"$dir/out", s"$dir/ckpt")
    source.addData(batchRows.take(1).toIndexedSeq: _*)
    q.processAllAvailable()
    source.addData(batchRows.drop(1).toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_words", "n_pieces", "n_unk", "ck").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val streamed = key(spark.read.parquet(s"$dir/out"))
    val oneShot = key(L.unigramFrozenOf(
      batchRows.toDF("doc_id", "text"), L.unigramPiecesOf(base)))
    assert(streamed == oneShot,
      s"stream-split serve must equal one-shot: $streamed vs $oneShot")
    graft.core.EngineCache.releaseAll()
  }

  test("session_window groups batch events by inactivity gap") {
    // session_window works identically over batch data — cheap shape check
    val df = graft.core.Tables.load(spark, sfDir, "events")
    val sessions = df.groupBy(
        org.apache.spark.sql.functions.session_window(
          org.apache.spark.sql.functions.col("ts"), "30 minutes"),
        org.apache.spark.sql.functions.col("user_id"))
      .count()
    assert(sessions.count() > 0)
  }

  test("composed streaming takedown serves every store rebuild-equal, restart included") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.{broadcast, col, count, explode, expr, lit, sum}
    import graft.operators.LlmQueries
    import graft.streaming.TakedownPipeline
    val CB = graft.functions.CountingBloom
    // corpus: doc 3 shares its text with tombstoned 6 (grams + pair die
    // with 6, 3's gram incidences survive); 16 is tombstoned with
    // exclusive grams; 21/22 are a surviving near-dup pair; 20 is lone
    val corpus = Seq(
      3L -> "a b c d e f g h i",
      6L -> "a b c d e f g h i",
      16L -> "q r s t u v w x y",
      20L -> "k l m n o p q1 r1 s1",
      21L -> "m1 m2 m3 m4 m5 m6 m7 m8 m9",
      22L -> "m1 m2 m3 m4 m5 m6 m7 m8 m9")
    val corpusDf = corpus.toDF("doc_id", "text")
    val tombRows = corpus.filter(r => r._1 == 6L || r._1 == 16L)
    // the at-rest stores the takedown must honor
    val basePairs = graft.llm.Dedup.minhashLshPairs(corpusDf, "doc_id",
        "text", LlmQueries.WordShingleN, LlmQueries.MinhashK,
        LlmQueries.MinhashBands, LlmQueries.MinhashTau)
      .transform(graft.core.EngineCache.persisted)
    val baseGrams = LlmQueries.distinctDocGramsOf(corpusDf)
      .groupBy("ghash").agg(count(lit(1)).as("df"))
      .withColumn("shard", expr("CAST(pmod(ghash, 8) AS INT)"))
      .transform(graft.core.EngineCache.persisted)
    def fpOf(t: String): Long = spark.sql(
      s"SELECT ${graft.core.Determinism.xhashExpr(
        s"array_join(array_sort(array_distinct(split(trim('$t'), '\\\\s+'))), ' ')")}")
      .head().getLong(0)
    val baseSk = CB.sketchOf(corpus.map(r => fpOf(r._2)))
    // stream the takedown: batch 0, crash, restart (batch 0 replays),
    // batch 1 — idempotent overwrite must replace, not duplicate
    val dir = java.nio.file.Files.createTempDirectory("graft-takedown").toString
    def runOnce(feed: org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)] => Unit): Unit = {
      val source = MemoryStream[(Long, String)]
      feed(source)
      val q = TakedownPipeline.start(
        source.toDF().toDF("doc_id", "text"), dir, s"$dir/ckpt")
      q.processAllAvailable()
      q.stop()
    }
    runOnce { s => s.addData(tombRows.take(1).toIndexedSeq: _*) }
    replayBatch(s"$dir/ckpt", 0, takedownStores.map(t => s"$dir/$t/batch_run=0"): _*) {
      runOnce { s =>
        s.addData(tombRows.take(1).toIndexedSeq: _*)
        s.addData(tombRows.drop(1).toIndexedSeq: _*)
      }
    }
    // 1. the id feed drives the pair-table anti-join == rebuild
    val ids = spark.read.parquet(s"$dir/ids").select("doc_id").distinct()
    assert(ids.collect().map(_.getLong(0)).toSet == Set(6L, 16L))
    val servedPairs = basePairs
      .join(broadcast(ids.toDF("id_a")), Seq("id_a"), "left_anti")
      .join(broadcast(ids.toDF("id_b")), Seq("id_b"), "left_anti")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebuiltPairs = graft.llm.Dedup.minhashLshPairs(
        corpusDf.filter(!col("doc_id").isin(6L, 16L)), "doc_id", "text",
        LlmQueries.WordShingleN, LlmQueries.MinhashK,
        LlmQueries.MinhashBands, LlmQueries.MinhashTau)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(servedPairs == rebuiltPairs && servedPairs == Set((21L, 22L)),
      s"pair store must lose (3,6) and keep (21,22): $servedPairs")
    // 2. merged gram decrements fold into a rebuild-equal gram set
    val mergedDec = spark.read.parquet(s"$dir/gramdec")
      .groupBy("ghash").agg(sum("dec").as("dec"))
    def rollup(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val servedGrams = rollup(LlmQueries.gramSetAfterDelete(baseGrams, mergedDec))
    val rebuiltGrams = rollup(
      LlmQueries.distinctDocGramsOf(corpusDf.filter(!col("doc_id").isin(6L, 16L)))
        .groupBy("ghash").agg(count(lit(1)).as("df"))
        .withColumn("shard", expr("CAST(pmod(ghash, 8) AS INT)"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_grams"), sum("df").as("doc_incidences"),
          expr("bit_xor(ghash)").as("hash_xor"))
        .orderBy("shard"))
    assert(servedGrams == rebuiltGrams,
      s"gram store must fold rebuild-equal: $servedGrams vs $rebuiltGrams")
    // 3. merged counting-bloom decrements subtract byte-exactly
    val mergedSk = spark.read.parquet(s"$dir/cbloomdec")
      .agg(expr("cbloom_merge(dsk)")).head().getAs[Array[Byte]](0)
    val rebuiltSk = CB.sketchOf(
      corpus.filterNot(r => r._1 == 6L || r._1 == 16L).map(r => fpOf(r._2)))
    assert(java.util.Arrays.equals(CB.diffSketches(baseSk, mergedSk), rebuiltSk),
      "cbloom store must subtract byte-equal to a rebuild")
    // 4. the audit trail accounts for exactly the cohort, once
    val rep = spark.read.parquet(s"$dir/report")
      .agg(sum("n_docs"), sum("gram_incidences")).head()
    assert(rep.getLong(0) == 2L, s"report must count the cohort once: $rep")
    assert(rep.getLong(1) == mergedDec.agg(sum("dec")).head().getLong(0))
    // 5. merged CMS decrements (token occurrences) and DDSketch
    // decrements (text lengths) subtract byte-exactly — every LINEAR
    // sketch store services off the one feed (the q247/q248 verbs'
    // decrement sketches now arrive composed, not batch-side)
    val survivors = corpusDf.filter(!col("doc_id").isin(6L, 16L))
    def cmsOf(df: org.apache.spark.sql.DataFrame): Array[Byte] = df
      .select(explode(expr(
        graft.functions.TextFunctions.wordsExpr("text"))).as("tok"))
      .select(expr(graft.core.Determinism.xhashExpr("tok")).as("tfp"))
      .agg(expr("cms_build(tfp)")).head().getAs[Array[Byte]](0)
    def ddqOf(df: org.apache.spark.sql.DataFrame): Array[Byte] = df
      .select(expr("CAST(length(text) AS BIGINT)").as("len"))
      .agg(expr("ddq_build(len)")).head().getAs[Array[Byte]](0)
    val cmsDecMerged = spark.read.parquet(s"$dir/cmsdec")
      .agg(expr("cms_merge(dsk)")).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(
      graft.functions.CmSketch.diffSketches(cmsOf(corpusDf), cmsDecMerged),
      cmsOf(survivors)),
      "cms token-frequency store must subtract byte-equal to a rebuild")
    val ddqDecMerged = spark.read.parquet(s"$dir/ddqdec")
      .agg(expr("ddq_merge(dsk)")).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(
      graft.functions.DdSketch.diffSketches(ddqOf(corpusDf), ddqDecMerged),
      ddqOf(survivors)),
      "ddsketch length-quantile store must subtract byte-equal to a rebuild")
    // 6. the ids feed drives q235's component-label maintenance
    // end-to-end == rebuild: deleting bridge-less 6 dissolves {3,6}
    // (3 leaves the table — no surviving edge), {21,22} passes through
    // verbatim — the one store whose delete needs graph context,
    // composed off the same feed
    val baseLabels = graft.llm.Dedup.connectedComponents(basePairs)
      .transform(graft.core.EngineCache.persisted)
    val servedLabels = LlmQueries.componentDeleteOf(baseLabels, basePairs, ids)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rebuiltLabels = graft.llm.Dedup.connectedComponents(
        graft.llm.Dedup.minhashLshPairs(survivors, "doc_id", "text",
          LlmQueries.WordShingleN, LlmQueries.MinhashK,
          LlmQueries.MinhashBands, LlmQueries.MinhashTau))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(servedLabels == rebuiltLabels &&
      servedLabels == Map(21L -> 21L, 22L -> 21L),
      s"label store must split {3,6} away and keep {21,22}: $servedLabels")
    graft.core.EngineCache.releaseAll()
  }

  test("composed streaming ingest DAG equals the batch chain, restart included") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.operators.LlmQueries
    import graft.streaming.IngestPipeline
    val d = graft.core.Tables.load(spark, sfDir, "documents")
    val corpusGrams = LlmQueries.corpusGramsAtRest(spark, sfDir)
      .transform(graft.core.EngineCache.persisted)
    val corpusSig = graft.llm.Dedup.signatureFrame(
      d.filter(col("source") =!= LlmQueries.BatchSource), "doc_id", "text",
      LlmQueries.WordShingleN, LlmQueries.MinhashK)
      .transform(graft.core.EngineCache.persisted)
    val weights = graft.operators.StatsOps.trainedClsWeights(
      d.select("doc_id", "text", "lang", "n_chars"))
    val batchDocs = d.filter(col("source") === LlmQueries.BatchSource)
      .select("doc_id", "text", "lang", "n_chars")
      .as[(Long, String, String, Long)].collect()
    assert(batchDocs.length >= 2)
    // the floor is a design-time choice, FROZEN before the stream starts
    // (like the weights): the 40th percentile of a scoring pass over a
    // reference batch, so the gate provably both keeps and drops docs
    val preScores = graft.operators.StatsOps.scoreWithWeights(
      batchDocs.toSeq.toDF("doc_id", "text", "lang", "n_chars"), weights)
      .select("score").as[Double].collect().sorted
    val cfg = IngestPipeline.Config(
      weights, scoreFloor = preScores(preScores.length * 2 / 5),
      LlmQueries.WordShingleN, LlmQueries.MinhashK,
      LlmQueries.MinhashBands, LlmQueries.MinhashTau)
    val (h1, h2) = batchDocs.splitAt(batchDocs.length / 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    def runOnce(feed: org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String, Long)] => Unit): Unit = {
      val source = MemoryStream[(Long, String, String, Long)]
      feed(source)
      val q = IngestPipeline.start(
        source.toDF().toDF("doc_id", "text", "lang", "n_chars"),
        corpusGrams, corpusSig, cfg, dir, s"$dir/ckpt")
      q.processAllAvailable()
      q.stop()
    }
    // first run delivers micro-batch 0, then the writer "crashes"
    runOnce { s => s.addData(h1.toIndexedSeq: _*) }
    // restart from the same checkpoint: batch 0 REPLAYS (the retry
    // scenario — idempotent overwrite must replace, not duplicate),
    // then micro-batch 1 delivers the rest
    replayBatch(s"$dir/ckpt", 0, Seq("scores", "clean", "spans", "neardup",
        "postings", "doclen", "funnel").map(t => s"$dir/$t/batch_run=0"): _*) {
      runOnce { s =>
        s.addData(h1.toIndexedSeq: _*)
        s.addData(h2.toIndexedSeq: _*)
      }
    }
    // one-shot batch comparand: the SAME chain over all docs at once
    val want = IngestPipeline.chainOf(
      batchDocs.toSeq.toDF("doc_id", "text", "lang", "n_chars"),
      corpusGrams, corpusSig, cfg)
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    def landed(stage: String, cols: String*) =
      rows(spark.read.parquet(s"$dir/$stage"), cols: _*)
    // every per-doc stage: streamed union == one-shot (restart included)
    assert(landed("scores", "doc_id", "label", "score") ===
      rows(want.scores, "doc_id", "label", "score"))
    assert(landed("clean", "doc_id", "n_tokens", "kept_tokens", "clean_text")
      === rows(want.clean, "doc_id", "n_tokens", "kept_tokens", "clean_text"))
    assert(landed("spans", "doc_id", "n_tokens", "dup_spans", "dup_tokens",
      "dup_frac") === rows(want.spans, "doc_id", "n_tokens", "dup_spans",
      "dup_tokens", "dup_frac"))
    assert(landed("neardup", "batch_id", "corpus_id", "jaccard") ===
      rows(want.hits, "batch_id", "corpus_id", "jaccard"))
    assert(landed("postings", "term", "doc_id", "tf", "shard") ===
      rows(want.postings, "term", "doc_id", "tf", "shard"))
    assert(landed("doclen", "doc_id", "dl") === rows(want.doclen, "doc_id", "dl"))
    // the funnel is per-batch rows; its additive columns must SUM to the
    // one-shot funnel (disjoint doc sets), and stay monotone
    import org.apache.spark.sql.functions.sum
    val f = spark.read.parquet(s"$dir/funnel")
      .agg(sum("n_raw"), sum("n_quality"), sum("tokens_raw"),
        sum("tokens_after_cut"), sum("corpus_dup_tokens"),
        sum("n_near_dup"), sum("n_indexed")).head()
    val w1 = want.funnel.head()
    assert((0 until 7).map(f.getLong) === (0 until 7).map(w1.getLong))
    // pinned to counts derived WITHOUT the funnel code: from the fixture
    // and the chainOf stages, so a funnel redefinition cannot hide
    def longs(df: org.apache.spark.sql.DataFrame, c: String): Seq[Long] =
      df.select(c).collect().toSeq.map(_.getAs[Number](0).longValue)
    val scoreOf = want.scores.select("doc_id", "score").collect()
      .map(r => r.getAs[Number](0).longValue -> r.getDouble(1)).toMap
    val hitIds = longs(want.hits, "batch_id").toSet
    assert((0 until 7).map(f.getLong) === Seq(
      batchDocs.length.toLong,
      batchDocs.count(d => scoreOf.get(d._1).exists(_ >= cfg.scoreFloor)).toLong,
      longs(want.clean, "n_tokens").sum,
      longs(want.clean, "kept_tokens").sum,
      longs(want.spans, "dup_tokens").sum,
      hitIds.size.toLong,
      longs(want.clean, "doc_id").count(id => !hitIds(id)).toLong))
    assert(f.getLong(0) >= f.getLong(1) && f.getLong(1) >= f.getLong(6),
      "funnel counts must be monotone: raw >= quality >= indexed")
    assert(f.getLong(2) >= f.getLong(3),
      "the intra-doc cut can only remove tokens")
    assert(f.getLong(0) > 0 && f.getLong(6) > 0)
    graft.core.EngineCache.releaseAll()
  }

  /** The ingest DAG's frozen at-rest state over the fixture corpus
    * (gram set, signatures, classifier weights) and its arriving docs,
    * built as the restart spec above builds them. */
  private case class IngestFixture(
      grams: org.apache.spark.sql.DataFrame,
      sig: org.apache.spark.sql.DataFrame, weights: Array[Double],
      docs: Seq[(Long, String, String, Long)]) {
    def cfg(scoreFloor: Double) = graft.streaming.IngestPipeline.Config(
      weights, scoreFloor, graft.operators.LlmQueries.WordShingleN,
      graft.operators.LlmQueries.MinhashK,
      graft.operators.LlmQueries.MinhashBands,
      graft.operators.LlmQueries.MinhashTau)
  }

  private def ingestFixture(): IngestFixture = {
    val sq = spark
    import sq.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.LlmQueries
    val d = graft.core.Tables.load(spark, sfDir, "documents")
    IngestFixture(
      LlmQueries.corpusGramsAtRest(spark, sfDir)
        .transform(graft.core.EngineCache.persisted),
      graft.llm.Dedup.signatureFrame(
        d.filter(col("source") =!= LlmQueries.BatchSource), "doc_id", "text",
        LlmQueries.WordShingleN, LlmQueries.MinhashK)
        .transform(graft.core.EngineCache.persisted),
      graft.operators.StatsOps.trainedClsWeights(
        d.select("doc_id", "text", "lang", "n_chars")),
      d.filter(col("source") === LlmQueries.BatchSource)
        .select("doc_id", "text", "lang", "n_chars")
        .as[(Long, String, String, Long)].collect().toSeq)
  }

  /** Stream `docs` as ONE micro-batch (batch_run=0) through the ingest
    * DAG into a fresh directory; returns that directory and the query's
    * run id (the job group of every job the stream starts). */
  private def ingestOneBatch(fx: IngestFixture,
                             cfg: graft.streaming.IngestPipeline.Config,
                             prefix: String): (String, String) = {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    val source = MemoryStream[(Long, String, String, Long)]
    val q = graft.streaming.IngestPipeline.start(
      source.toDF().toDF("doc_id", "text", "lang", "n_chars"),
      fx.grams, fx.sig, cfg, dir, s"$dir/ckpt")
    try {
      source.addData(fx.docs: _*)
      q.processAllAvailable()
    } finally q.stop()
    (dir, q.runId.toString)
  }

  test("ingest DAG lands a batch with no doc above the quality floor as empty stages") {
    val sq = spark
    import sq.implicits._
    import org.apache.spark.sql.functions.col
    val fx = ingestFixture()
    // scores lie in (0, 1): a floor of 2.0 admits no doc
    val cfg = fx.cfg(scoreFloor = 2.0)
    val (dir, _) = ingestOneBatch(fx, cfg, "graft-ingest-empty")
    val want = graft.streaming.IngestPipeline.chainOf(
      fx.docs.toDF("doc_id", "text", "lang", "n_chars"), fx.grams, fx.sig, cfg)
    def landed(stage: String) = spark.read.parquet(s"$dir/$stage/batch_run=0")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.sorted.map(col): _*).collect().map(_.toSeq).toSet
    val stages = Seq("scores" -> want.scores, "clean" -> want.clean,
      "spans" -> want.spans, "neardup" -> want.hits,
      "postings" -> want.postings, "doclen" -> want.doclen,
      "funnel" -> want.funnel)
    stages.foreach { case (stage, w) =>
      if (stage != "scores" && stage != "funnel")
        assert(landed(stage).isEmpty, s"$stage must land empty")
      assert(rows(landed(stage)) === rows(w), s"$stage differs from chainOf")
    }
    val f = landed("funnel").collect()
    assert(f.length === 1)
    assert(f.head.getAs[Long]("n_raw") === fx.docs.length)
    assert(f.head.getAs[Long]("n_quality") === 0L)
    assert(f.head.getAs[Long]("n_indexed") === 0L)
    graft.core.EngineCache.releaseAll()
  }

  /** q190's funnel as the six-branch union it was before it counted by
    * identity, kept as the funnel's reference: one branch each over the
    * batch, the docs at or above the floor, clean, spans, the distinct
    * hit ids and the survivors. */
  private def funnelReference(batch: org.apache.spark.sql.DataFrame,
                              st: graft.streaming.IngestPipeline.Stages,
                              cfg: graft.streaming.IngestPipeline.Config)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
    val funnelCols = Seq("n_raw", "n_quality", "tokens_raw",
      "tokens_after_cut", "corpus_dup_tokens", "n_near_dup", "n_indexed")
    def counted(df: org.apache.spark.sql.DataFrame,
                cols: (String, Column)*) = {
      val own = cols.toMap
      df.select(funnelCols.map(c =>
        own.getOrElse(c, lit(null)).cast("long").as(c)): _*)
    }
    val kept = batch.join(
      st.scores.filter(col("score") >= cfg.scoreFloor).select("doc_id"),
      "doc_id")
    val survivors = st.clean
      .select(col("doc_id"), col("clean_text").as("text"))
      .join(st.hits.select(col("batch_id").as("doc_id")), Seq("doc_id"),
        "left_anti")
    val sums = funnelCols.map(c => coalesce(sum(c), lit(0L)).as(c))
    Seq(
      counted(batch, "n_raw" -> lit(1L)),
      counted(kept, "n_quality" -> lit(1L)),
      counted(st.clean, "tokens_raw" -> col("n_tokens"),
        "tokens_after_cut" -> col("kept_tokens")),
      counted(st.spans, "corpus_dup_tokens" -> col("dup_tokens")),
      counted(st.hits.select("batch_id").distinct(), "n_near_dup" -> lit(1L)),
      counted(survivors, "n_indexed" -> lit(1L))
    ).reduce(_ unionByName _).agg(sums.head, sums.tail: _*)
  }

  test("ingest funnel counted by identity equals the six-branch reference") {
    val sq = spark
    import sq.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.LlmQueries
    val fx = ingestFixture()
    def run(docs: Seq[(Long, String, String, Long)], floor: Double, what: String) = {
      val batch = docs.toDF("doc_id", "text", "lang", "n_chars")
      val cfg = fx.cfg(floor)
      val st = graft.streaming.IngestPipeline.chainOf(batch, fx.grams, fx.sig, cfg)
      val f = st.funnel.collect().toSeq
      assert(f === funnelReference(batch, st, cfg).collect().toSeq, what)
      (st, f.head)
    }
    def n(r: org.apache.spark.sql.Row, c: String) = r.getAs[Long](c)
    // below-floor docs: a floor at the batch's 40th-percentile score
    val scores = graft.operators.StatsOps.scoreWithWeights(
        fx.docs.toDF("doc_id", "text", "lang", "n_chars"), fx.weights)
      .select("score").as[Double].collect().sorted
    val (_, below) = run(fx.docs, scores(scores.length * 2 / 5), "below-floor docs")
    assert(n(below, "n_quality") > 0 && n(below, "n_quality") < n(below, "n_raw"))
    // a null text beside ordinary docs
    val (_, withNull) = run(fx.docs :+ ((9000001L, null, "en", 0L)), 0.0, "a null text")
    assert(n(withNull, "n_raw") === fx.docs.length + 1)
    // every doc a near-dup: corpus docs under fresh ids, kept to the ones
    // the probe hits (a cut text or a short doc may miss)
    val copies = graft.core.Tables.load(spark, sfDir, "documents")
      .filter(col("source") =!= LlmQueries.BatchSource)
      .select(col("doc_id") + 8000000L, col("text"), col("lang"), col("n_chars"))
      .as[(Long, String, String, Long)].collect().toSeq.take(40)
    val (first, _) = run(copies, 0.0, "corpus copies")
    val hit = first.hits.select("batch_id").as[Long].collect().toSet
    val (_, allDup) = run(copies.filter(d => hit(d._1)), 0.0, "every doc a near-dup")
    assert(hit.nonEmpty && n(allDup, "n_near_dup") === hit.size &&
      n(allDup, "n_indexed") === 0L)
    // no near-dup: text the corpus has never seen
    val fresh = (1 to 6).map(i => (9100000L + i,
      (1 to 30).map(j => s"fresh$i-$j").mkString(" "), "en", 300L))
    val (none, noDup) = run(fresh, 0.0, "no near-dup")
    assert(none.hits.isEmpty && n(noDup, "n_near_dup") === 0L &&
      n(noDup, "n_indexed") === fresh.length)
    graft.core.EngineCache.releaseAll()
  }

  test("ingest postings and doclen scan their parents' landed output, not the stream") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      InsertIntoHadoopFsRelationCommand, LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec,
      SortExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
      Exchange}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val fx = ingestFixture()
    // each write's leaves: a landed directory as "<stage>/batch_run=N",
    // anything else (the stream's input, an in-memory relation) by name
    def leaves(p: LogicalPlan): Set[String] = p.collectLeaves().map {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].location.rootPaths
          .map(r => s"${r.getParent.getName}/${r.getName}").mkString(",")
      case other => other.nodeName
    }.toSet
    val scans = new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()
    val plans = new java.util.concurrent.ConcurrentHashMap[String, SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        qe.analyzed.collectFirst { case c: InsertIntoHadoopFsRelationCommand =>
          val out = new org.apache.hadoop.fs.Path(c.outputPath.toString)
          val stage = s"${out.getParent.getName}/${out.getName}"
          scans.put(stage, leaves(c.query))
          plans.put(stage, qe.executedPlan)
        }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    // registered BEFORE start: the stream runs on a clone of this session,
    // which copies the listeners it has at that moment
    spark.listenerManager.register(listener)
    val (dir, _) = try ingestOneBatch(fx, fx.cfg(scoreFloor = 0.0), "graft-ingest-lineage")
      finally spark.listenerManager.unregister(listener)
    assert(!spark.read.parquet(s"$dir/postings/batch_run=0").isEmpty,
      "every doc passes a 0.0 floor, so some survivor is indexed")
    val stages = Seq("scores", "clean", "spans", "neardup", "postings",
      "doclen", "funnel")
    eventually(timeout(30.seconds)) {
      assert(stages.forall(st => plans.containsKey(s"$st/batch_run=0")))
    }
    def dirsScanned(p: SparkPlan): Set[String] = planNodes(p).collect {
      case f: FileSourceScanExec => f.relation.location.rootPaths
        .map(r => s"${r.getParent.getName}/${r.getName}").mkString(",")
    }.toSet
    def exchanges(p: SparkPlan): Seq[Exchange] =
      planNodes(p).collect { case e: Exchange => e }
    // the micro-batch reaches a foreachBatch body as an RDD of its rows
    def batchScans(p: SparkPlan): Seq[SparkPlan] =
      planNodes(p).filter(_.isInstanceOf[RDDScanExec])
    val Seq(scoresPlan, cleanPlan, spansPlan, neardupPlan, postingsPlan,
      doclenPlan, funnelPlan) = stages.map(st => plans.get(s"$st/batch_run=0"))
    // wave B: postings and doclen read the landed clean rows alone; the
    // hit ids arrive as literals, so no join back to the neardup
    // directory and no broadcast
    Seq("postings" -> postingsPlan, "doclen" -> doclenPlan).foreach {
      case (stage, plan) =>
        assert(scans.get(s"$stage/batch_run=0") === Set("clean/batch_run=0"),
          s"$stage must read only its parent's landed directory")
        assert(dirsScanned(plan) === Set("clean/batch_run=0") &&
          batchScans(plan).isEmpty,
          s"$stage must scan the landed clean rows, not the stream:\n$plan")
        assert(!planNodes(plan).exists(_.isInstanceOf[BroadcastExchangeLike]),
          s"$stage must not broadcast:\n$plan")
        // the survivors read the hits as is: no aggregate (a distinct)
        // over the neardup directory alone
        assert(!planNodes(plan).exists {
          case a: BaseAggregateExec => dirsScanned(a) == Set("neardup/batch_run=0")
          case _ => false
        }, s"$stage must not aggregate the hits scan:\n$plan")
    }
    assert(exchanges(doclenPlan).isEmpty, s"doclen must not move data:\n$doclenPlan")
    // the funnel is one local row of the scalars wave A observed
    assert(scans.get("funnel/batch_run=0") === Set("LocalRelation") &&
      dirsScanned(funnelPlan).isEmpty && batchScans(funnelPlan).isEmpty &&
      exchanges(funnelPlan).isEmpty,
      s"the funnel must scan nothing and move nothing:\n$funnelPlan")
    // wave A is built on the micro-batch: no stage of it reads a landed
    // directory
    Seq("scores" -> scoresPlan, "clean" -> cleanPlan, "spans" -> spansPlan,
      "neardup" -> neardupPlan).foreach { case (stage, plan) =>
        assert(batchScans(plan).nonEmpty && dirsScanned(plan).isEmpty,
          s"$stage must scan the micro-batch and no landed stage:\n$plan")
    }
    // the score, the floor and the intra-doc cut are per-row maps: clean
    // moves no data at all, not even a broadcast
    assert(scans.get("clean/batch_run=0") === Set("LogicalRDD") &&
      exchanges(cleanPlan).isEmpty, s"clean must not move data:\n$cleanPlan")
    // a landed stage frame is not sorted: no global sort on doc_id
    assert(!planNodes(spansPlan).exists {
      case s: SortExec => s.global &&
        s.sortOrder.headOption.exists(_.child.references.exists(_.name == "doc_id"))
      case _ => false
    }, s"spans must not sort by doc_id:\n$spansPlan")
    // the probes of frozen state build on the batch: neardup does not
    // shuffle, and every broadcast in neardup and spans is built from the
    // micro-batch's rows alone, never from the in-memory corpus frames
    assert(!exchanges(neardupPlan).exists {
      case _: BroadcastExchangeLike => false
      case _ => true
    }, s"neardup must not shuffle:\n$neardupPlan")
    Seq("neardup" -> neardupPlan, "spans" -> spansPlan).foreach { case (stage, plan) =>
      val builds = planNodes(plan).collect { case b: BroadcastExchangeLike => b }
      assert(builds.nonEmpty, s"$stage must broadcast its batch side:\n$plan")
      builds.foreach { b =>
        val leaves = planNodes(b).filter(_.children.isEmpty)
        assert(!planNodes(b).exists(_.isInstanceOf[InMemoryTableScanExec]) &&
          leaves.nonEmpty && leaves.forall(_.isInstanceOf[RDDScanExec]),
          s"$stage must broadcast only the micro-batch's rows:\n$b")
      }
    }
    graft.core.EngineCache.releaseAll()
  }

  test("ingest funnel and survivors equal the landed stages they were observed on, restart included") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.{col, count, count_if, sum}
    val fx = ingestFixture()
    val docs = fx.docs.toDF("doc_id", "text", "lang", "n_chars")
    val scoreOf = graft.operators.StatsOps.scoreWithWeights(docs, fx.weights)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    val sorted = scoreOf.values.toSeq.sorted
    val cfg = fx.cfg(scoreFloor = sorted(sorted.length * 2 / 5))
    val below = fx.docs.filter(d => scoreOf(d._1) < cfg.scoreFloor)
    assert(below.nonEmpty)
    val (h1, h2) = fx.docs.splitAt(fx.docs.length / 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-observed").toString
    type Source = MemoryStream[(Long, String, String, Long)]
    def runOnce(preload: Seq[(Long, String, String, Long)])(
        feed: (Source, org.apache.spark.sql.streaming.StreamingQuery) => Unit)
        : Unit = {
      val source = MemoryStream[(Long, String, String, Long)]
      if (preload.nonEmpty) source.addData(preload: _*)
      val q = graft.streaming.IngestPipeline.start(
        source.toDF().toDF("doc_id", "text", "lang", "n_chars"),
        fx.grams, fx.sig, cfg, dir, s"$dir/ckpt")
      try feed(source, q) finally q.stop()
    }
    runOnce(Nil) { (s, q) => s.addData(h1: _*); q.processAllAvailable() }
    // a crash after batch 0's wave A landed: its offset is logged but not
    // committed, and no wave-B directory exists
    Seq("ckpt/commits/0", "ckpt/commits/.0.crc", "postings/batch_run=0",
      "doclen/batch_run=0", "funnel/batch_run=0").foreach { p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$dir/$p"))
    }
    // the restart replays batch 0 from the logged offset (its input is in
    // the source before the query starts), then lands batch 1 and batch 2:
    // only docs below the floor
    runOnce(h1) { (s, q) =>
      q.processAllAvailable()
      s.addData(h2: _*)
      q.processAllAvailable()
      s.addData(below: _*)
      q.processAllAvailable()
    }
    def landed(stage: String, n: Int) =
      spark.read.parquet(s"$dir/$stage").filter(col("batch_run") === n)
    def ids(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(col(c).cast("long")).as[Long].collect().toSet
    val funnel = spark.read.parquet(s"$dir/funnel")
    val runs = funnel.select("batch_run").as[Int].collect().sorted.toSeq
    assert(runs === Seq(0, 1, 2), "one funnel row per micro-batch")
    runs.foreach { n =>
      val f = landed("funnel", n).collect().head
      val cols = Seq("n_raw", "n_quality", "tokens_raw", "tokens_after_cut",
        "corpus_dup_tokens", "n_near_dup", "n_indexed")
      assert(cols.forall(c => !f.isNullAt(f.fieldIndex(c))), s"batch $n: $f")
      val got = cols.map(c => f.getAs[Long](c))
      val sc = landed("scores", n)
        .agg(count(col("doc_id")), count_if(col("score") >= cfg.scoreFloor)).head()
      val cl = landed("clean", n)
        .agg(sum("n_tokens"), sum("kept_tokens")).head()
      val dup = landed("spans", n).agg(sum("dup_tokens")).head()
      def long0(r: org.apache.spark.sql.Row, i: Int) =
        if (r.isNullAt(i)) 0L else r.getAs[Number](i).longValue
      val cleanIds = ids(landed("clean", n), "doc_id")
      val hitIds = ids(landed("neardup", n), "batch_id")
      assert(hitIds.subsetOf(cleanIds), s"batch $n: the hits are signed from clean")
      assert(got === Seq(sc.getLong(0), sc.getLong(1), long0(cl, 0),
        long0(cl, 1), long0(dup, 0), hitIds.size.toLong,
        (cleanIds -- hitIds).size.toLong), s"batch $n's funnel")
      Seq("postings", "doclen").foreach { stage =>
        assert(ids(landed(stage, n), "doc_id") === cleanIds -- hitIds,
          s"batch $n's $stage must index clean minus the near-dup hits")
      }
    }
    // the all-below-floor batch: every sum 0, the hit set empty
    val last = landed("funnel", 2).collect().head
    assert(last.getAs[Long]("n_raw") === below.length.toLong)
    assert(Seq("n_quality", "tokens_raw", "tokens_after_cut",
      "corpus_dup_tokens", "n_near_dup", "n_indexed")
      .forall(c => last.getAs[Long](c) == 0L), s"$last")
    assert(landed("clean", 2).isEmpty && landed("neardup", 2).isEmpty)
    // batches 0 and 1 exercise the survivor filter: some docs are indexed,
    // some are near-dup hits
    Seq("n_indexed", "n_near_dup").foreach { c =>
      assert(runs.take(2).map(n => landed("funnel", n).head().getAs[Long](c)).sum > 0, c)
    }
    graft.core.EngineCache.releaseAll()
  }

  test("an ingest micro-batch runs at most 12 Spark jobs in its query's job group") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val fx = ingestFixture()
    // the frozen state is built before the stream starts, as a served
    // pipeline builds it: the first batch must not pay the corpus caches
    fx.grams.count()
    fx.sig.count()
    val sq = spark
    import sq.implicits._
    val sorted = graft.operators.StatsOps.scoreWithWeights(
        fx.docs.toDF("doc_id", "text", "lang", "n_chars"), fx.weights)
      .select("score").as[Double].collect().sorted
    // jobs per job group, as a trace charges a stream's jobs to its run id
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.merge(g, 1, (a, b) => a + b))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val runId = try {
      val (_, id) = ingestOneBatch(fx,
        fx.cfg(scoreFloor = sorted(sorted.length * 2 / 5)), "graft-ingest-jobs")
      // a job started after the stream stopped: once the listener has seen
      // it, it has seen every job the stream started before it
      val flush = s"flush-$id"
      sc.setJobGroup(flush, flush)
      try spark.range(1).collect() finally sc.clearJobGroup()
      eventually(timeout(30.seconds)) { assert(jobs.containsKey(flush)) }
      id
    } finally sc.removeSparkListener(listener)
    val n = Option(jobs.get(runId)).fold(0)(_.intValue)
    assert(n > 0, "the stream's jobs must carry its run id as their job group")
    assert(n <= 12, s"one ingest micro-batch ran $n jobs")
    graft.core.EngineCache.releaseAll()
  }

  test("streaming quality scores with frozen weights equal the batch classifier") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.col
    val corpus = graft.core.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text", "lang", "n_chars")
    val w = graft.operators.StatsOps.trainedClsWeights(corpus)
    val rows = corpus.as[(Long, String, String, Long)].collect()
    val (h1, h2) = rows.splitAt(rows.length / 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-sqs").toString
    val source = MemoryStream[(Long, String, String, Long)]
    val q = EventAnalytics.startStreamingQualityScore(
      source.toDF().toDF("doc_id", "text", "lang", "n_chars"), w,
      s"$dir/scores", s"$dir/ckpt")
    source.addData(h1.toIndexedSeq: _*); q.processAllAvailable()
    source.addData(h2.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getDouble(2))
    val got = spark.read.parquet(s"$dir/scores")
      .select("doc_id", "label", "score").collect().map(key).toSet
    // ground truth: the in-plan train+score pass over the same corpus —
    // frozen-weight serving must reproduce it bit for bit
    val want = graft.operators.StatsOps.qualityClassifierOf(corpus)
      .collect().map(key).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("streaming span dedup equals the one-shot batch increment") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.operators.LlmQueries
    val cg = LlmQueries.corpusGramsAtRest(spark, sfDir)
      .transform(graft.core.EngineCache.persisted)
    val batchDocs = graft.core.Tables.load(spark, sfDir, "documents")
      .filter(col("source") === LlmQueries.BatchSource)
      .select("doc_id", "text").as[(Long, String)].collect()
    val (h1, h2) = batchDocs.splitAt(batchDocs.length / 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ssd").toString
    val source = MemoryStream[(Long, String)]
    val q = EventAnalytics.startStreamingSpanDedup(
      source.toDF().toDF("doc_id", "text"), cg, s"$dir/spans", s"$dir/ckpt")
    source.addData(h1.toIndexedSeq: _*); q.processAllAvailable()
    source.addData(h2.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    val got = spark.read.parquet(s"$dir/spans")
      .select("doc_id", "n_tokens", "dup_spans", "dup_tokens", "dup_frac")
      .collect().map(key).toSet
    // per-doc rows consult only the stored gram set, so a batch split
    // cannot change them — the union must equal the one-shot increment
    val want = LlmQueries.spanIncrement(spark, sfDir)
      .collect().map(key).toSet
    assert(got == want)
    assert(want.nonEmpty, "fixture surprise: no batch-vs-corpus span overlap")
    // the stored set streams through the batch grams' broadcast with an
    // inner join: a stored frame that repeats every ghash repeats spans
    // inside their islands and leaves the profile as it is
    def profile(grams: org.apache.spark.sql.DataFrame) =
      LlmQueries.spanIncrementOf(batchDocs.toSeq.toDF("doc_id", "text"), grams)
        .collect().toSeq.map(key).groupBy(identity).view.mapValues(_.size).toMap
    val once = profile(cg)
    assert(once.keySet == want && once.values.forall(_ == 1))
    assert(profile(cg.unionByName(cg)) == once)
  }

  test("streaming intra-doc cut equals the batch cut, split-invariant") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import graft.operators.LlmQueries
    val run = (1 to 8).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      1L -> s"$run g1 g2 g3 $run h1",
      2L -> Array.fill(30)("abc x yz").flatMap(_.split(" ")).mkString(" "),
      3L -> "plain u1 u2 u3 u4 u5 u6 u7",
      4L -> s"$run tail1 tail2")
    val (h1, h2) = docs.splitAt(2)
    val dir = java.nio.file.Files.createTempDirectory("graft-sic").toString
    val source = MemoryStream[(Long, String)]
    val q = EventAnalytics.startStreamingIntradocCut(
      source.toDF().toDF("doc_id", "text"), s"$dir/clean", s"$dir/ckpt")
    source.addData(h1: _*); q.processAllAvailable()
    source.addData(h2: _*); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3))
    val got = spark.read.parquet(s"$dir/clean")
      .select("doc_id", "n_tokens", "kept_tokens", "clean_text")
      .collect().map(key).toSet
    val want = LlmQueries.intradocDedupOf(docs.toDF("doc_id", "text"))
      .collect().map(key).toSet
    assert(got == want)
    // and against the cut's independent SQL spelling, since the twin and
    // intradocDedupOf run the same kernel
    assert(got == DedupSpec.intradocReference(docs.toDF("doc_id", "text"))
      .collect().map(key).toSet)
    assert(want.exists(_._4 == "abc x yz"), "periodic doc must collapse")
  }

  test("streaming skip-gram pairs equal the one-shot batch under frozen stats") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import graft.operators.LlmQueries
    val base = graft.core.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    val batchDocs = base.limit(40).as[(Long, String)].collect()
    val (h1, h2) = batchDocs.splitAt(batchDocs.length / 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ssg").toString
    val source = MemoryStream[(Long, String)]
    val q = EventAnalytics.startStreamingSkipgram(
      source.toDF().toDF("doc_id", "text"), base,
      s"$dir/pairs", s"$dir/ckpt")
    source.addData(h1.toIndexedSeq: _*); q.processAllAvailable()
    source.addData(h2.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3),
        r.getString(4), r.getInt(5), r.getString(6))
    val got = spark.read.parquet(s"$dir/pairs")
      .select("doc_id", "pos", "cpos", "center", "context",
        "neg_slot", "neg_word")
      .collect().map(key).toSet
    // pairs are within-doc and every draw keys on (doc, pos), so the
    // batch split cannot change the stream — union == one-shot batch
    val want = LlmQueries.skipgramBatchPairs(
      base, batchDocs.toSeq.toDF("doc_id", "text"))
      .collect().map(key).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("streaming BPE tokenize with frozen vocab equals the batch serving") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.operators.LlmQueries
    val d = graft.core.Tables.load(spark, sfDir, "documents")
    val base = d.filter(col("source") =!= LlmQueries.BatchSource)
      .select("doc_id", "text")
    val serve = LlmQueries.bpeTokenizeFrozen(base)
    val batchDocs = d.filter(col("source") === LlmQueries.BatchSource)
      .select("doc_id", "text").as[(Long, String)].collect()
    val (h1, h2) = batchDocs.splitAt(batchDocs.length / 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-sbt").toString
    val source = MemoryStream[(Long, String)]
    val q = EventAnalytics.startStreamingBpeTokenize(
      source.toDF().toDF("doc_id", "text"), base, s"$dir/tok", s"$dir/ckpt")
    source.addData(h1.toIndexedSeq: _*); q.processAllAvailable()
    source.addData(h2.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val got = spark.read.parquet(s"$dir/tok")
      .select("doc_id", "n_pieces", "n_sym0", "n_tokens")
      .collect().map(key).toSet
    // per-doc accounting consults only the frozen artifacts, so the
    // batch split cannot change a row — union == one-shot serving
    val want = serve(batchDocs.toSeq.toDF("doc_id", "text"))
      .collect().map(key).toSet
    assert(got == want)
    assert(want.nonEmpty)
    graft.core.EngineCache.releaseAll()
  }

  test("streaming quality drift equals the direct per-batch PSI") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.operators.CorpusOps
    val baseline = CorpusOps.psiBaselineAtRest(spark, sfDir)
      .transform(graft.core.EngineCache.persisted)
    assert(baseline.count() === 10)
    val batchDocs = graft.core.Tables.load(spark, sfDir, "documents")
      .filter(col("source") === graft.operators.LlmQueries.BatchSource)
      .select("doc_id", "text").as[(Long, String)].collect()
    val (h1, h2) = batchDocs.splitAt(batchDocs.length / 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-sqd").toString
    val source = MemoryStream[(Long, String)]
    val q = EventAnalytics.startStreamingQualityDrift(
      source.toDF().toDF("doc_id", "text"), baseline,
      s"$dir/psi", s"$dir/ckpt")
    source.addData(h1.toIndexedSeq: _*); q.processAllAvailable()
    source.addData(h2.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    def direct(rows: Seq[(Long, String)]) =
      CorpusOps.psiOfBatch(rows.toDF("doc_id", "text"), baseline)
        .collect().head
    val got = spark.read.parquet(s"$dir/psi")
      .select("batch_run", "n_docs", "psi").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val w1 = direct(h1.toIndexedSeq); val w2 = direct(h2.toIndexedSeq)
    assert(got(0) === ((w1.getLong(0), w1.getDouble(1))))
    assert(got(1) === ((w2.getLong(0), w2.getDouble(1))))
    assert(got.values.forall(_._2 >= 0.0))
  }

  test("streamed postings appends compose into the exact full-corpus BM25") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.operators.{CorpusOps, LlmQueries}
    val (bp, bd) = CorpusOps.bm25BaseTables(spark, sfDir)
    val batchDocs = graft.core.Tables.load(spark, sfDir, "documents")
      .filter(col("source") === LlmQueries.BatchSource)
      .select("doc_id", "text").as[(Long, String)].collect()
    val (h1, h2) = batchDocs.splitAt(batchDocs.length / 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-spa").toString
    val source = MemoryStream[(Long, String)]
    val q = EventAnalytics.startStreamingPostingsAppend(
      source.toDF().toDF("doc_id", "text"), dir, s"$dir/ckpt")
    source.addData(h1.toIndexedSeq: _*); q.processAllAvailable()
    source.addData(h2.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    // serve from base + streamed appends: must equal the one-shot
    // full-corpus index serve (q164) row for row
    val appendsP = spark.read.parquet(s"$dir/postings")
      .select("term", "doc_id", "tf", "shard")
    val appendsD = spark.read.parquet(s"$dir/doclen").select("doc_id", "dl")
    val got = CorpusOps.bm25ServeFrom(spark,
      bp.select("term", "doc_id", "tf", "shard").union(appendsP),
      bd.select("doc_id", "dl").union(appendsD)).collect().map(_.toSeq).toSeq
    val want = CorpusOps.bm25IndexServe(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("takedown ids feed drives the vector stores: NSW graph and PQ codes serve rebuild-equal, restart included") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.{broadcast, col}
    import graft.streaming.TakedownPipeline
    val S = graft.operators.ScaleOps
    // a doc-embedding store: vector key IS the document key, so the
    // one deletion feed that already drives the text stores carries
    // the vector tombstones too — VERDICT r11 task 4's missing edge
    val vecs = graft.core.Tables.load(spark, sfDir, "embeddings")
      .transform(graft.core.EngineCache.persisted)
    val baseSigs = vecs.selectExpr("vec_id",
      s"srp_sig(embedding, ${graft.operators.LlmQueries.SrpBits}) AS sig")
      .transform(graft.core.EngineCache.persisted)
    val baseAdj = S.nswGraphOf(vecs)
      .transform(graft.core.EngineCache.persisted)
    val baseCodes = S.encodeWithFrozenCodebook(spark, sfDir, vecs)
      .transform(graft.core.EngineCache.persisted)
    // the takedown cohort arrives as tombstoned documents (batch 0,
    // crash, restart replaying batch 0, batch 1) — id 999999 has no
    // stored vector and must no-op through every store
    val tombDocs = Seq(42L -> "took down doc 42", 137L -> "took down doc 137",
      260L -> "took down doc 260", 999999L -> "no vector for this doc")
    val dir = java.nio.file.Files.createTempDirectory("graft-vtd").toString
    def runOnce(feed: MemoryStream[(Long, String)] => Unit): Unit = {
      val source = MemoryStream[(Long, String)]
      feed(source)
      val q = TakedownPipeline.start(
        source.toDF().toDF("doc_id", "text"), dir, s"$dir/ckpt")
      q.processAllAvailable()
      q.stop()
    }
    runOnce { s => s.addData(tombDocs.take(2).toIndexedSeq: _*) }
    replayBatch(s"$dir/ckpt", 0, takedownStores.map(t => s"$dir/$t/batch_run=0"): _*) {
      runOnce { s =>
        s.addData(tombDocs.take(2).toIndexedSeq: _*)
        s.addData(tombDocs.drop(2).toIndexedSeq: _*)
      }
    }
    val ids = spark.read.parquet(s"$dir/ids").select("doc_id").distinct()
      .withColumnRenamed("doc_id", "vec_id")
      .transform(graft.core.EngineCache.persisted)
    assert(ids.collect().map(_.getLong(0)).toSet ==
      Set(42L, 137L, 260L, 999999L), "replayed batch must not duplicate")
    // 1. NSW graph store: feed-driven bounded repair == survivor rebuild
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val maintained = key(S.nswGraphDeleteByIds(baseSigs, baseAdj, vecs, ids))
    val survivors = vecs.join(broadcast(ids), Seq("vec_id"), "left_anti")
    val rebuilt = key(S.nswGraphOf(survivors))
    assert(maintained == rebuilt,
      s"feed-driven graph delete must equal survivor rebuild: " +
        s"${(maintained diff rebuilt).take(3)} / ${(rebuilt diff maintained).take(3)}")
    assert(!maintained.exists(e => e._1 == 42L || e._2 == 42L),
      "a tombstoned vector must leave the graph in every role")
    // 2. PQ code store: feed-driven purge == survivor re-encode
    val purged = S.pqCodesPurgeByIds(baseCodes, ids)
    val reencoded = S.encodeWithFrozenCodebook(spark, sfDir, survivors)
    def codeKey(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(codeKey(purged) == codeKey(reencoded),
      "feed-driven code purge must equal the survivor re-encode")
    assert(codeKey(purged).nonEmpty &&
      !codeKey(purged).exists(_._1 == 137L),
      "tombstoned codes must be gone, survivors intact")
    graft.core.EngineCache.releaseAll()
  }

  test("streamed nsw signature appends fold into the batch verb's adjacency, restart included") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    import org.apache.spark.sql.functions.col
    val S = graft.operators.ScaleOps
    val vecs = graft.core.Tables.load(spark, sfDir, "embeddings")
      .transform(graft.core.EngineCache.persisted)
    val pred = s"vec_id % 10 = ${S.NswBatchMod}"
    val baseV = vecs.filter(s"NOT ($pred)")
    val baseSigs = baseV.selectExpr("vec_id",
      s"srp_sig(embedding, ${graft.operators.LlmQueries.SrpBits}) AS sig")
      .transform(graft.core.EngineCache.persisted)
    val baseAdj = S.nswGraphOf(baseV)
      .transform(graft.core.EngineCache.persisted)
    // arrivals stream in two micro-batches with a mid-run restart
    // (batch 0 replays — idempotent overwrite must replace)
    val arrivals = vecs.filter(pred)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    assert(arrivals.length >= 2)
    val (h1, h2) = arrivals.splitAt(arrivals.length / 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-nswsa").toString
    def runOnce(feed: MemoryStream[(Long, Seq[Float])] => Unit): Unit = {
      val source = MemoryStream[(Long, Seq[Float])]
      feed(source)
      val q = graft.streaming.EventAnalytics.startStreamingNswSigAppend(
        source.toDF().toDF("vec_id", "embedding"), s"$dir/sigs", s"$dir/ckpt")
      q.processAllAvailable()
      q.stop()
    }
    runOnce { s => s.addData(h1.toIndexedSeq: _*) }
    replayBatch(s"$dir/ckpt", 0, s"$dir/sigs/batch_run=0") {
      runOnce { s =>
        s.addData(h1.toIndexedSeq: _*)
        s.addData(h2.toIndexedSeq: _*)
      }
    }
    // landed signatures: split-invariant, replay-deduped, byte-equal
    // to the batch verb's own signing
    val landed = spark.read.parquet(s"$dir/sigs")
      .select("vec_id", "sig")
      .transform(graft.core.EngineCache.persisted)
    val direct = vecs.filter(pred).selectExpr("vec_id",
      s"srp_sig(embedding, ${graft.operators.LlmQueries.SrpBits}) AS sig")
    assert(landed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      direct.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      "streamed signatures must equal the batch signing, replay deduped")
    // the serve-side fold over landed signatures equals the batch verb
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = key(S.nswGraphAppendBySigs(vecs, baseSigs, baseAdj, landed))
    val batch = key(S.nswGraphAppendOf(vecs, baseSigs, baseAdj, pred))
    assert(streamed == batch,
      s"streamed adjacency must equal the batch verb's: " +
        s"${(streamed diff batch).take(3)} / ${(batch diff streamed).take(3)}")
    assert(streamed == key(S.nswGraphOf(vecs)),
      "…and both must equal the full rebuild")
    graft.core.EngineCache.releaseAll()
  }

  test("a foreachBatch body's cloned session has every graft function with no register call") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-fn-clone").toString
    val source = MemoryStream[Long]
    val seen = new java.util.concurrent.atomic.AtomicReference[(Boolean, Seq[String], Double)]()
    val q = graft.streaming.BatchSink.start(source.toDF(), s"$dir/ckpt") { (batch, _) =>
      val s = batch.sparkSession
      val missing = graft.functions.GraftFunctions.table.map(_._1)
        .filterNot(s.sessionState.functionRegistry.functionExists).map(_.funcName)
      val est = batch.selectExpr("hll_est(hll_build(value))").head.getDouble(0)
      seen.set((s ne sq, missing, est))
    }
    source.addData(1L, 2L, 3L)
    q.processAllAvailable()
    q.stop()
    val (cloned, missing, est) = seen.get
    assert(cloned, "the body must run in the stream's clone of the session")
    assert(missing === Seq.empty)
    assert(math.round(est) === 3L)
  }
}
