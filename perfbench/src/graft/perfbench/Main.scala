package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.{FileSourceScanExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.core.{EngineCache, GraftSession, Tables}
import graft.operators.{LlmQueries, StatsOps}
import graft.streaming.{Archive, IngestPipeline}

/** One benchmark run in a fresh JVM. `run.py` chooses the workload's
  * inputs from the seed and passes them in; this program times its own
  * calls into the engine's public entry points and writes one result
  * file. Usage (all flags required unless noted):
  *
  * {{{ Main --mode batch|stream --data DIR --tiny DIR --state DIR
  *          --out FILE --seed N --cores N --trace 0|1 --setup-reps N
  *          [--ops q1,q2 --expect FILE]                      (batch)
  *          [--archive-files N --archive-rows N
  *           --ingest-batches N --batch-docs N --near-dup F] (stream)
  *          [--spans FILE] [--dump DIR] }}}
  */
object Main {

  final case class Digest(rows: Long, lo: Long, hi: Long)

  /** Order-independent digest of a plan's output: row count plus the sums
    * of the low and high halves of each row's 64-bit hash. */
  def digestOf(rdd: RDD[InternalRow], schema: StructType): Digest = {
    val parts = rdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n, lo, hi = 0L
      it.foreach { r =>
        val u = proj(r)
        val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, 42L)
        n += 1; lo += h & 0xffffffffL; hi += h >>> 32
      }
      Iterator((n, lo, hi))
    }.collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum)
  }

  def digestOf(df: DataFrame): Digest =
    digestOf(df.queryExecution.toRdd, df.schema)

  /** Operators counted in each op's final (post-AQE) plan. */
  val PlanOps: Seq[(String, Set[String])] = Seq(
    "Exchange" -> Set("ShuffleExchangeExec", "BroadcastExchangeExec"),
    "SortMergeJoin" -> Set("SortMergeJoinExec"),
    "ShuffledHashJoin" -> Set("ShuffledHashJoinExec"),
    "BroadcastHashJoin" -> Set("BroadcastHashJoinExec"),
    "Window" -> Set("WindowExec"),
    "WindowGroupLimit" -> Set("WindowGroupLimitExec"),
    "SortAggregate" -> Set("SortAggregateExec"),
    "ObjectHashAggregate" -> Set("ObjectHashAggregateExec"),
    "InMemoryTableScan" -> Set("InMemoryTableScanExec"),
    "Generate" -> Set("GenerateExec"))

  /** Every node of a physical plan, looking through AQE wrappers and
    * query stages and into subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  val Registries: Seq[(String, Set[String])] = Seq(
    "CoreRelational" -> graft.operators.CoreRelational.queries.keySet,
    "Windows" -> graft.operators.Windows.queries.keySet,
    "Scalars" -> graft.operators.Scalars.queries.keySet,
    "LlmQueries" -> graft.operators.LlmQueries.queries.keySet,
    "Formats" -> graft.sources.Formats.queries.keySet,
    "Baldr" -> graft.sources.Baldr.queries.keySet,
    "CorpusOps" -> graft.operators.CorpusOps.queries.keySet,
    "ScaleOps" -> graft.operators.ScaleOps.queries.keySet,
    "AnalyticsOps" -> graft.operators.AnalyticsOps.queries.keySet,
    "StatsOps" -> graft.operators.StatsOps.queries.keySet,
    "CorpusFilterOps" -> graft.operators.CorpusFilterOps.queries.keySet)

  def registryOf(q: String): String =
    Registries.find(_._2.contains(q)).map(_._1).getOrElse("")

  val Tables10: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  final case class OpResult(name: String, wall: Double, build: Double,
                            plan: Double, exec: Double, digest: Option[Digest],
                            error: Option[String],
                            planPhases: Map[String, Double] = Map.empty,
                            planCounts: Map[String, Int] = Map.empty,
                            scannedRows: Long = 0, cacheBytes: Long = 0)

  final class Run(args: Map[String, String]) {
    def arg(k: String): String =
      args.getOrElse(k, sys.error(s"missing --$k"))
    val mode = arg("mode")
    val data = arg("data")
    val tiny = arg("tiny")
    val state = Paths.get(arg("state")).toAbsolutePath
    val seed = arg("seed").toLong
    val cores = arg("cores").toInt
    val trace = arg("trace") == "1"
    val setupReps = arg("setup-reps").toInt
    val rec: Option[Recorder] = if (trace) Some(new Recorder) else None

    val spark: SparkSession = GraftSession.tune(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench"),
      cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", state.resolve("local").toString)
      .config("spark.sql.warehouse.dir", state.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    rec.foreach { r =>
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
    }
    val sc = spark.sparkContext

    def setWarehouse(tag: String): Path = {
      val wh = state.resolve(s"warehouse-$tag")
      spark.conf.set("graft.warehouse.dir", wh.toString)
      wh
    }

    /** Post-GC live heap in MB. The first collection hands dropped
      * broadcasts and shuffles to Spark's ContextCleaner; the second
      * collects what the cleaner released. */
    def liveHeapMb(): Double = {
      System.gc()
      Thread.sleep(50)
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0
    }
    val heapMb = ArrayBuffer.empty[Double]
    def sampleHeap(): Unit = heapMb += liveHeapMb()

    def release(): Unit = {
      EngineCache.releaseAll()
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.catalog.clearCache()
    }

    /** Run `body` as one traced phase of `op` under span `parent`. */
    def phase[T](op: String, parent: Long, name: String)(body: => T): (T, Double) = {
      val sid = rec.map(_.newSpanId()).getOrElse(-1L)
      sc.setLocalProperty("perfbench.phase", name)
      sc.setLocalProperty("perfbench.span", sid.toString)
      val t0 = System.nanoTime()
      try {
        val r = body
        (r, (System.nanoTime() - t0) / 1e9)
      } finally rec.foreach(_.span(parent, op, name, t0, System.nanoTime(), sid))
    }

    // --------------------------------------------------------------- batch

    private def newWorker() = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
    }
    private var worker = newWorker()

    /** The op: build the query (the engine's eager work runs here), plan
      * it, then execute the planned query once while digesting its rows. */
    def runOp(name: String, dir: String, dump: Option[String]): OpResult = {
      val fn = SparkEntry.queries.get(name)
      if (fn.isEmpty) return OpResult(name, 0, 0, 0, 0, None, Some("UnknownQuery"))
      // every op starts from an empty warehouse, so its at-rest builds
      // are paid by the op itself whatever ran before it
      setWarehouse(s"op-$name")
      val opSpan = rec.map(_.newSpanId()).getOrElse(-1L)
      val t0 = System.nanoTime()
      val task = worker.submit(new Callable[OpResult] {
        def call(): OpResult = {
          sc.setJobGroup(name, name, interruptOnCancel = true)
          try {
            val (df, tb) = phase(name, opSpan, "build")(fn.get(spark, dir))
            val (qe, tp) = phase(name, opSpan, "plan") {
              val qe = df.queryExecution; qe.executedPlan; qe
            }
            val (dg, tx) = phase(name, opSpan, "exec") {
              SQLExecution.withNewExecutionId(qe, Some(name)) {
                digestOf(qe.executedPlan.execute(), qe.executedPlan.schema)
              }
            }
            val extra = if (!trace) OpResult(name, 0, 0, 0, 0, None, None) else {
              val plan = nodes(qe.executedPlan)
              val names = plan.map(_.getClass.getSimpleName)
              val scanned = plan.collect { case s: FileSourceScanExec =>
                s.relation.location.rootPaths.map(_.toString) }.flatten
                .flatMap(p => Tables10.find(t => p.endsWith(s"/$t.parquet")))
                .distinct.map(tableRows).sum
              OpResult(name, 0, 0, 0, 0, None, None,
                planPhases = qe.tracker.phases.map { case (k, v) =>
                  k -> v.durationMs / 1e3 },
                planCounts = PlanOps.map { case (k, cls) =>
                  k -> names.count(cls.contains) }.toMap,
                scannedRows = scanned,
                cacheBytes = sc.getRDDStorageInfo
                  .map(i => i.memSize + i.diskSize).sum)
            }
            dump.foreach { d =>
              df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
            }
            val (_, tc) = phase(name, opSpan, "cleanup")(release())
            extra.copy(wall = tb + tp + tx + tc, build = tb, plan = tp,
              exec = tx, digest = Some(dg))
          } finally sc.clearJobGroup()
        }
      })
      val res =
        try task.get(OpTimeoutSec, TimeUnit.SECONDS)
        catch {
          case _: TimeoutException =>
            sc.cancelJobGroup(name)
            // a query still planning never sees the cancel: abandon its
            // thread so the next op starts on a free one
            worker.shutdownNow()
            worker = newWorker()
            OpResult(name, 0, 0, 0, 0, None, Some("Timeout"))
          case e: java.util.concurrent.ExecutionException =>
            System.err.println(s"[perfbench] $name failed: ${e.getCause}")
            release()
            OpResult(name, 0, 0, 0, 0, None,
              Some(e.getCause.getClass.getSimpleName))
        }
      rec.foreach(_.span(-1, name, name, t0, System.nanoTime(), opSpan))
      sampleHeap()
      res
    }

    /** Row counts of the input tables, counted before the timed region. */
    lazy val tableRows: Map[String, Long] =
      Tables10.map(t => t -> spark.read.parquet(s"$data/$t.parquet").count()).toMap

    /** Engine set-up for a batch workload: a fresh warehouse, every input
      * table opened, and `Bench`'s six warmup shapes on the tiny fixture
      * (code generation and exchange set-up do not depend on data size). */
    def batchSetup(rep: Int): Unit = {
      setWarehouse(s"setup$rep")
      sc.setJobGroup(s"setup$rep", "setup", interruptOnCancel = false)
      Tables10.foreach(t => Tables.load(spark, data, t).schema)
      Seq("q01_agg_summary", "q03_join_revenue", "q09_window_topk",
        "q13_set_ops", "q07_join_full_outer", "q16_rollup").foreach { q =>
        SparkEntry.queries(q)(spark, tiny)
          .write.format("noop").mode("overwrite").save()
      }
      release()
      sc.clearJobGroup()
    }

    // -------------------------------------------------------------- stream

    val kafkaSchema: StructType = new StructType()
      .add("key", BinaryType).add("value", BinaryType)
      .add("topic", StringType).add("partition", IntegerType)
      .add("offset", LongType).add("timestamp", TimestampType)
    val docSchema: StructType = new StructType()
      .add("doc_id", LongType).add("text", StringType)
      .add("lang", StringType).add("n_chars", LongType)

    /** Write `df` as `files` parquet files, one per value of `file_no`, in
      * arrival order, so a file source admitting one file per trigger
      * replays them as that many micro-batches. */
    def writeFiles(df: DataFrame, files: Int, dir: Path): Unit = {
      Files.createDirectories(dir)
      val staged = df.persist()
      (0 until files).foreach { f =>
        val tmp = state.resolve(s"stage-${dir.getFileName}-$f")
        staged.filter(col("file_no") === f).drop("file_no").coalesce(1)
          .write.parquet(tmp.toString)
        val part = Files.list(tmp).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(part, dir.resolve(f"part-$f%05d.parquet"),
          StandardCopyOption.ATOMIC_MOVE)
      }
      staged.unpersist()
    }

    final case class Frozen(grams: DataFrame, sig: DataFrame,
                            cfg: IngestPipeline.Config)

    /** The ingest pipeline's at-rest state, built as `IngestPipeline`'s
      * own spec builds it: corpus grams, corpus signatures, classifier
      * weights trained on the corpus, and a frozen quality floor. */
    def streamSetup(rep: Int): Frozen = {
      setWarehouse(s"setup$rep")
      sc.setJobGroup(s"setup$rep", "setup", interruptOnCancel = false)
      val d = Tables.load(spark, data, "documents")
      val grams = LlmQueries.corpusGramsAtRest(spark, data)
        .transform(EngineCache.persisted)
      grams.count()
      val sig = graft.llm.Dedup.signatureFrame(
        d.filter(col("source") =!= LlmQueries.BatchSource), "doc_id", "text",
        LlmQueries.WordShingleN, LlmQueries.MinhashK)
        .transform(EngineCache.persisted)
      sig.count()
      val weights = StatsOps.trainedClsWeights(
        d.select("doc_id", "text", "lang", "n_chars"))
      val scores = StatsOps.scoreWithWeights(
        d.filter(col("source") === LlmQueries.BatchSource)
          .select("doc_id", "text", "lang", "n_chars"), weights)
        .select("score").collect().map(_.getDouble(0)).sorted
      sc.clearJobGroup()
      Frozen(grams, sig, IngestPipeline.Config(weights,
        scoreFloor = scores(scores.length * 2 / 5), LlmQueries.WordShingleN,
        LlmQueries.MinhashK, LlmQueries.MinhashBands, LlmQueries.MinhashTau))
    }

    def progressSpans(op: String, parent: Long,
                      ps: Seq[StreamingQueryProgress]): Unit =
      rec.foreach { r =>
        val order = Seq("latestOffset", "walCommit", "getBatch",
          "queryPlanning", "addBatch", "commitOffsets")
        ps.foreach { p =>
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
          val start = r.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
          val end = start + d.getOrElse("triggerExecution", 0L) * 1000000L
          val bid = r.span(parent, op, s"batch ${p.batchId}", start, end)
          var t = start
          order.flatMap(k => d.get(k).map(k -> _)).foreach { case (k, ms) =>
            val e = math.min(end, t + ms * 1000000L)
            r.span(bid, op, k, t, e); t = e
          }
        }
      }

    def dirBytes(p: Path, suffix: String = ""): (Long, Long) =
      if (!Files.exists(p)) (0L, 0L) else {
        val fs = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
          .filter(_.getFileName.toString.endsWith(suffix)).toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      }
  }

  val OpTimeoutSec = 60L

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val h = (s.size - 1) * p
      val lo = math.floor(h).toInt; val hi = math.ceil(h).toInt
      s(lo) + (s(hi) - s(lo)) * (h - lo)
    }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    if (args.get("mode").contains("list")) {
      // the declared queries and their registries, for pool calibration
      Files.writeString(Paths.get(args("out")), SparkEntry.queries.keys.toSeq
        .sorted.map(q => s"$q\t${registryOf(q)}").mkString("", "\n", "\n"))
      sys.exit(0)
    }
    val run = new Run(args)
    import run._
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    def m(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    def layerTotals(c: Counters, wall: Double): Unit =
      layerTotalsImpl(m, c, wall, cores)
    val info = ArrayBuffer.empty[(String, String)]
    var attempted = 0L
    var failed = 0L
    val opsOut = ArrayBuffer.empty[String]

    val setupTimes = (0 until setupReps).map { rep =>
      if (rep > 0) release()
      val (frozen, t) = phase(s"setup$rep", -1, "setup") {
        if (mode == "stream") Some(streamSetup(rep)) else { batchSetup(rep); None }
      }
      (t, frozen)
    }
    m("setup_s", median(setupTimes.map(_._1)), "s")
    setWarehouse("run")
    // threads started from here on (the streaming queries) must not
    // inherit the set-up's phase marks
    sc.setLocalProperty("perfbench.phase", null)
    sc.setLocalProperty("perfbench.span", null)

    if (mode == "batch") {
      val ops = arg("ops").split(",").toSeq.filter(_.nonEmpty)
      val expect: Map[String, Seq[String]] = Files.readAllLines(Paths.get(arg("expect")))
        .asScala.map(_.split("\t").toSeq).filter(_.nonEmpty).map(r => r.head -> r.tail).toMap
      val dump = args.get("dump")
      dump.foreach { d =>
        Files.createDirectories(Paths.get(d))
        Files.writeString(Paths.get(d, "oracle_sql.json"),
          ops.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> Json.str(_)))
            .map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}"))
      }
      if (trace) tableRows
      val results = ops.map(q => runOp(q, data, dump))
      attempted = results.size
      val checked = results.map { r =>
        val bad: Option[String] = r.error.orElse {
          (expect.get(r.name), r.digest) match {
            case (Some(Seq(rows, lo, hi)), Some(d))
                if d != Digest(rows.toLong, lo.toLong, hi.toLong) => Some("WrongDigest")
            case (Some(Seq(rows)), Some(d)) if d.rows != rows.toLong => Some("WrongRowCount")
            case (None, _) if !expect.isEmpty => Some("NoExpectation")
            case _ => None
          }
        }
        bad.foreach(b => System.err.println(s"[perfbench] ${r.name}: $b"))
        (r, bad)
      }
      failed = checked.count(_._2.isDefined)
      val ok = checked.collect { case (r, None) => r }
      val walls = ok.map(_.wall)
      m("wall_s", results.map(_.wall).sum, "s")
      m("op_s_p50", median(walls), "s")
      info += "n_ops" -> ok.size.toString
      info += "ops" -> Json.str(ops.mkString(","))
      if (trace) {
        val perOp = rec.get.byOpPhase
        def sumOver(pred: ((String, String)) => Boolean) = {
          val t = new Counters
          perOp.filter(kv => pred(kv._1)).values.foreach(t.add); t
        }
        val names = ops.toSet
        val all = sumOver(k => names(k._1))
        val build = sumOver(k => names(k._1) && k._2 == "build")
        m("query_s_p75", pct(walls, 0.75), "s")
        m("failed_frac", failed.toDouble / math.max(1, attempted), "1")
        m("operators.build_s", results.map(_.build).sum, "s")
        m("operators.build_jobs", build.jobs, "count")
        Registries.foreach { case (reg, _) =>
          m(s"wall_s.$reg", results.filter(r => registryOf(r.name) == reg)
            .map(_.wall).sum, "s")
        }
        Seq("analysis", "optimization", "planning").foreach { ph =>
          m(s"plan.${ph}_s", results.map(_.planPhases.getOrElse(ph, 0.0)).sum, "s")
        }
        PlanOps.foreach { case (k, _) =>
          m(s"plan.n.$k", results.map(_.planCounts.getOrElse(k, 0)).sum, "count")
        }
        layerTotals(all, results.map(_.wall).sum)
        m("core.cache_peak_bytes", results.map(_.cacheBytes.toDouble).max, "bytes")
        val scanned = results.map(_.scannedRows).sum
        m("sources.rescan_ratio",
          if (scanned == 0) 0.0 else all.inputRecords.toDouble / scanned, "1")
        results.foreach { r =>
          val c = sumOver(_._1 == r.name)
          opsOut += Json.obj(Seq("name" -> Json.str(r.name),
            "registry" -> Json.str(registryOf(r.name)),
            "wall_s" -> Json.num(r.wall), "build_s" -> Json.num(r.build),
            "plan_s" -> Json.num(r.plan), "exec_s" -> Json.num(r.exec),
            "busy_frac" -> Json.num(
              if (r.wall > 0) c.runMs / 1e3 / (r.wall * cores) else 0.0),
            "jobs" -> c.jobs.toString,
            "rows" -> r.digest.fold("null")(_.rows.toString),
            "lo" -> r.digest.fold("null")(_.lo.toString),
            "hi" -> r.digest.fold("null")(_.hi.toString),
            "error" -> r.error.fold("null")(Json.str)))
        }
      } else results.foreach { r =>
        opsOut += Json.obj(Seq("name" -> Json.str(r.name),
          "wall_s" -> Json.num(r.wall),
          "rows" -> r.digest.fold("null")(_.rows.toString),
          "lo" -> r.digest.fold("null")(_.lo.toString),
          "hi" -> r.digest.fold("null")(_.hi.toString),
          "error" -> r.error.fold("null")(Json.str)))
      }
    } else {
      // ------------------------------------------------------- stream run
      val frozen = setupTimes.last._2.get
      val nFiles = arg("archive-files").toInt
      val nRows = arg("archive-rows").toInt
      val nBatches = arg("ingest-batches").toInt
      val perBatch = arg("batch-docs").toInt
      val nearDup = arg("near-dup").toDouble
      val archiveIn = state.resolve("stream/archive-in")
      val docsIn = state.resolve("stream/docs-in")
      // -- inputs, outside the timed region
      sc.setJobGroup("inputs", "inputs", interruptOnCancel = false)
      val ev = Tables.load(spark, data, "events")
      val picked = ev.orderBy(xxhash64(col("event_id"), lit(seed)))
        .limit(nRows).select(
          col("user_id").cast("string").cast("binary").as("key"),
          to_json(struct(ev.columns.map(col): _*)).cast("binary").as("value"),
          concat(lit("events."), col("event_type")).as("topic"),
          pmod(xxhash64(col("user_id"), lit(seed)), lit(4)).cast("int").as("partition"),
          col("ts").as("timestamp"), col("event_id"))
      val kafka = picked
        .withColumn("offset", (row_number().over(Window.partitionBy("topic",
          "partition").orderBy("timestamp", "event_id")) - 1).cast("long"))
        .withColumn("file_no", ((row_number().over(Window.orderBy("timestamp",
          "event_id")) - 1) * nFiles / nRows).cast("int"))
        .select((kafkaSchema.fieldNames :+ "file_no").map(col): _*)
      val wantArchive = digestOf(kafka.select("topic", "partition", "offset"))
      writeFiles(kafka, nFiles, archiveIn)
      val docs = Tables.load(spark, data, "documents")
      val nCopies = math.round(nBatches * perBatch * nearDup).toInt
      val novel = docs.filter(col("source") === LlmQueries.BatchSource)
        .orderBy(xxhash64(col("doc_id"), lit(seed)))
        .limit(nBatches * perBatch - nCopies)
      val copies = docs.filter(col("source") =!= LlmQueries.BatchSource)
        .orderBy(xxhash64(col("doc_id"), lit(seed)))
        .limit(nCopies).withColumn("doc_id", col("doc_id") + 100000000L)
      val mix = novel.unionByName(copies)
        .select(docSchema.fieldNames.map(col): _*)
        .withColumn("file_no", ((row_number().over(Window.orderBy(
          xxhash64(col("doc_id"), lit(seed + 1)), col("doc_id"))) - 1) / perBatch)
          .cast("int"))
        .persist()
      val mixRows = mix.count()
      writeFiles(mix, nBatches, docsIn)
      sc.clearJobGroup()
      info += "stream_mix" -> Json.str(
        s"archive_rows=$nRows archive_files=$nFiles docs=$mixRows " +
          s"corpus_copies=$nCopies batches=$nBatches")

      // -- timed region: archive drain, then ingest
      val archiveOut = state.resolve("stream/archive")
      val ta = System.nanoTime()
      val aq = Archive.drain(Archive.fileSource(spark, archiveIn.toString,
        kafkaSchema, 1), Archive.ArchiveConfig(archiveOut.toString,
        state.resolve("stream/archive-ckpt").toString,
        queryName = Some("archive")))
      rec.foreach(_.streamOp(aq.runId.toString, "archive"))
      val archiveErr = try { aq.awaitTermination(); aq.exception.map(_.toString) }
        catch { case e: Exception => Some(e.toString) }
      val archiveS = (System.nanoTime() - ta) / 1e9
      val archiveSpan =
        rec.fold(-1L)(_.span(-1, "archive", "archive", ta, System.nanoTime()))
      sampleHeap()
      val ingestOut = state.resolve("stream/ingest")
      val ti = System.nanoTime()
      val iq = IngestPipeline.start(Archive.fileSource(spark, docsIn.toString,
        docSchema, 1), frozen.grams, frozen.sig, frozen.cfg,
        ingestOut.toString, state.resolve("stream/ingest-ckpt").toString)
      rec.foreach(_.streamOp(iq.runId.toString, "ingest"))
      val ingestErr = try { iq.processAllAvailable(); iq.stop(); None }
        catch { case e: Exception => iq.stop(); Some(e.toString) }
      val ingestS = (System.nanoTime() - ti) / 1e9
      val ingestSpan =
        rec.fold(-1L)(_.span(-1, "ingest", "ingest", ti, System.nanoTime()))
      sampleHeap()

      val aps = aq.recentProgress.toSeq.filter(_.numInputRows > 0)
      val ips = iq.recentProgress.toSeq.filter(_.numInputRows > 0)
      progressSpans("archive", archiveSpan, aps)
      progressSpans("ingest", ingestSpan, ips)
      def trig(p: StreamingQueryProgress) =
        p.durationMs.asScala.get("triggerExecution").fold(0.0)(_.longValue / 1e3)

      // -- output checks, untimed
      sc.setJobGroup("checks", "checks", interruptOnCancel = false)
      val archiveBad = archiveErr.orElse {
        val got = digestOf(spark.read.parquet(archiveOut.toString)
          .select(col("topic"), col("partition").cast("int"), col("offset")))
        if (got == wantArchive) None else Some(s"archive multiset $got != $wantArchive")
      }
      val stageCols = Seq(
        "scores" -> Seq("doc_id", "label", "score"),
        "clean" -> Seq("doc_id", "n_tokens", "kept_tokens", "clean_text"),
        "spans" -> Seq("doc_id", "n_tokens", "dup_spans", "dup_tokens", "dup_frac"),
        "neardup" -> Seq("batch_id", "corpus_id", "jaccard"),
        "postings" -> Seq("term", "doc_id", "tf", "shard"),
        "doclen" -> Seq("doc_id", "dl"))
      val funnelCols = Seq("n_raw", "n_quality", "tokens_raw", "tokens_after_cut",
        "corpus_dup_tokens", "n_near_dup", "n_indexed")
      var nearDupFrac = 0.0
      val ingestBad = ingestErr.orElse {
        val want = IngestPipeline.chainOf(
          spark.read.schema(docSchema).parquet(docsIn.toString),
          frozen.grams, frozen.sig, frozen.cfg)
        val wantFrames = Map("scores" -> want.scores, "clean" -> want.clean,
          "spans" -> want.spans, "neardup" -> want.hits,
          "postings" -> want.postings, "doclen" -> want.doclen)
        val stageBad = stageCols.collectFirst(Function.unlift { case (st, cols) =>
          val got = digestOf(spark.read.parquet(s"$ingestOut/$st").select(cols.map(col): _*))
          val exp = digestOf(wantFrames(st).select(cols.map(col): _*))
          if (got == exp) None else Some(s"ingest stage $st $got != $exp")
        })
        val f = spark.read.parquet(s"$ingestOut/funnel")
          .agg(funnelCols.map(c => sum(col(c))).head, funnelCols.map(c => sum(col(c))).tail: _*)
          .head()
        val w = want.funnel.head()
        nearDupFrac = f.getLong(5).toDouble / math.max(1L, f.getLong(0))
        stageBad.orElse(
          if ((0 until 7).map(f.getLong) == (0 until 7).map(w.getLong)) None
          else Some("ingest funnel sums differ from the one-shot chain"))
      }
      EngineCache.releaseAll()
      sc.clearJobGroup()
      archiveBad.foreach(b => System.err.println(s"[perfbench] archive: $b"))
      ingestBad.foreach(b => System.err.println(s"[perfbench] ingest: $b"))
      attempted = aps.size + ips.size
      failed = (if (archiveBad.isDefined) aps.size.max(1) else 0) +
        (if (ingestBad.isDefined) ips.size.max(1) else 0)
      attempted = attempted.max(failed).max(1)
      m("wall_s", archiveS + ingestS, "s")
      m("op_s_p50", median(ips.map(trig)), "s")
      info += "n_ops" -> ips.size.toString
      info += "archive_batches" -> aps.size.toString
      if (trace) {
        val perOp = rec.get.byOpPhase
        def opTotal(op: String) = {
          val t = new Counters; perOp.filter(_._1._1 == op).values.foreach(t.add); t
        }
        val arc = opTotal("archive"); val ing = opTotal("ingest")
        val all = new Counters; all.add(arc); all.add(ing)
        def dsum(ps: Seq[StreamingQueryProgress], k: String) =
          ps.map(_.durationMs.asScala.get(k).fold(0L)(_.longValue)).sum / 1e3
        m("failed_frac", failed.toDouble / attempted, "1")
        m("archive_rows_per_s", aps.map(_.numInputRows).sum / archiveS, "1/s")
        m("archive_batch_s_p50", median(aps.map(trig)), "s")
        m("ingest_docs_per_s", mixRows / ingestS, "1/s")
        m("ingest_batch_s_p50", median(ips.map(trig)), "s")
        layerTotals(all, archiveS + ingestS)
        m("core.cache_peak_bytes", 0.0, "bytes")
        m("sources.rescan_ratio", 0.0, "1")
        Seq("latestOffset", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets").foreach(k => m(s"archive.${k}_s", dsum(aps, k), "s"))
        val (outFiles, outBytes) = dirBytes(archiveOut, ".parquet")
        m("archive.files_written", outFiles.toDouble, "count")
        m("archive.bytes_per_input_byte",
          outBytes.toDouble / math.max(1L, dirBytes(archiveIn, ".parquet")._2), "1")
        m("ingest.addBatch_s", dsum(ips, "addBatch"), "s")
        val stageS = rec.get.ingestStageSeconds
        IngestStages.foreach(st =>
          m(s"ingest.stage_s.$st", stageS.getOrElse(st, 0.0), "s"))
        m("ingest.jobs_per_batch", ing.jobs.toDouble / math.max(1, ips.size), "count")
        m("ingest.reread_ratio",
          ips.map(_.numInputRows).sum.toDouble / math.max(1L, mixRows), "1")
        m("ingest.near_dup_frac", nearDupFrac, "1")
      }
    }
    if (trace) {
      // layers a workload does not exercise read 0
      (UnitOf.toSeq ++ Registries.map(r => s"wall_s.${r._1}" -> "s") ++
        PlanOps.map(p => s"plan.n.${p._1}" -> "count") ++
        IngestStages.map(st => s"ingest.stage_s.$st" -> "s"))
        .foreach { case (k, u) => if (!metrics.contains(k)) m(k, 0.0, u) }
      val wh = Files.list(state).iterator().asScala
        .filter(p => p.getFileName.toString.matches("warehouse-(op-.*|run)"))
        .map(dirBytes(_)._2).sum
      m("core.warehouse_bytes", wh.toDouble, "bytes")
    }
    m("heap_live_mb", median(heapMb.toSeq), "MB")
    if (trace) m("heap_peak_mb", heapMb.max, "MB")
    spark.stop()
    // after the session is gone: what the run left in its temp directory
    val tmpLeft = dirBytes(Paths.get(System.getProperty("java.io.tmpdir")))._2
    if (trace) m("core.tmp_bytes_left", tmpLeft.toDouble, "bytes")
    val spansOk = rec.zip(args.get("spans")).map { case (r, p) =>
      val ws = r.writeSpans(Paths.get(p))
      val byId = ws.map(x => x._1.id -> x._1).toMap
      ws.forall { case (s, self) =>
        self <= (s.end - s.start) / 1e6 + 1e-6 &&
          byId.get(s.parent).forall(p => self <= (p.end - p.start) / 1e6 + 1e-6)
      }
    }
    spansOk.foreach(ok => info += "spans_ok" -> ok.toString)
    val out = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "info" -> Json.obj(info.toSeq),
      "ops" -> opsOut.mkString("[", ",", "]")))
    Files.writeString(Paths.get(arg("out")), out)
    sys.exit(0)
  }

  /** Shared layer totals over the timed region's jobs. */
  private def layerTotalsImpl(m: (String, Double, String) => Unit, c: Counters,
                              wall: Double, cores: Int): Unit = {
    m("sched.jobs", c.jobs, "count")
    m("sched.stages", c.stages, "count")
    m("sched.tasks", c.tasks, "count")
    m("sched.busy_frac", if (wall > 0) c.runMs / 1e3 / (wall * cores) else 0.0, "1")
    m("exec.cpu_s", c.cpuNs / 1e9, "s")
    m("exec.run_s", c.runMs / 1e3, "s")
    m("exec.gc_s", c.gcMs / 1e3, "s")
    m("shuffle.write_bytes", c.shuffleWrite, "bytes")
    m("shuffle.read_bytes", c.shuffleRead, "bytes")
    m("shuffle.fetch_wait_s", c.fetchWaitMs / 1e3, "s")
    m("spill.bytes", c.spill, "bytes")
    m("mem.peak_exec_bytes", c.peakExec, "bytes")
    m("sources.input_bytes", c.inputBytes, "bytes")
    m("sources.input_records", c.inputRecords, "count")
  }

  val IngestStages: Seq[String] =
    Seq("scores", "clean", "spans", "neardup", "postings", "doclen", "funnel")

  /** Units of the per-layer metrics that only some workloads produce. */
  val UnitOf: Map[String, String] = Map(
    "query_s_p75" -> "s", "failed_frac" -> "1", "operators.build_s" -> "s",
    "operators.build_jobs" -> "count", "plan.analysis_s" -> "s",
    "plan.optimization_s" -> "s", "plan.planning_s" -> "s",
    "archive_rows_per_s" -> "1/s", "archive_batch_s_p50" -> "s",
    "ingest_docs_per_s" -> "1/s", "ingest_batch_s_p50" -> "s",
    "archive.latestOffset_s" -> "s", "archive.queryPlanning_s" -> "s",
    "archive.addBatch_s" -> "s", "archive.walCommit_s" -> "s",
    "archive.commitOffsets_s" -> "s", "archive.files_written" -> "count",
    "archive.bytes_per_input_byte" -> "1", "ingest.addBatch_s" -> "s",
    "ingest.jobs_per_batch" -> "count", "ingest.reread_ratio" -> "1",
    "ingest.near_dup_frac" -> "1")
}
