package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are `System.nanoTime` nanoseconds; `parent`
  * is -1 for a root. Every span of one op carries that op's id. */
final case class Span(id: Long, parent: Long, op: String, name: String,
                      start: Long, end: Long)

/** Task-metric totals over a set of Spark jobs. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  var inputBytes, inputRecords, peakExec = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; spill += o.spill
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    peakExec = math.max(peakExec, o.peakExec)
  }
}

/** The traced run's recorder: a `SparkListener` that charges every job,
  * stage and task to the job group (= op id) and phase it ran under, a
  * `QueryExecutionListener` that times each ingest stage's write by its
  * output path, and the in-memory span list written out at exit.
  *
  * The harness marks phases by setting the `perfbench.phase` and
  * `perfbench.span` local properties before it calls into the program;
  * jobs submitted from the streaming threads carry neither and are
  * charged to the query's run id, which [[streamOp]] maps to an op. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val nextId = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[(String, String), Counters]()
  private val stageKey = new ConcurrentHashMap[Int, (String, String)]()
  private val jobOpen = new ConcurrentHashMap[Int, (String, Long, Long)]()
  private val streamOps = new ConcurrentHashMap[String, String]()
  private val stageNs = new ConcurrentHashMap[String, java.lang.Long]()
  // wall clock ↔ nanoTime, for listener events that carry epoch millis
  private val epochNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def newSpanId(): Long = nextId.incrementAndGet()

  def span(parent: Long, op: String, name: String, start: Long, end: Long,
           id: Long = -1): Long = {
    val sid = if (id >= 0) id else newSpanId()
    spans.add(Span(sid, parent, op, name, start, end))
    sid
  }

  def fromEpochMs(ms: Long): Long = ms * 1000000L + epochNs

  /** Charge jobs of the streaming query with this run id to `op`. */
  def streamOp(runId: String, op: String): Unit = streamOps.put(runId, op)

  private def keyOf(props: java.util.Properties): (String, String) = {
    def p(k: String) = Option(props).flatMap(x => Option(x.getProperty(k)))
    val group = p("spark.jobGroup.id").getOrElse("")
    (group, p("perfbench.phase").getOrElse("stream"))
  }

  private def ctr(k: (String, String)): Counters =
    counters.computeIfAbsent(k, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = keyOf(e.properties)
    val parent = Option(e.properties).flatMap(p =>
      Option(p.getProperty("perfbench.span"))).map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(s => stageKey.put(s, k))
    val c = ctr(k)
    c.synchronized { c.jobs += 1 }
    jobOpen.put(e.jobId, (k._1, parent, fromEpochMs(e.time)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOpen.remove(e.jobId)).foreach { case (group, parent, t0) =>
      spans.add(Span(newSpanId(), parent, group, s"job ${e.jobId}", t0,
        math.max(t0, fromEpochMs(e.time))))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val k = Option(stageKey.get(e.stageInfo.stageId))
      .getOrElse(keyOf(e.properties))
    stageKey.put(e.stageInfo.stageId, k)
    val c = ctr(k)
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val c = ctr(Option(stageKey.get(e.stageId)).getOrElse(("", "stream")))
    c.synchronized {
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spill += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.peakExec = math.max(c.peakExec, m.peakExecutionMemory)
    }
  }

  private val IngestStage = ".*/([a-z]+)/batch_run=\\d+/?$".r

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit =
    qe.analyzed.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }.collect { case IngestStage(stage) => stage }.foreach { stage =>
      stageNs.merge(stage, durationNs, (a, b) => a + b)
    }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Totals per (op, phase); stream run ids are resolved to their op. */
  def byOpPhase: Map[(String, String), Counters] =
    counters.asScala.toSeq.groupBy { case ((g, ph), _) =>
      (Option(streamOps.get(g)).getOrElse(g), ph)
    }.map { case (k, cs) =>
      val t = new Counters; cs.foreach(c => t.add(c._2)); k -> t
    }

  /** Seconds spent in each ingest stage's writes. */
  def ingestStageSeconds: Map[String, Double] =
    stageNs.asScala.map { case (k, v) => k -> v / 1e9 }.toMap

  def allSpans: Seq[Span] = {
    val raw = spans.asScala.toSeq
    // stream jobs carry no parent property: hang each under the
    // micro-batch span of its op that was open when the job started
    val batches = raw.filter(_.name.startsWith("batch ")).groupBy(_.op)
    raw.map { s =>
      val op = Option(streamOps.get(s.op)).getOrElse(s.op)
      if (s.parent >= 0 || !s.name.startsWith("job ")) s.copy(op = op)
      else batches.getOrElse(op, Nil)
        .find(b => b.start <= s.start && s.start <= b.end)
        .fold(s.copy(op = op))(b => s.copy(op = op, parent = b.id))
    }
  }

  /** Write every span as one JSON line with its self time: its duration
    * minus the part of its interval its children cover. */
  def writeSpans(path: java.nio.file.Path): Seq[(Span, Double)] = {
    // listener timestamps are millisecond epoch times: clip each span to
    // its parent's interval, which the blocking call it ran under bounds
    val raw = allSpans
    val byId = raw.map(s => s.id -> s).toMap
    val clipped = mutable.Map.empty[Long, Span]
    def clip(s: Span): Span = clipped.getOrElseUpdate(s.id,
      byId.get(s.parent).map(clip).fold(s) { p =>
        val a = math.min(math.max(s.start, p.start), p.end)
        s.copy(start = a, end = math.max(a, math.min(s.end, p.end)))
      })
    val all = raw.map(clip)
    val kids = all.groupBy(_.parent)
    val withSelf = all.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      (s, (s.end - s.start - covered) / 1e6)
    }
    val base = if (all.isEmpty) 0L else all.map(_.start).min
    val lines = withSelf.sortBy(_._1.start).map { case (s, self) =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> Json.str(s.op), "name" -> Json.str(s.name),
        "start_ms" -> Json.num((s.start - base) / 1e6),
        "dur_ms" -> Json.num((s.end - s.start) / 1e6),
        "self_ms" -> Json.num(self)))
    }
    java.nio.file.Files.write(path, lines.asJava)
    withSelf
  }
}

/** Minimal JSON writing for the harness's own flat records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
