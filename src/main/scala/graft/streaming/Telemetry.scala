package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import java.net.{DatagramPacket, DatagramSocket, InetAddress}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Streaming telemetry — the engine analog of the reference's metering
  * (telemetry.clj:18-50,56-81 reports records/s and upload bytes/s per
  * topic to Riemann/StatsD; kafka.clj:53,59-60 and s3.clj:22,27,31-36 are
  * the instrumented call sites). Spark already fires the equivalent
  * events: every micro-batch ends with a `StreamingQueryProgress` whose
  * rates are measured at the same boundary the reference metered by hand.
  * This listener turns them into StatsD lines.
  *
  * Design:
  *  - [[Telemetry]] is a `StreamingQueryListener`: zero overhead on the
  *    data path (events ride the listener bus, not the query), works for
  *    every query on the session at once, no operator changes.
  *  - Metric lines use the StatsD wire protocol (`name:value|type`), so
  *    the `report` sink can be [[Telemetry.udpReporter]] pointed at any
  *    statsd/telegraf agent — operationally the reference's
  *    riemann/statsd split, minus the bespoke client.
  *  - [[Telemetry.snapshot]] keeps the latest per-query stats in memory
  *    for REPL/ops introspection (the reference's `(status)` REPL verb,
  *    user.clj) and for tests.
  *
  * Executor/JVM-level metrics (heap, GC, task counts) are NOT re-metered
  * here: Spark's built-in metrics system already ships a StatsD sink
  * (`spark.metrics.conf` → `*.sink.statsd.class`); this module covers the
  * per-query streaming progress that system does not emit.
  */
class Telemetry(prefix: String = "graft",
                report: String => Unit = _ => ())
    extends StreamingQueryListener {

  import Telemetry.QueryStats

  private val stats = new ConcurrentHashMap[java.util.UUID, QueryStats]()

  /** Latest stats per query name (falls back to the query id). */
  def snapshot: Map[String, QueryStats] =
    stats.asScala.values.map(s => s.name -> s).toMap

  private def gauge(name: String, metric: String, v: Double): String =
    f"$prefix.$name.$metric:$v%.2f|g"
  private def counter(name: String, metric: String, v: Long): String =
    s"$prefix.$name.$metric:$v|c"
  private def timer(name: String, metric: String, v: Long): String =
    s"$prefix.$name.$metric:$v|ms"

  override def onQueryStarted(event: QueryStartedEvent): Unit = {
    val name = Option(event.name).getOrElse(event.id.toString)
    report(counter(name, "started", 1))
  }

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    val name = Option(p.name).getOrElse(p.id.toString)
    val prev = Option(stats.get(p.id)).getOrElse(QueryStats(name, 0, 0, 0, 0, 0))
    stats.put(p.id, QueryStats(
      name = name,
      batches = prev.batches + 1,
      totalRows = prev.totalRows + p.numInputRows,
      rowsPerSec = orZero(p.inputRowsPerSecond),
      processedPerSec = orZero(p.processedRowsPerSecond),
      batchDurationMs = p.batchDuration))
    report(counter(name, "input_rows", p.numInputRows))
    report(gauge(name, "rows_per_sec", orZero(p.inputRowsPerSecond)))
    report(gauge(name, "processed_rows_per_sec", orZero(p.processedRowsPerSecond)))
    report(timer(name, "batch_duration_ms", p.batchDuration))
    // bounded in-flight visibility: the reference metered its buffer sizes
    // (async.clj:8-14); the engine equivalent is stateful-operator state rows
    p.stateOperators.foreach { so =>
      report(gauge(name, s"state.${so.operatorName}.rows", so.numRowsTotal.toDouble))
    }
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = {
    val name = Option(stats.get(event.id)).map(_.name).getOrElse(event.id.toString)
    report(counter(name, if (event.exception.isDefined) "failed" else "stopped", 1))
  }

  private def orZero(d: Double): Double = if (d.isNaN || d.isInfinite) 0.0 else d
}

object Telemetry {

  final case class QueryStats(name: String, batches: Long, totalRows: Long,
                              rowsPerSec: Double, processedPerSec: Double,
                              batchDurationMs: Long)

  /** Attach a telemetry listener to every streaming query on the session.
    * Returns the listener so callers can read [[Telemetry.snapshot]] and
    * detach with `spark.streams.removeListener`. */
  def attach(spark: SparkSession, prefix: String = "graft",
             report: String => Unit = _ => ()): Telemetry = {
    val t = new Telemetry(prefix, report)
    spark.streams.addListener(t)
    t
  }

  /** Batch-job analog of the per-query progress metrics: named
    * `Observation` metrics ride the existing action (accumulator-backed —
    * NO extra job, unlike a count()), and land as the same StatsD lines
    * the streaming listener emits. The reference meters only its
    * streaming path; archive-adjacent batch jobs (compaction, dedup
    * sweeps) deserve the same records-processed visibility. Returns the
    * instrumented frame and a completion callback to invoke after the
    * action has run. */
  def observeBatch(df: org.apache.spark.sql.DataFrame, name: String,
                   prefix: String = "graft",
                   report: String => Unit = _ => ())
      : (org.apache.spark.sql.DataFrame, () => Map[String, Any]) = {
    import org.apache.spark.sql.functions._
    val (instrumented, read) = graft.core.EngineCache.observed(df, count(lit(1)))
    val finish = () => {
      val metrics = Map[String, Any]("rows" -> read().getLong(0))
      metrics.foreach {
        case (k, v: Long) => report(s"$prefix.$name.$k:$v|c")
        case (k, v) => report(s"$prefix.$name.$k:$v|g")
      }
      metrics
    }
    (instrumented, finish)
  }

  /** StatsD UDP reporter — fire-and-forget datagrams, the protocol's
    * contract (a dead agent must never stall the pipeline; the reference
    * got the same decoupling from its dropping-buffer channel,
    * telemetry.clj:56-60). */
  def udpReporter(host: String, port: Int): String => Unit = {
    val socket = new DatagramSocket()
    val addr = InetAddress.getByName(host)
    line => {
      val bytes = line.getBytes(StandardCharsets.UTF_8)
      try socket.send(new DatagramPacket(bytes, bytes.length, addr, port))
      catch { case _: java.io.IOException => () } // never fail the pipeline
    }
  }

  // ------------------------------------------------------- riemann wire

  /** Hand-rolled encoder for the Riemann protobuf protocol's `Msg` with
    * one `Event` — the OTHER half of the reference's reporter split
    * (telemetry.clj:18-28 prefers a Riemann reporter when `riemann-host`
    * is configured, StatsD otherwise; this module mirrors the split with
    * the same metric stream on both wires). Field numbers are the
    * public riemann protocol's Proto.proto: Msg.events = 6;
    * Event.time = 1, state = 2, service = 3, host = 4, metric_d = 14.
    * Hand-encoding (~20 lines) beats a protobuf dependency the build
    * cannot add, and the spec decodes the bytes with an independently
    * spelled reader. */
  private[streaming] def riemannMsgBytes(host: String, service: String,
                                         metric: Double, state: String,
                                         timeSec: Long): Array[Byte] = {
    val bb = new java.io.ByteArrayOutputStream()
    def varint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def str(out: java.io.ByteArrayOutputStream, field: Int, s: String): Unit = {
      val b = s.getBytes(StandardCharsets.UTF_8)
      out.write((field << 3) | 2); varint(out, b.length.toLong); out.write(b)
    }
    val ev = new java.io.ByteArrayOutputStream()
    ev.write((1 << 3) | 0); varint(ev, timeSec)                  // time
    str(ev, 2, state)                                            // state
    str(ev, 3, service)                                          // service
    str(ev, 4, host)                                             // host
    ev.write((14 << 3) | 1)                                      // metric_d
    val bits = java.lang.Double.doubleToLongBits(metric)
    (0 until 8).foreach(i => ev.write(((bits >>> (8 * i)) & 0xff).toInt))
    val evb = ev.toByteArray
    bb.write((6 << 3) | 2); varint(bb, evb.length.toLong); bb.write(evb)
    bb.toByteArray
  }

  /** Parse one of this module's StatsD lines (`service:value|type`) —
    * the seam that lets the Riemann reporter carry the SAME metric
    * stream the StatsD one does. */
  private[graft] def parseStatsdLine(line: String): Option[(String, Double)] = {
    val colon = line.lastIndexOf(':')
    val pipe = line.lastIndexOf('|')
    if (colon <= 0 || pipe <= colon) None
    else scala.util.Try(
      line.substring(0, colon) -> line.substring(colon + 1, pipe).toDouble
    ).toOption
  }

  /** Riemann reporter — plugs into the same `report: String => Unit`
    * seam as [[udpReporter]], so attaching it is a config choice, not a
    * code path (the reference's exact arrangement, telemetry.clj:38-42).
    * Each metric line becomes one protobuf `Msg` — UDP: the datagram is
    * the frame; TCP: 4-byte big-endian length prefix, the stream
    * protocol's framing. Failures drop the sample (and the TCP socket,
    * for reconnect on the next report) rather than ever stalling the
    * pipeline; the server's TCP ack is read and discarded. `clock`
    * injects event time for tests. */
  def riemannReporter(host: String, port: Int, proto: String = "udp",
                      localHost: String = java.net.InetAddress.getLocalHost.getHostName,
                      clock: () => Long = () => System.currentTimeMillis() / 1000)
      : String => Unit = {
    require(proto == "udp" || proto == "tcp", s"proto must be udp|tcp: $proto")
    val addr = InetAddress.getByName(host)
    lazy val udpSocket = new DatagramSocket()
    var tcp: java.net.Socket = null
    line => parseStatsdLine(line).foreach { case (service, value) =>
      val msg = riemannMsgBytes(localHost, service, value, "ok", clock())
      try {
        if (proto == "udp")
          udpSocket.send(new DatagramPacket(msg, msg.length, addr, port))
        else {
          if (tcp == null || tcp.isClosed) {
            tcp = new java.net.Socket(addr, port)
            tcp.setSoTimeout(2000)
          }
          val out = tcp.getOutputStream
          val len = msg.length
          out.write(Array[Byte]((len >>> 24).toByte, (len >>> 16).toByte,
            (len >>> 8).toByte, len.toByte))
          out.write(msg); out.flush()
          // drain the ack frame (4-byte length + Msg{ok}) best-effort
          val in = tcp.getInputStream
          val hdr = new Array[Byte](4)
          var read = 0
          while (read >= 0 && read < 4) {
            val n = in.read(hdr, read, 4 - read)
            if (n < 0) read = -1 else read += n
          }
          if (read == 4) {
            val ackLen = ((hdr(0) & 0xff) << 24) | ((hdr(1) & 0xff) << 16) |
              ((hdr(2) & 0xff) << 8) | (hdr(3) & 0xff)
            if (ackLen >= 0 && ackLen < (1 << 16)) in.skip(ackLen.toLong)
          }
        }
      } catch {
        case _: java.io.IOException =>
          if (tcp != null) { scala.util.Try(tcp.close()); tcp = null }
      }
    }
  }
}
