package graft

import java.net.{DatagramPacket, DatagramSocket, InetAddress}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import graft.streaming.{Archive, Telemetry}
import graft.streaming.Archive.ArchiveConfig
import graft.sources.ObjectStore

/** Telemetry (reference A18) + bounded in-flight data (A15/A16): a
  * rate-limited archive run must (a) surface per-batch progress through
  * the listener and (b) admit no more than the configured bound per
  * micro-batch. Plus the StatsD wire path and object-store path helpers. */
class TelemetrySpec extends SparkSpec {

  test("rate-limited archive emits telemetry and bounds every micro-batch") {
    val sq = spark
    import sq.implicits._
    val srcDir = Files.createTempDirectory("tel-src").toString
    val out = Files.createTempDirectory("tel-out").toString
    val ckpt = Files.createTempDirectory("tel-ckpt").toString

    // 4 files x 3 rows, written one at a time so each is its own file
    val rowsPerFile = 3
    (0 until 4).foreach { f =>
      (0 until rowsPerFile).map { i =>
        (Array.empty[Byte], s"v$f-$i".getBytes("UTF-8"), "orders", f,
          (f * rowsPerFile + i).toLong, new Timestamp(1700000000000L))
      }.toDF("key", "value", "topic", "partition", "offset", "timestamp")
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val schema = spark.read.parquet(srcDir).schema

    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tel = Telemetry.attach(spark, "graft", lines.add(_))
    try {
      // maxFilesPerTrigger=1 is the file-source form of the Kafka
      // maxOffsetsPerTrigger knob: one file's rows per micro-batch, max
      val src = Archive.fileSource(spark, srcDir, schema, maxFilesPerTrigger = 1)
      val q = Archive.start(src, ArchiveConfig(out, ckpt,
        rotationInterval = "1 seconds", queryName = Some("archive_test")))
      q.processAllAvailable()
      q.stop()

      // listener events are async — give the bus a moment to drain
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      def stats = tel.snapshot.get("archive_test")
      while (System.nanoTime() < deadline &&
             !stats.exists(_.totalRows == 4L * rowsPerFile)) Thread.sleep(100)

      val s = stats.getOrElse(fail("no telemetry snapshot for archive_test"))
      assert(s.totalRows === 4L * rowsPerFile)
      // bounded in-flight: 4 files at 1 file/trigger is at least 4 batches…
      assert(s.batches >= 4, s"expected >= 4 rate-limited batches, got $s")
      // …and no single batch admitted more than one file's rows
      val perBatch = lines.asScala.toSeq
        .filter(_.startsWith("graft.archive_test.input_rows:"))
        .map(_.stripPrefix("graft.archive_test.input_rows:").stripSuffix("|c").toLong)
      assert(perBatch.nonEmpty && perBatch.max <= rowsPerFile,
        s"micro-batch exceeded the admission bound: $perBatch")
      assert(perBatch.sum === 4L * rowsPerFile)
      // rate + duration gauges present
      assert(lines.asScala.exists(_.startsWith("graft.archive_test.rows_per_sec:")))
      assert(lines.asScala.exists(_.startsWith("graft.archive_test.batch_duration_ms:")))
      // and the archive content is intact
      assert(Archive.readArchive(spark, out).count() === 4L * rowsPerFile)
    } finally spark.streams.removeListener(tel)
  }

  test("udp reporter delivers statsd datagrams (loopback)") {
    val sock = new DatagramSocket(0, InetAddress.getByName("127.0.0.1"))
    try {
      sock.setSoTimeout(5000)
      val report = Telemetry.udpReporter("127.0.0.1", sock.getLocalPort)
      report("graft.q.rows_per_sec:42.00|g")
      val buf = new Array[Byte](512)
      val pkt = new DatagramPacket(buf, buf.length)
      sock.receive(pkt)
      assert(new String(pkt.getData, 0, pkt.getLength, StandardCharsets.UTF_8)
        === "graft.q.rows_per_sec:42.00|g")
    } finally sock.close()
  }

  // independently spelled protobuf reader (varint + fields), so the
  // riemann wire test never shares code with the encoder under test
  private def decodeRiemannMsg(b: Array[Byte]): Map[String, Any] = {
    var i = 0
    def varint(): Long = {
      var v = 0L; var shift = 0
      while ({ val x = b(i) & 0xff; i += 1
               v |= (x & 0x7fL) << shift; shift += 7; (x & 0x80) != 0 }) ()
      v
    }
    var out = Map.empty[String, Any]
    while (i < b.length) {
      val tag = varint(); val field = (tag >>> 3).toInt; val wire = (tag & 7).toInt
      (field, wire) match {
        case (6, 2) => // events: recurse into the embedded Event
          val len = varint().toInt
          val ev = b.slice(i, i + len); i += len
          var j = 0
          def evVarint(): Long = {
            var v = 0L; var shift = 0
            while ({ val x = ev(j) & 0xff; j += 1
                     v |= (x & 0x7fL) << shift; shift += 7; (x & 0x80) != 0 }) ()
            v
          }
          while (j < ev.length) {
            val t = evVarint(); val f = (t >>> 3).toInt; val w = (t & 7).toInt
            (f, w) match {
              case (1, 0) => out += ("time" -> evVarint())
              case (2, 2) => val l = evVarint().toInt
                out += ("state" -> new String(ev, j, l, StandardCharsets.UTF_8)); j += l
              case (3, 2) => val l = evVarint().toInt
                out += ("service" -> new String(ev, j, l, StandardCharsets.UTF_8)); j += l
              case (4, 2) => val l = evVarint().toInt
                out += ("host" -> new String(ev, j, l, StandardCharsets.UTF_8)); j += l
              case (14, 1) =>
                var bits = 0L
                (0 until 8).foreach(k => { bits |= (ev(j + k) & 0xffL) << (8 * k) })
                j += 8
                out += ("metric" -> java.lang.Double.longBitsToDouble(bits))
              case (_, 0) => evVarint()
              case (_, 2) => val l = evVarint().toInt; j += l
              case (_, 1) => j += 8
              case other => fail(s"unexpected event field $other")
            }
          }
        case (_, 0) => varint()
        case (_, 2) => val l = varint().toInt; i += l
        case other => fail(s"unexpected msg field $other")
      }
    }
    out
  }

  test("riemann udp reporter carries the statsd metric stream as protobuf events") {
    val sock = new DatagramSocket(0, InetAddress.getByName("127.0.0.1"))
    try {
      sock.setSoTimeout(5000)
      val report = Telemetry.riemannReporter("127.0.0.1", sock.getLocalPort,
        proto = "udp", localHost = "spec-host", clock = () => 1700000000L)
      report("graft.q.rows_per_sec:42.50|g")
      val buf = new Array[Byte](512)
      val pkt = new DatagramPacket(buf, buf.length)
      sock.receive(pkt)
      val ev = decodeRiemannMsg(java.util.Arrays.copyOf(pkt.getData, pkt.getLength))
      assert(ev("service") === "graft.q.rows_per_sec")
      assert(ev("host") === "spec-host")
      assert(ev("metric") === 42.5)
      assert(ev("state") === "ok")
      assert(ev("time") === 1700000000L)
    } finally sock.close()
  }

  test("riemann tcp reporter length-prefixes frames and survives a dead server") {
    val server = new java.net.ServerSocket(0, 1, InetAddress.getByName("127.0.0.1"))
    val got = new java.util.concurrent.LinkedBlockingQueue[Array[Byte]]()
    val t = new Thread(() => {
      val s = server.accept()
      val in = s.getInputStream
      val hdr = new Array[Byte](4)
      var read = 0
      while (read < 4) read += in.read(hdr, read, 4 - read)
      val len = ((hdr(0) & 0xff) << 24) | ((hdr(1) & 0xff) << 16) |
        ((hdr(2) & 0xff) << 8) | (hdr(3) & 0xff)
      val body = new Array[Byte](len)
      var r2 = 0
      while (r2 < len) r2 += in.read(body, r2, len - r2)
      got.put(body)
      // minimal ack: empty Msg (the client drains and discards it)
      s.getOutputStream.write(Array[Byte](0, 0, 0, 0))
      s.getOutputStream.flush()
      s.close()
    })
    t.setDaemon(true); t.start()
    try {
      val report = Telemetry.riemannReporter("127.0.0.1", server.getLocalPort,
        proto = "tcp", localHost = "spec-host", clock = () => 1700000001L)
      report("graft.q.batch_duration_ms:120|ms")
      val body = got.poll(5, java.util.concurrent.TimeUnit.SECONDS)
      assert(body != null, "server never received a frame")
      val ev = decodeRiemannMsg(body)
      assert(ev("service") === "graft.q.batch_duration_ms")
      assert(ev("metric") === 120.0)
      // dead-server honesty: reports after the server is gone must not
      // throw (the socket drops, pipeline continues)
      server.close()
      report("graft.q.batch_duration_ms:1|ms")
      report("graft.q.batch_duration_ms:2|ms")
    } finally scala.util.Try(server.close())
  }

  test("statsd line parser: services with colons in values never misparse") {
    assert(Telemetry.parseStatsdLine("a.b.c:42.00|g") === Some(("a.b.c", 42.0)))
    assert(Telemetry.parseStatsdLine("x:1|c") === Some(("x", 1.0)))
    assert(Telemetry.parseStatsdLine("junk") === None)
    assert(Telemetry.parseStatsdLine("no.value:|g") === None)
  }

  test("object-store path helpers produce scheme-correct URIs") {
    assert(ObjectStore.s3aPath("archive-bucket", "/topics/v1")
      === "s3a://archive-bucket/topics/v1")
    assert(ObjectStore.abfssPath("archive", "prodacct", "topics/v1")
      === "abfss://archive@prodacct.dfs.core.windows.net/topics/v1")
    // credential helpers write the hadoop conf the connectors read
    ObjectStore.configureAzure(spark, "prodacct", "base64key==")
    assert(spark.sparkContext.hadoopConfiguration
      .get("fs.azure.account.key.prodacct.dfs.core.windows.net") === "base64key==")
    ObjectStore.configureS3(spark, "AKIDEXAMPLE", "s3secret")
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.s3a.access.key") === "AKIDEXAMPLE")
    assert(hc.get("fs.s3a.secret.key") === "s3secret")
  }
}
