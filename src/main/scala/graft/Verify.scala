package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * oracle_sql.json is written FIRST: if the harness's wall-clock timeout
  * kills this process mid-run, the already-dumped queries still get
  * compared (observed failure mode: timeout before the trailing json
  * write → the whole round's correctness artifact came back empty).
  *
  * Queries run on a small concurrent pool (SPARK_GRAFT_VERIFY_WORKERS,
  * default 4): at sf0.01 each query underuses the session's cores, so
  * 4-way overlap cuts the dump's wall time ~3× — and a single wedged
  * query stalls ONE worker, not the whole loop (the failure that emptied
  * round 4's artifact). Safe because every query registers identical
  * temp views (same sfDir → same parquet), no operator mutates session
  * conf, the session carries every graft function from its build (so no
  * query writes the function registry while others run), and outputs go
  * to disjoint directories. Each query still gets a
  * watchdog (SPARK_GRAFT_QUERY_TIMEOUT, default 120 s — a scheduled
  * cancelJobGroup) and the whole run a deadline
  * (SPARK_GRAFT_VERIFY_DEADLINE, default 900 s) after which remaining
  * queries are skipped and stragglers are cancelled. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // 8 cores (not 32): with 4 concurrent queries the aggregate
    // parallelism is what keeps the driver box busy; one fat session
    // would just queue the tiny sf0.01 stages behind each other
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val workers = sys.env.getOrElse("SPARK_GRAFT_VERIFY_WORKERS", "4").toInt
    val perQueryTimeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "120").toLong
    val deadlineSec =
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_DEADLINE", "900").toLong
    val spark = graft.core.GraftSession.tune(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // dev loop: SPARK_GRAFT_QUERIES=q46,q51 dumps only matching prefixes
    // (oracle_sql.json always carries every oracle; tools/check.py skips
    // result dirs that weren't dumped)
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSeq)
    // numeric order (q01..q134): if the deadline ever hits, what gets
    // skipped is the newest-query suffix, never the core suite
    def qnum(n: String): Int =
      n.drop(1).takeWhile(_.isDigit) match { case "" => Int.MaxValue; case d => d.toInt }
    val selected = SparkEntry.queries.toSeq.sortBy { case (n, _) => (qnum(n), n) }
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }

    def daemonFactory(prefix: String) = new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"$prefix-${n.incrementAndGet()}")
        t.setDaemon(true); t
      }
    }
    val pool = Executors.newFixedThreadPool(workers, daemonFactory("verify"))
    val watchdog = Executors.newScheduledThreadPool(1, daemonFactory("verify-watchdog"))
    val done = new java.util.concurrent.atomic.AtomicInteger
    // name -> error for queries that dumped nothing. Written as
    // errors.json beside the result dirs (and rewritten as failures
    // accrue): a query that throws produces NO parquet, and a
    // compare that only walks result dirs would silently omit it —
    // the driver's round-7 artifact listed 121/143 queries with the
    // 22 events-table failures invisible. The sidecar keeps the
    // correctness artifact and the bench errors consistent.
    val failed = new java.util.concurrent.ConcurrentHashMap[String, String]()
    // Serialized under `failed` AND written via temp-file + ATOMIC_MOVE:
    // up to 4 workers call this concurrently, and two interleaved
    // truncate-and-write handles on the same path can leave a torn
    // errors.json that downstream json.load chokes on.
    def writeErrors(): Unit = failed.synchronized {
      val entries = failed.entrySet().toArray(
        Array.empty[java.util.Map.Entry[String, String]])
        .sortBy(_.getKey)
        .map(e => s"${q(e.getKey)}: ${q(e.getValue.take(200))}")
      val tmp = Paths.get(s"$outDir/.errors.json.tmp")
      Files.writeString(tmp, entries.mkString("{", ",", "}"))
      Files.move(tmp, Paths.get(s"$outDir/errors.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    writeErrors() // {} when everything dumps
    val loopStart = System.nanoTime()

    selected.foreach { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          if ((System.nanoTime() - loopStart) / 1e9 > deadlineSec) {
            System.err.println(s"[verify] $name SKIPPED: past ${deadlineSec}s deadline")
            failed.put(name, "DeadlineSkip"); writeErrors()
            return
          }
          // job group is thread-local: this worker's jobs only, so the
          // watchdog can cancel THIS query without touching neighbors
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          val killer = watchdog.schedule(new Runnable {
            def run(): Unit = {
              System.err.println(s"[verify] $name TIMEOUT after ${perQueryTimeoutSec}s")
              spark.sparkContext.cancelJobGroup(name)
            }
          }, perQueryTimeoutSec, TimeUnit.SECONDS)
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch {
            case e: Throwable =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
              failed.put(name,
                s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}")
              writeErrors()
          } finally {
            killer.cancel(false)
            spark.sparkContext.clearJobGroup()
            // Operators persist intermediates (LSH signatures, edge lists,
            // BM25 postings) for the duration of their query; without a
            // release the 140+-query single-JVM run accretes cache until
            // the heap feels it. Scoped to THIS worker's frames: a global
            // releaseAll()/clearCache() here once yanked a neighboring
            // in-flight query's cached frame mid-execution and produced an
            // EMPTY scan (observed: q68 wrote 0 rows at sf0.1), so only
            // frames this thread registered are freed.
            graft.core.EngineCache.releaseOwned()
            // Spark frees broadcast/shuffle blocks via the ContextCleaner,
            // which only drains when the JVM GCs; give it a beat to drain
            // every couple dozen queries (cheap, and keeps a 134-query
            // single-JVM run from accreting blocks until the heap thrashes)
            if (done.incrementAndGet() % 24 == 0) System.gc()
          }
        }
      })
    }
    pool.shutdown()
    // budget: the deadline plus one watchdog period for stragglers that
    // started just under the wire, plus unwind slack
    if (!pool.awaitTermination(deadlineSec + perQueryTimeoutSec + 30, TimeUnit.SECONDS)) {
      System.err.println("[verify] pool did not quiesce — cancelling all jobs")
      spark.sparkContext.cancelAllJobs()
      pool.shutdownNow()
      pool.awaitTermination(30, TimeUnit.SECONDS)
    }
    spark.stop()
    sys.exit(0)
  }
}
