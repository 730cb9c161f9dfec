package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the engine.
  *
  * The reference (uswitch/bifrost, /root/reference) wires its "system" at boot
  * from an EDN config (main.clj:25-37, system.clj:41-48); our analog is a
  * session builder with scale-aware defaults. Local mode is for tests only —
  * every knob here is chosen to behave identically on a multi-executor
  * cluster (AQE, shuffle partitioning, broadcast threshold).
  */
object GraftSession {

  /** Shared tuning applied to any builder (local or cluster). */
  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // AQE: runtime coalescing of small shuffle partitions + skew-join
      // splitting. At 100 TB this is what keeps a static partition count
      // from being wrong in both directions.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Columnar at rest: zstd compresses ~2x better than snappy at similar
      // scan cost — at 100 TB the scan is I/O bound, so this is a win.
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.parquet.filterPushdown", "true")
      // Spark 4.1's checksum checkpoint manager deadlocks under local[n]
      // (every task parks in ChecksumCheckpointFileManager.awaitResult on
      // futures that never complete — observed via jstack in this repo's
      // test suite). Checkpoint integrity at scale comes from the object
      // store; disable the checksum wrapper.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // `file:` paths through the NIO local filesystem (NioLocalFs.scala).
      // Without the native libhadoop, which the Spark distribution does
      // not ship, stock Hadoop forks a `chmod` for every file, `.crc` and
      // `_temporary` dir it creates and a `readlink` for every FileContext
      // rename (each checkpoint-log commit). Both classes keep the `.crc`
      // checksums on. Other schemes are untouched.
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[NioLocalFs].getName)
      // Dimension tables (region/nation/supplier/customer at any SF that
      // matters) broadcast; 64 MB is safe with multi-GB executors.
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // Join strategy (guide §3.1): let the planner pick shuffled-hash
      // over sort-merge when one side's per-partition build fits (its
      // size gate is autoBroadcastJoinThreshold × shuffle partitions, so
      // the bound scales with the partition count a cluster runs), and
      // let AQE rewrite a planned SMJ to SHJ at runtime when every
      // post-shuffle partition is under the local-map threshold — a
      // PER-PARTITION bound, so at 100 TB (where partitions are sized
      // 100 MB-1 GB) it degrades to the sort-merge default on its own.
      // Skew stays covered: AQE skew-join splitting applies to SHJ too.
      // Both env-overridable for A/B and for clusters that want the
      // conservative default back.
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "false"))
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_LOCAL_MAP", (64L * 1024 * 1024).toString))
      // events.ts is parquet TIMESTAMP(NANOS) in some fixture generations,
      // which the vectorized reader rejects; read nanos as long session-wide
      // (Tables.load converts, and passes TIMESTAMP_NTZ fixtures through).
      // Set here, once, at build time — not as a hidden per-load mutation.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The SQL status store retains up to 1000 executions' plan graphs
      // (strings, per-stage metrics) even with the UI off; across a
      // 143-query bench/verify run in one JVM that is hundreds of MB of
      // driver heap that the per-query cache clearing cannot touch —
      // observed as queries late in the run degrading 2-4x. A long-lived
      // service session wants the same cap.
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.worker.ui.retainedExecutors", "10")

  /** Local session for tests/bench. `cpus` mirrors executor-core count. */
  def local(appName: String = "graft", cpus: Int = 32): SparkSession = {
    val s = tune(
      SparkSession.builder().master(s"local[$cpus]").appName(appName),
      shufflePartitions = cpus
    ).config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
