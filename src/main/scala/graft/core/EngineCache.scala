package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Registry for DataFrames the engine persists on the caller's session.
  *
  * Several operators persist a shared intermediate (LSH signatures,
  * pruned edge lists, BM25 postings) because the result plan references
  * it more than once and Spark inlines multiply-referenced CTEs. The
  * returned DataFrame is lazy, so the operator itself can never
  * unpersist — the cache must outlive the call and be dropped only
  * after the CALLER materializes the result. This object is that
  * contract: every engine persist routes through [[persisted]], every
  * per-round barrier of an iterative loop through [[cut]], and a
  * caller (bench harness, test suite, library user) reclaims all engine
  * cache in one call with [[releaseAll]] once it has consumed the
  * results it needs. Entries are held strongly until released: the
  * session's CacheManager keys a cache by plan, so the cache outlives
  * the Dataset object, and an operator that keeps only a temp view of a
  * persisted frame must still find that frame here at release.
  */
object EngineCache {
  // key = a persisted Dataset or a cut's checkpointed RDD; value = id of
  // the thread that registered it (the thread that BUILT the query
  // plan), for [[releaseOwned]]'s concurrency scoping
  private val tracked = new java.util.IdentityHashMap[AnyRef, java.lang.Long]()

  private def track(o: AnyRef): Unit = synchronized {
    tracked.put(o, Thread.currentThread().getId)
  }

  private def free(o: AnyRef): Unit = o match {
    case d: Dataset[_] => d.unpersist(blocking = false)
    case r: RDD[_] => r.unpersist(blocking = false)
  }

  /** Persist `ds` at MEMORY_AND_DISK and track it for release. */
  def persisted[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    track(ds)
    ds
  }

  /** The per-round barrier of an iterative loop: materialize `df` in one
    * job and cut its lineage, reading the round's convergence or size
    * scalars off that same job.
    *
    * Why a cut and not a persist: a round's plan embeds the previous
    * round's, usually more than once (a self-union, a join back onto
    * the state), so an un-truncated loop's analyzed tree grows with
    * every round — exponentially where a frame is referenced twice —
    * and a persist caches only DATA: the planner still walks the full
    * logical tree per action. An eager `localCheckpoint` replaces the
    * round with an RDD leaf, so round k plans as fast as round 1.
    * `metrics` (aggregate columns) ride that job as an `Observation`
    * instead of costing a second action; the returned row holds them in
    * argument order (`Row.empty` when none are given). The checkpoint's
    * blocks are registered here, so [[releaseOwned]]/[[releaseAll]] free
    * them like a persisted frame — and, as with a persist, only after
    * the caller has consumed every frame built on the cut: a released
    * checkpoint block cannot be recomputed. The cut frame's plan-time
    * size is the optimizer's estimate for `df`, not the data's real size
    * (a materialized persist reports the latter), so a join that should
    * broadcast cut state must say so, e.g. `ScaleOps.bcastIfSmall` with
    * a row count read off the cut. The blocks live on the executors; a
    * fault-tolerant cut on a cluster would use the reliable `checkpoint`
    * against `spark.checkpoint.dir` instead. */
  def cut(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val (watched, read) = observed(df, metrics: _*)
    val out = watched.localCheckpoint(eager = true)
    out.queryExecution.logical match {
      case l: LogicalRDD => track(l.rdd)
      case _ =>
    }
    (out, read())
  }

  /** `df` carrying a fresh `Observation` of `metrics` (aggregate
    * columns), and the reader of the observed row: call it after the
    * one action that runs the returned frame; it blocks until that
    * action's metrics arrive and returns them in argument order
    * (`Row.empty` when none are given). The one observe-then-read
    * spelling: [[cut]], the ingest pipeline's landing barrier and
    * `Telemetry.observeBatch` read their scalars through it. */
  def observed(df: DataFrame, metrics: Column*): (DataFrame, () => Row) =
    if (metrics.isEmpty) (df, () => Row.empty)
    else {
      val obs = Observation()
      val named = metrics.zipWithIndex.map { case (m, i) => m.as(s"m$i") }
      (df.observe(obs, named.head, named.tail: _*), { () =>
        val m = obs.get
        Row.fromSeq(metrics.indices.map(i => m(s"m$i")))
      })
    }

  /** Unpersist every frame the engine persisted, and every cut it made,
    * since the last release. Call after materializing operator results;
    * dropped persists recompute (correctly, without the cache) if
    * re-consumed later. NOT safe while OTHER queries are mid-flight on
    * the same session: yanking an InMemoryRelation out from under a
    * concurrently executing plan has been observed to produce an empty
    * (not recomputed) scan — concurrent harnesses must use
    * [[releaseOwned]] instead. */
  def releaseAll(): Unit = synchronized {
    tracked.keySet.forEach(o => free(o))
    tracked.clear()
  }

  /** Unpersist only the frames and cuts registered by THE CALLING
    * THREAD — the release for concurrent per-query harnesses (Verify's
    * worker pool): a worker builds its query's plan, materializes the
    * result, then frees its own intermediates without touching frames a
    * neighboring in-flight query still reads. */
  def releaseOwned(): Unit = synchronized {
    val me = Thread.currentThread().getId
    val it = tracked.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue == me) {
        free(e.getKey)
        it.remove()
      }
    }
  }
}
