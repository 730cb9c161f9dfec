package graft.core

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Registry for DataFrames the engine persists on the caller's session.
  *
  * Several operators persist a shared intermediate (LSH signatures,
  * pruned edge lists, BM25 postings) because the result plan references
  * it more than once and Spark inlines multiply-referenced CTEs. The
  * returned DataFrame is lazy, so the operator itself can never
  * unpersist — the cache must outlive the call and be dropped only
  * after the CALLER materializes the result. This object is that
  * contract: every engine persist routes through [[persisted]], and a
  * caller (bench harness, test suite, library user) reclaims all engine
  * cache in one call with [[releaseAll]] once it has consumed the
  * results it needs. Entries are held strongly until released: the
  * session's CacheManager keys a cache by plan, so the cache outlives
  * the Dataset object, and an operator that keeps only a temp view of a
  * persisted frame must still find that frame here at release.
  */
object EngineCache {
  // value = id of the thread that registered the frame (the thread that
  // BUILT the query plan), for [[releaseOwned]]'s concurrency scoping
  private val tracked =
    new java.util.IdentityHashMap[Dataset[_], java.lang.Long]()

  /** Persist `ds` at MEMORY_AND_DISK and track it for release. */
  def persisted[T](ds: Dataset[T]): Dataset[T] = synchronized {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    tracked.put(ds, Thread.currentThread().getId)
    ds
  }

  /** Unpersist every frame the engine persisted since the last release.
    * Call after materializing operator results; dropped frames
    * recompute (correctly, without the cache) if re-consumed later.
    * NOT safe while OTHER queries are mid-flight on the same session:
    * yanking an InMemoryRelation out from under a concurrently executing
    * plan has been observed to produce an empty (not recomputed) scan —
    * concurrent harnesses must use [[releaseOwned]] instead. */
  def releaseAll(): Unit = synchronized {
    tracked.keySet.forEach(d => d.unpersist(blocking = false))
    tracked.clear()
  }

  /** Unpersist only the frames registered by THE CALLING THREAD — the
    * release for concurrent per-query harnesses (Verify's worker pool):
    * a worker builds its query's plan, materializes the result, then
    * frees its own intermediates without touching frames a neighboring
    * in-flight query still reads. */
  def releaseOwned(): Unit = synchronized {
    val me = Thread.currentThread().getId
    val it = tracked.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue == me) {
        e.getKey.unpersist(blocking = false)
        it.remove()
      }
    }
  }
}
