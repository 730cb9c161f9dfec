package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A small edge list held on the driver as dense node indices — the
  * shared small-graph path of k-core and connected components. Their
  * graphs are thresholded OUTPUT (a support filter, LSH pairs), orders
  * of magnitude smaller than the fact table, and a multi-round
  * distributed fixpoint on a few thousand edges is pure job-scheduling
  * latency — the same size-gated strategy switch Spark itself makes
  * when it broadcasts a small join side. Driver heap at the
  * [[DriverGraph.EdgeLimit]] gate: 32 MB for the streamed edge arrays
  * (16 B/edge) plus the sorted ids and index arrays, all transient.
  * `ids` are the sorted distinct endpoint ids (node i is `ids(i)`);
  * edge e runs between nodes `src(e)` and `dst(e)`. */
private[graft] final class DriverGraph(val ids: Array[Long],
                                       val src: Array[Int],
                                       val dst: Array[Int]) {

  /** (id, value) per node as a frame built from broadcast arrays — no
    * driver-side Seq of rows. */
  def frame(spark: SparkSession, values: Array[Long],
            idCol: String, valueCol: String): DataFrame = {
    val bIds = spark.sparkContext.broadcast(ids)
    val bVals = spark.sparkContext.broadcast(values)
    val sq = spark
    import sq.implicits._
    spark.range(0, ids.length.toLong)
      .map(i => (bIds.value(i.toInt), bVals.value(i.toInt)))
      .toDF(idCol, valueCol)
  }
}

private[graft] object DriverGraph {
  val EdgeLimit = 2000000L

  /** Stream `edges` (two long columns) onto the driver when it has at
    * most [[EdgeLimit]] rows — `toLocalIterator`, one partition
    * buffered at a time, never an Array[Row] of the whole list — and
    * relabel its endpoints densely. Over the limit: None, with `edges`
    * left persisted for the caller's distributed loop. */
  def load(edges: DataFrame): Option[DriverGraph] = {
    val persisted = EngineCache.persisted(edges)
    val n0 = persisted.count()
    if (n0 > EdgeLimit) return None
    val n = n0.toInt
    val a = new Array[Long](n)
    val b = new Array[Long](n)
    val it = persisted.toLocalIterator()
    var i = 0
    while (it.hasNext) {
      val r = it.next(); a(i) = r.getLong(0); b(i) = r.getLong(1); i += 1
    }
    persisted.unpersist()
    // dense relabel: sorted distinct endpoint ids -> [0, m)
    val all = new Array[Long](2 * n)
    System.arraycopy(a, 0, all, 0, n)
    System.arraycopy(b, 0, all, n, n)
    java.util.Arrays.sort(all)
    var m = 0
    var j = 0
    while (j < all.length) {
      if (m == 0 || all(j) != all(m - 1)) { all(m) = all(j); m += 1 }
      j += 1
    }
    val ids = java.util.Arrays.copyOf(all, m)
    Some(new DriverGraph(ids,
      a.map(x => java.util.Arrays.binarySearch(ids, x)),
      b.map(x => java.util.Arrays.binarySearch(ids, x))))
  }
}
