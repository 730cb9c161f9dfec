package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.core.EngineCache
import graft.llm.Dedup

/** The per-round barrier [[EngineCache.cut]]: its observed row is the
  * aggregate of the frame, it costs no job beyond the checkpoint's own,
  * it leaves a leaf plan, and its blocks are freed by the release; plus
  * the connected-components loop built on it. */
class EngineCacheSpec extends SparkSpec {

  private def frame: DataFrame =
    spark.range(0, 1000, 1, 4).select((col("id") % 7).as("k"), col("id"))
      .groupBy("k").agg(sum("id").as("s"), count(lit(1)).as("n"))

  private val metrics = Seq(count(lit(1)), sum(col("s")),
    max(col("s").cast("decimal(38,0)")))

  /** Jobs started by `body` under a fresh job group, counted by a
    * listener. A trailing marker job under its own group flushes the
    * listener: events reach a listener in order, so once the marker's
    * start is seen every earlier job start has been counted. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"cut-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "cut")
      body
      sc.setJobGroup(marker, "marker")
      sc.parallelize(Seq(1), 1).count()
      eventually(timeout(30.seconds)) { assert(seen.contains(marker)) }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    seen.toArray.count(_ == group)
  }

  test("cut's observed row equals a separate aggregate of the same metrics") {
    val (out, row) = EngineCache.cut(frame, metrics: _*)
    assert(row === frame.agg(metrics.head, metrics.tail: _*).head())
    assert(row.getLong(0) === 7L)
    assert(out.count() === 7L)
    EngineCache.releaseAll()
  }

  test("cut with metrics runs no more jobs than cut without them") {
    val plain = jobsOf(EngineCache.cut(frame))
    val observed = jobsOf(EngineCache.cut(frame, metrics: _*))
    assert(plain > 0, "the checkpoint itself must run under the job group")
    assert(observed === plain,
      "the metrics must ride the checkpoint's own job, not a second action")
    EngineCache.releaseAll()
  }

  test("cut returns a frame whose logical plan is a leaf") {
    val (out, row) = EngineCache.cut(frame.join(frame, "k"))
    assert(out.queryExecution.logical.isInstanceOf[LeafNode],
      s"not a lineage cut:\n${out.queryExecution.logical}")
    assert(row.length === 0)
    assert(out.count() === 7L)
    EngineCache.releaseAll()
  }

  test("releaseOwned frees a cut's checkpoint blocks") {
    EngineCache.releaseAll()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val (out, _) = EngineCache.cut(frame, count(lit(1)))
    assert(out.count() === 7L)
    assert(sc.getPersistentRDDs.size > before, "the cut must hold its blocks")
    EngineCache.releaseOwned()
    assert(sc.getPersistentRDDs.size === before)
  }

  test("connected components' distributed path finishes a 60-node chain") {
    val sq = spark
    import sq.implicits._
    // diameter 59: the min-label propagation loop this path replaced
    // moved the min one hop per round and threw past 20 rounds
    val chain = (0 until 59).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    val comp = Dedup.connectedComponentsStar(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.keySet === (0L to 59L).toSet)
    assert(comp.values.forall(_ == 0L), "every chain node joins component 0")
    // a self-pair keeps its node, as on the driver path
    val loops = Seq((5L, 5L), (7L, 7L), (7L, 3L)).toDF("id_a", "id_b")
    def labels(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(Dedup.connectedComponentsStar(loops)) === Map(5L -> 5L, 7L -> 3L, 3L -> 3L))
    assert(labels(Dedup.connectedComponents(loops)) === Map(5L -> 5L, 7L -> 3L, 3L -> 3L))
    EngineCache.releaseAll()
  }
}
