package graft

import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, VectorAggregates}

/** Native function + UDAF layer: the codegen'd cosine kernel and the
  * bounded aggregators against their composable references. */
class FunctionsSpec extends SparkSpec {

  private def names(s: SparkSession) =
    s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet

  /** `f` over a fresh session on the shared context, built without graft's
    * extensions as a caller's own session would be. */
  private def withVanillaSession[A](f: SparkSession => A): A = {
    val shared = spark // force shared-session init first
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try f(SparkSession.builder().master("local[4]").getOrCreate())
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  /** The WARN-or-worse messages logged while `body` runs. */
  private def warningsDuring(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("graft-spec-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(appender)
    try body finally { root.removeAppender(appender); appender.stop() }
    seen.asScala.toSeq
  }

  test("bottom-k distinct Aggregator equals distinct+sort+take at every partitioning") {
    val sq = spark
    import sq.implicits._
    // duplicates across AND within partitions, values straddling the
    // k-th smallest, plus negatives (the agg orders raw longs)
    val vals: Seq[Long] =
      Seq(5L, 3L, 3L, 9L, -2L, 7L, 5L, 11L, 0L, -2L, 13L, 1L, 1L, 8L)
    val expected = vals.distinct.sorted.take(6)
    for (parts <- Seq(1, 3, 7)) {
      val got = vals.toDF("h").repartition(parts)
        .agg(VectorAggregates.bottomKDistinctOf(6, col("h")).as("bk"))
        .head.getSeq[Long](0)
      assert(got === expected, s"parts=$parts")
    }
    // group keys: each group's sketch is independent
    val grouped = Seq(("a", 4L), ("a", 4L), ("a", 2L), ("b", 9L), ("b", 1L))
      .toDF("g", "h").repartition(5)
      .groupBy("g").agg(VectorAggregates.bottomKDistinctOf(2, col("h")).as("bk"))
      .as[(String, Seq[Long])].collect().toMap
    assert(grouped("a") === Seq(2L, 4L))
    assert(grouped("b") === Seq(1L, 9L))
  }

  test("GraftExtensions injects every native function via SparkSessionExtensions") {
    val shared = spark // force init of the shared session/context first
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // fresh session over the same SparkContext, extensions applied at build
      val s2 = SparkSession.builder().master("local[4]")
        .withExtensions(new graft.GraftExtensions).getOrCreate()
      assert(s2 ne shared)
      val r = s2.sql(
        """SELECT
          |  cosine_sim(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT))) AS c,
          |  size(word_shingles(array('a', 'b', 'c'), 2)) AS ws,
          |  size(char_shingles('abcd', 2)) AS cs,
          |  size(md5_i64(array('x'), 's1:')) AS h,
          |  size(minhash_sig(md5_i64(array('x')), 4)) AS mh,
          |  simhash16(md5_i64(array('x'))) >= 0 AS sh,
          |  simhash(md5_i64(array('x')), 60) >= 0 AS sh60,
          |  srp_sig(array(CAST(1.0 AS FLOAT)), 16) >= 0 AS srp""".stripMargin).head
      assert(r.getDouble(0) === 1.0)
      assert(r.getInt(1) === 2 && r.getInt(2) === 3)
      assert(r.getInt(3) === 1 && r.getInt(4) === 4)
      assert(r.getBoolean(5) && r.getBoolean(6) && r.getBoolean(7))
      val k = s2.sql(
        """SELECT
          |  size(winnow_fps('abcdefghij', 3, 2)) > 0 AS wf,
          |  size(word_gram_hashes(array('a', 'b', 'c'), 2)) AS wg,
          |  sorted_intersect_count(array(CAST(1 AS BIGINT), 2, 3),
          |    array(CAST(2 AS BIGINT), 3, 4)) AS si,
          |  intradoc_cut(array('a', 'b', 'a', 'b'), 1).clean_text AS ic""".stripMargin).head
      assert(k.getBoolean(0) && k.getInt(1) === 2 && k.getInt(2) === 2)
      assert(k.getString(3) === "a b")
      // both registration paths read one table: the extension injects
      // exactly the functions register() adds, all 41 of them
      val tableNames = GraftFunctions.table.map(_._1.funcName).toSet
      withVanillaSession { vanilla =>
        val builtin = names(vanilla)
        GraftFunctions.register(vanilla)
        assert(names(s2) -- builtin === names(vanilla) -- builtin)
        assert(names(vanilla) -- builtin === tableNames)
      }
      assert(tableNames.size === 41)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("a second register on a vanilla session adds and replaces nothing") {
    withVanillaSession { vanilla =>
      val reg = vanilla.sessionState.functionRegistry
      def entries = reg.listFunction().map(id => id.funcName -> reg.lookupFunction(id)).toMap
      // a same-named function of the caller's stays theirs
      vanilla.udf.register("hll_est", (b: Array[Byte]) => -1.0)
      val theirs = reg.lookupFunction(FunctionIdentifier("hll_est"))
      GraftFunctions.register(vanilla)
      val first = entries
      assert(first("hll_est") === theirs)
      val replaced = warningsDuring(GraftFunctions.register(vanilla))
        .filter(_.contains("replaced a previously registered function"))
      assert(replaced.isEmpty)
      // same names, and each the very ExpressionInfo it had before
      assert(entries === first)
    }
  }

  test("unaliased sketch columns keep the names spark.udf.register gave them") {
    val sq = spark; import sq.implicits._
    val df = Seq(1L, 2L, 3L).toDF("v")
    assert(df.agg(expr("hll_build(v)"), expr("ddq_build(v)")).columns.toSeq ===
      Seq("hll_build(v)", "ddq_build(v)"))
    val sk = df.agg(expr("hll_build(v)").as("hs"), expr("ddq_build(v)").as("ds"))
    assert(sk.selectExpr("hll_est(hs)", "ddq_quantile(ds, 0.5)").columns.toSeq ===
      Seq("hll_est(hs)", "ddq_quantile(ds, 0.5)"))
  }

  test("SparkEntry.queries runs a sketch query on a session built without extensions") {
    val q = "q133_hll_sketch"
    val want = SparkEntry.queries(q)(spark, sfDir).collect().map(_.toString).sorted
    assert(want.nonEmpty)
    withVanillaSession { vanilla =>
      assert(!vanilla.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("hll_build")))
      val got = SparkEntry.queries(q)(vanilla, sfDir).collect().map(_.toString).sorted
      assert(got.toSeq === want.toSeq)
    }
  }

  test("kmv aggregator bytes equal the driver build whatever the partitioning") {
    val sq = spark; import sq.implicits._
    val vals = (0L until 3000L).map(v => v * 17L % 997L) // dups + 997 distinct
    def viaSql(parts: Int): Array[Byte] =
      vals.toDF("v").repartition(parts)
        .agg(expr("kmv_build(v)")).head.getAs[Array[Byte]](0)
    val direct = graft.functions.KmvSketch.sketchOf(vals)
    assert(java.util.Arrays.equals(viaSql(1), direct) &&
      java.util.Arrays.equals(viaSql(7), direct),
      "the canonical byte form must be partitioning-invariant")
    // the at-rest lifecycle: shard sketches merge to the direct build
    val shards = vals.zipWithIndex.map { case (v, i) => (v, i % 5) }
      .toDF("v", "shard")
      .groupBy("shard").agg(expr("kmv_build(v)").as("sk"))
    val merged = shards.agg(expr("kmv_merge(sk)")).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, direct),
      "shard-merge must be byte-identical to the direct build")
    assert(shards.agg(expr("kmv_merge_est(sk)")).head.getDouble(0) == 997.0,
      "exact mode must count the 997 distinct values exactly")
  }

  test("cosine_sim returns null on null input, not a crash or a zero") {
    val sq = spark; import sq.implicits._
    val df = Seq(
      (Some(Seq(1f, 0f)), Some(Seq(1f, 0f))),
      (None, Some(Seq(1f, 0f))),
      (Some(Seq(0f, 1f)), None))
      .toDF("a", "b")
      .selectExpr("cosine_sim(a, b) AS cos")
    val rows = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(rows(0).contains(1.0))
    assert(rows(1).isEmpty && rows(2).isEmpty)
  }

  test("cosine_sim agrees with a hand computation") {
    val sq = spark; import sq.implicits._
    val got = Seq((Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))).toDF("a", "b")
      .selectExpr("cosine_sim(a, b) AS cos").head.getDouble(0)
    val want = (1 * 4 + 2 * 5 + 3 * 6) /
      (math.sqrt(1 + 4 + 9) * math.sqrt(16 + 25 + 36))
    assert(math.abs(got - want) < 1e-12)
  }
}
