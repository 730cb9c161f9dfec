package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorAggregates
import graft.llm.Similarity
import graft.core.Tables

/** Native function + UDAF layer: the codegen'd cosine kernel and the
  * one-pass centroid Aggregator against their composable references. */
class FunctionsSpec extends SparkSpec {

  test("one-pass centroid Aggregator matches the posexplode+avg reference") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val onePass = VectorAggregates.centroidsOnePass(emb, "label")
      .select(col("cell"), posexplode(col("centroid")).as(Seq("dim", "c1")))
    val reference = Similarity.centroids(emb, "label")
      .withColumnRenamed("centroid", "c2")
    val joined = onePass.join(reference, Seq("cell", "dim"), "full_outer")
    assert(joined.filter(col("c1").isNull || col("c2").isNull).count() === 0,
      "both forms must produce the same (cell, dim) keys")
    // float inputs summed in different orders: agreement to 1e-7 is the
    // right bar (values are O(1); double-vs-decimal path differs in ulps)
    val maxDiff = joined.agg(max(abs(col("c1") - col("c2")))).head.getDouble(0)
    assert(maxDiff < 1e-7, s"centroids diverged by $maxDiff")
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
    import org.apache.spark.sql.SparkSession
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
      // exactly the native functions register() adds ("built-in" source;
      // the sketch UDAF families register as Scala UDFs)
      def names(s: SparkSession) =
        s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet
      val vanilla = shared.newSession()
      val builtin = names(vanilla)
      graft.functions.GraftFunctions.register(vanilla)
      val registered = (names(vanilla) -- builtin).filter(n =>
        vanilla.sessionState.functionRegistry
          .lookupFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(n))
          .exists(_.getSource == "built-in"))
      assert(names(s2) -- builtin === registered)
      assert(registered.size === 13)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("kmv aggregator bytes equal the driver build whatever the partitioning") {
    graft.functions.KmvSketch.register(spark)
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
    graft.functions.GraftFunctions.register(spark)
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
    graft.functions.GraftFunctions.register(spark)
    val sq = spark; import sq.implicits._
    val got = Seq((Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))).toDF("a", "b")
      .selectExpr("cosine_sim(a, b) AS cos").head.getDouble(0)
    val want = (1 * 4 + 2 * 5 + 3 * 6) /
      (math.sqrt(1 + 4 + 9) * math.sqrt(16 + 25 + 36))
    assert(math.abs(got - want) < 1e-12)
  }
}
