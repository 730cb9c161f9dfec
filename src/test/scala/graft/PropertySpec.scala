package graft

import graft.functions.HllSketch
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test => ScTest}
import org.scalacheck.Prop.forAll

/** Property tests (SURVEY.md §5.2): the algebraic laws the example-based
  * specs cannot sweep — merge commutativity/idempotence, invariance under
  * row order and edge orientation, dedup idempotence — over GENERATED
  * inputs. Pure laws run at full sample count; Spark-backed laws run a
  * reduced count (each sample is a handful of local jobs). */
object HllProperties extends Properties("hll") {

  private val genLongs: Gen[List[Long]] =
    Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))

  property("merge equals union build (order-free), commutative") =
    forAll(genLongs, genLongs) { (a, b) =>
      val sa = HllSketch.sketchOf(a)
      val sb = HllSketch.sketchOf(b)
      val ab = HllSketch.mergeSketches(sa, sb)
      val ba = HllSketch.mergeSketches(sb, sa)
      val direct = HllSketch.sketchOf(a ++ b)
      java.util.Arrays.equals(ab, ba) && java.util.Arrays.equals(ab, direct)
    }

  property("merge is idempotent and subset-absorbing") =
    forAll(genLongs) { a =>
      val sa = HllSketch.sketchOf(a)
      val sub = HllSketch.sketchOf(a.take(a.length / 2))
      java.util.Arrays.equals(HllSketch.mergeSketches(sa, sa), sa) &&
        java.util.Arrays.equals(HllSketch.mergeSketches(sa, sub), sa)
    }

  property("merge is associative") =
    forAll(genLongs, genLongs, genLongs) { (a, b, c) =>
      val (sa, sb, sc) =
        (HllSketch.sketchOf(a), HllSketch.sketchOf(b), HllSketch.sketchOf(c))
      java.util.Arrays.equals(
        HllSketch.mergeSketches(HllSketch.mergeSketches(sa, sb), sc),
        HllSketch.mergeSketches(sa, HllSketch.mergeSketches(sb, sc)))
    }

  property("build is duplicate-insensitive") =
    forAll(genLongs) { a =>
      java.util.Arrays.equals(
        HllSketch.sketchOf(a), HllSketch.sketchOf(a ++ a))
    }
}

object KmvProperties extends Properties("kmv") {
  import graft.functions.KmvSketch

  private val genLongs: Gen[List[Long]] =
    Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))

  property("merge equals union build byte-for-byte; commutative; associative; idempotent") =
    forAll(genLongs, genLongs, genLongs) { (a, b, c) =>
      val (sa, sb, sc) =
        (KmvSketch.sketchOf(a), KmvSketch.sketchOf(b), KmvSketch.sketchOf(c))
      val ab = KmvSketch.mergeSketches(sa, sb)
      java.util.Arrays.equals(ab, KmvSketch.sketchOf(a ++ b)) &&
        java.util.Arrays.equals(ab, KmvSketch.mergeSketches(sb, sa)) &&
        java.util.Arrays.equals(
          KmvSketch.mergeSketches(ab, sc),
          KmvSketch.mergeSketches(sa, KmvSketch.mergeSketches(sb, sc))) &&
        java.util.Arrays.equals(KmvSketch.mergeSketches(sa, sa), sa)
    }

  property("build is duplicate- and order-insensitive") =
    forAll(genLongs, Gen.long) { (a, seed) =>
      val shuffled = new scala.util.Random(seed).shuffle(a)
      java.util.Arrays.equals(
        KmvSketch.sketchOf(a), KmvSketch.sketchOf(shuffled ++ a))
    }

  property("exact mode: every estimator is exact below K distinct values") =
    forAll(Gen.listOf(Gen.chooseNum(-500L, 500L)),
      Gen.listOf(Gen.chooseNum(-500L, 500L))) { (a, b) =>
      // |domain| = 1001 < K: sketches hold every hashed value
      val (sa, sb) = (KmvSketch.sketchOf(a), KmvSketch.sketchOf(b))
      val (da, db) = (a.toSet, b.toSet)
      KmvSketch.estimate(sa) == da.size.toDouble &&
        KmvSketch.intersectEst(sa, sb) == (da intersect db).size.toDouble &&
        KmvSketch.diffEst(sa, sb) == (da diff db).size.toDouble &&
        KmvSketch.estimate(KmvSketch.mergeSketches(sa, sb)) ==
          (da union db).size.toDouble
    }

  property("exact mode: intersect + diff partition the left cardinality") =
    forAll(Gen.listOf(Gen.chooseNum(-500L, 500L)),
      Gen.listOf(Gen.chooseNum(-500L, 500L))) { (a, b) =>
      val (sa, sb) = (KmvSketch.sketchOf(a), KmvSketch.sketchOf(b))
      KmvSketch.intersectEst(sa, sb) + KmvSketch.diffEst(sa, sb) ==
        KmvSketch.estimate(sa)
    }

  // estimate mode on a planted large domain — deterministic given the
  // splitmix64 family, so these are fixed numbers, not flaky samples:
  // A = [0, 20000), B = [10000, 30000), true |A∩B| = 10000
  private val bigA = KmvSketch.sketchOf(0L until 20000L)
  private val bigB = KmvSketch.sketchOf(10000L until 30000L)

  property("estimate mode: cardinality within 10% on a 20k-element domain") = {
    val est = KmvSketch.estimate(bigA)
    org.scalacheck.Prop(math.abs(est - 20000.0) <= 2000.0) :| s"est=$est"
  }

  property("estimate mode: union / intersection / difference within 15%") = {
    val u = KmvSketch.estimate(KmvSketch.mergeSketches(bigA, bigB))
    val i = KmvSketch.intersectEst(bigA, bigB)
    val d = KmvSketch.diffEst(bigA, bigB)
    org.scalacheck.Prop(
      math.abs(u - 30000.0) <= 4500.0 &&
        math.abs(i - 10000.0) <= 1500.0 &&
        math.abs(d - 10000.0) <= 1500.0) :| s"u=$u i=$i d=$d"
  }
}

object DdqProperties extends Properties("ddsketch") {
  import graft.functions.DdSketch

  private val genPos: Gen[List[Long]] =
    Gen.listOf(Gen.chooseNum(1L, 1000000000000L))

  property("merge equals union build byte-for-byte; commutative; associative") =
    forAll(genPos, genPos, genPos) { (a, b, c) =>
      val (sa, sb, sc) =
        (DdSketch.sketchOf(a), DdSketch.sketchOf(b), DdSketch.sketchOf(c))
      val ab = DdSketch.mergeSketches(sa, sb)
      java.util.Arrays.equals(ab, DdSketch.sketchOf(a ++ b)) &&
        java.util.Arrays.equals(ab, DdSketch.mergeSketches(sb, sa)) &&
        java.util.Arrays.equals(
          DdSketch.mergeSketches(ab, sc),
          DdSketch.mergeSketches(sa, DdSketch.mergeSketches(sb, sc)))
    }

  property("counts are exact; self-merge doubles counts (NOT idempotent)") =
    forAll(genPos.suchThat(_.nonEmpty)) { a =>
      val sk = DdSketch.sketchOf(a)
      val dbl = DdSketch.mergeSketches(sk, sk)
      DdSketch.count(sk) == a.length && DdSketch.count(dbl) == 2L * a.length
    }

  property("quantile estimate within alpha relative error of the exact element") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(1L, 100000000L)), Gen.choose(0.0, 1.0)) {
      (a, q) =>
        val sk = DdSketch.sketchOf(a)
        val sorted = a.sorted
        val exact = sorted(math.floor(q * (a.length - 1)).toInt).toDouble
        math.abs(DdSketch.quantile(sk, q) - exact) <= DdSketch.Alpha * exact + 1e-9
    }

  property("linearity: build(all) - build(deleted) is BYTE-equal to build(rest)") =
    forAll(genPos, genPos) { (rest, deleted) =>
      val live = DdSketch.diffSketches(
        DdSketch.sketchOf(rest ++ deleted), DdSketch.sketchOf(deleted))
      java.util.Arrays.equals(live, DdSketch.sketchOf(rest))
    }

  property("post-delete quantiles keep the alpha guarantee on the survivors") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(1L, 100000000L)), genPos,
      Gen.choose(0.0, 1.0)) { (rest, deleted, q) =>
      val live = DdSketch.diffSketches(
        DdSketch.sketchOf(rest ++ deleted), DdSketch.sketchOf(deleted))
      val sorted = rest.sorted
      val exact = sorted(math.floor(q * (rest.length - 1)).toInt).toDouble
      math.abs(DdSketch.quantile(live, q) - exact) <= DdSketch.Alpha * exact + 1e-9
    }

  property("underflow refuses: deleting a never-inserted value throws") =
    forAll(genPos) { vs =>
      scala.util.Try(DdSketch.diffSketches(
        DdSketch.sketchOf(vs), DdSketch.sketchOf(7L +: vs))).isFailure
    }
}

object CmsProperties extends Properties("countmin") {
  import graft.functions.CmSketch

  private val genKeys: Gen[List[Long]] =
    Gen.listOf(Gen.chooseNum(-1000L, 1000L))

  property("merge equals union build byte-for-byte; commutative") =
    forAll(genKeys, genKeys) { (a, b) =>
      val m = CmSketch.mergeSketches(CmSketch.sketchOf(a), CmSketch.sketchOf(b))
      java.util.Arrays.equals(m, CmSketch.sketchOf(a ++ b)) &&
        java.util.Arrays.equals(m,
          CmSketch.mergeSketches(CmSketch.sketchOf(b), CmSketch.sketchOf(a)))
    }

  property("estimates never undercount and the stream length is exact") =
    forAll(genKeys) { a =>
      val sk = CmSketch.sketchOf(a)
      val exact = a.groupBy(identity).view.mapValues(_.size.toLong)
      CmSketch.count(sk) == a.length &&
        exact.forall { case (k, n) => CmSketch.estimate(sk, k) >= n }
    }

  property("join estimate never undercounts the true equi-join size") =
    forAll(genKeys, genKeys) { (a, b) =>
      val ca = a.groupBy(identity).view.mapValues(_.size.toLong)
      val cb = b.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val exact = ca.map { case (k, n) => n * cb.getOrElse(k, 0L) }.sum
      CmSketch.joinEstimate(CmSketch.sketchOf(a), CmSketch.sketchOf(b)) >= exact
    }

  property("join estimate is tight on small distinct key sets") =
    forAll(Gen.chooseNum(0, 40), Gen.chooseNum(1, 5)) { (nKeys, mult) =>
      // distinct small keys land in distinct CMS slots whp at width 4096;
      // the min-over-rows excess is bounded by one extra colliding pair
      // per key — a degenerate hash (all keys one slot) blows past this
      val keys = (1L to nKeys.toLong).toList
      val a = keys.flatMap(k => List.fill(mult)(k))
      val est = CmSketch.joinEstimate(CmSketch.sketchOf(a), CmSketch.sketchOf(keys))
      val exact = nKeys.toLong * mult
      est >= exact && est <= exact + mult.toLong * mult * nKeys
    }

  property("linearity: build(all) - build(deleted) is BYTE-equal to build(rest)") =
    forAll(genKeys, genKeys) { (rest, deleted) =>
      val live = CmSketch.diffSketches(
        CmSketch.sketchOf(rest ++ deleted), CmSketch.sketchOf(deleted))
      java.util.Arrays.equals(live, CmSketch.sketchOf(rest))
    }

  property("post-delete estimates still never undercount the survivors") =
    forAll(genKeys, genKeys) { (rest, deleted) =>
      val live = CmSketch.diffSketches(
        CmSketch.sketchOf(rest ++ deleted), CmSketch.sketchOf(deleted))
      val exact = rest.groupBy(identity).view.mapValues(_.size.toLong)
      CmSketch.count(live) == rest.length &&
        exact.forall { case (k, n) => CmSketch.estimate(live, k) >= n }
    }

  property("underflow refuses: deleting a never-inserted key throws") =
    forAll(genKeys) { keys =>
      val foreign = 424242L +: keys // one extra insertion of any key
      scala.util.Try(CmSketch.diffSketches(
        CmSketch.sketchOf(keys), CmSketch.sketchOf(foreign))).isFailure
    }
}

object BloomProperties extends Properties("bloom") {
  import graft.functions.BloomSketch

  private val genKeys: Gen[List[Long]] =
    Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))

  property("no false negatives, including through shard merges") =
    forAll(genKeys, genKeys) { (a, b) =>
      val m = BloomSketch.mergeSketches(
        BloomSketch.sketchOf(a), BloomSketch.sketchOf(b))
      (a ++ b).forall(BloomSketch.contains(m, _))
    }

  property("merge equals union build; commutative; idempotent") =
    forAll(genKeys, genKeys) { (a, b) =>
      val sa = BloomSketch.sketchOf(a)
      val sb = BloomSketch.sketchOf(b)
      val m = BloomSketch.mergeSketches(sa, sb)
      java.util.Arrays.equals(m, BloomSketch.sketchOf(a ++ b)) &&
        java.util.Arrays.equals(m, BloomSketch.mergeSketches(sb, sa)) &&
        java.util.Arrays.equals(BloomSketch.mergeSketches(sa, sa), sa)
    }
}

object CountingBloomProperties extends Properties("cbloom") {
  import graft.functions.CountingBloom

  private val genKeys: Gen[List[Long]] =
    Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))

  property("linearity: build(all) - build(deleted) is BYTE-equal to build(rest)") =
    forAll(genKeys, genKeys) { (rest, deleted) =>
      // multisets: `rest` and `deleted` may share key VALUES — a shared
      // value's surviving insertions must survive the subtraction
      val all = CountingBloom.sketchOf(rest ++ deleted)
      val live = CountingBloom.diffSketches(all, CountingBloom.sketchOf(deleted))
      java.util.Arrays.equals(live, CountingBloom.sketchOf(rest))
    }

  property("no false negatives after delete: surviving keys still probe true") =
    forAll(genKeys, genKeys) { (rest, deleted) =>
      val live = CountingBloom.diffSketches(
        CountingBloom.sketchOf(rest ++ deleted),
        CountingBloom.sketchOf(deleted))
      rest.forall(CountingBloom.contains(live, _))
    }

  property("merge equals multiset-union build and commutes (NOT idempotent)") =
    forAll(genKeys, genKeys) { (a, b) =>
      val sa = CountingBloom.sketchOf(a)
      val sb = CountingBloom.sketchOf(b)
      val m = CountingBloom.mergeSketches(sa, sb)
      java.util.Arrays.equals(m, CountingBloom.sketchOf(a ++ b)) &&
        java.util.Arrays.equals(m, CountingBloom.mergeSketches(sb, sa)) &&
        (a.isEmpty == java.util.Arrays.equals(
          CountingBloom.mergeSketches(sa, sa), sa))
    }

  property("underflow refuses: deleting a never-inserted key throws") =
    forAll(genKeys) { keys =>
      val base = CountingBloom.sketchOf(keys)
      // a key outside the inserted multiset: bump any inserted key by 1
      val foreign = keys.foldLeft(1L)((m, k) => math.max(m, k % 1000000 + 1))
      scala.util.Try(CountingBloom.diffSketches(base,
        CountingBloom.sketchOf(List(foreign) ++ keys))).isFailure
    }
}

object EngineProperties extends Properties("engine") {

  // each sample runs real (local) Spark jobs — keep the count modest
  override def overrideParameters(p: ScTest.Parameters): ScTest.Parameters =
    p.withMinSuccessfulTests(6).withMaxDiscardRatio(10f)

  private lazy val spark = TestSession.spark

  private val genEdges: Gen[List[(Long, Long)]] =
    Gen.listOfN(24,
      Gen.zip(Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 15L))
        .suchThat { case (a, b) => a != b })

  private def componentsOf(edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
    val sq = spark
    import sq.implicits._
    val df =
      if (edges.isEmpty)
        Seq.empty[(Long, Long)].toDF("id_a", "id_b")
      else edges.toDF("id_a", "id_b")
    val out = graft.llm.Dedup.connectedComponents(df)
      .as[(Long, Long)].collect().toSet
    graft.core.EngineCache.releaseAll()
    out
  }

  property("connected components invariant under edge order and orientation") =
    forAll(genEdges, Gen.long) { (edges, seed) =>
      val rnd = new scala.util.Random(seed)
      val mangled = rnd.shuffle(edges).map { case (a, b) =>
        if (rnd.nextBoolean()) (b, a) else (a, b)
      }
      componentsOf(edges) == componentsOf(mangled)
    }

  private val genEvents: Gen[List[(Long, Int)]] =
    Gen.listOfN(30,
      Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0, 300)))

  property("interval union invariant under row order") =
    forAll(genEvents, Gen.long) { (evs, seed) =>
      val sq = spark
      import sq.implicits._
      def run(rows: Seq[(Long, Int)]): Seq[(Long, Long, Long, Long)] = {
        val df =
          if (rows.isEmpty) Seq.empty[(Long, java.sql.Timestamp)]
            .toDF("user_id", "ts")
          else rows.map { case (u, m) =>
            (u, new java.sql.Timestamp(m * 60000L))
          }.toDF("user_id", "ts")
        df.createOrReplaceTempView("prop_events")
        spark.sql(graft.operators.StatsOps.sparkIntervalUnionSql("prop_events"))
          .as[(Long, Long, Long, Long)].collect().toSeq
      }
      run(evs) == run(new scala.util.Random(seed).shuffle(evs))
    }

  private val genDocs: Gen[List[(Long, String)]] = {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta")
    Gen.listOfN(12, Gen.zip(Gen.chooseNum(0L, 100L),
      Gen.listOfN(3, word).map(_.mkString(" "))))
      .map(_.groupBy(_._1).map { case (id, rs) => (id, rs.head._2) }.toList)
  }

  property("exact dedup is idempotent (deduped corpus has no clusters left)") =
    forAll(genDocs) { docs =>
      val sq = spark
      import sq.implicits._
      val df =
        if (docs.isEmpty) Seq.empty[(Long, String)].toDF("doc_id", "text")
        else docs.toDF("doc_id", "text")
      val clusters = graft.llm.Dedup.exactClusters(df, "doc_id", md5(col("text")))
      // survivors: drop every copy that is not its cluster's keeper
      val survivors = df.join(
        clusters.select(col("fp"), col("keep_id")),
        md5(col("text")) === col("fp"), "left")
        .filter(col("keep_id").isNull || col("doc_id") === col("keep_id"))
        .select("doc_id", "text")
      graft.llm.Dedup.exactClusters(survivors, "doc_id", md5(col("text")))
        .count() == 0L
    }

  private val genKeyed: Gen[List[(Long, Long)]] =
    Gen.listOfN(40,
      Gen.zip(Gen.chooseNum(-50L, 50L), Gen.chooseNum(0L, 1000000L)))
      .map(_.groupBy(_._2).map { case (id, rs) => (rs.head._1, id) }.toList)

  property("distributed rank equals the global window rank (ties included)") =
    forAll(genKeyed) { rows =>
      val sq = spark
      import sq.implicits._
      val df =
        if (rows.isEmpty) Seq.empty[(Long, Long)].toDF("k", "id")
        else rows.toDF("k", "id")
      val ranked = graft.operators.DistributedRank.rankOnly(
        df, "rk", "k", desc = false, col("k"), col("id"))
        .as[(Long, Long, Long)].collect().toSet
      val viaWindow = df.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("k"), col("id")))
        .cast("long"))
        .as[(Long, Long, Long)].collect().toSet
      ranked == viaWindow
    }

  property("distributed rank on a constant primary: correct small, loud large") =
    forAll(Gen.chooseNum(2L, 40L)) { n =>
      val sq = spark
      import sq.implicits._
      val df = sq.range(n).toDF("id").withColumn("k", lit(7L))
      // below the degeneracy limit the one-bucket collapse is just a
      // single keyed partition — result must still equal the window
      val ranked = graft.operators.DistributedRank.rankOnly(
        df.select(col("k"), col("id")), "rk", "k", desc = false,
        col("k"), col("id"))
        .as[(Long, Long, Long)].collect().toSet
      val viaWindow = df.select(col("k"), col("id")).withColumn("rk",
        row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("k"), col("id")))
        .cast("long"))
        .as[(Long, Long, Long)].collect().toSet
      // above the (lowered) limit the collapse must throw, not silently
      // plan a single-task sort
      sq.conf.set("graft.rank.degenerateRowLimit", "1")
      val loud =
        try {
          graft.operators.DistributedRank.rankOnly(
            df.select(col("k"), col("id")), "rk", "k", desc = false,
            col("k"), col("id")).count()
          false
        } catch {
          case e: IllegalArgumentException => e.getMessage.contains("constant")
        } finally sq.conf.unset("graft.rank.degenerateRowLimit")
      ranked == viaWindow && loud
    }

  property("heavy-tailed primary ranks without tripping the degeneracy guard") =
    forAll(Gen.chooseNum(1L, 1000L)) { seed =>
      // Zipf-ish primary over a huge value range: most mass at small
      // values, a few enormous outliers. Equal-width [min, max] buckets
      // collapse the mass into bucket 0 (the round-8 failure mode the
      // guard made loud); sampled-QUANTILE boundaries must spread it so
      // no bucket exceeds the (deliberately tight) degeneracy limit —
      // the spec passes WITHOUT raising graft.rank.degenerateRowLimit.
      val sq = spark
      import sq.implicits._
      val rnd = new scala.util.Random(seed)
      val rows = (1L to 400L).map { id =>
        // rank-r value ~ C / r^1.2, domain stretched by huge outliers
        val r = rnd.nextInt(400) + 1
        (math.round(1.0e9 / math.pow(r, 1.2)), id)
      }
      val df = rows.toDF("k", "id")
      sq.conf.set("graft.rank.degenerateRowLimit", "64")
      try {
        val ranked = graft.operators.DistributedRank.rankOnly(
          df, "rk", "k", desc = false, col("k"), col("id"))
          .as[(Long, Long, Long)].collect().toSet
        val viaWindow = df.withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy(col("k"), col("id")))
          .cast("long"))
          .as[(Long, Long, Long)].collect().toSet
        ranked == viaWindow
      } finally sq.conf.unset("graft.rank.degenerateRowLimit")
    }

  property("keyed rank+scan survives a heavy-tailed primary under a tight limit") =
    forAll(Gen.chooseNum(1L, 1000L)) { seed =>
      // the keyed variants share rankOnly's quantile bucketing — prove
      // the same Zipf-ish primary passes them under the same tight
      // degeneracy limit, with rank AND exclusive scan window-exact
      val sq = spark
      import sq.implicits._
      val rnd = new scala.util.Random(seed)
      val rows = (1L to 300L).map { id =>
        val r = rnd.nextInt(300) + 1
        (math.round(1.0e9 / math.pow(r, 1.2)), id)
      }
      val keyed = rows.toDF("k", "id")
        .withColumn("g", (col("id") % 3L).cast("long"))
        .withColumn("v", (col("id") % 5L + 1L).cast("long"))
      sq.conf.set("graft.rank.degenerateRowLimit", "64")
      try {
        val got = graft.operators.DistributedRank.rankAndScanWithin(
          keyed, "g", "rk", "sc", "v", "k", desc = false, col("k"), col("id"))
          .select("g", "k", "id", "v", "rk", "sc")
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("g")).orderBy(col("k"), col("id"))
        val viaWindow = keyed
          .withColumn("rk", row_number().over(w).cast("long"))
          .withColumn("sc", coalesce(sum(col("v")).over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, -1)), lit(0L)))
          .select("g", "k", "id", "v", "rk", "sc")
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
        got == viaWindow
      } finally sq.conf.unset("graft.rank.degenerateRowLimit")
    }

  property("keyed distributed rank equals the keyed window rank") =
    forAll(genKeyed) { rows =>
      val sq = spark
      import sq.implicits._
      val df =
        if (rows.isEmpty) Seq.empty[(Long, Long)].toDF("k", "id")
        else rows.toDF("k", "id")
      // key = id mod 3: a handful of groups, sizes uneven
      val keyed = df.withColumn("g", (col("id") % 3L).cast("long"))
      val ranked = graft.operators.DistributedRank.rankWithin(
        keyed, "g", "rk", "k", desc = false, col("k"), col("id"))
        .select("g", "k", "id", "rk")
        .as[(Long, Long, Long, Long)].collect().toSet
      val viaWindow = keyed.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("g")).orderBy(col("k"), col("id")))
        .cast("long"))
        .select("g", "k", "id", "rk")
        .as[(Long, Long, Long, Long)].collect().toSet
      ranked == viaWindow
    }

  property("keyed rank+scan equals the keyed window rank and exclusive cumsum") =
    forAll(genKeyed) { rows =>
      val sq = spark
      import sq.implicits._
      val df =
        if (rows.isEmpty) Seq.empty[(Long, Long)].toDF("k", "id")
        else rows.toDF("k", "id")
      // value = a deterministic small weight; key = id mod 3
      val keyed = df.withColumn("g", (col("id") % 3L).cast("long"))
        .withColumn("v", (col("id") % 7L + 1L).cast("long"))
      val got = graft.operators.DistributedRank.rankAndScanWithin(
        keyed, "g", "rk", "sc", "v", "k", desc = false, col("k"), col("id"))
        .select("g", "k", "id", "v", "rk", "sc")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("k"), col("id"))
      val viaWindow = keyed
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("sc", coalesce(sum(col("v")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)), lit(0L)))
        .select("g", "k", "id", "v", "rk", "sc")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      got == viaWindow
    }

  private val genKmvDocs: Gen[List[(Long, String, String)]] = {
    val word = Gen.oneOf((1 to 12).map(i => s"k$i"))
    Gen.listOfN(8, Gen.zip(Gen.chooseNum(0L, 50L),
      Gen.listOfN(6, word).map(_.mkString(" ")),
      Gen.oneOf("sA", "sB")))
  }

  property("KMV source Jaccard is set-based: order- and duplicate-insensitive") =
    forAll(genKmvDocs, Gen.long) { (docs0, seed) =>
      val sq = spark
      import sq.implicits._
      // ensure both sources exist so a pair row is always produced
      val docs = (900L, "k1 k2 k3 k4 k5 k6", "sA") ::
        (901L, "k4 k5 k6 k7 k8 k9", "sB") :: docs0
      def run(rows: Seq[(Long, String, String)]): Seq[(String, String, Double)] = {
        val out = graft.operators.LlmQueries.sourceJaccardOf(
          rows.toDF("doc_id", "text", "source"))
          .as[(String, String, Double)].collect().toSeq.sorted
        graft.core.EngineCache.releaseAll()
        out
      }
      val base = run(docs)
      val shuffled = run(new scala.util.Random(seed).shuffle(docs))
      // duplicating whole docs adds no new shingles — the sketch is a SET
      val duped = run(docs ++ docs.map { case (id, t, s0) => (id + 1000L, t, s0) })
      base == shuffled && base == duped
    }

  private val genCdcWords: Gen[List[String]] =
    Gen.chooseNum(5, 90).flatMap(n => Gen.listOfN(n,
      Gen.oneOf("red", "blue", "gold", "iron", "moss", "salt", "wolf", "pine")))

  property("CDC chunks partition the tokens; edits stay local to the seam") =
    forAll(genCdcWords, Gen.listOfN(4,
      Gen.oneOf("zinc", "opal", "fern", "dune"))) { (w, prefix) =>
      val sq = spark
      import sq.implicits._
      def chunksOf(words: Seq[String]): Seq[(Long, Long, Long)] =
        graft.operators.LlmQueries.cdcChunksOf(
          Seq((1L, words.mkString(" "))).toDF("doc_id", "text"))
          .select("chunk_id", "n_tokens", "chunk_fp")
          .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      val base = chunksOf(w)
      val edited = chunksOf(prefix ++ w)
      // partition: chunk token counts add back to the doc length
      val covers = base.map(_._2).sum == w.length &&
        edited.map(_._2).sum == prefix.length + w.length
      // locality: boundaries depend only on the trailing 3-word window,
      // so every chunk of `w` after its FIRST boundary survives a
      // prepended edit fingerprint-for-fingerprint
      val survivors = base.drop(1).map(_._3).toSet
      covers && survivors.subsetOf(edited.map(_._3).toSet)
    }

  property("ntileFromRank reproduces SQL ntile tile sizes") =
    forAll(Gen.chooseNum(1, 200), Gen.chooseNum(1, 12)) { (n, k) =>
      val sq = spark
      import sq.implicits._
      val tiles = spark.range(1, n + 1).toDF("rk")
        .select(graft.operators.DistributedRank
          .ntileFromRank("rk", n.toLong, k).as("t"))
        .as[Int].collect().sorted.toSeq
      val q = n / k
      val r = n % k
      val expected = (1 to k).flatMap(t =>
        Seq.fill(if (t <= r) q + 1 else q)(t)).take(n)
      tiles == expected
    }

  // q211's window rewrite rests on this identity: the sequential CUSUM
  // recursion S_t = max(0, S_{t-1} + d_t) equals P_t − min(0, min_{j≤t} P_j)
  // over prefix sums P — pure math, swept over arbitrary integer series
  property("CUSUM prefix identity equals the sequential recursion") =
    forAll(Gen.listOf(Gen.chooseNum(-1000000L, 1000000L))) { ds =>
      var s = 0L
      val rec = ds.map { d => s = math.max(0L, s + d); s }
      var p = 0L; var mn = 0L
      val win = ds.map { d => p += d; mn = math.min(mn, p); p - math.min(0L, mn) }
      rec == win
    }

  // (g, score, id) frames for the top-k law: scores from a five-value
  // set, so ties are the rule, −0.0 and 0.0 among them; ids unique per
  // group; ~6 rows a group, so k = 8 outruns most groups
  private val genScored: Gen[List[(Int, Double, Long)]] =
    Gen.chooseNum(0, 24).flatMap(n => Gen.listOfN(n, Gen.zip(
      Gen.chooseNum(0, 3),
      Gen.frequency(3 -> Gen.const(-0.0), 3 -> Gen.const(0.0),
        2 -> Gen.const(0.5), 1 -> Gen.const(1.0), 1 -> Gen.const(-1.0)),
      Gen.chooseNum(0L, 12L))))
      .map(_.groupBy(r => (r._1, r._3)).values.map(_.head).toList)

  property("top-k per group equals the row_number window, rnk included") =
    forAll(genScored, Gen.oneOf(1, 2, 3, 8)) { (rows, k) =>
      val sq = spark
      import sq.implicits._
      val df = rows.toDF("g", "score", "id")
      // (g, rnk) keys each row, so sorting by it compares multisets;
      // tuple equality reads −0.0 == 0.0, as the window's sort does
      def rowsOf(out: org.apache.spark.sql.DataFrame) =
        out.select("g", "rnk", "id", "score").as[(Int, Int, Long, Double)]
          .collect().toSeq.sortBy(r => (r._1, r._2))
      val viaWindow = rowsOf(df.withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("g")
            .orderBy(col("score").desc, col("id"))))
        .filter(col("rnk") <= k))
      Seq(1, 3).forall(parts => rowsOf(graft.functions.VectorAggregates
        .topKPerGroup(df.repartition(parts), "g", k, "score", "id")) == viaWindow)
    }

  // (g, s ≥ 1, id ≥ 0) frames for the top-1 pick, ties in s the rule
  private val genTop1: Gen[List[(Long, Long, Long)]] =
    Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, Gen.zip(
      Gen.chooseNum(0L, 4L), Gen.chooseNum(1L, 4L), Gen.chooseNum(0L, 40L))))

  property("encoded top-1 and its struct fallback both equal the window pick") =
    forAll(genTop1) { rows =>
      val sq = spark
      import sq.implicits._
      val df = rows.toDF("g", "s", "id").repartition(3)
      def pick(out: org.apache.spark.sql.DataFrame) =
        out.select("g", "id", "s").as[(Long, Long, Long)].collect().toSet
      val viaWindow = pick(df.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("g")
            .orderBy(col("s").desc, col("id"))))
        .filter(col("rn") === 1))
      val ids = rows.map(_._3)
      val (mn, mx) = if (ids.isEmpty) (0L, 0L) else (ids.min, ids.max)
      def top1(idMin: Long) = pick(graft.functions.VectorAggregates
        .top1PerGroup(df, "g", "s", "id", idMin, mx, 4L))
      // the true bounds take the encoded max; a claimed negative id
      // bound forces the struct fallback over the same rows
      top1(mn) == viaWindow && top1(-1L) == viaWindow
    }

  // q213's hash-agg top-1 rests on this: max of (count, −label) picks the
  // same (count DESC, label ASC) winner as the oracle's row_number sort
  property("max(struct(c, -lab)) picks the (c DESC, lab ASC) head") =
    forAll(Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(1L, 50L), Gen.chooseNum(0L, 100L)))) { cl =>
      // distinct labels: counts come from a GROUP BY so labels are unique
      val rows = cl.toMap.toList.map { case (lab, c) => (c, lab) }
      val viaSort = rows.sortBy { case (c, lab) => (-c, lab) }.head._2
      val viaMax = rows.map { case (c, lab) => (c, -lab) }.max
      -viaMax._2 == viaSort
    }
}

/** The q257/q258 Viterbi kernel against EXHAUSTIVE search: for every
  * generated (word, piece table), the fused DP's on-path cell set must
  * equal the union of cells over ALL maximum-cost segmentations found
  * by brute-force enumeration, and return null exactly when no full
  * segmentation exists (or the word breaches the length protocol) —
  * the law the fixture specs sample and this sweep closes. Pure JVM:
  * words ≤ 14 chars over a 3-letter alphabet keep the enumeration
  * ≤ tetranacci(12) ≈ 1.5k paths per sample. */
object UnigramViterbiProperties extends Properties("unigram_viterbi") {
  import org.apache.spark.unsafe.types.UTF8String

  private val W = graft.operators.LlmQueries.UgMaxWord
  private val P = graft.operators.LlmQueries.UgMaxPiece
  private val Scale = graft.operators.LlmQueries.UgCostScale
  private val Pm = graft.operators.LlmQueries.UgPertMod

  private def cellCost(piece: String, pos: Int, l6: Long): Long =
    l6 * Scale + math.floorMod(graft.functions.HashKernels.md5i64(
      UTF8String.fromString(s"$piece@$pos")), Pm)

  /** (best total, cells on any optimal path), or None if unsegmentable
    * under the kernel's protocols. */
  private def brute(w: String,
                    probs: Map[String, Long]): Option[Set[(Int, Int)]] = {
    if (w.isEmpty || w.length > W) return None
    def segs(pos: Int): List[List[(Int, Int)]] =
      if (pos > w.length) List(Nil)
      else (1 to math.min(P, w.length - pos + 1)).toList.flatMap { l =>
        if (probs.contains(w.substring(pos - 1, pos - 1 + l)))
          segs(pos + l).map((pos, l) :: _)
        else Nil
      }
    val all = segs(1)
    if (all.isEmpty) None
    else {
      val scored = all.map { s =>
        s.map { case (pos, l) =>
          val piece = w.substring(pos - 1, pos - 1 + l)
          cellCost(piece, pos, probs(piece))
        }.sum -> s
      }
      val best = scored.map(_._1).max
      Some(scored.filter(_._1 == best).flatMap(_._2).toSet)
    }
  }

  private val genWord: Gen[String] = Gen.chooseNum(0, 14)
    .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
  private val genProbs: Gen[Map[String, Long]] = for {
    singles <- Gen.someOf(Seq("a", "b", "c"))
    multis <- Gen.listOfN(6, Gen.chooseNum(2, 4)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString)))
    pieces = (singles ++ multis).distinct.toList
    l6s <- Gen.listOfN(pieces.size, Gen.chooseNum(-20000000L, -1L))
  } yield pieces.zip(l6s).toMap

  property("on-path cells equal the union over all exhaustive optima") =
    forAll(genWord, genProbs) { (w, probs) =>
      val table = new java.util.HashMap[UTF8String, java.lang.Long]()
      probs.foreach { case (k, v) => table.put(UTF8String.fromString(k), v) }
      val res = graft.functions.UnigramViterbiKernel.run(
        UTF8String.fromString(w), table, W, P, Scale, Pm)
      (brute(w, probs), Option(res)) match {
        case (None, r) => r.isEmpty
        case (Some(cells), Some(arr)) =>
          val got = (0 until arr.numElements()).map { i =>
            val r = arr.getStruct(i, 3)
            (r.getInt(0), r.getInt(1))
          }.toSet
          got == cells
        case _ => false
      }
    }
}
