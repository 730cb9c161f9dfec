package graft

import graft.operators.ScaleOps
import org.apache.spark.sql.functions._

/** Round-4b operator properties: SCD-2 interval integrity, PageRank
  * mass conservation, PQ code validity (seed vectors encode to
  * themselves at distance 0), and attribution mass accounting (every
  * attributed cent traces back to a purchase with a prior touch). */
class ScaleOpsSpec extends SparkSpec {

  test("scd2 intervals chain, alternate status, and have one current row per key") {
    val r = ScaleOps.scd2(spark, sfDir).collect()
    val byKey = r.groupBy(_.getLong(0))
    byKey.foreach { case (_, rows) =>
      val sorted = rows.sortBy(
        _.getAs[java.time.LocalDateTime](2).toString)
      // exactly one open (is_current) interval, and it is the last one
      assert(sorted.count(_.getBoolean(4)) == 1)
      assert(sorted.last.getBoolean(4))
      // valid_to of each closed interval equals the next valid_from
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[java.time.LocalDateTime](3) ==
            b.getAs[java.time.LocalDateTime](2))
          // islands collapse runs: consecutive intervals change status
          assert(a.getString(1) != b.getString(1))
        case _ =>
      }
    }
    // observation counts add back up to the fact row count
    val nObs = r.map(_.getLong(5)).sum
    val nOrders = graft.core.Tables.load(spark, sfDir, "orders").count()
    assert(nObs == nOrders)
  }

  test("hits: max-normalized scores, full node coverage, exact local recompute") {
    val r = ScaleOps.hits(spark, sfDir).collect()
    val hubs = r.filter(_.getString(0) == "customer")
    val auths = r.filter(_.getString(0) == "part")
    // every node of the bipartite purchase graph is scored
    val edges = graft.core.Tables.load(spark, sfDir, "orders")
      .join(graft.core.Tables.load(spark, sfDir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct()
      .collect().map(row => (row.getLong(0), row.getLong(1)))
    assert(hubs.length == edges.map(_._1).distinct.length)
    assert(auths.length == edges.map(_._2).distinct.length)
    // scores are positive and max-normalized to exactly 1.0 on each side
    assert(r.forall(row => row.getDouble(2) > 0 && row.getDouble(2) <= 1.0))
    assert(hubs.map(_.getDouble(2)).max == 1.0)
    assert(auths.map(_.getDouble(2)).max == 1.0)
    // full local recompute with the SAME bridged arithmetic (floor to the
    // 1e12 grid, exact integer sums, max-normalize in double) — the
    // strongest check: every score must agree to the output grid
    var a = edges.map(_._2).distinct.map(_ -> 1.0).toMap
    var h = Map.empty[Long, Double]
    def norm(raw: Map[Long, BigInt]): Map[Long, Double] = {
      val mx = raw.values.max.toDouble
      raw.map { case (k, s) =>
        k -> math.floor(s.toDouble / mx * 1e12 + 0.5) / 1e12 }
    }
    def bridged(x: Double): BigInt = BigInt(math.floor(x * 1e12 + 0.5).toLong)
    for (_ <- 1 to ScaleOps.HitsIters) {
      h = norm(edges.groupBy(_._1).map { case (c, es) =>
        c -> es.map(e => bridged(a(e._2))).sum })
      a = norm(edges.groupBy(_._2).map { case (p, es) =>
        p -> es.map(e => bridged(h(e._1))).sum })
    }
    hubs.foreach { row =>
      val want = math.floor(h(row.getLong(1)) * 1e9 + 0.5) / 1e9
      assert(math.abs(row.getDouble(2) - want) <= 1e-12,
        s"hub ${row.getLong(1)}: got ${row.getDouble(2)}, want $want")
    }
    auths.foreach { row =>
      val want = math.floor(a(row.getLong(1)) * 1e9 + 0.5) / 1e9
      assert(math.abs(row.getDouble(2) - want) <= 1e-12,
        s"authority ${row.getLong(1)}: got ${row.getDouble(2)}, want $want")
    }
  }

  test("JL projection preserves pairwise distance in expectation") {
    val r = ScaleOps.jlDistortion(spark, sfDir).collect()
    assert(r.nonEmpty)
    val ratios = r.map(_.getDouble(4))
    // distortion ratios are positive, unbiased around 1 (E[ratio] = 1
    // for a ±1/√k projection), and concentrated per JL: with k = 16 the
    // per-pair sd is ~0.35, so the sample mean sits tight around 1 and
    // most pairs land within ±50%
    assert(ratios.forall(_ > 0))
    val mean = ratios.sum / ratios.length
    assert(mean > 0.85 && mean < 1.15, s"distortion mean drifted: $mean")
    val within = ratios.count(x => x >= 0.5 && x <= 1.5).toDouble / ratios.length
    assert(within >= 0.7, s"distortion spread too wide: $within within ±50%")
    // the projection really is 4x smaller: d_proj comes from JlDims dims
    assert(ScaleOps.JlDims * 4 == 64)
  }

  test("embedding drift matrix matches a brute-force pair recompute") {
    val got = ScaleOps.embDrift(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val vecs = graft.core.Tables.load(spark, sfDir, "embeddings")
      .select("label", "embedding").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val labels = vecs.map(_._1).distinct.sorted
    // full matrix incl. diagonal, labels as unordered pairs
    assert(got.keySet == (for (a <- labels; b <- labels if a <= b)
      yield (a, b)).toSet)
    def normd(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => math.floor(x / n * 1e8 + 0.5) / 1e8) // the 1e8 bridge
    }
    val byLabel = vecs.groupBy(_._1).map { case (l, vs) =>
      l -> vs.map(p => normd(p._2))
    }
    // brute force: mean over ALL cross pairs (self-pairs incl. on diag)
    for (((a, b), want) <- Seq(
        ((labels.head, labels.head), 0.0),
        ((labels.head, labels.last), 0.0)).map(_._1).map { k =>
      val (va, vb) = (byLabel(k._1), byLabel(k._2))
      val mean = (for (x <- va; y <- vb)
        yield x.zip(y).map(p => p._1 * p._2).sum).sum / (va.length * vb.length)
      k -> mean
    }) {
      // the factorized sum matches the O(n^2) mean up to the output grid
      assert(math.abs(got((a, b)) - want) <= 1e-5,
        s"cell ($a,$b): got ${got((a, b))}, brute force $want")
    }
  }

  test("pageRank conserves probability mass and is positive") {
    val r = ScaleOps.pageRank(spark, sfDir).collect()
    val ranks = r.map(_.getDouble(1))
    assert(ranks.forall(_ > 0.0))
    // symmetrized graph has no dangling nodes, so total mass stays 1
    // (up to one 1e-9 output-grid rounding per node)
    assert(math.abs(ranks.sum - 1.0) < 1e-9 * ranks.length + 1e-6)
  }

  test("personalized pagerank concentrates mass on the seed; empty seeds fail loudly") {
    val sq = spark
    import sq.implicits._
    // co-purchase star: seed 20 at the center (20 % PprSeedMod == 0),
    // leaves 1/2/3. Hand iteration at d=0.85, 3 rounds: center 0.258,
    // each leaf 0.247 — center above leaves, leaves exactly symmetric,
    // and the teleport-to-seed term is what keeps the center on top
    // (global PageRank would not distinguish a seed)
    Seq((1L, 20L), (1L, 1L), (2L, 20L), (2L, 2L), (3L, 20L), (3L, 3L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet("/tmp/graft_ppr_t/lineitem.parquet")
    val r = graft.operators.ScaleOps.ppr(spark, "/tmp/graft_ppr_t")
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(20L) > r(1L) && r(1L) > 0.0,
      s"the seed must hold the most mass: $r")
    assert(r(1L) == r(2L) && r(2L) == r(3L),
      s"symmetric leaves must score identically: $r")
    assert(math.abs(r(20L) - 0.258) < 1e-3 &&
      math.abs(r(1L) - 0.2472) < 1e-3,
      s"hand-iterated star values drifted: $r")
    // no part divisible by 20 -> the guard must throw, not NaN
    Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet("/tmp/graft_ppr_e/lineitem.parquet")
    val e = intercept[IllegalArgumentException] {
      graft.operators.ScaleOps.ppr(spark, "/tmp/graft_ppr_e").collect()
    }
    assert(e.getMessage.contains("seed set"),
      s"empty seeds must fail loudly: ${e.getMessage}")
    graft.core.EngineCache.releaseAll()
  }

  test("pq encode: every (vec, subspace) coded once; Lloyd beats the seed codebook") {
    val r = ScaleOps.pqEncode(spark, sfDir).collect()
    val n = graft.core.Tables.load(spark, sfDir, "embeddings").count()
    assert(r.length == n * ScaleOps.PqM)
    assert(r.forall(row => row.getInt(2) >= 0 && row.getInt(2) < ScaleOps.PqK))
    // the k-means refinement must strictly lower mean L2² distortion vs
    // the raw seed codebook (rounds = 0), and each extra round must
    // never make it worse — the monotone-descent property of Lloyd
    val errs = (0 to ScaleOps.PqRounds)
      .map(ScaleOps.pqMeanError(spark, sfDir, _))
    assert(errs.last < errs.head,
      s"k-means codebook did not lower distortion: $errs")
    errs.sliding(2).foreach {
      case Seq(a, b) => assert(b <= a + 1e-9, s"Lloyd ascended: $errs")
      case _ =>
    }
    // the shipped encode carries exactly the final-codebook distortion
    val shipped = r.map(_.getDouble(3)).sum / r.length
    assert(math.abs(shipped - errs.last) < 1e-6)
  }

  test("attribution credits exactly the purchases that have a prior touch") {
    val ev = graft.core.Tables.load(spark, sfDir, "events")
    val r = ScaleOps.attribution(spark, sfDir).collect()
    val attributed = r.map(_.getLong(1)).sum
    // ground truth: purchases whose user has ANY earlier non-purchase event
    val sq = spark
    import sq.implicits._
    ev.createOrReplaceTempView("ev_attr_check")
    val expected = spark.sql("""
      SELECT count(1) FROM ev_attr_check p
      WHERE p.event_type = 'purchase' AND EXISTS (
        SELECT 1 FROM ev_attr_check t
        WHERE t.user_id = p.user_id AND t.event_type <> 'purchase'
          AND (t.ts < p.ts OR (t.ts = p.ts AND t.event_id < p.event_id)))
      """).as[Long].head()
    assert(attributed == expected)
    assert(r.map(_.getString(0)).toSet.subsetOf(
      Set("click", "view", "signup", "error")))
  }

  test("pq adc: each probe gets PqTopK results with nondecreasing distance") {
    val r = ScaleOps.pqAdcSearch(spark, sfDir).collect()
    val byProbe = r.groupBy(_.getLong(0))
    assert(byProbe.nonEmpty)
    byProbe.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to ScaleOps.PqTopK))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getDouble(3) <= b.getDouble(3))
        case _ =>
      }
    }
  }

  test("ivf-pq search stays inside the probe's cell") {
    val cells = graft.core.Tables.load(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "CAST(label AS INT) AS cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val r = ScaleOps.ivfPqSearch(spark, sfDir).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      // every result vector shares the probe's coarse cell
      assert(row.getInt(3) == cells(row.getLong(0)))
      assert(row.getInt(3) == cells(row.getLong(2)))
    }
    // and results per probe are capped at PqTopK with rank 1..k
    r.groupBy(_.getLong(0)).values.foreach { rows =>
      val rks = rows.map(_.getInt(1)).sorted
      assert(rks.toSeq == (1 to rks.length) && rks.length <= ScaleOps.PqTopK)
    }
  }

  test("merge upsert applies updates, drops deletes, appends inserts") {
    val tgt = graft.core.Tables.load(spark, sfDir, "customer")
    val orig = tgt.selectExpr("c_custkey AS k",
      "CAST(round(c_acctbal * 100) AS BIGINT) AS bal").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val merged = ScaleOps.mergeUpsert(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val maxK = orig.keys.max
    val dels = orig.keys.count(_ % 10 == 2)
    assert(merged.length == orig.size - dels + ScaleOps.MergeInserts)
    merged.foreach { case (k, bal, op) =>
      if (k > maxK) { assert(op == "I"); assert(bal == 0L) }
      else {
        assert(k % 10 != 2)
        if (k % 10 == 1) { assert(op == "U"); assert(bal == orig(k) + 10000) }
        else { assert(op == "K"); assert(bal == orig(k)) }
      }
    }
  }

  test("star flatten keeps fact grain and broadcasts every true dimension") {
    val df = ScaleOps.starFlatten(spark, sfDir)
    assert(df.count() ==
      graft.core.Tables.load(spark, sfDir, "lineitem").count())
    val plan = df.queryExecution.executedPlan.toString
    // customer, supplier, part, nation×2 must come in as broadcasts;
    // no dimension may force a sort-merge join at dim scale
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 5, plan.take(2000))
  }

  test("data quality audit reports every declared check with consistent flags") {
    val r = ScaleOps.dataQuality(spark, sfDir).collect()
    assert(r.length == 6)
    r.foreach { row =>
      assert(row.getLong(1) >= 0L)
      assert(row.getBoolean(2) == (row.getLong(1) == 0L))
    }
    assert(r.map(_.getString(0)).toSet.contains("customer.c_custkey unique"))
  }

  test("mutual information contributions sum to a nonnegative MI") {
    val r = ScaleOps.mutualInfo(spark, sfDir).collect()
    val mi = r.map(_.getDouble(4)).sum
    // MI >= 0 mathematically; each cell is rounded at 6dp so allow that slack
    assert(mi > -1e-5 * r.length)
    assert(r.map(row => (row.getString(0), row.getString(1))).distinct.length
      == r.length)
  }

  test("twap matches a hand-computed per-user interval average") {
    val ev = graft.core.Tables.load(spark, sfDir, "events")
      .selectExpr("user_id", "unix_millis(ts) AS ms", "value", "event_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val uid = ev.head._1
    val mine = ev.filter(_._1 == uid).sortBy(e => (e._2, e._4))
    val segs = mine.sliding(2).collect {
      case Array(a, b) =>
        (math.floor(a._3 * 100.0 + 0.5).toLong, b._2 - a._2)
    }.toSeq
    val expected = math.floor(
      (segs.map { case (c, dt) => BigDecimal(c) * dt }.sum.toDouble /
        segs.map(_._2).sum.toDouble) / 100.0 * 1e6 + 0.5) / 1e6
    val got = ScaleOps.twap(spark, sfDir).filter(s"user_id = $uid")
      .collect().head
    assert(got.getLong(1) == segs.length)
    assert(got.getDouble(3) == expected)
  }

  test("association rules respect min-support, valid confidence, lift order") {
    val r = ScaleOps.assocRules(spark, sfDir).collect()
    r.foreach { row =>
      assert(row.getLong(0) < row.getLong(1))
      assert(row.getLong(2) >= ScaleOps.MinSupport)
      val conf = row.getDouble(3)
      assert(conf > 0.0 && conf <= 1.0)
    }
    val lifts = r.map(_.getDouble(4))
    assert(lifts.sameElements(lifts.sortBy(-_)))
  }

  test("skyline equals brute-force dominance filter") {
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .selectExpr("doc_id", "n_chars",
        "CAST(size(split(trim(text), '\\\\s+')) AS BIGINT) AS n_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val truth = docs.filter { case (_, x1, y1) =>
      !docs.exists { case (_, x2, y2) =>
        x2 <= x1 && y2 >= y1 && (x2 < x1 || y2 > y1)
      }
    }.map(_._1).sorted
    val got = ScaleOps.skyline(spark, sfDir).collect().map(_.getLong(0))
    assert(got.toSeq == truth.toSeq)
  }

  test("triangle counts equal brute-force enumeration over the same edges") {
    val li = graft.core.Tables.load(spark, sfDir, "lineitem")
      .selectExpr("l_orderkey", "l_partkey").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pairCounts = li.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).map { case (k, v) => k -> v.size }
    val e = pairCounts.filter(_._2 >= ScaleOps.TriMinSup).keys.toSet
    val adj = e.toSeq
    val triCount = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for ((a, b) <- adj; (b2, c) <- adj if b2 == b; if e.contains((a, c))) {
      triCount(a) += 1; triCount(b) += 1; triCount(c) += 1
    }
    val got = ScaleOps.triangles(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == triCount.toMap)
  }

  test("ab test arms partition all purchases and z is finite") {
    val r = ScaleOps.abTest(spark, sfDir).collect().head
    val total = graft.core.Tables.load(spark, sfDir, "events")
      .filter("event_type = 'purchase'").count()
    assert(r.getLong(0) + r.getLong(1) == total)
    assert(!r.getDouble(4).isNaN && !r.getDouble(4).isInfinite)
  }

  test("rfm scores are 1-5 and each bucket holds ~n/5 customers") {
    val r = ScaleOps.rfm(spark, sfDir).collect()
    val n = r.length
    Seq(4, 5, 6).foreach { i =>
      val byScore = r.groupBy(_.getInt(i)).view.mapValues(_.length)
      assert(byScore.keys.toSet == Set(1, 2, 3, 4, 5))
      byScore.values.foreach(c => assert(math.abs(c - n / 5) <= 1))
    }
  }

  test("event paths: counts match a driver-side trigram recount") {
    val ev = graft.core.Tables.load(spark, sfDir, "events")
      .selectExpr("user_id", "unix_millis(ts) AS ms", "event_id", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val counts = ev.groupBy(_._1).values.flatMap { rows =>
      rows.sortBy(e => (e._2, e._3)).map(_._4).sliding(3)
        .filter(_.length == 3).map(_.mkString(" > "))
    }.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = counts.toSeq.sortBy { case (p, c) => (-c, p) }
      .take(ScaleOps.PathTopK)
    val got = ScaleOps.eventPaths(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected)
  }

  test("chi-square grid covers all orders and contributions are nonnegative") {
    val r = ScaleOps.chiSquare(spark, sfDir).collect()
    val nOrders = graft.core.Tables.load(spark, sfDir, "orders").count()
    assert(r.map(_.getLong(2)).sum == nOrders)
    r.foreach(row => assert(row.getDouble(4) >= 0.0))
    // full grid: |priorities| x |statuses|
    val rs = r.map(_.getString(0)).distinct.length
    val cs = r.map(_.getString(1)).distinct.length
    assert(r.length == rs * cs)
  }

  test("gini matches a driver-side recomputation and sits in [0,1)") {
    val xs = graft.core.Tables.load(spark, sfDir, "orders")
      .selectExpr("o_custkey", "CAST(round(o_totalprice * 100) AS BIGINT) AS c")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => (k, v.map(_._2).sum) }.toSeq
      .sortBy(t => (t._2, t._1)).map(_._2)
    val n = xs.length.toLong
    val sx = xs.map(BigDecimal(_)).sum
    val num = xs.zipWithIndex.map { case (x, i0) =>
      BigDecimal(2L * (i0 + 1) - n - 1) * x
    }.sum
    val expected = math.floor(
      (num.toDouble / (n.toDouble * sx.toDouble)) * 1e9 + 0.5) / 1e9
    val got = ScaleOps.gini(spark, sfDir).collect().head
    assert(got.getLong(0) == n)
    assert(got.getDouble(2) == expected)
    assert(got.getDouble(2) >= 0.0 && got.getDouble(2) < 1.0)
  }

  test("seasonal indices average to 1 over the months present") {
    val r = ScaleOps.seasonal(spark, sfDir).collect()
    assert(r.length == 12)
    val mean = r.map(_.getDouble(2)).sum / r.length
    assert(math.abs(mean - 1.0) < 1e-4)
  }

  test("sparse cosine pairs are ordered, thresholded, and bounded by 1") {
    val r = ScaleOps.sparseCosine(spark, sfDir).collect()
    r.foreach { row =>
      assert(row.getLong(0) < row.getLong(1))
      val c = row.getDouble(2)
      assert(c >= ScaleOps.SparseTau.toDouble && c <= 1.000001)
    }
  }

  test("ANN recall audit: bounded metrics, blocking cheaper than exact") {
    val rows = ScaleOps.annRecallAudit(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("ivf_cell", "ivf_kmeans", "ivf_multiprobe", "pq_adc", "rerank"))
    rows.foreach { r =>
      val recall = r.getDouble(3); val scanned = r.getDouble(4)
      assert(recall >= 0.0 && recall <= 1.0)
      assert(scanned > 0.0 && scanned <= 1.0)
      assert(r.getLong(1) > 0 && r.getInt(2) > 0)
    }
    val ivf = rows.find(_.getString(0) == "ivf_cell").get
    // the whole point of the inverted file: it reads a small fraction
    assert(ivf.getDouble(4) < 0.5,
      "cell blocking must scan well under half the corpus")
    // the audit's actionable claim: learned geometric cells beat the
    // class-label stand-in at comparable scan cost
    val km = rows.find(_.getString(0) == "ivf_kmeans").get
    assert(km.getDouble(3) > ivf.getDouble(3),
      "k-means cells must out-recall label cells")
    assert(km.getDouble(4) < 0.5)
    // nprobe > 1 buys recall with proportional scan — both must rise
    val mp = rows.find(_.getString(0) == "ivf_multiprobe").get
    assert(mp.getDouble(3) > km.getDouble(3),
      "probing more cells must not lose recall")
    assert(mp.getDouble(4) > km.getDouble(4) && mp.getDouble(4) < 0.5)
    // the two-stage composition is the audit's production answer: a
    // retrieval-grade compressed pool reranked exactly must dominate
    // every single-stage leg while touching ~RerankPool/(N-1) of the
    // full-precision rows (0.94 recall at 0.10 scan on this fixture;
    // the bound is kept slightly loose against fixture regeneration)
    val rr = rows.find(_.getString(0) == "rerank").get
    assert(rr.getDouble(3) >= 0.85 && rr.getDouble(3) > mp.getDouble(3),
      "retrieve-then-rerank must close the recall gap")
    assert(rr.getDouble(4) < 0.15,
      "rerank must touch only the bounded pool's exact rows")
  }

  test("k-core peels chains and pendants, keeps the planted clique") {
    val sq = spark
    import sq.implicits._
    // 4-clique {1,2,3,4} + a pendant 5-1 + a chain 10-11-12-13: under
    // K=2 the chain unravels end-inward and the pendant drops with it;
    // the clique survives with every degree intact
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L),
      (10L, 11L), (11L, 12L), (12L, 13L)).toDF("u", "v")
    val out = ScaleOps.kcoreOf(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      "only the clique is 2-core; pendant and chain must peel away")
    // idempotence past the fixpoint: extra rounds are no-ops, so the
    // core of the core is the core
    val again = ScaleOps.kcoreOf(
      Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
        .toDF("u", "v")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === out)
    // cross-validate the size-gated strategy switch: the distributed
    // peel loop, called directly on identical input — both paths must
    // agree node for node, degree for degree
    val viaLoop = ScaleOps.kcorePeel(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaLoop === out,
      "driver peel and distributed peel must be bit-equal")
    graft.core.EngineCache.releaseAll()
  }

  test("z-order layout skips on both dims; the single sort cannot") {
    val sq = spark
    import sq.implicits._
    // the full 64x64 grid: 4096 rows, 64 files of 64 rows. The Morton
    // code is a bijection here, so each z-file is EXACTLY one aligned
    // 8x8 quad and every count below is provable by hand: quartile
    // windows are 16 of 64 values per dim = 2 of 8 blocks
    val rows = for { p <- 0L until 64L; s <- 0L until 64L }
      yield (p, s, p * 64 + s, 0L)
    val out = ScaleOps.zorderLayoutOf(rows.toDF("p", "s", "o", "ln"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(3), r.getLong(5))).toMap
    assert(out(("zorder", "both_mid"))._1 == 4,
      "2x2 quads for a two-dim window")
    assert(out(("zorder", "part_only"))._1 == 16)
    assert(out(("zorder", "supp_only"))._1 == 16)
    assert(out(("partkey_sorted", "both_mid"))._1 == 16)
    assert(out(("partkey_sorted", "part_only"))._1 == 16)
    assert(out(("partkey_sorted", "supp_only"))._1 == 64,
      "the unsorted dim cannot skip at all")
    // predicate row counts are layout-independent ground truth
    assert(out(("zorder", "both_mid"))._2 == 16L * 16L)
    assert(out(("partkey_sorted", "supp_only"))._2 == 64L * 16L)
    graft.core.EngineCache.releaseAll()
  }

  test("dim-truncation audit: lossless on matryoshka vectors, lossy otherwise") {
    val sq = spark
    import sq.implicits._
    // matryoshka-style: all information in the first 8 dims, zero tail
    // -> every truncation level keeps the exact ranking, recall == 1
    def head(i: Int): Seq[Float] = Seq.tabulate(8)(d =>
      ((i * 7 + d * 3) % 11 + 1).toFloat)
    val mat = (0 until 30).map(i =>
      (i.toLong, (head(i) ++ Seq.fill(56)(0f)).toArray))
      .toDF("vec_id", "embedding")
    val rMat = ScaleOps.dimTruncationAuditOf(mat).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(ScaleOps.TruncDims.forall(d => rMat(d.toLong) == 1.0),
      s"zero-tail vectors must truncate losslessly: $rMat")
    // anti-case: a common head, all information in dims 9..16 — the
    // 8-dim prefix is identical across vectors, so truncated ranking
    // is pure id-tiebreak and must lose true neighbors
    val anti = (0 until 30).map { i =>
      val tail = Seq.tabulate(56)(d => if (d == i % 8) 1f else 0f)
      (i.toLong, (Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f) ++ tail).toArray)
    }.toDF("vec_id", "embedding")
    val rAnti = ScaleOps.dimTruncationAuditOf(anti).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(rAnti(8L) < 1.0,
      s"an uninformative prefix cannot preserve the ranking: $rAnti")
    graft.core.EngineCache.releaseAll()
  }

  test("truncate-then-rerank dominates naive truncation on the same slice") {
    val sq = spark
    import sq.implicits._
    val rnd = new scala.util.Random(42)
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val naive = ScaleOps.dimTruncationAuditOf(vecs).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val rer = ScaleOps.truncRerankOf(vecs).head()
    assert(rer.getDouble(4) > naive(ScaleOps.TruncRerankDims.toLong),
      s"the exact rerank must beat serving the coarse ranking directly " +
        s"(${rer.getDouble(4)} vs ${naive(ScaleOps.TruncRerankDims.toLong)})")
    assert(rer.getDouble(5) < 0.3,
      "the full-precision scan stays bounded by pool/(n-1)")
    graft.core.EngineCache.releaseAll()
  }

  test("bitmap index: popcount conjunctions equal the base-table counts") {
    val sq = spark
    import sq.implicits._
    val rnd = new scala.util.Random(7)
    // random rows with forced (orderkey, linenumber) duplicates, plus a
    // 32-deep burst on one key: occ reaches the capacity edge and the
    // rid lands on bit 63 of its word ((99·8+7)·32+31 ≡ 63 mod 64) — the
    // sign bit, where a shiftleft/bit_count sign bug would show
    val rows = (0 until 500).map { _ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(7) + 1,
        Seq("A", "N", "R")(rnd.nextInt(3)), Seq("F", "O")(rnd.nextInt(2)))
    } ++ Seq.fill(32)((99L, 7, "R", "O"))
    val li = rows.toDF("l_orderkey", "l_linenumber",
      "l_returnflag", "l_linestatus")
    val got = ScaleOps.bitmapCountsOf(ScaleOps.bitmapIndexOf(li)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val exp = rows.groupBy(r => (r._3, r._4)).map { case (k, v) =>
      k -> v.size.toLong }
    assert(got == exp, s"bitmap counts must equal ground truth: $got vs $exp")
    // capacity guard: a 33rd duplicate must throw, not merge bits
    val over = li.union(Seq((99L, 7, "R", "O"))
      .toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"))
    val e = intercept[Exception] {
      ScaleOps.bitmapCountsOf(ScaleOps.bitmapIndexOf(over)).collect()
    }
    assert(e.getMessage.contains("rid budget"), e.getMessage)
    graft.core.EngineCache.releaseAll()
  }

  test("bitmap append: split-built merge equals one-shot build, bits disjoint") {
    val sq = spark
    import sq.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 400).map { _ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(7) + 1,
        Seq("A", "N", "R")(rnd.nextInt(3)), Seq("F", "O")(rnd.nextInt(2)))
    }
    val li = rows.toDF("l_orderkey", "l_linenumber",
      "l_returnflag", "l_linestatus")
    // split on the rid-key prefix, exactly like the operator
    val base = li.filter(col("l_orderkey") % 10 =!= 7)
    val batch = li.filter(col("l_orderkey") % 10 === 7)
    val bi = ScaleOps.bitmapIndexOf(base)
      .transform(graft.core.EngineCache.persisted)
    val bb = ScaleOps.bitmapIndexOf(batch)
      .transform(graft.core.EngineCache.persisted)
    // base and batch never set the same bit: any shared (col, val, word)
    // must AND to zero (the disjointness the lossless merge rests on)
    val clash = bi.alias("a").join(bb.alias("b"),
        Seq("col", "val", "word_id"))
      .filter(expr("(a.w & b.w) != 0")).count()
    assert(clash == 0, "split halves set overlapping bits")
    val sel = Seq("col", "val", "word_id", "w").map(col)
    val merged = bi.select(sel: _*).union(bb.select(sel: _*))
      .groupBy("col", "val", "word_id").agg(expr("bit_or(w)").as("w"))
    val got = ScaleOps.bitmapCountsOf(merged).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val oneShot = ScaleOps.bitmapCountsOf(ScaleOps.bitmapIndexOf(li))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val truth = rows.groupBy(r => (r._3, r._4)).map { case (k, v) =>
      k -> v.size.toLong }
    assert(got == truth && oneShot == truth,
      s"append-merged and one-shot must both equal ground truth: " +
        s"$got / $oneShot / $truth")
    graft.core.EngineCache.releaseAll()
  }

  test("bitmap delete: tombstone AND-NOT serve equals a rebuild without the rows") {
    val sq = spark
    import sq.implicits._
    val rnd = new scala.util.Random(13)
    // duplicate (orderkey, linenumber) groups on BOTH sides of the
    // delete predicate: the tombstone must clear every occ slot of a
    // deleted group and none of a surviving one
    val rows = (0 until 450).map { _ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(7) + 1,
        Seq("A", "N", "R")(rnd.nextInt(3)), Seq("F", "O")(rnd.nextInt(2)))
    } ++ Seq.fill(5)((24L, 3, "R", "O")) ++ Seq.fill(5)((17L, 2, "A", "F"))
    val li = rows.toDF("l_orderkey", "l_linenumber",
      "l_returnflag", "l_linestatus")
    val del = col("l_orderkey") % ScaleOps.BitmapDelMod ===
      ScaleOps.BitmapDelRem
    val idx = ScaleOps.bitmapIndexOf(li)
      .transform(graft.core.EngineCache.persisted)
    // tombstone built from ONLY the deleted slice (the O(deletes) path
    // the operator uses) — its rids must match the full build's
    val tomb = ScaleOps.bitmapTombstoneOf(li.filter(del))
    val served = ScaleOps.bitmapCountsDeleted(idx, tomb).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val rebuilt = ScaleOps.bitmapCountsOf(
        ScaleOps.bitmapIndexOf(li.filter(!del))).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val truth = rows.filter(r => r._1 % ScaleOps.BitmapDelMod !=
        ScaleOps.BitmapDelRem)
      .groupBy(r => (r._3, r._4)).map { case (k, v) => k -> v.size.toLong }
    assert(served == truth && rebuilt == truth,
      s"delete ∘ store must equal rebuild: $served / $rebuilt / $truth")
    // the index itself is untouched: serving WITHOUT the tombstone
    // still returns the pre-delete counts (immutability, not mutation)
    val pre = ScaleOps.bitmapCountsOf(idx).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val all = rows.groupBy(r => (r._3, r._4))
      .map { case (k, v) => k -> v.size.toLong }
    assert(pre == all, "tombstone serve must not mutate the index")
    graft.core.EngineCache.releaseAll()
  }

  test("markov removal effect: exact on hand-built chains, removal redirects to NULL") {
    val S = ScaleOps
    val G = S.MarkovGrid
    // deterministic funnel START->A->CONV: p = 1 exactly
    assert(S.markovPConv(Seq(("START", "A", 1L), ("A", "CONV", 1L)), None) == G)
    // and removing its only channel kills every conversion
    assert(S.markovPConv(Seq(("START", "A", 1L), ("A", "CONV", 1L)),
      Some("A")) == 0L)
    // split traffic: A converts, B never does -> p = 1/2; removing B
    // changes nothing (its mass already went to NULL), removing A
    // zeroes it
    val tc = Seq(("START", "A", 2L), ("START", "B", 2L),
      ("A", "CONV", 2L), ("B", "NULL", 2L))
    assert(S.markovPConv(tc, None) == G / 2)
    assert(S.markovPConv(tc, Some("B")) == G / 2)
    assert(S.markovPConv(tc, Some("A")) == 0L)
    // a 3-hop path needs 3 of the 12 iterations to propagate: exact 1
    assert(S.markovPConv(Seq(("START", "A", 1L), ("A", "B", 1L),
      ("B", "CONV", 1L)), None) == G)
    // a lossy loop A->B, B->{A, CONV}: true p = 1 but value iteration
    // truncates at MarkovIters = 12 — each return costs 2 hops, so the
    // estimate is EXACTLY 1 - 2^-5 (five completed returns), from below
    val loop = Seq(("START", "A", 2L), ("A", "B", 2L),
      ("B", "A", 1L), ("B", "CONV", 1L))
    assert(S.markovPConv(loop, None) == G - G / 32,
      s"12 rounds of a half-returning loop converge to 1 - 2^-5 exactly")
  }

  test("shapley attribution: dummy gets zero, symmetry splits, efficiency holds") {
    val S = ScaleOps
    // channel bit order: click=1, error=2, signup=4, view=8
    // 6 conversions touched {click} only, 6 touched {error} only:
    // click and error are SYMMETRIC (equal phi); signup/view are DUMMY
    // players (phi = 0); efficiency: sum phi24 = 24*(v(all) - v(empty))
    val m1 = Map(1 -> 6L, 2 -> 6L)
    val p1 = S.shapleyPhi24(m1).toMap
    assert(p1("click") == p1("error") && p1("click") == 6L * 24,
      s"symmetric solo converters must split equally: $p1")
    assert(p1("signup") == 0L && p1("view") == 0L,
      s"untouched channels are dummy players: $p1")
    assert(p1.values.sum == 24L * 12, "efficiency: sum phi = v(all) - v(empty)")
    // a conversion needing BOTH click and error splits 50/50 between
    // them (joint mask 3); baseline conversions (mask 0) shift nothing
    val p2 = S.shapleyPhi24(Map(3 -> 10L, 0 -> 5L)).toMap
    assert(p2("click") == p2("error") && p2("click") == 10L * 12,
      s"a two-channel conversion splits its credit: $p2")
    assert(p2.values.sum == 24L * 10,
      "mask-0 conversions sit in v(empty) and carry no credit")
    graft.core.EngineCache.releaseAll()
  }

  test("attribution guards: rogue channels and zero conversions fail loudly") {
    val sq = spark
    import sq.implicits._
    val S = ScaleOps
    // the guards' failure modes only trip at runtime, so both are
    // exercised against planted fixtures: an UNDECLARED channel must
    // refuse (not silently drop from credit — the Shapley bitCase maps
    // unknowns to 0 before bit_or, so the guard must read the RAW
    // journey vocabulary), and a zero-conversion corpus must refuse
    // (not emit NaN removal effects)
    def evDir(rows: Seq[(Long, Long, String, java.sql.Timestamp)]): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-attr").toString
      rows.toDF("user_id", "event_id", "event_type", "ts")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val rogueDir = evDir(Seq(
      (1L, 1L, "click", ts(1)),
      (1L, 2L, "smoke_signal", ts(2)),   // not in MarkovChannels
      (1L, 3L, "purchase", ts(3))))
    val e1 = intercept[IllegalArgumentException](
      S.markovAttribution(spark, rogueDir))
    assert(e1.getMessage.contains("undeclared channels") &&
      e1.getMessage.contains("smoke_signal"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      S.shapleyAttribution(spark, rogueDir))
    assert(e2.getMessage.contains("undeclared channels") &&
      e2.getMessage.contains("smoke_signal"), e2.getMessage)
    // journeys that never convert: P(conv | START) = 0, removal effects
    // are 0/0 — the operator refuses instead of emitting NaN rows
    val noConvDir = evDir(Seq(
      (1L, 1L, "click", ts(1)), (2L, 2L, "view", ts(2))))
    val e3 = intercept[IllegalArgumentException](
      S.markovAttribution(spark, noConvDir))
    assert(e3.getMessage.contains("no conversions"), e3.getMessage)
    // and the value iteration itself is total: an empty transition set
    // (empty events table) reads as 0, never NoSuchElementException
    assert(S.markovPConv(Nil, None) == 0L)
    graft.core.EngineCache.releaseAll()
  }

  test("zorder update: file membership frozen, coordinates moved, idempotent") {
    import org.apache.spark.sql.functions.col
    val S = ScaleOps
    val W = graft.core.Warehouse
    val suffix = sfDir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    // capture the pristine v1 file membership before any update runs —
    // (o, ln) is NOT unique in the fixture, so membership compares as
    // per-file key COUNTS, not a key -> file map
    def membership(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("file_id", "o", "ln")
        .count().collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
        .toMap
    val before = membership(S.zLayoutTableOnce(spark, sfDir, "zupd_", "true"))
    S.zorderUpdateServe(spark, sfDir).collect()
    val after = W.readTable(spark, s"zupd_$suffix")
    // every row sits in its original file (update never re-ranks)...
    assert(membership(after) == before, "file membership changed under update")
    // ...and the cohort's coordinate is the idempotent target
    assert(after.filter(
      s"o % 10 = ${S.ZUpdRem} AND p != o % ${S.ZUpdSpan} + 1").isEmpty,
      "cohort rows must carry the updated coordinate")
    // second run: clean gate, no new version published
    val (vR, vM) = (W.publishedVersion(spark, s"zupd_$suffix").get,
      W.publishedVersion(spark, s"zupdman_$suffix").get)
    S.zorderUpdateServe(spark, sfDir).collect()
    assert(W.publishedVersion(spark, s"zupd_$suffix").get == vR &&
      W.publishedVersion(spark, s"zupdman_$suffix").get == vM,
      "a clean update run must not publish new versions")
    // manifest boxes are true min/max of the updated rows
    val manBox = W.readTable(spark, s"zupdman_$suffix").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val trueBox = after.groupBy("file_id")
      .agg(org.apache.spark.sql.functions.min("p"),
        org.apache.spark.sql.functions.max("p")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(manBox == trueBox, "manifest p-boxes must match the rows at rest")
    // CRASH WINDOW between the two publishes: rows already updated, the
    // manifest still pre-move (simulated by publishing boxes that no
    // longer cover the rows — p_hi clamped to p_lo). The rows gate is
    // clean, so only the manifest's OWN staleness probe (any row
    // outside its stored box) can trigger repair; without it pruning
    // would silently drop the uncovered rows forever.
    val served = S.zorderUpdateServe(spark, sfDir).collect().toSeq
    val manNow = W.readTable(spark, s"zupdman_$suffix")
      .select("file_id", "p_lo", "p_hi", "s_lo", "s_hi")
    W.publish(manNow.withColumn("p_hi", col("p_lo")), s"zupdman_$suffix")
    W.gc(spark, s"zupdman_$suffix")
    val servedAfterRepair = S.zorderUpdateServe(spark, sfDir).collect().toSeq
    val repaired = W.readTable(spark, s"zupdman_$suffix").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(repaired == trueBox,
      "manifest must converge back to true min/max boxes after the crash")
    assert(servedAfterRepair == served,
      "a post-crash serve must return the pre-crash answer, not a pruned one")
    assert(W.publishedVersion(spark, s"zupd_$suffix").get == vR,
      "manifest repair must not republish the rows table")
    graft.core.EngineCache.releaseAll()
  }

  test("bloom skip: exact aggregates off positive files, absent keys prune to zero") {
    val sq = spark
    import sq.implicits._
    import org.apache.spark.sql.functions.{col, expr, min, max}
    // three files with disjoint p sets; probes: a present key (p=2, one
    // file), a key present in TWO files (p=7), and an absent key (99)
    val rows = Seq(
      (0, 1L, 10L), (0, 2L, 20L), (0, 7L, 30L),
      (1, 3L, 40L), (1, 7L, 50L), (1, 7L, 60L),
      (2, 4L, 70L), (2, 5L, 80L)).toDF("file_id", "p", "cents")
    val man = rows.groupBy("file_id").agg(expr("bloom_build(p)").as("sk"),
      min("p").as("p_lo"), max("p").as("p_hi"))
    val out = graft.operators.ScaleOps
      .bloomServeOf(spark, Seq(2L, 7L, 99L), man, rows, 3)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5), r.getBoolean(6))).toMap
    assert(out(2L) == (1L, 20L, 1L, 3L, true, true),
      s"single-file key must aggregate exactly and prune: ${out(2L)}")
    assert(out(7L) == (3L, 140L, 2L, 3L, true, true),
      s"two-file key must touch both holders: ${out(7L)}")
    // the absent key: zero rows, zero holders, and the filters (no
    // false positive at this density) prune every file
    assert(out(99L)._1 == 0L && out(99L)._3 == 0L && out(99L)._5 &&
      out(99L)._6, s"absent key must serve empty and pruned: ${out(99L)}")
    graft.core.EngineCache.releaseAll()
  }

  test("bloom skip append: base manifest frozen, fresh files carry the arrivals") {
    import org.apache.spark.sql.functions.col
    val S = graft.operators.ScaleOps
    val W = graft.core.Warehouse
    val suffix = sfDir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val served = S.bloomSkipAppendServe(spark, sfDir).collect()
    val (vBase, vMan) = (W.publishedVersion(spark, s"bfbase_$suffix").get,
      W.publishedVersion(spark, s"bfbaseman_$suffix").get)
    // a second serve re-ranks only the batch: the at-rest base rows and
    // base manifest must not republish (the frozen-artifact discipline)
    val again = S.bloomSkipAppendServe(spark, sfDir).collect()
    assert(W.publishedVersion(spark, s"bfbase_$suffix").get == vBase &&
      W.publishedVersion(spark, s"bfbaseman_$suffix").get == vMan,
      "append serve must never republish the base layout or manifest")
    assert(served.toSeq == again.toSeq, "append serve must be deterministic")
    // arrivals are visible: the appended serve counts at least as many
    // rows per key as the base-only layout serves for the same keys
    val baseRows = W.readTable(spark, s"bfbase_$suffix")
    assert(served.map(_.getLong(1)).sum >=
      baseRows.filter(col("p").isin(served.map(_.getLong(0)): _*)).count(),
      "appended serve must cover the base rows for the probed keys")
    graft.core.EngineCache.releaseAll()
  }

  test("bloom skip purge: tombstones gone, manifest bijective, torn manifest converges") {
    import org.apache.spark.sql.functions.{col, lit}
    val S = graft.operators.ScaleOps
    val W = graft.core.Warehouse
    val suffix = sfDir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val (rowsT, manT) = (s"bfpurge_$suffix", s"bfpurgeman_$suffix")
    val served = S.bloomSkipPurgeServe(spark, sfDir).collect()
    val b = graft.core.Tables.load(spark, sfDir, "lineitem")
      .agg(org.apache.spark.sql.functions.min("l_orderkey"),
        org.apache.spark.sql.functions.max("l_orderkey")).head()
    val othr = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / S.BfDelDiv
    assert(W.readTable(spark, rowsT).filter(s"o <= $othr").isEmpty,
      "tombstoned rows must be physically gone after the purge")
    def liveIds() = Option(new java.io.File(
        W.publishedPath(spark, rowsT)).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("file_id="))
      .map(_.getName.drop(8).toInt).toSet
    def manIds() = W.readTable(spark, manT)
      .select("file_id").collect().map(_.getInt(0)).toSet
    assert(manIds() == liveIds() && manIds().size < S.BfFiles,
      "manifest must map exactly the surviving partitions, files dropped")
    // idempotence: a clean re-serve republishes nothing and answers the same
    val (vR, vM) = (W.publishedVersion(spark, rowsT).get,
      W.publishedVersion(spark, manT).get)
    assert(S.bloomSkipPurgeServe(spark, sfDir).collect().toSeq ==
      served.toSeq, "purge serve must be idempotent")
    assert(W.publishedVersion(spark, rowsT).get == vR &&
      W.publishedVersion(spark, manT).get == vM,
      "a clean re-serve must not republish either artifact")
    // torn publish: rows landed, manifest did not — simulate with an
    // orphan manifest row + one live file's bounds corrupted
    val goodMan = W.readTable(spark, manT)
    val victim = manIds().min
    W.publish(goodMan
      .unionByName(goodMan.limit(1).select(lit(999).as("file_id"),
        col("sk"), col("p_lo"), col("p_hi")))
      .withColumn("p_lo", org.apache.spark.sql.functions
        .when(col("file_id") === victim, lit(-1L)).otherwise(col("p_lo"))),
      manT)
    S.bloomPurgeConverge(spark, rowsT, manT, s"o <= $othr")
    assert(manIds() == liveIds(), "orphan manifest rows must drop")
    val trueLo = W.readTable(spark, rowsT)
      .filter(col("file_id") === victim)
      .agg(org.apache.spark.sql.functions.min("p")).head().getLong(0)
    assert(W.readTable(spark, manT).filter(col("file_id") === victim)
      .head().getAs[Long]("p_lo") == trueLo,
      "a bounds-diverged file must rebuild its filter + bounds")
    assert(W.publishedVersion(spark, rowsT).get == vR,
      "manifest convergence must not republish the rows table")
    assert(S.bloomSkipPurgeServe(spark, sfDir).collect().toSeq ==
      served.toSeq, "a post-crash serve must return the pre-crash answer")
    graft.core.EngineCache.releaseAll()
  }

  test("nsw walk: refinement surfaces neighbors-of-neighbors, unreachable nodes stay unvisited") {
    val sq = spark
    import sq.implicits._
    val S = graft.operators.ScaleOps
    // q's ONLY edge is a (cos .707107); b (cos .993884) is reachable
    // only THROUGH a — the walk must out-rank the direct edge with the
    // neighbor-of-neighbor, which is precisely what beam refinement
    // buys over the LSH shortlist. c has no inbound path: never visited.
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(1.0f, 1.0f)),
      (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val graph = Seq((0L, 1L), (1L, 2L), (2L, 1L), (3L, 0L))
      .toDF("src", "dst")
    val out = S.nswSearchOf(vecs, graph, "vec_id = 0").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    def g(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val (bx, by) = (0.9f.toDouble, 0.1f.toDouble)
    val cosB = g((1.0 * bx + 0.0 * by) /
      (math.sqrt(1.0) * math.sqrt(bx * bx + by * by)))
    val cosA = g((1.0 + 0.0) / (math.sqrt(1.0) * math.sqrt(2.0)))
    assert(out == Seq((1, 2L, cosB), (2, 1L, cosA)),
      s"walk ranking drifted: $out")
    graft.core.EngineCache.releaseAll()
  }

  test("nsw append: maintained adjacency equals the rebuild, stored artifacts stay frozen") {
    import org.apache.spark.sql.functions.col
    val S = graft.operators.ScaleOps
    val W = graft.core.Warehouse
    val suffix = sfDir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val served = S.nswAppendServe(spark, sfDir).collect()
    val (vS, vA) = (W.publishedVersion(spark, s"nswsig_$suffix").get,
      W.publishedVersion(spark, s"nswbase_$suffix").get)
    assert(S.nswAppendServe(spark, sfDir).collect().toSeq == served.toSeq,
      "append serve must be deterministic")
    assert(W.publishedVersion(spark, s"nswsig_$suffix").get == vS &&
      W.publishedVersion(spark, s"nswbase_$suffix").get == vA,
      "a re-serve must never republish the base signatures or adjacency")
    // the proof the oracle makes through the walk, made structural:
    // maintained adjacency == full-corpus rebuild, row for row
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val vecs = graft.core.Tables.load(spark, sfDir, "embeddings")
    val merged = key(S.nswGraphAppendOf(vecs,
      W.readTable(spark, s"nswsig_$suffix"),
      W.readTable(spark, s"nswbase_$suffix"),
      s"vec_id % 10 = ${S.NswBatchMod}"))
    val rebuilt = key(S.nswGraphOf(vecs))
    assert(merged == rebuilt,
      s"maintain must equal rebuild: ${merged.size} vs ${rebuilt.size} edges, " +
        s"diff ${(merged diff rebuilt).take(3)} / ${(rebuilt diff merged).take(3)}")
    // arrivals are reachable: batch nodes appear as sources
    assert(merged.exists(_._1 % 10 == S.NswBatchMod),
      "batch arrivals must enter the adjacency")
    graft.core.EngineCache.releaseAll()
  }

  test("nsw delete: maintained adjacency equals the survivor rebuild, tombstones leave every role") {
    import org.apache.spark.sql.functions.col
    val S = graft.operators.ScaleOps
    val W = graft.core.Warehouse
    val suffix = sfDir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val served = S.nswDeleteServe(spark, sfDir).collect()
    val (vS, vA) = (W.publishedVersion(spark, s"nswfsig_$suffix").get,
      W.publishedVersion(spark, s"nswgraph_$suffix").get)
    assert(S.nswDeleteServe(spark, sfDir).collect().toSeq == served.toSeq,
      "delete serve must be deterministic")
    assert(W.publishedVersion(spark, s"nswfsig_$suffix").get == vS &&
      W.publishedVersion(spark, s"nswgraph_$suffix").get == vA,
      "a re-serve must never republish the signatures or adjacency")
    // the proof the oracle makes through the walk, made structural:
    // maintained adjacency == rebuild over survivors, row for row
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val vecs = graft.core.Tables.load(spark, sfDir, "embeddings")
    val pred = s"vec_id % ${S.NswDelMod} = ${S.NswDelRem}"
    val maintained = key(S.nswGraphDeleteOf(
      W.readTable(spark, s"nswfsig_$suffix"),
      W.readTable(spark, s"nswgraph_$suffix"), vecs, pred))
    val rebuilt = key(S.nswGraphOf(vecs.filter(s"NOT ($pred)")))
    assert(maintained == rebuilt,
      s"delete must equal survivor rebuild: ${maintained.size} vs " +
        s"${rebuilt.size} edges, diff ${(maintained diff rebuilt).take(3)} " +
        s"/ ${(rebuilt diff maintained).take(3)}")
    // no tombstoned id survives in any role
    assert(!maintained.exists(e => e._1 % S.NswDelMod == S.NswDelRem ||
      e._2 % S.NswDelMod == S.NswDelRem),
      "tombstoned ids must leave the adjacency as src and dst")
    assert(!served.exists(_.getLong(2) % S.NswDelMod == S.NswDelRem),
      "tombstoned ids must never be served as candidates")
    graft.core.EngineCache.releaseAll()
  }

  test("nsw band geometry: forCorpus bounds bucket population, frozen-compat, verbs stay rebuild-equal off-default") {
    val G = graft.operators.NswGeometry
    // the law: buckets grow with the corpus so expected population
    // stays <= TargetBucketPop, up to the single-sig-word cap
    (1L to 18L).map(1L << _).filter(_ <= 8L * (1L << G.MaxBitsPerBand))
      .foreach { n =>
        val g = G.forCorpus(n)
        assert(g.expectedBucketPop(n) <= G.TargetBucketPop + 1e-9,
          s"n=$n geom=$g pop=${g.expectedBucketPop(n)}")
        assert(g.bits <= 60 && g.bands >= 4 && g.bands <= 10, s"n=$n $g")
      }
    // small corpora reproduce the registry constants bit-for-bit
    assert(G.forCorpus(500) == G.frozen)
    assert(G.frozen.bits == graft.operators.LlmQueries.SrpBits &&
      G.frozen.bands == graft.operators.LlmQueries.SrpBands,
      "frozen geometry drifted from the oracle constants")
    // past the word cap the geometry pins at (MaxBitsPerBand, 4) — the
    // documented seeded-multi-word continuation point, never > 60 bits
    assert(G.forCorpus(1L << 40) == graft.operators.NswGeometry(G.MaxBitsPerBand, 4))
    // threading proof: under a NON-default geometry every maintenance
    // verb still equals the same-geometry rebuild, row for row
    val S = ScaleOps
    val g = graft.operators.NswGeometry(8, 7)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val vecs = graft.core.Tables.load(spark, sfDir, "embeddings")
    val pred = s"vec_id % 10 = ${S.NswBatchMod}"
    val baseSigs = S.nswSigsOf(vecs.filter(s"NOT ($pred)"), g)
    val baseAdj = S.nswGraphOf(vecs.filter(s"NOT ($pred)"), g)
    assert(key(S.nswGraphAppendOf(vecs, baseSigs, baseAdj, pred, g)) ==
      key(S.nswGraphOf(vecs, g)), "off-default append != rebuild")
    val fullSigs = S.nswSigsOf(vecs, g)
    val fullAdj = S.nswGraphOf(vecs, g)
    assert(key(S.nswGraphDeleteOf(fullSigs, fullAdj, vecs, pred, g)) ==
      key(S.nswGraphOf(vecs.filter(s"NOT ($pred)"), g)),
      "off-default delete != survivor rebuild")
    val updated = vecs.selectExpr("vec_id",
      s"CASE WHEN $pred THEN transform(embedding, x -> -x) " +
        "ELSE embedding END AS embedding")
    assert(key(S.nswGraphUpdateOf(updated, fullSigs, fullAdj, pred, g)) ==
      key(S.nswGraphOf(updated, g)), "off-default update != rebuild")
    // the point of the knob: widening the geometry SHRINKS the append
    // trigger on the same corpus/batch (the soak's sublinearity source)
    val batchSigsFrozen = S.nswSigsOf(vecs.filter(pred))
    val affFrozen = S.nswAppendAffectedOf(
      S.nswSigsOf(vecs.filter(s"NOT ($pred)")), batchSigsFrozen).count()
    val gWide = graft.operators.NswGeometry(12, 5)
    val affWide = S.nswAppendAffectedOf(
      S.nswSigsOf(vecs.filter(s"NOT ($pred)"), gWide),
      S.nswSigsOf(vecs.filter(pred), gWide), gWide).count()
    assert(affWide < affFrozen,
      s"wider bands must sparsen the trigger: $affWide !< $affFrozen")
    graft.core.EngineCache.releaseAll()
  }

  test("ivm join view: upsert maintenance equals rebuild, base stays frozen") {
    val S = graft.operators.ScaleOps
    val W = graft.core.Warehouse
    val suffix = sfDir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val served = S.ivmViewServe(spark, sfDir).collect()
    val v0 = W.publishedVersion(spark, s"ivmview_$suffix").get
    assert(S.ivmViewServe(spark, sfDir).collect().toSeq == served.toSeq,
      "maintained serve must be deterministic")
    assert(W.publishedVersion(spark, s"ivmview_$suffix").get == v0,
      "a re-serve must never republish the base view")
    // the cohort carries the revision; everything else passes through
    // verbatim from the stored base view
    val base = W.readTable(spark, s"ivmview_$suffix").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getLong(3)))
      .toMap
    served.foreach { r =>
      val (k, c) = (r.getLong(0), r.getLong(1))
      val (bc, bs, bn) = base(k)
      if (k % S.IvmMod == S.IvmRem)
        assert(c == bc * 2, s"cohort row $k must carry doubled cents")
      else assert(c == bc, s"unrevised row $k must pass through verbatim")
      assert(r.getString(2) == bs && r.getLong(3) == bn,
        s"dimension attributes must be stable for $k")
    }
    // the serve plan reads the published view, never re-joining the
    // full fact table (only the cohort's delta join remains)
    val p = S.ivmViewServe(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(p.contains("ivmview_") ||
      "Relation \\[o_orderkey#\\d+L,cents#".r.findFirstIn(p).isDefined,
      s"serve must scan the published view relation:\n$p")
    graft.core.EngineCache.releaseAll()
  }

  test("rrf fusion: hand-computed reciprocal-rank fusion of the dense and sparse legs") {
    val sq = spark
    import sq.implicits._
    val S = graft.operators.ScaleOps
    // 5 entities, every one a probe (< 8). Query 0's legs by hand:
    //   dense (exact cosines: c2 = 1.0, c1 = 3/5, c4 = 0, c3 = -1)
    //     -> rd: 2->1, 1->2, 4->3, 3->4
    //   sparse (distinct-word Jaccard: c1 = 3/5, c3 = 2/6, c2 = c4 = 0,
    //     zero-tie broken by cand_id) -> rs: 1->1, 3->2, 2->3, 4->4
    //   fused (k = 60): c1 = 1/62+1/61 > c2 = 1/61+1/63 >
    //     c3 = 1/64+1/62 > c4 = 1/63+1/64
    def vec(hits: (Int, Float)*): Seq[Float] = {
      val a = Array.fill(64)(0f); hits.foreach { case (i, v) => a(i) = v }
      a.toSeq
    }
    val dir = "/tmp/graft_rrf_t"
    Seq((0L, "alpha beta gamma delta"), (1L, "alpha beta gamma zeta"),
      (2L, "omega psi chi phi"), (3L, "alpha beta epsilon eta"),
      (4L, "mu nu xi omicron"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq((0L, vec(0 -> 1f), 0), (1L, vec(0 -> 3f, 1 -> 4f), 0),
      (2L, vec(0 -> 1f), 0), (3L, vec(0 -> -1f), 0),
      (4L, vec(1 -> 1f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = S.rrfFusion(spark, dir).collect()
      .filter(_.getLong(0) == 0L)
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val want = Seq(
      (1, 1L, 1.0 / 62 + 1.0 / 61),
      (2, 2L, 1.0 / 61 + 1.0 / 63),
      (3, 3L, 1.0 / 64 + 1.0 / 62),
      (4, 4L, 1.0 / 63 + 1.0 / 64))
    assert(got == want, s"hand fusion drifted: $got")
    // partial coverage: a candidate present in ONE list still fuses —
    // drop entity 4's vector, its sparse rank alone must carry it
    Seq((0L, vec(0 -> 1f), 0), (1L, vec(0 -> 3f, 1 -> 4f), 0),
      (2L, vec(0 -> 1f), 0), (3L, vec(0 -> -1f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    graft.core.EngineCache.releaseAll()
    val partial = S.rrfFusion(spark, dir).collect()
      .filter(_.getLong(0) == 0L)
      .map(r => (r.getLong(2), r.getDouble(3))).toMap
    assert(partial(4L) == 1.0 / 64,
      s"dense-absent candidate must fuse on its sparse term alone: $partial")
    graft.core.EngineCache.releaseAll()
  }

  test("sq8 audit: hand-quantized reconstruction errors, zero vector safe") {
    val sq = spark
    import sq.implicits._
    val S = graft.operators.ScaleOps
    // v10 = [1, 0.5, -0.25, 0...]: maxabs 1 -> s = 1/127; the expected
    // grid errors are computed HERE with the same IEEE double ops the
    // engines run (identical exactly-rounded steps, bit-equal results)
    def vec(hits: (Int, Float)*): Seq[Float] = {
      val a = Array.fill(64)(0f); hits.foreach { case (i, v) => a(i) = v }
      a.toSeq
    }
    val dir = "/tmp/graft_sq8_t"
    Seq((10L, vec(0 -> 1f, 1 -> 0.5f, 2 -> -0.25f), 0),
      (11L, vec(), 0)) // the zero vector: scale 0, zero error, no NaN
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = S.sq8Audit(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val s = 1.0 / 127.0
    def err6(x: Double): Long =
      math.floor(math.abs(x - math.floor(x / s + 0.5) * s) * 1e6 + 0.5).toLong
    val errs = Seq(err6(1.0), err6(0.5), err6(-0.25))
    val scale9 = math.floor(s * 1e9 + 0.5).toLong
    assert(got(10L) == ((scale9, errs.max, errs.sum)),
      s"hand SQ8 audit drifted: ${got(10L)} vs ($scale9, ${errs.max}, ${errs.sum})")
    assert(got(11L) == ((0L, 0L, 0L)),
      s"zero vector must audit to zero, not NaN: ${got(11L)}")
    // symmetric max-abs scaling: the max element reconstructs within
    // one grid cell (code = +-127 exactly, never clipped)
    assert(err6(1.0) <= 1L, s"maxabs element must round-trip: ${err6(1.0)}")
    graft.core.EngineCache.releaseAll()
  }

  test("sq8 recall: matches a driver-side reference on a planted corpus, near-lossless on the fixture") {
    val sq = spark
    import sq.implicits._
    val S = graft.operators.ScaleOps
    // 16 deterministic pseudo-random vectors; the expected per-probe
    // hits come from an INDEPENDENT driver-side reference that replays
    // the contract in plain Scala doubles (same IEEE ops the engine
    // runs): asymmetric serve, grid cosine, (cos DESC, id) ranking
    val vecs: Seq[(Long, Array[Float])] = (0 until 16).map { i =>
      i.toLong -> Array.tabulate(64) { j =>
        (((i * 31 + j * 17 + 7) % 255) - 127) / 127f
      }
    }
    val dir = "/tmp/graft_sq8r_t"
    vecs.map { case (id, a) => (id, a.toSeq, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def gcos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (k <- a.indices) { dot += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k) }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6 + 0.5) / 1e6
    }
    val full = vecs.map { case (id, a) => id -> a.map(_.toDouble) }.toMap
    val recon = full.map { case (id, a) =>
      val s = a.map(math.abs).max / 127.0
      id -> a.map(x => math.floor(x / s + 0.5) * s)
    }
    def topk(q: Long, corpus: Map[Long, Array[Double]]): Set[Long] =
      corpus.keys.filter(_ != q).toSeq
        .sortBy(c => (-gcos(full(q), corpus(c)), c)).take(S.Sq8K).toSet
    val want = (0L until 8L).map { q =>
      q -> topk(q, recon).count(topk(q, full))
    }.toMap
    val got = S.sq8Recall(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt -> r.getLong(2).toInt)
      .map { case ((q, ks), h) => (q, ks, h) }
    assert(got.map(_._1).toSeq == (0L until 8L).toSeq)
    got.foreach { case (q, ks, h) =>
      assert(ks == S.Sq8K, s"probe $q served $ks of ${S.Sq8K}")
      assert(h == want(q), s"probe $q: engine hits $h vs reference ${want(q)}")
    }
    graft.core.EngineCache.releaseAll()
    // and on the real fixture the scalar tier is near-lossless: the
    // operational claim the audit exists to verify
    val real = S.sq8Recall(spark, sfDir).collect()
    assert(real.length == 8 && real.forall(r => r.getLong(2) >= 9L),
      s"SQ8 must stay near-lossless on the fixture: ${real.map(_.getLong(2)).toSeq}")
    graft.core.EngineCache.releaseAll()
  }

  test("rank metrics: MRR and nDCG match a driver-side replay, perfect tier scores exactly 1e6") {
    val sq = spark
    import sq.implicits._
    val S = graft.operators.ScaleOps
    // crafted corpus: every vector shares a dominant first component
    // (8.0), so cosines crowd near 1 and the TRUE ranking is decided
    // by the small residuals — which the int8 grid (step 8/127 ≈
    // 0.063, larger than the ±0.05 residuals) deliberately butchers.
    // The quantized tier therefore REORDERS, and the metrics have
    // something real to measure. The reference replays MRR +
    // gridded-DCG nDCG from first principles (JVM doubles, same IEEE
    // log2/floor the engines run).
    val vecs: Seq[(Long, Array[Float])] = (0 until 16).map { i =>
      i.toLong -> Array.tabulate(64) { j =>
        if (j == 0) 8f
        else (((i * 31 + j * 17 + 7) % 255) - 127) / 2540f
      }
    }
    val dir = "/tmp/graft_rankm_t"
    vecs.map { case (id, a) => (id, a.toSeq, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def gcos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (k <- a.indices) { dot += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k) }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6 + 0.5) / 1e6
    }
    val full = vecs.map { case (id, a) => id -> a.map(_.toDouble) }.toMap
    val recon = full.map { case (id, a) =>
      val s = a.map(math.abs).max / 127.0
      id -> a.map(x => math.floor(x / s + 0.5) * s)
    }
    def ranking(q: Long, corpus: Map[Long, Array[Double]]): Seq[Long] =
      corpus.keys.filter(_ != q).toSeq
        .sortBy(c => (-gcos(full(q), corpus(c)), c)).take(S.Sq8K)
    def log2(x: Double): Double = math.log(x) / math.log(2.0)
    val want = (0L until 8L).map { q =>
      val served = ranking(q, recon)
      val truth = ranking(q, full)
      val trueRank = truth.zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap
      val nn = served.indexOf(truth.head) + 1 // 0 if absent
      val rr6 = if (nn == 0) 0L else math.floor(1e6 / nn + 0.5).toLong
      val dcg9 = served.zipWithIndex.map { case (c, i) =>
        trueRank.get(c).fold(0L)(rt =>
          math.floor((S.Sq8K + 1 - rt) / log2(i + 2.0) * 1e9 + 0.5).toLong)
      }.sum
      val idcg9 = truth.zipWithIndex.map { case (_, i) =>
        math.floor((S.Sq8K - i) / log2(i + 2.0) * 1e9 + 0.5).toLong
      }.sum
      q -> ((nn.toLong, rr6,
        math.floor(dcg9.toDouble / idcg9 * 1e6 + 0.5).toLong))
    }.toMap
    val got = S.rankMetrics(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == want, s"rank-metric replay drifted: $got vs $want")
    // a tier that changes NOTHING (true == served) must read exactly
    // nn_rank 1 / rr6 1e6 / ndcg6 1e6 — proven on the fixture probes
    // whose quantized ranking happens to match the exact one, and the
    // planted corpus must contain at least one probe where the int8
    // grid DID reorder something (else the metric legs are untested)
    assert(want.values.exists(_._3 < 1000000L),
      "planted corpus must exercise a non-perfect ranking")
    assert(want.values.forall(v => v._3 > 0L && v._3 <= 1000000L))
    graft.core.EngineCache.releaseAll()
  }

  test("ivf+sq8: engine recall matches a driver-side reference over the engine's own cells") {
    val S = graft.operators.ScaleOps
    val Q = graft.operators.LlmQueries
    // the coarse quantizer itself is q84's spec'd machinery; HERE the
    // claim under test is the COMPOSITION: cell restriction + int8
    // reconstruction + grid cosine + (cos DESC, id) ranking. The
    // reference replays it in plain Scala doubles over the engine's
    // published cell assignment.
    val vecs = graft.core.Tables.load(spark, sfDir, "embeddings")
    val cells = graft.llm.Similarity
      .kmeansLloyd(vecs, Q.KmK, Q.KmRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = vecs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    def gcos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (k <- a.indices) { dot += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k) }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6 + 0.5) / 1e6
    }
    val recon = full.map { case (id, a) =>
      val s = a.map(math.abs).max / 127.0
      id -> a.map(x => math.floor(x / s + 0.5) * s)
    }
    def topk(q: Long, corpus: Map[Long, Array[Double]],
             pred: Long => Boolean): Seq[Long] =
      corpus.keys.filter(c => c != q && pred(c)).toSeq
        .sortBy(c => (-gcos(full(q), corpus(c)), c)).take(S.Sq8K)
    val want = (0L until 8L).map { q =>
      val served = topk(q, recon, c => cells(c) == cells(q))
      val truth = topk(q, full, _ => true).toSet
      q -> ((served.size.toLong, served.count(truth).toLong))
    }.toMap
    val got = S.ivfSq8Recall(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == want, s"composed recall drifted: $got vs $want")
    // the composed tier must lose SOMETHING here (single-probe cells)
    // yet stay useful — the readout is only honest if both show
    val hits = got.values.map(_._2).sum
    assert(hits < 8L * S.Sq8K, s"suspiciously perfect: $got")
    assert(hits >= 8L * S.Sq8K / 2, s"suspiciously broken: $got")
    graft.core.EngineCache.releaseAll()
  }

  test("heaps growth: exact first-occurrence curve at geometric checkpoints") {
    val sq = spark
    import sq.implicits._
    val S = graft.operators.ScaleOps
    // tokens in (doc_id, pos) order: a b a c | b d -> first positions
    // a=1 b=2 c=4 d=6; N=6; checkpoints {2, 4} (powers <= 6) + {6} —
    // driven through the ENGINE path on a planted directory (the
    // oracle spelling is DuckDB-dialect; the driver's gate compares it)
    Seq((1L, "a b a c"), (2L, "b d")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_heaps_t/documents.parquet")
    val got = S.heapsGrowth(spark, "/tmp/graft_heaps_t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(2L -> 2L, 4L -> 3L, 6L -> 4L),
      s"hand curve drifted: $got")
    // Heaps' law on the fixture: vocab per token falls as the corpus
    // grows (sub-linear growth), strictly from the second checkpoint
    val eng = S.heapsGrowth(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ratios = eng.map { case (c, v) => v.toDouble / c }
    assert(ratios.zip(ratios.tail).drop(1).forall { case (a, b) => b <= a },
      s"vocabulary growth must flatten: $eng")
    graft.core.EngineCache.releaseAll()
  }

  test("zipf fit: exact -1 slope on a planted power law, 0 on flat, OLS-bending head artifact held") {
    val sq = spark
    import sq.implicits._
    val S = graft.operators.ScaleOps
    // lang "zz": term at rank k appears floor(1000/k) times (k=1..10) —
    // a true power law; the 45 pairwise grid slopes median to EXACTLY
    // -2000000 doubled (computed from the same floor/ln/grid arithmetic
    // the query declares, so this is the frozen expected value, not a
    // tolerance band). lang "ff": six terms, equal counts -> every
    // pairwise slope is 0, the boilerplate signature.
    val tfs = (1 to 10).map(k => 1000 / k)
    val zz = tfs.zipWithIndex.map { case (tf, i) =>
      (s"t${"%02d".format(i + 1)} " * tf).trim }.mkString(" ")
    val ff = (1 to 6).map(k => (s"f$k " * 5).trim).mkString(" ")
    Seq((1L, zz, "zz"), (2L, ff, "ff")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet("/tmp/graft_zipf_t/documents.parquet")
    val got = S.zipfFit(spark, "/tmp/graft_zipf_t").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("zz") == ((10L, 45L, -2000000L)),
      s"power-law slope drifted: ${got("zz")}")
    assert(got("ff") == ((6L, 15L, 0L)),
      s"flat corpus must read slope 0: ${got("ff")}")
    // breakdown property (the reason this is Theil-Sen, not OLS): a
    // single corrupted head rank — rank 2 inflated to near rank 1's
    // count, the stray-markup-token artifact — moves the median barely,
    // while the same corruption provably bends a least-squares fit
    val zzBent = tfs.updated(1, 999).zipWithIndex.map { case (tf, i) =>
      (s"t${"%02d".format(i + 1)} " * tf).trim }.mkString(" ")
    Seq((1L, zzBent, "zz")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet("/tmp/graft_zipf_b/documents.parquet")
    val bent = S.zipfFit(spark, "/tmp/graft_zipf_b").collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap.apply("zz")
    assert(math.abs(bent + 2000000L) < 200000L,
      s"Theil-Sen must hold near -1 under one corrupted rank: $bent")
  }

  test("encoding advisor: exact bit costs, run counts under the clustered order") {
    val sq = spark
    import sq.implicits._
    val S = graft.operators.ScaleOps
    // 40 rows: returnflag alternates A/B (40 runs -> dict wins),
    // linestatus is constant (1 run -> RLE wins). All hand-exact:
    // rf: plain 8*40=320, dict 8*2+40*1=56, rle 40*(1+32)=1320
    // ls: plain 320, dict 8*1+40*1=48, rle 1*33=33
    val rows = (1 to 40).map(i =>
      (i.toLong, 1, if (i % 2 == 0) "A" else "B", "O"))
    rows.toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
      .createOrReplaceTempView("enc_t")
    // drive the Spark side through the same planted view by swapping
    // the table the loader would read: use the oracle SQL on the view
    // for the hand numbers, then the engine path on the fixture below
    val got = spark.sql(S.encodingAdvisorSql("enc_t")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getString(7))).toMap
    assert(got("l_returnflag") == ((40L, 2L, 40L, 320L, 56L, 1320L, "dict")),
      s"returnflag costs drifted: ${got("l_returnflag")}")
    assert(got("l_linestatus") == ((40L, 1L, 1L, 320L, 48L, 33L, "rle")),
      s"linestatus costs drifted: ${got("l_linestatus")}")
    // the engine path (DistributedRank + adjacency join) must agree
    // with the oracle's lag-window spelling on the real fixture
    val eng = S.encodingAdvisor(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7))).toSet
    graft.core.Tables.load(spark, sfDir, "lineitem")
      .createOrReplaceTempView("enc_li")
    val ora = spark.sql(S.encodingAdvisorSql("enc_li")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7))).toSet
    assert(eng == ora,
      s"rank-adjacency runs must equal the window spelling: $eng vs $ora")
    graft.core.EngineCache.releaseAll()
  }

  test("qte recovers a planted uniform shift at every quantile") {
    val sq = spark
    import sq.implicits._
    val S = graft.operators.ScaleOps
    // arm A (even users): 1..10 dollars; arm B (odd): 2..11 — a pure
    // +100-cent location shift, so QTE(tau) = -100 cents at every tau
    // (type-7 interpolation shifts with the data)
    val rows = (0 until 10).flatMap { i =>
      Seq((2L * i, "purchase", (i + 1).toDouble),
        (2L * i + 1, "purchase", (i + 2).toDouble))
    }
    rows.toDF("user_id", "event_type", "value")
      .createOrReplaceTempView("events")
    val got = spark.sql(S.qteSparkSql("user_id")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.size == 9 && got.values.forall(_._3 == -100000000L),
      s"a location shift must give a flat QTE: $got")
    // spot-check the type-7 interpolation: tau=0.1 on 100..1000 is
    // 100 + 0.9*100 = 190; tau=0.5 is 550
    assert(got(1L)._1 == 190000000L && got(5L)._1 == 550000000L,
      s"type-7 quantiles drifted: ${got(1L)} / ${got(5L)}")
    graft.core.EngineCache.releaseAll()
  }

  test("ks two-sample: exact ECDF distance with the earliest argmax") {
    val sq = spark
    import sq.implicits._
    val S = graft.operators.ScaleOps
    // arm A (even users): values 1,2,3,4; arm B (odd): 3,4,5,6.
    // cumulative |ca*nb - cb*na| over the merged grid: 4,8,8,8,4,0 ->
    // KS = 8/16 = 0.5, first achieved at cents 200
    val rows = Seq((0L, 1.0), (2L, 2.0), (4L, 3.0), (6L, 4.0),
      (1L, 3.0), (3L, 4.0), (5L, 5.0), (7L, 6.0))
    rows.map { case (u, v) => (u, "purchase", v) }
      .toDF("user_id", "event_type", "value")
      .createOrReplaceTempView("events")
    val r = spark.sql(S.ksTestSql("user_id")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)) == ((4L, 4L, 8L, 16L, 200L)),
      s"KS statistic drifted: $r")
    // identical distributions -> D = 0 exactly, argmax the smallest value
    (0L to 7L).map(u => (u, "purchase", (u / 2 + 1).toDouble))
      .toDF("user_id", "event_type", "value")
      .createOrReplaceTempView("events")
    val z = spark.sql(S.ksTestSql("user_id")).collect().head
    assert(z.getLong(2) == 0L && z.getLong(4) == 100L,
      s"identical arms must score exactly zero: $z")
    graft.core.EngineCache.releaseAll()
  }

  test("mann-whitney: exact doubled U with half-counted ties and the tie-correction cubes") {
    val sq = spark
    import sq.implicits._
    val S = graft.operators.ScaleOps
    // arm A (even users): cents 1, 2, 2; arm B (odd): 2, 3.
    // pairwise: a=1 beats nothing (0); each a=2 ties one b=2 (1/2 each)
    // -> U_A = 1, u2_a = 2; u2_b = 2*3*2 - 2 = 10; ties: cents 2 has
    // t = 3 -> 27 - 3 = 24
    Seq((0L, 0.01), (2L, 0.02), (4L, 0.02), (1L, 0.02), (3L, 0.03))
      .map { case (u, v) => (u, "purchase", v) }
      .toDF("user_id", "event_type", "value")
      .createOrReplaceTempView("events")
    val r = spark.sql(S.mwTestSql("user_id")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)) == ((3L, 2L, 2L, 10L, 24L)),
      s"hand U drifted: $r")
    // stochastic dominance: B strictly above A -> u2_a = 0, u2_b = 2*n_a*n_b
    (0L to 7L).map(u => (u, "purchase",
      if (u % 2 == 0) 1.0 + u else 100.0 + u))
      .toDF("user_id", "event_type", "value")
      .createOrReplaceTempView("events")
    val d = spark.sql(S.mwTestSql("user_id")).collect().head
    assert(d.getLong(2) == 0L && d.getLong(3) == 32L && d.getLong(4) == 0L,
      s"strict dominance must zero u2_a: $d")
    // identical arms -> u2_a = u2_b = n_a*n_b exactly (pure ties)
    (0L to 5L).map(u => (u, "purchase", 5.0))
      .toDF("user_id", "event_type", "value")
      .createOrReplaceTempView("events")
    val t = spark.sql(S.mwTestSql("user_id")).collect().head
    assert(t.getLong(2) == 9L && t.getLong(3) == 9L && t.getLong(4) == 210L,
      s"pure ties must split U evenly: $t")
    graft.core.EngineCache.releaseAll()
  }

  test("ivm aggregate view: signed deltas fold to the rebuild, counts invariant") {
    val S = graft.operators.ScaleOps
    val W = graft.core.Warehouse
    val suffix = sfDir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val served = S.ivmAggServe(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val v0 = W.publishedVersion(spark, s"ivmagg_$suffix").get
    assert(S.ivmAggServe(spark, sfDir).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      == served, "maintained serve must be deterministic")
    assert(W.publishedVersion(spark, s"ivmagg_$suffix").get == v0,
      "a re-serve must never republish the stored summary")
    val base = W.readTable(spark, s"ivmagg_$suffix").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the cohort revises IN PLACE: counts invariant; revenue grows by
    // exactly the cohort's original cents (doubling adds one share)
    val orders = graft.core.Tables.load(spark, sfDir, "orders")
    val cohortCents = orders
      .filter(s"o_orderkey % ${S.IvmMod} = ${S.IvmRem}")
      .selectExpr("o_orderpriority AS grp",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c")
      .groupBy("grp")
      .agg(org.apache.spark.sql.functions.sum("c").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    served.foreach { case (g, (n, rev)) =>
      assert(n == base(g)._1, s"count must be invariant for $g")
      assert(rev == base(g)._2 + cohortCents.getOrElse(g, 0L),
        s"revenue must grow by the cohort's original cents for $g")
    }
    graft.core.EngineCache.releaseAll()
  }

  test("benford audit: geometric data conforms, uniform data fails, zero digits surface") {
    val sq = spark
    import sq.implicits._
    val S = graft.operators.ScaleOps
    // G: 1.00 * 2^k cents, k = 0..29 — a multiplicative series whose
    // first digits equidistribute per Benford; U: 90 five-digit values
    // with a flat first-digit spread — the fabricated-uniform shape the
    // audit exists to flag; H: three hand values pinning extraction,
    // zero-digit rows, and the exact grid formula
    val g = (0 until 30).map(k => ("G", (100L * (1L << k)).toDouble / 100.0))
    val u = for (d <- 1 to 9; i <- 0 until 10)
      yield ("U", (d * 10000 + i * 137).toDouble / 100.0)
    val h = Seq(("H", 1.00), ("H", 2.50), ("H", 30.00))
    (g ++ u ++ h).toDF("o_orderpriority", "o_totalprice")
      .createOrReplaceTempView("benford_t")
    val rows = spark.sql(S.benfordSql("benford_t")).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.size == 27, s"3 groups x 9 digits expected, got ${rows.size}")
    // H: digits 1/2/3 observed once each; 4..9 present with zero counts
    (1 to 3).foreach(d => assert(rows(("H", d.toLong))._1 == 1L))
    (4 to 9).foreach(d => assert(rows(("H", d.toLong))._1 == 0L))
    // the exact grid formula on the hand case (same IEEE ops in Scala)
    val p1 = 301029996.0
    val exp6 = math.floor(3.0 * p1 / 1e9 * 1e6 + 0.5).toLong
    val diff = 1.0 * 1e9 - 3.0 * p1
    val chi6 = math.floor(diff * diff / (3.0 * p1 * 1e9) * 1e6 + 0.5).toLong
    assert(rows(("H", 1L)) == ((1L, exp6, chi6)),
      s"hand grid drifted: ${rows(("H", 1L))} vs ($exp6, $chi6)")
    // conformance ordering: the geometric series' chi-square is a small
    // fraction of the planted-uniform block's
    def chi2(grp: String) =
      rows.collect { case ((g0, _), (_, _, c)) if g0 == grp => c }.sum
    assert(chi2("G") * 3 < chi2("U"),
      s"benford must separate: G=${chi2("G")} U=${chi2("U")}")
    graft.core.EngineCache.releaseAll()
  }

  test("nsw update: delete-then-append composition equals the updated-corpus rebuild") {
    val S = graft.operators.ScaleOps
    val W = graft.core.Warehouse
    val suffix = sfDir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val served = S.nswUpdateServe(spark, sfDir).collect()
    val (vS, vA) = (W.publishedVersion(spark, s"nswfsig_$suffix").get,
      W.publishedVersion(spark, s"nswgraph_$suffix").get)
    assert(S.nswUpdateServe(spark, sfDir).collect().toSeq == served.toSeq,
      "update serve must be deterministic")
    assert(W.publishedVersion(spark, s"nswfsig_$suffix").get == vS &&
      W.publishedVersion(spark, s"nswgraph_$suffix").get == vA,
      "a re-serve must never republish the signatures or adjacency")
    // structural proof: composed maintenance == rebuild over the
    // sign-flipped corpus, row for row
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val vecs = graft.core.Tables.load(spark, sfDir, "embeddings")
    val pred = s"vec_id % ${S.NswUpdMod} = ${S.NswUpdRem}"
    val updated = vecs.selectExpr("vec_id",
      s"CASE WHEN $pred THEN transform(embedding, x -> -x) " +
        "ELSE embedding END AS embedding")
    val maintained = key(S.nswGraphUpdateOf(updated,
      W.readTable(spark, s"nswfsig_$suffix"),
      W.readTable(spark, s"nswgraph_$suffix"), pred))
    val rebuilt = key(S.nswGraphOf(updated))
    assert(maintained == rebuilt,
      s"update must equal rebuild-with-new-values: ${maintained.size} vs " +
        s"${rebuilt.size} edges, diff ${(maintained diff rebuilt).take(3)} " +
        s"/ ${(rebuilt diff maintained).take(3)}")
    graft.core.EngineCache.releaseAll()
  }

  test("nsw update: affected set is pinned by the trigger union, unaffected rows pass through verbatim") {
    // The O(batch + affected) claim, made structural: the verbs'
    // affected sets must EQUAL the two declared triggers — spelled here
    // INDEPENDENTLY, driver-side over the collected artifacts (plain
    // Scala shift arithmetic, no engine code) — and every maintained
    // row outside affected ∪ cohort must be the stored row, verbatim.
    val S = graft.operators.ScaleOps
    val W = graft.core.Warehouse
    val Q = graft.operators.LlmQueries
    val suffix = sfDir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    S.nswUpdateServe(spark, sfDir).collect() // publish the artifacts
    val baseSigs = W.readTable(spark, s"nswfsig_$suffix")
      .transform(graft.core.EngineCache.persisted)
    val baseAdj = W.readTable(spark, s"nswgraph_$suffix")
      .transform(graft.core.EngineCache.persisted)
    // a SPARSE cohort, deliberately not q279's 10%-of-corpus one: at
    // this fixture's bucket geometry (640 band buckets) a 50-node
    // cohort touches every bucket and the pass-through leg would
    // verify nothing — the takedown/re-embed event whose bound this
    // test pins is the sparse one
    val pred = "vec_id IN (42, 137)"
    val vecs = graft.core.Tables.load(spark, sfDir, "embeddings")
    val updated = vecs.selectExpr("vec_id",
      s"CASE WHEN $pred THEN transform(embedding, x -> -x) " +
        "ELSE embedding END AS embedding")
    val newBatchSigs = updated.filter(pred)
      .selectExpr("vec_id", s"srp_sig(embedding, ${Q.SrpBits}) AS sig")
      .transform(graft.core.EngineCache.persisted)
    // ---- independent trigger spelling, driver-side ----
    val storedSig = baseSigs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cohort = Set(42L, 137L)
    val survivors = storedSig.keySet -- cohort
    val adjRows = baseAdj.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // trigger 1: a stored out-edge points into the cohort
    val edgeTrig = adjRows.collect {
      case (src, dst, _) if cohort(dst) && !cohort(src) => src
    }.toSet
    // trigger 2: shares >= 1 band bucket with a re-embedded arrival
    val rowsPerBand = Q.SrpBits / Q.SrpBands
    val mask = (1L << rowsPerBand) - 1
    def bands(sig: Long): Set[(Int, Long)] =
      (0 until Q.SrpBands).map(b => (b, (sig >>> (b * rowsPerBand)) & mask)).toSet
    val batchBands = newBatchSigs.collect()
      .flatMap(r => bands(r.getLong(1))).toSet
    val bandTrig = survivors.filter(id =>
      bands(storedSig(id)).exists(batchBands))
    // ---- the engine's affected sets equal the triggers, exactly ----
    val sq = spark; import sq.implicits._
    val tombsDf = cohort.toSeq.sorted.toDF("vec_id")
    val affDel = S.nswDeleteAffectedOf(baseAdj, tombsDf)
      .collect().map(_.getLong(0)).toSet
    val affApp = S.nswAppendAffectedOf(baseSigs.filter(s"NOT ($pred)"),
      newBatchSigs).collect().map(_.getLong(0)).toSet
    assert(affDel == edgeTrig,
      s"delete trigger drifted: ${affDel diff edgeTrig} / ${edgeTrig diff affDel}")
    assert(affApp == bandTrig,
      s"append trigger drifted: ${affApp diff bandTrig} / ${bandTrig diff affApp}")
    // the union must not be the whole survivor set on this fixture —
    // otherwise pass-through verifies nothing
    val affected = edgeTrig ++ bandTrig
    assert(affected.size < survivors.size,
      s"fixture degenerated: all ${survivors.size} survivors affected")
    // ---- pass-through: rows outside affected ∪ cohort are verbatim ----
    val maintained = S.nswGraphUpdateOf(updated, baseSigs, baseAdj, pred)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val untouched = (id: Long) => !affected(id) && !cohort(id)
    assert(maintained.filter(e => untouched(e._1)).toSet ==
      adjRows.filter(e => untouched(e._1)).toSet,
      "unaffected survivors must carry their stored rows verbatim")
    // ...and every row that DID change belongs to affected ∪ cohort
    val changed = maintained.toSet diff adjRows.toSet
    assert(changed.forall(e => affected(e._1) || cohort(e._1)),
      s"a row changed outside the affected set: ${changed.filterNot(
        e => affected(e._1) || cohort(e._1)).take(3)}")
    graft.core.EngineCache.releaseAll()
  }

  test("t-closeness flags the skewness attack l-diversity passes") {
    val sq = spark
    import sq.implicits._
    val S = graft.operators.ScaleOps
    // class A (nation 1): 8X/1Y/1Z — 3-diverse yet skewed vs global;
    // class C (nation 3): 52X/29Y/29Z — dominates the table, so its own
    // distribution ~matches the global and must pass; class D (nation
    // 4): 5X/5Y/0Z — exercises the absent-sensitive-value leg (the
    // missing Z contributes |0 - glob_Z*size| to the numerator).
    // Global: X=65 Y=35 Z=30, N=130. Hand-integral TVD numerators over
    // den = 2*130*size: A = 390+220+170 = 780/2600 = 0.30 > 0.2 flag;
    // D = 0+300+300 = 600/2600 ~ 0.23 > 0.2 flag; C = 390+80+470 =
    // 940/28600 ~ 0.03 pass.
    val rows =
      Seq.fill(8)((1L, "X")) ++ Seq((1L, "Y"), (1L, "Z")) ++
      Seq.fill(52)((3L, "X")) ++ Seq.fill(29)((3L, "Y")) ++
        Seq.fill(29)((3L, "Z")) ++
      Seq.fill(5)((4L, "X")) ++ Seq.fill(5)((4L, "Y"))
    rows.map { case (n, s) => (n, 100.0, s) }
      .toDF("c_nationkey", "c_acctbal", "c_mktsegment")
      .createOrReplaceTempView("tclose_t")
    val tc = spark.sql(S.tClosenessSql("tclose_t")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(tc == Map((1L, 0L) -> (10L, 780L, 2600L),
        (4L, 0L) -> (10L, 600L, 2600L)),
      s"t-closeness violations drifted: $tc")
    // the wedge: the skewed class A is 3-diverse, so l-diversity at
    // l=3 passes it — only t-closeness sees the distribution leak
    val ld = spark.sql(S.lDiversitySql("tclose_t")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!ld.contains((1L, 0L)),
      "the skewed-but-diverse class must be invisible to l-diversity")
    graft.core.EngineCache.releaseAll()
  }

  test("l-diversity flags the homogeneity attack k-anonymity passes") {
    val sq = spark
    import sq.implicits._
    val S = graft.operators.ScaleOps
    // class (1, band 0): 5 rows, ONE segment — k-anonymous at k=5 yet
    // fully disclosed; class (1, band 1): 3 rows, 2 segments; class
    // (2, band 0): 3 rows, 3 segments — diverse, must not be emitted
    val rows = Seq.fill(5)((1L, 100.0, "X")) ++
      Seq((1L, 1100.0, "X"), (1L, 1200.0, "X"), (1L, 1300.0, "Y")) ++
      Seq((2L, 100.0, "X"), (2L, 200.0, "Y"), (2L, 300.0, "Z"))
    rows.toDF("c_nationkey", "c_acctbal", "c_mktsegment")
      .createOrReplaceTempView("ldiv_t")
    val ld = spark.sql(S.lDiversitySql("ldiv_t")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(ld == Map((1L, 0L) -> (5L, 1L, 5L), (1L, 1L) -> (3L, 2L, 2L)),
      s"l-diversity violations drifted: $ld")
    // the wedge: the homogeneous 5-row class passes the k-anonymity
    // audit (class_size >= KAnonK) — only l-diversity sees the leak
    val ka = spark.sql(S.kAnonymitySql(
        "(SELECT c_nationkey, c_mktsegment, c_acctbal FROM ldiv_t) kt"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(!ka.contains((1L, 0L)),
      "the homogeneous class must be invisible to k-anonymity")
    graft.core.EngineCache.releaseAll()
  }

  test("bitmap purge: folded words equal rebuild, zeroed words drop, fold idempotent") {
    val sq = spark
    import sq.implicits._
    val rnd = new scala.util.Random(17)
    // one orderkey group sits ALONE in its word and is wholly deleted:
    // its words must vanish from the purged index, not linger as zeros
    val rows = (0 until 450).map { _ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(7) + 1,
        Seq("A", "N", "R")(rnd.nextInt(3)), Seq("F", "O")(rnd.nextInt(2)))
    } ++ Seq.fill(4)((ScaleOps.BitmapDelRem.toLong + 1000L, 5, "R", "F"))
    val li = rows.toDF("l_orderkey", "l_linenumber",
      "l_returnflag", "l_linestatus")
    val del = col("l_orderkey") % ScaleOps.BitmapDelMod ===
      ScaleOps.BitmapDelRem
    val idx = ScaleOps.bitmapIndexOf(li)
      .transform(graft.core.EngineCache.persisted)
    val tomb = ScaleOps.bitmapTombstoneOf(li.filter(del))
      .transform(graft.core.EngineCache.persisted)
    val purged = ScaleOps.bitmapPurgedOf(idx, tomb)
      .transform(graft.core.EngineCache.persisted)
    def counts(i: org.apache.spark.sql.DataFrame) =
      ScaleOps.bitmapCountsOf(i).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap.filter(_._2 > 0)
    val rebuilt = counts(ScaleOps.bitmapIndexOf(li.filter(!del)))
    assert(counts(purged) == rebuilt,
      s"purge must equal rebuild: ${counts(purged)} vs $rebuilt")
    // no tombstoned bit survives the fold, and no zeroed word lingers
    assert(purged.join(tomb, Seq("word_id"))
      .filter(expr("(w & tw) != 0")).isEmpty, "tombstoned bits survived")
    assert(purged.filter(col("w") === 0L).isEmpty, "zeroed words lingered")
    // the lone fully-deleted group's words are gone entirely
    val loneWords = ScaleOps.bitmapTombstoneOf(
        li.filter(col("l_orderkey") === ScaleOps.BitmapDelRem + 1000L))
      .select("word_id")
    assert(purged.join(loneWords, Seq("word_id")).isEmpty,
      "a wholly-deleted group's words must leave the index")
    // idempotence: folding the same tombstone again changes nothing
    val again = ScaleOps.bitmapPurgedOf(purged, tomb)
    assert(counts(again) == rebuilt && again.count() == purged.count(),
      "re-folding the tombstone must be a no-op")
    graft.core.EngineCache.releaseAll()
  }

  test("zorder purge: tombstones leave the published layout, boxes shrink, idempotent") {
    val W = graft.core.Warehouse
    val suffix = sfDir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val (rowsTable, manTable) = (s"zpurge_$suffix", s"zpurgeman_$suffix")
    val out1 = ScaleOps.zorderPurgeServe(spark, sfDir).collect().toSeq
    // the published layout physically contains NO tombstoned rows —
    // serving needs no anti-join because there is nothing to hide
    val purged = W.readTable(spark, rowsTable)
    assert(purged.filter(s"o % 10 = ${ScaleOps.ZDelRem}").isEmpty,
      "tombstoned rows must be physically gone from the published table")
    // every manifest box is exactly the recompute over the published
    // rows: affected files shrank, untouched files carried over intact
    val man = W.readTable(spark, manTable)
      .select("file_id", "p_lo", "p_hi", "s_lo", "s_hi")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val rebuilt = purged.groupBy("file_id")
      .agg(min("p").as("p_lo"), max("p").as("p_hi"),
        min("s").as("s_lo"), max("s").as("s_hi"))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(man == rebuilt,
      "manifest boxes must equal a recompute over the published rows")
    // idempotence: a second call finds no tombstones, publishes
    // nothing, and serves the same row
    val vBefore = W.publishedVersion(spark, rowsTable)
    val out2 = ScaleOps.zorderPurgeServe(spark, sfDir).collect().toSeq
    assert(W.publishedVersion(spark, rowsTable) == vBefore,
      "a tombstone-free table must not be republished")
    assert(out1 == out2, "purge must be idempotent in its served output")
    graft.core.EngineCache.releaseAll()
  }

  test("cuped: planted covariate recovers theta, preserves the grand mean, prices variance") {
    val sq = spark
    import sq.implicits._
    // arm by user parity (hashArm = "user_id"), one pre event at ts=0
    // and one post at ts=1e6 (midpoint 5e5 splits them); values in
    // dollars so the cents encode round-trips exactly
    def run(rows: Seq[(Long, Long, String, Double)]): Map[String, (Long, Double, Double, Double)] = {
      rows.toDF("user_id", "ts", "event_type", "value")
        .createOrReplaceTempView("events")
      spark.sql(ScaleOps.cupedSql("user_id", c => c)).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4))).toMap
    }
    // --- perfectly-correlated plant: y = 3x + 500 cents, theta = 3 ---
    val xs = (0 until 40).map(u => 100L + 37L * u)
    val corr = (0 until 40).flatMap { u =>
      val x = xs(u); val y = 3 * x + 500
      Seq((u.toLong, 0L, "purchase", x / 100.0),
        (u.toLong, 1000000L, "purchase", y / 100.0))
    }
    val got = run(corr)
    // theta recovery pinned through mean_cuped = ybar - theta(xbar - xpool)
    val xpool = xs.sum.toDouble / xs.size
    Seq("A" -> 0, "B" -> 1).foreach { case (arm, par) =>
      val ux = xs.zipWithIndex.filter(_._2 % 2 == par).map(_._1)
      val ybar = ux.map(x => 3 * x + 500).sum.toDouble / ux.size
      val expAdj = (ybar - 3.0 * (ux.sum.toDouble / ux.size - xpool)) / 100.0
      val (n, my, myadj, vr) = got(arm)
      assert(n == 20L)
      assert(math.abs(my - ybar / 100.0) < 1e-6, s"$arm mean_post")
      assert(math.abs(myadj - expAdj) < 1e-6,
        s"$arm mean_cuped must reflect theta=3: $myadj vs $expAdj")
      assert(math.abs(vr - 1.0) < 1e-6,
        s"perfect covariate must price var_reduction = 1, got $vr")
    }
    // grand-mean preservation: n-weighted mean_cuped pools to mean_post
    val pooledAdj = got.values.map(v => v._1 * v._3).sum
    val pooledPost = got.values.map(v => v._1 * v._2).sum
    assert(math.abs(pooledAdj - pooledPost) < 1e-4,
      "CUPED must preserve the pooled grand mean")
    // --- independent plant: sample cov(x, y) = 0 exactly, theta = 0 ---
    val indep = (0 until 40).flatMap { u =>
      val x = if ((u / 2) % 2 == 0) 100L else 300L
      val y = if ((u / 4) % 2 == 0) 1000L else 2000L
      Seq((u.toLong, 0L, "purchase", x / 100.0),
        (u.toLong, 1000000L, "purchase", y / 100.0))
    }
    val got2 = run(indep)
    got2.foreach { case (arm, (_, my, myadj, vr)) =>
      assert(math.abs(myadj - my) < 1e-6,
        s"$arm: independent covariate must leave the mean untouched")
      assert(math.abs(vr) < 1e-6,
        s"$arm: independent covariate must price var_reduction = 0, got $vr")
    }
    spark.catalog.dropTempView("events")
  }

  test("profile delete semantics: counts retract, extremes are bounds, flags honest") {
    val sq = spark
    import sq.implicits._
    val ts = java.sql.Timestamp.valueOf("1995-06-01 00:00:00")
    // rows 0-2 are tombstoned (l_orderkey % 10 = 5). l_partkey's unique
    // global min (7) lives ONLY on a tombstoned row — truly stale after
    // the delete; l_suppkey's extremes live on survivors — certified.
    val rows = (0 until 12).map { i =>
      val okey = if (i < 3) 5L + 10 * i else 1L + i
      val part = if (i == 0) 7L else 100L + i
      val supp = if (i < 3) 105L else 100L + i // tombstoned rows interior
      (okey, part, supp, i % 7 + 1, 10.0 + i, 1000.0 + i, 0.01 * (i % 5),
        0.02, ts)
    }
    val df = rows.toDF("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_shipdate")
    val pred = col("l_orderkey") % 10 === 5
    def keyed(p: org.apache.spark.sql.DataFrame) = p.collect()
      .map(r => r.getString(0) -> r).toMap
    val full = keyed(ScaleOps.profileRowsOfProjected(df))
    val after = ScaleOps.profileAfterDelete(
        ScaleOps.profileRowsOfProjected(df),
        ScaleOps.profileRowsOfProjected(df.filter(pred))).collect()
      .map(r => r.getString(0) -> r).toMap
    val recomp = keyed(ScaleOps.profileRowsOfProjected(df.filter(!pred)))
    for ((c, r) <- after) {
      // counts are a group: subtraction retracts them exactly
      assert(r.getLong(1) == recomp(c).getLong(1), s"$c n_rows")
      assert(r.getLong(2) == recomp(c).getLong(2), s"$c n_nulls")
      // min/max never retract: stored values unchanged, and they bound
      // the true (recomputed) extremes from the correct side
      assert(r.getDouble(3) == full(c).getDouble(3), s"$c min unchanged")
      assert(r.getDouble(4) == full(c).getDouble(4), s"$c max unchanged")
      assert(recomp(c).getDouble(3) >= r.getDouble(3), s"$c min bound")
      assert(recomp(c).getDouble(4) <= r.getDouble(4), s"$c max bound")
      // any deletion invalidates the sketch's NDV certificate
      assert(r.getBoolean(7), s"$c ndv_stale must flag any delete")
    }
    // the flag fires exactly where a tombstoned row attained the bound:
    // l_partkey's min is truly stale (recompute moves it), l_suppkey's
    // extremes are certified fresh and the recompute proves them exact
    assert(after("l_partkey").getBoolean(5), "l_partkey min_stale")
    assert(recomp("l_partkey").getDouble(3) > after("l_partkey").getDouble(3),
      "the stale min is a strict lower bound after the delete")
    assert(!after("l_suppkey").getBoolean(5) &&
      !after("l_suppkey").getBoolean(6), "l_suppkey certified fresh")
    assert(recomp("l_suppkey").getDouble(3) ==
      after("l_suppkey").getDouble(3), "certified min is exact")
    graft.core.EngineCache.releaseAll()
  }

  test("label propagation: disjoint cliques converge to min-label communities") {
    val sq = spark
    import sq.implicits._
    // two baskets = two 4-cliques with no bridge; synchronous LP with
    // min-label ties settles each clique on its smallest member by
    // round 2 and holds (round 1 oscillates the min node — the known
    // synchronous-LP wobble the extra rounds absorb)
    val li = (Seq(0L, 1L, 2L, 3L).map(p => (100L, p)) ++
      Seq(10L, 11L, 12L, 13L).map(p => (200L, p)))
      .toDF("l_orderkey", "l_partkey")
    val out = ScaleOps.labelPropOf(li).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
    assert(out.length == 8)
    val comms = out.toMap
    assert(Seq(0L, 1L, 2L, 3L).forall(n => comms(n) == (0L, 4L)),
      s"clique A must settle on community 0: ${out.toSeq}")
    assert(Seq(10L, 11L, 12L, 13L).forall(n => comms(n) == (10L, 4L)),
      s"clique B must settle on community 10: ${out.toSeq}")
    graft.core.EngineCache.releaseAll()
  }

  test("label propagation's struct-max fallback equals the window pick on ids the encoding cannot take") {
    val sq = spark
    import sq.implicits._
    // three overlapping baskets over five parts: neighbor-label counts
    // tie, so the (count DESC, label ASC) order decides every round.
    // The oracle's row_number spelling, run by Spark, is the reference.
    def baskets(ids: Seq[Long]) = Seq(100L -> 0, 100L -> 1, 100L -> 2,
      200L -> 2, 200L -> 3, 200L -> 4, 300L -> 0, 300L -> 4)
      .map { case (o, i) => (o, ids(i)) }.toDF("l_orderkey", "l_partkey")
    Seq(
      "non-negative ids (the encoded max)" -> Seq(0L, 3L, 5L, 9L, 12L),
      "a negative id" -> Seq(-7L, -3L, 0L, 5L, 9L),
      "ids whose B overflows with the count range" ->
        Seq(1L << 61, 3L, (1L << 61) + 1, 17L, 4L),
      "a Long.MinValue id" -> Seq(Long.MinValue, -1L, 2L, Long.MaxValue, 40L)
    ).foreach { case (what, ids) =>
      val li = baskets(ids)
      li.createOrReplaceTempView("lp_fallback_li")
      val out = ScaleOps.labelPropOf(li)
      val got = out.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = spark.sql(ScaleOps.labelPropSql("lp_fallback_li", ScaleOps.LpIters))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got.size == 5 && got == want, s"$what: $got vs $want")
      // the last round's pick is in the final plan: a struct max runs as
      // a SortAggregate, the encoded LONG max as a HashAggregate
      val structMax = planNodes(out.queryExecution.executedPlan).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.aggregate.SortAggregateExec])
      assert(structMax == (ids.min < 0 || ids.max >= (1L << 61)), what)
      graft.core.EngineCache.releaseAll()
    }
  }

  test("MMR demotes the redundant twin below the diverse candidate") {
    val sq = spark
    import sq.implicits._
    // probe 0; candidates 10 and 11 are exactly parallel (11 = 10/2, so
    // sim = 1) and tie on relevance with 12, which points the other way
    // around the probe axis (same rel, sim to 10 ~ 0.62); 13 is junk.
    // Pure relevance order is 10, 11, 12 (id ties); MMR must pick the
    // DIVERSE 12 second and push the twin 11 to third.
    val v = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (10L, Array(0.9f, 0.436f, 0f, 0f)),
      (11L, Array(0.45f, 0.218f, 0f, 0f)),
      (12L, Array(0.9f, -0.436f, 0f, 0f)),
      (13L, Array(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val picks = ScaleOps.mmrRerankOf(v).collect()
      .filter(_.getLong(0) == 0L)
      .map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(picks(1) == 10L, s"pick 1 is the relevance argmax: $picks")
    assert(picks(2) == 12L,
      s"the diverse candidate must beat the redundant twin: $picks")
    assert(picks(3) == 11L && picks(4) == 13L, s"$picks")
    graft.core.EngineCache.releaseAll()
  }

  test("index purge publishes a new version, retires the old, serves no tombstones") {
    val served = ScaleOps.ivfPqPurge(spark, sfDir).collect()
    assert(served.nonEmpty)
    assert(served.forall(_.getLong(2) % ScaleOps.AnnDelMod != ScaleOps.AnnDelRem),
      "a purged vector surfaced in the served ranking")
    val table = "ivfpq_purge_" +
      sfDir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    assert(graft.core.Warehouse.publishedVersion(spark, table).contains(2L),
      "the purge must publish as version 2 of the code table")
    // the pre-purge tree is gone: a time-travel read of v=1 must fail
    intercept[Exception] {
      graft.core.Warehouse.readTableAsOf(spark, table, 1L).collect()
    }
    // idempotence: a second call serves the same rows without re-purging
    val again = ScaleOps.ivfPqPurge(spark, sfDir).collect()
    assert(again.map(_.toString).toSeq == served.map(_.toString).toSeq)
    assert(graft.core.Warehouse.publishedVersion(spark, table).contains(2L))
    graft.core.EngineCache.releaseAll()
  }

  test("profile drift flags exactly the planted contract breaches") {
    val out = ScaleOps.profileDrift(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getBoolean(5), r.getBoolean(6))).toMap // (null_regressed, range_widened)
    assert(out("l_tax") == (true, false),
      s"the nulled tax slice must flag a null regression: $out")
    assert(out("l_quantity") == (false, true),
      s"the doubled quantity slice must flag a range widening: $out")
    val untouched = out.keySet -- Set("l_tax", "l_quantity")
    assert(untouched.forall(c => out(c) == (false, false)),
      s"untouched columns must stay clean: $out")
    graft.core.EngineCache.releaseAll()
  }

  test("margin mining keeps the planted twin pairs, drops cross-pairs") {
    val sq = spark
    import sq.implicits._
    // one cell; x0~y1 and x2~y3 are planted twins, y5 is a middling
    // distractor close to both xs
    val e = Seq(
      (0L, 0, Array(1f, 0f, 0f, 0f)), (1L, 0, Array(0.99f, 0.14f, 0f, 0f)),
      (2L, 0, Array(0f, 1f, 0f, 0f)), (3L, 0, Array(0.14f, 0.99f, 0f, 0f)),
      (5L, 0, Array(0.7f, 0.7f, 0f, 0f)))
      .toDF("vec_id", "label", "embedding")
    val out = ScaleOps.marginMineOf(e).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(out.contains((0L, 1L)) && out.contains((2L, 3L)),
      s"planted twins must be mined: $out")
    assert(out((0L, 1L)) > 1.3 && out((2L, 3L)) > 1.3)
    assert(!out.contains((0L, 3L)) && !out.contains((2L, 1L)),
      s"cross-pairs sit far below the margin: $out")
    graft.core.EngineCache.releaseAll()
  }

  test("modularity: two equal cliques hit the theoretical Q = 0.5") {
    val sq = spark
    import sq.implicits._
    val li = (Seq(0L, 1L, 2L, 3L).map(p => (100L, p)) ++
      Seq(10L, 11L, 12L, 13L).map(p => (200L, p)))
      .toDF("l_orderkey", "l_partkey")
    val r = ScaleOps.lpModularityOf(li).collect()
      .map(row => row.getLong(0) ->
        (row.getLong(1), row.getLong(2), row.getLong(3), row.getDouble(4)))
      .toMap
    // two 4-cliques: 12 directed intra edges each, M = 24, degree sum 12
    // -> Q_c = 12/24 - (12/24)^2 = 0.25 per community, Q = 0.5 (the
    // known maximum for a 2-community equal split)
    assert(r.keySet == Set(0L, 10L))
    assert(r.values.forall(_ == (4L, 12L, 12L, 0.25)),
      s"clique communities must each contribute 0.25: $r")
    graft.core.EngineCache.releaseAll()
  }

  test("column stats: NDV, null counts, and typed min/max on a frame with nulls") {
    val sq = spark
    import sq.implicits._
    val li = Seq(
      (1L, 10L, 5L, 1, Some(10.0), 100.0, Some(0.01), Some(0.02), Some("A"), "F", "2024-01-01 00:00:00"),
      (2L, 10L, 6L, 1, Some(20.0), 200.0, None, Some(0.02), Some("R"), "O", "2024-02-01 00:00:00"),
      (3L, 11L, 5L, 2, None, 300.0, Some(0.03), None, None, "F", "2024-01-15 00:00:00"),
      (4L, 12L, 7L, 1, Some(20.0), 100.0, Some(0.01), Some(0.04), Some("N"), "O", "2024-01-01 00:00:00"))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "sd")
      .withColumn("l_shipdate", col("sd").cast("timestamp")).drop("sd")
    li.createOrReplaceTempView("graft_colstats_test")
    val out = ScaleOps.colStatsOn(spark, "graft_colstats_test").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("l_quantity").getLong(1) == 2)   // ndv ignores nulls
    assert(out("l_quantity").getLong(2) == 1)   // one null
    assert(out("l_quantity").getDouble(3) == 10.0)
    assert(out("l_quantity").getDouble(4) == 20.0)
    assert(out("l_returnflag").getLong(1) == 3 &&
      out("l_returnflag").getLong(2) == 1)
    assert(out("l_returnflag").getString(5) == "A" &&
      out("l_returnflag").getString(6) == "R")
    assert(out("l_returnflag").getDouble(7) == 1.0) // mean length
    assert(out("l_orderkey").getLong(1) == 4 && out("l_orderkey").getLong(2) == 0)
    assert(out("l_shipdate").getLong(1) == 3)
    assert(out("l_shipdate").getDouble(3) == 1704067200000.0, // 2024-01-01 UTC
      s"epoch-millis min: ${out("l_shipdate")}")
    graft.core.EngineCache.releaseAll()
  }

  test("silhouette: separated clusters score high, shuffled labels collapse") {
    val sq = spark
    import sq.implicits._
    // two tight blobs far apart on axis 0; labels match the blobs
    def blob(center: Float, i: Int): Array[Float] = {
      val a = Array.fill(4)(0.0f)
      a(0) = center + 0.01f * (i % 5)
      a(1) = 0.01f * (i % 3)
      a
    }
    val good = (0 until 40).map(i =>
      (i.toLong, if (i < 20) "a" else "b", blob(if (i < 20) 0f else 10f, i)))
      .toDF("vec_id", "label", "embedding")
    val gs = ScaleOps.silhouetteOf(good).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(gs.keySet == Set("a", "b"))
    assert(gs.values.forall(_ > 0.9),
      s"tight well-separated blobs must score near 1: $gs")
    // same points, labels assigned independent of geometry: each label's
    // members straddle both blobs, so own-centroid distance ~ other-centroid
    // distance and the mean silhouette collapses toward 0
    val bad = (0 until 40).map(i =>
      (i.toLong, if (i % 2 == 0) "a" else "b", blob(if (i < 20) 0f else 10f, i)))
      .toDF("vec_id", "label", "embedding")
    val bs = ScaleOps.silhouetteOf(bad).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(bs.values.forall(_ < 0.1),
      s"geometry-blind labels cannot hold a high silhouette: $bs")
    graft.core.EngineCache.releaseAll()
  }

  test("power-iteration PCA recovers a planted dominant direction") {
    val sq = spark
    import sq.implicits._
    // variance concentrated on axis 2: x_i = t_i * e2 + tiny tilt on e5;
    // deterministic, zero randomness
    val rows = (0 until 40).map { i =>
      val t = (i % 9) - 4.0f // spread -4..4 along e2
      val arr = Array.fill(8)(0.0f)
      arr(2) = t
      arr(5) = 0.05f * ((i % 3) - 1.0f)
      (i.toLong, arr.toSeq)
    }
    val out = ScaleOps.embPcaOf(rows.toDF("vec_id", "embedding")).collect()
    assert(out.length === 8)
    val byDim = out.map(r => r.getInt(0) -> r).toMap
    // unit loading concentrated on dim 2 (sign is data-determined)
    assert(math.abs(math.abs(byDim(2).getDouble(2)) - 1.0) < 1e-3,
      s"dominant loading must sit on dim 2: ${byDim(2)}")
    assert(out.map(r => math.abs(r.getDouble(2))).sorted.dropRight(1).sum < 0.05)
    // essentially all variance explained by the planted direction
    assert(byDim(2).getDouble(4) > 0.99, s"explained: ${byDim(2).getDouble(4)}")
    // determinism across runs
    val again = ScaleOps.embPcaOf(rows.toDF("vec_id", "embedding")).collect()
    assert(out.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("deflated 2-component PCA recovers two planted orthogonal directions") {
    val sq = spark
    import sq.implicits._
    // variance on axis 2 (spread -4..4) dominates variance on axis 5
    // (spread -2..2); both planted, orthogonal by construction
    val rows = (0 until 40).map { i =>
      val arr = Array.fill(8)(0.0f)
      arr(2) = ((i % 9) - 4.0f)
      arr(5) = ((i % 5) - 2.0f)
      (i.toLong, arr.toSeq)
    }
    val out = ScaleOps.embPca2Of(rows.toDF("vec_id", "embedding")).collect()
    assert(out.length === 16)
    val c1 = out.filter(_.getInt(0) == 1).map(r => r.getInt(1) -> r).toMap
    val c2 = out.filter(_.getInt(0) == 2).map(r => r.getInt(1) -> r).toMap
    // component 1 sits on dim 2, component 2 on dim 5 (deflation found
    // the orthogonal residual direction, not the same axis again)
    assert(math.abs(math.abs(c1(2).getDouble(2)) - 1.0) < 1e-3, s"${c1(2)}")
    assert(math.abs(math.abs(c2(5).getDouble(2)) - 1.0) < 1e-3, s"${c2(5)}")
    // loadings are orthogonal: v1 · v2 ~ 0
    val dot = (0 until 8).map(d => c1(d).getDouble(2) * c2(d).getDouble(2)).sum
    assert(math.abs(dot) < 1e-3, s"v1.v2 = $dot")
    // scree order: pc1 explains more than pc2, fractions against the
    // SAME original total variance and together essentially all of it
    assert(c1(0).getDouble(4) > c2(0).getDouble(4))
    assert(c1(0).getDouble(4) + c2(0).getDouble(4) > 0.99)
    // determinism across runs (driver-barrier collect must not flake)
    val again = ScaleOps.embPca2Of(rows.toDF("vec_id", "embedding")).collect()
    assert(out.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("ABTT removes the planted common direction almost entirely") {
    val sq = spark
    import sq.implicits._
    val rows = (0 until 40).map { i =>
      val t = (i % 9) - 4.0f
      val arr = Array.fill(8)(0.0f)
      arr(2) = t
      arr(5) = 0.05f * ((i % 3) - 1.0f)
      (i.toLong, arr.toSeq)
    }
    val out = ScaleOps.embAbttOf(rows.toDF("vec_id", "embedding")).collect()
    assert(out.length === 40)
    val projVar = out.map(r => r.getDouble(1) * r.getDouble(1)).sum
    val residVar = out.map(r => r.getDouble(2) * r.getDouble(2)).sum
    assert(residVar < 0.01 * (projVar + residVar),
      s"residual must be tiny after removing the top component: " +
        s"resid=$residVar proj=$projVar")
  }
}
