package graft

import graft.operators.{LlmQueries, Windows}
import org.apache.spark.sql.functions._

/** Value-level properties of the round-3 event/pipeline operators that the
  * DuckDB hash gate can't express (internal invariants: grid contiguity,
  * rolling-frame correctness vs a brute-force recompute, funnel monotonicity,
  * chunk coverage, dedup-survivor structure). */
class PipelineOpsSpec extends SparkSpec {

  test("cluster quota: skew flattened, hash order deterministic, small cells whole") {
    val sq = spark
    import sq.implicits._
    // assignment with a dominant cell (40 members), a mid cell (7, just
    // over the quota of 5), and a tiny cell (3 — under the quota, so it
    // contributes ALL its members)
    val asg = ((1L to 40L).map(i => (i, 0L)) ++
      (100L to 106L).map(i => (i, 1L)) ++
      (200L to 202L).map(i => (i, 2L))).toDF("vec_id", "cell")
    val out = LlmQueries.clusterQuotaOf(asg, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val byCell = out.groupBy(_._1)
    // skew flattened: the 40-member cell contributes exactly the quota,
    // the 3-member cell all of itself
    assert(byCell(0L).length == 5 && byCell(1L).length == 5 &&
      byCell(2L).length == 3, s"quota drift: ${byCell.view.mapValues(_.length).toMap}")
    assert(out.forall(r => r._2 == Map(0L -> 40L, 1L -> 7L, 2L -> 3L)(r._1)),
      "population column must carry the true cell size")
    // deterministic: the draw is a pure function of ids — re-running
    // and re-partitioning give the identical sample
    val again = LlmQueries.clusterQuotaOf(asg.repartition(7), 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.sortBy(r => (r._1, r._4)).toSeq == again.sortBy(r => (r._1, r._4)).toSeq,
      "quota draw must be partition-invariant")
    // hash order, not id order: the dominant cell's sample is NOT just
    // the 5 lowest ids (that would be a biased head slice)
    assert(byCell(0L).map(_._3).toSet != (1L to 5L).toSet,
      "sample must follow hash rank, not id order")
    graft.core.EngineCache.releaseAll()
  }

  test("semdedup: τ-groups match brute force, one outlier kept per group, partition-invariant") {
    val sq = spark
    import sq.implicits._
    // two geometrically unambiguous cells (e1-family, e2-family; ids 0/1
    // are the Lloyd seeds): {0,10,11} chain pairwise above τ=0.99 in
    // cell 0, {1,20} in cell 1; 12 and 21 sit in their cells but below
    // τ against everything — they must not appear in the output at all
    val vecs = Seq(
      0L -> Array(1f, 0f, 0f, 0f),
      10L -> Array(1f, 0.01f, 0f, 0f),
      11L -> Array(1f, 0.02f, 0f, 0f),
      12L -> Array(0.7f, 0f, 0.7f, 0f),
      1L -> Array(0f, 1f, 0f, 0f),
      20L -> Array(0f, 1f, 0.01f, 0f),
      21L -> Array(0f, 0.6f, 0.8f, 0f)).toDF("vec_id", "embedding")
    def run(df: org.apache.spark.sql.DataFrame) =
      LlmQueries.semDedupOf(df, 2, 2, 0.99).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getBoolean(4)))
    val out = run(vecs)
    // group structure = the brute-force τ-closure: min-id labels
    assert(out.map(r => r._1 -> r._3).toMap ==
      Map(0L -> 0L, 10L -> 0L, 11L -> 0L, 1L -> 1L, 20L -> 1L),
      s"τ-groups must match the planted closure: ${out.toSeq}")
    // exactly one keeper per group, and it is the group's LOWEST
    // centroid-similarity member (ties to the lower vec_id) — the
    // SemDeDup keep-the-outlier rule, checked against the output's own
    // cent_cos column
    out.groupBy(_._3).foreach { case (grp, members) =>
      val kept = members.filter(_._5)
      assert(kept.length == 1, s"grp $grp keeps ${kept.length} members")
      assert(kept.head._1 == members.minBy(m => (m._4, m._1))._1,
        s"grp $grp must keep its centroid outlier: ${members.toSeq}")
    }
    // pure function of the data: re-partitioning changes nothing
    assert(run(vecs.repartition(5)).sortBy(_._1).toSeq ==
      out.sortBy(_._1).toSeq, "semdedup must be partition-invariant")
    graft.core.EngineCache.releaseAll()
  }

  test("PPS sample: exactly K draws, giant docs certain, partition-invariant") {
    val sq = spark
    import sq.implicits._
    // 120 small docs (1..8 tokens) + one giant carrying ~27% of all
    // tokens: its interval spans many grid steps, so systematic PPS
    // must draw it with certainty and with its proportional multiplicity
    val small = (1L to 120L).map(i =>
      (i, s"s${i % 4}", Seq.fill((i % 8 + 1).toInt)(s"w$i").mkString(" ")))
    val giantTokens = 200
    val docs = (small :+ ((999L, "big",
      Seq.fill(giantTokens)("g").mkString(" "))))
      .toDF("doc_id", "source", "text")
    val out = LlmQueries.ppsSampleOf(docs).collect()
    assert(out.map(_.getLong(3)).sum == LlmQueries.PpsK,
      "systematic PPS draws exactly K copies in total")
    val giant = out.find(_.getLong(0) == 999L)
    assert(giant.isDefined, "a doc wider than the step is always drawn")
    val totalTokens = small.map(_._3.split(" ").length).sum + giantTokens
    val step = totalTokens / LlmQueries.PpsK
    assert(math.abs(giant.get.getLong(3) - giantTokens / step) <= 1,
      "multiplicity tracks the giant's systematic share")
    // the sample is a pure function of ids and weights, not partitioning
    val out2 = LlmQueries.ppsSampleOf(docs.repartition(7)).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(3))).toSeq ==
      out2.map(r => (r.getLong(0), r.getLong(3))).toSeq)
  }

  test("ES sample: exact JVM replay of the key order, K distinct per stratum, giant doc selected") {
    val sq = spark
    import sq.implicits._
    val L = LlmQueries
    // per-lang corpus: 40 small docs (2 tokens) + one giant (5000
    // tokens, ~98% of the mass). Expected sample comes from an
    // INDEPENDENT JVM replay of the ES construction (MessageDigest md5
    // vs the engine's md5 expression — the q290 discipline).
    val rows = (for (lang <- Seq("aa", "bb"); i <- 1L to 40L) yield
      (lang(0).toLong * 1000 + i, lang, "x y")) ++
      Seq((9001L, "aa", Seq.fill(5000)("g").mkString(" ")))
    val docs = rows.toDF("doc_id", "lang", "text")
    def jhash(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    val want = rows.groupBy(_._2).flatMap { case (lang, rs) =>
      val scored = rs.map { case (id, _, text) =>
        val w = text.split("\\s+").length
        val u6 = jhash(s"es:$id") % 1000000 + 1
        val s9 = math.floor(math.log(u6 / 1e6) / w * 1e9 + 0.5).toLong
        (id, w.toLong, s9)
      }
      scored.sortBy(s => (-s._3, s._1)).take(L.EsK).zipWithIndex
        .map { case ((id, w, _), i) => (lang, i + 1L, id, w) }
    }.toSet
    val got = L.esSampleOf(spark, docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want, s"ES replay drifted:\n$got\nvs\n$want")
    // structural: exactly K per lang, all distinct (WOR), giant chosen
    // (its key u^(1/5000) ~ 1 dominates every u^(1/2) on this fixture)
    assert(got.groupBy(_._1).forall(_._2.size == L.EsK))
    assert(got.map(_._3).size == 2 * L.EsK, "draws must be distinct docs")
    assert(got.exists(_._3 == 9001L), "the 98%-mass doc must be sampled")
    // pure function of ids and weights, not partitioning
    val got2 = L.esSampleOf(spark, docs.repartition(7)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got2 == got, "ES sample must be partition-invariant")
  }

  test("taint PPR: decays with distance, isolated seeds keep restart mass") {
    val sq = spark
    import sq.implicits._
    // chain 1-2-3-4 off seed 1, isolated seed 9, untouched pair 100-101
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (100L, 101L))
      .toDF("id_a", "id_b")
    val seeds = Seq(1L, 9L).toDF("node")
    val out = LlmQueries.taintPprOf(pairs, seeds).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!out.contains(100L) && !out.contains(101L),
      "nodes unreachable from any seed carry zero taint and are dropped")
    assert(out(9L)._1 == 1L && out(9L)._2 == 0.25,
      "an isolated seed keeps exactly its restart mass alpha/|S|")
    val (t2, t3, t4) = (out(2L)._2, out(3L)._2, out(4L)._2)
    assert(t2 > t3 && t3 > t4 && t4 > 0,
      s"taint must decay monotonically along the chain: $t2 $t3 $t4")
    assert(out(1L)._1 == 1L && out(2L)._1 == 0L, "seed flags")
    graft.core.EngineCache.releaseAll()
  }

  test("epoch shuffle: complete permutations, token-balanced shards, epochs differ") {
    val sq = spark
    import sq.implicits._
    val docs = (1L to 60L).map(i =>
      (i, Seq.fill((i % 9 + 1).toInt)(s"w$i").mkString(" "))).toDF("doc_id", "text")
    val out = LlmQueries.epochShuffleOf(docs).collect()
    val byEpoch = out.groupBy(_.getInt(0))
    assert(byEpoch.keySet === Set(1, 2))
    byEpoch.foreach { case (_, rows) =>
      // a complete permutation: every doc once, positions 1..n
      assert(rows.map(_.getLong(2)).sorted.toSeq === (1L to 60L))
      assert(rows.map(_.getLong(1)).sorted.toSeq === (1L to 60L))
      // shard is nondecreasing in position and token-balanced: each
      // shard's load stays under budget + one max-doc overhang
      val inOrder = rows.sortBy(_.getLong(1))
      val shards = inOrder.map(_.getInt(4))
      assert(shards.sameElements(shards.sorted), "shards follow the order")
      val total = rows.map(_.getLong(3)).sum
      val budget = (total + LlmQueries.ShuffleShards - 1) / LlmQueries.ShuffleShards
      val maxDoc = rows.map(_.getLong(3)).max
      inOrder.groupBy(_.getInt(4)).values.foreach { s =>
        assert(s.map(_.getLong(3)).sum <= budget + maxDoc)
      }
    }
    // the two epochs are genuinely different permutations
    val p1 = byEpoch(1).sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
    val p2 = byEpoch(2).sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
    assert(p1 !== p2)
    // determinism across runs
    val again = LlmQueries.epochShuffleOf(docs).collect()
    assert(out.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("corpus funnel reconciles with its component stages and stays monotone") {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val out = LlmQueries.corpusFunnel(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val Seq(docsRaw, toksRaw, docsDd, toksDd, toksCut, docsFin, toksFin) =
        (1 to 7).map(r.getLong)
      assert(docsRaw >= docsDd && docsDd >= docsFin)
      assert(toksRaw >= toksDd && toksDd >= toksCut && toksCut >= toksFin,
        s"funnel must shrink monotonically: $r")
    }
    // reconcile the dedup stage against the standalone survivor query
    val d = graft.core.Tables.load(spark, sfDir, "documents")
    val survIds = LlmQueries.dedupCorpus(spark, sfDir).select("doc_id")
    val wantDocsDd = d.join(survIds, "doc_id").count()
    assert(out.map(_.getLong(3)).sum === wantDocsDd)
    // and the cut stage against the standalone cut over the survivors
    val wantToksCut = LlmQueries.dedupCleanOf(
        d.join(survIds, "doc_id").select("doc_id", "text"))
      .agg(org.apache.spark.sql.functions.sum(col("kept_tokens"))).head.getLong(0)
    assert(out.map(_.getLong(5)).sum === wantToksCut)
  }

  test("skip-gram negatives match a full local replay of hash, subsample, and draws") {
    val sq = spark
    import sq.implicits._
    val texts = Seq(
      1L -> "the cat sat on the mat the end",
      2L -> "the dog ran to the cat fast now",
      3L -> "a bird flew over the tall tree",
      4L -> "the cat and the dog met a bird",
      5L -> "sun rose over the hill this day",
      6L -> "the end of the day came fast")
    val out = graft.operators.LlmQueries.skipgramNegativesOf(
      texts.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3),
        r.getString(4), r.getInt(5), r.getString(6))).toSeq

    // local replay with the same md5-derived hash and IEEE arithmetic
    def xh(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.substring(0, 15), 16)
    }
    val toks = texts.flatMap { case (id, t) =>
      t.trim.split("\\s+").zipWithIndex.map { case (w, i) => (id, i + 1, w) }
    }
    val cnt = toks.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val totT = toks.size.toLong
    val tt = 1e-3
    def pKeep(c: Long): Double = {
      val f = c.toDouble / totT
      math.min(1.0, (math.sqrt(f / tt) + 1.0) * tt / f)
    }
    val kept = toks.filter { case (id, pos, w) =>
      xh(s"ss:$id:$pos") % 1000000L <
        math.floor(pKeep(cnt(w)) * 1e6 + 0.5).toLong
    }
    def wgt(c: Long): Long =
      math.max(1L, math.floor(
        math.sqrt(c.toDouble * math.sqrt(c.toDouble))).toLong)
    val vocab = cnt.keys.toSeq.map(w => (xh(s"w:$w"), w, wgt(cnt(w))))
      .sortBy(v => (v._1, v._2))
    val totW = vocab.map(_._3).sum
    val cum = vocab.scanLeft(("", 0L, 0L)) { case ((_, sc, w0), (_, wd, w)) =>
      (wd, sc + w0, w)
    }.drop(1) // (word, sc, w)
    def negOf(draw: Long): String =
      cum.find(c => draw >= c._2 && draw < c._2 + c._3).get._1
    val expected = (for {
      (cd, cp, cw) <- kept
      (xd, xp, xw) <- kept
      if xd == cd && xp != cp && (xp - cp).abs <= 2
      j <- 1 to 2
    } yield (cd, cp, xp, cw, xw, j,
      negOf(xh(s"neg:$cd:$cp:$xp:$j") % totW))).sortBy(r =>
      (r._1, r._2, r._3, r._6))
    assert(kept.nonEmpty && kept.size < toks.size,
      "fixture must exercise both kept and dropped tokens")
    assert(out === expected)
  }

  test("gap-fill emits a contiguous hourly grid with non-null carry-forward") {
    val rows = Windows.gapFill(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, grid) =>
      val hours = grid.map(_.getTimestamp(1).getTime).sorted
      val expected = (hours.head to hours.last by 3600 * 1000L).toArray
      assert(hours.sameElements(expected), "grid has holes or duplicates")
    }
    // first bucket per type comes from an observed hour, so carry-forward
    // never has a null to propagate
    assert(rows.forall(!_.isNullAt(4)))
    rows.filter(_.getBoolean(3)).foreach(r => assert(r.getLong(2) == 0L))
  }

  test("rolling 1h window matches a brute-force recompute") {
    val events = graft.core.Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ms"),
        col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byUser = events.groupBy(_._2)
    val expected = events.map { case (id, u, ms, _) =>
      val peers = byUser(u).filter(e => e._3 <= ms && e._3 >= ms - Windows.RollingMs)
      id -> (peers.length.toLong,
        math.rint(peers.map(e => BigDecimal(e._4)).sum.toDouble * 100) / 100)
    }.toMap
    val got = Windows.rollingWindow(spark, sfDir).collect()
    assert(got.length == events.length)
    got.foreach { r =>
      val (n, s) = expected(r.getLong(0))
      assert(r.getLong(3) == n, s"n_1h mismatch for event ${r.getLong(0)}")
      assert(math.abs(r.getDouble(4) - s) < 1e-9,
        s"sum_1h mismatch for event ${r.getLong(0)}: got ${r.getDouble(4)}, want $s")
    }
  }

  test("funnel stage counts are positive and non-increasing") {
    val rows = Windows.eventFunnel(spark, sfDir).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4))
    val counts = rows.map(_.getLong(2))
    assert(counts.head > 0)
    counts.sliding(2).foreach { case Array(a, b) => assert(a >= b) }
    val signupUsers = graft.core.Tables.load(spark, sfDir, "events")
      .filter(col("event_type") === "signup")
      .select("user_id").distinct().count()
    assert(counts.head == signupUsers)
  }

  test("z-score outliers all exceed the cut and match a recompute") {
    val rows = Windows.zscoreOutliers(spark, sfDir).collect()
    assert(rows.forall(r => math.abs(r.getDouble(3)) > Windows.ZCut))
    // recompute one group's stats exactly
    val vals = graft.core.Tables.load(spark, sfDir, "events")
      .filter(col("event_type") === "purchase")
      .select("value").collect().map(_.getDouble(0))
    val mean = vals.map(BigDecimal(_)).sum.toDouble / vals.length
    val std = math.sqrt(
      vals.map(v => BigDecimal(v) * BigDecimal(v)).sum.toDouble / vals.length
        - mean * mean)
    rows.filter(_.getString(1) == "purchase").foreach { r =>
      val z = math.floor((r.getDouble(2) - mean) / std * 1e4 + 0.5) / 1e4
      assert(math.abs(r.getDouble(3) - z) < 1e-9)
    }
  }

  test("doc chunks cover every token with the declared stride and overlap") {
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        size(expr(graft.functions.TextFunctions.wordsExpr("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val chunks = LlmQueries.docChunks(spark, sfDir).collect()
      .groupBy(_.getLong(0))
    assert(chunks.keySet == docs.keySet)
    chunks.foreach { case (docId, cs) =>
      val n = docs(docId)
      val k = math.max(0,
        math.ceil((n - LlmQueries.ChunkTokens).toDouble / LlmQueries.ChunkStride).toInt)
      assert(cs.length == k + 1, s"doc $docId: ${cs.length} chunks, want ${k + 1}")
      val sorted = cs.sortBy(_.getInt(1))
      sorted.dropRight(1).foreach(c => assert(c.getInt(2) == LlmQueries.ChunkTokens))
      // last chunk reaches the end of the document exactly
      val lastStart = k * LlmQueries.ChunkStride
      assert(sorted.last.getInt(2) == math.min(LlmQueries.ChunkTokens, n - lastStart))
    }
  }

  test("tf-idf top terms are rank-consistent and match a manual recompute") {
    val rows = LlmQueries.tfidfTerms(spark, sfDir).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRk = rs.sortBy(_.getInt(1))
      assert(byRk.map(_.getInt(1)).toSeq == (1 to byRk.length))
      byRk.sliding(2).foreach {
        case Array(a, b) => assert(a.getDouble(5) >= b.getDouble(5))
        case _ =>
      }
    }
    // manual: tfidf = tf * ln((N+1)/(df+1)) rounded half-up at 6 dp
    val nDocs = graft.core.Tables.load(spark, sfDir, "documents").count()
    rows.take(20).foreach { r =>
      val want = math.floor(
        r.getLong(3) * math.log((nDocs + 1).toDouble / (r.getLong(4) + 1)) * 1e6
          + 0.5) / 1e6
      assert(math.abs(r.getDouble(5) - want) < 1e-9)
    }
  }

  test("dedup corpus keeps exactly the exact-min + component-representative docs") {
    val d = graft.core.Tables.load(spark, sfDir, "documents")
    val survivors = LlmQueries.dedupCorpus(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    // no two survivors share a bag fingerprint
    val fps = d.select(col("doc_id"),
      graft.functions.TextFunctions.bagFingerprint("text").as("fp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val survivorFps = fps.filter(p => survivors(p._1)).map(_._2)
    assert(survivorFps.distinct.length == survivorFps.length)
    // every non-representative component member is gone
    val comp = graft.llm.Dedup.connectedComponents(
      graft.llm.Dedup.minhashLshPairs(d, "doc_id", "text",
        LlmQueries.WordShingleN, LlmQueries.MinhashK, LlmQueries.MinhashBands,
        LlmQueries.MinhashTau)).collect()
    comp.filter(r => r.getLong(0) != r.getLong(1))
      .foreach(r => assert(!survivors(r.getLong(0)),
        s"near-dup non-representative ${r.getLong(0)} survived"))
    assert(survivors.nonEmpty && survivors.size < fps.length)
  }

  test("cohort retention matches a brute-force recompute") {
    val e = graft.core.Tables.load(spark, sfDir, "events")
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime))
    val first = e.groupBy(_._1).map { case (u, rows) => u -> rows.map(_._2).min }
    val dayMs = 24 * 3600 * 1000L
    val expected = e.map { case (u, d) =>
      (first(u), ((d - first(u)) / dayMs).toInt, u)
    }.distinct.groupBy(p => (p._1, p._2)).map { case (k, v) => k -> v.length }
    val got = Windows.cohortRetention(spark, sfDir).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val k = (r.getTimestamp(0).getTime, r.getInt(1))
      assert(expected(k) == r.getLong(2), s"cell $k")
    }
    // offset-0 cell of each cohort counts the whole cohort
    val cohortSizes = first.values.groupBy(identity).map(p => p._1 -> p._2.size)
    got.filter(_.getInt(1) == 0).foreach { r =>
      assert(r.getLong(2) == cohortSizes(r.getTimestamp(0).getTime))
    }
  }

  test("forward as-of join matches a brute-force recompute") {
    val events = graft.core.Tables.load(spark, sfDir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val purchases = events.filter(_._4 == "purchase").groupBy(_._2)
    val expected = events.filter(_._4 == "click").flatMap { case (cid, u, cms, _) =>
      purchases.getOrElse(u, Array.empty[(Long, Long, Long, String)])
        .filter(p => p._3 >= cms)
        .sortBy(p => (p._3, p._1)).headOption
        .filter(p => p._3 - cms <= Windows.AsofTolMs)
        .map(p => cid -> (p._1, p._3 - cms))
    }.toMap
    val got = Windows.asofForward(spark, sfDir).collect()
    assert(got.length == expected.size && got.nonEmpty)
    got.foreach { r =>
      val (pEvent, gap) = expected(r.getLong(0))
      assert(r.getLong(2) == pEvent && r.getLong(4) == gap,
        s"click ${r.getLong(0)}")
    }
  }

  test("chunk containment matches a recompute and catches planted full containment") {
    val fps = LlmQueries.docChunks(spark, sfDir)
      .select("doc_id", "chunk_fp").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = fps.groupBy(_._1).map { case (d, v) => d -> v.map(_._2).toSet }
    val cdf = fps.groupBy(_._2).map { case (f, v) => f -> v.length }
    val expected = (for {
      (a, fa) <- byDoc.toSeq; (b, fb) <- byDoc.toSeq if a != b
      sh = (fa & fb).count(f => cdf(f) <= LlmQueries.StopChunkDf)
      if sh.toDouble / fa.size >= LlmQueries.ContainTau
    } yield (a, b) -> (sh.toLong, fa.size.toLong)).toMap
    val got = LlmQueries.chunkContainment(spark, sfDir).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (sh, na) = expected((r.getLong(0), r.getLong(1)))
      assert(r.getLong(2) == sh && r.getLong(3) == na)
      assert(r.getDouble(4) == sh.toDouble / na)
    }
    // identical token streams ⇒ mutual containment 1.0 (exact-dup docs)
    val exactPairs = graft.core.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        graft.functions.TextFunctions.contentFingerprint("text").as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).values.filter(_.length > 1)
    exactPairs.headOption.foreach { grp =>
      val ids = grp.map(_._1).sorted.take(2)
      assert(expected.contains((ids(0), ids(1))) &&
        expected((ids(0), ids(1)))._1 == expected((ids(0), ids(1)))._2)
    }
  }

  test("PII redaction scrubs planted emails, IPs, and digit runs") {
    val r = spark.range(1).selectExpr(
      LlmQueries.redactPiiExpr(
        "'mail alice.b+spam@corp.example.io then 192.168.0.1 acct 1234567 tail'")
        + " AS red").head.getString(0)
    assert(r == "mail <EMAIL> then <IP> acct <NUM> tail", r)
    // short digit runs and bare words survive
    val r2 = spark.range(1).selectExpr(
      LlmQueries.redactPiiExpr("'v1.2.3 build 42 at host'") + " AS red")
      .head.getString(0)
    assert(r2 == "v1.2.3 build 42 at host", r2)
  }

  test("k-means assignment is the argmax vs recomputed final centroids") {
    val vecs = graft.core.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      math.floor(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6 + 0.5) / 1e6
    }
    val got = graft.llm.Similarity.kmeansLloyd(
      graft.core.Tables.load(spark, sfDir, "embeddings"),
      LlmQueries.KmK, LlmQueries.KmRounds).collect()
    assert(got.length == vecs.length)
    val cells = got.map(_.getLong(1)).distinct
    assert(cells.length > 1 && cells.forall(c => c >= 0 && c < LlmQueries.KmK))
    // centroids implied by the PENULTIMATE round: recompute round-1
    // assignment from seeds, then its means, and check the final
    // assignment is the argmax against those means
    val byId = vecs.toMap
    val seeds = (0L until LlmQueries.KmK).map(i =>
      i -> byId(i).map(_.toDouble)).toMap
    val a1 = vecs.map { case (id, v) =>
      val vd = v.map(_.toDouble)
      id -> seeds.toSeq.map { case (c, cv) => (-cos(vd, cv), c) }.min._2
    }
    val means = a1.groupBy(_._2).map { case (c, members) =>
      val arrs = members.map(p => byId(p._1))
      val dims = arrs.head.length
      // replicate Determinism.davg exactly: exact decimal sum → double →
      // IEEE divide → floor(x·1e8 + 0.5)/1e8 → float
      c -> (0 until dims).map { d =>
        val s = arrs.map(a => BigDecimal(a(d).toDouble)).sum.toDouble
        (math.floor(s / arrs.length * 1e8 + 0.5) / 1e8).toFloat.toDouble
      }.toArray
    }
    got.foreach { r =>
      val vd = byId(r.getLong(0)).map(_.toDouble)
      val best = means.toSeq.map { case (c, cv) => (-cos(vd, cv), c) }.min
      assert(r.getLong(1) == best._2, s"vec ${r.getLong(0)}")
      // the test's one-loop recompute can land on the other side of a
      // 6dp half-up boundary vs the kernel's separate dot/norm folds —
      // allow exactly one rounding quantum
      assert(math.abs(r.getDouble(2) - -best._1) <= 1e-6 + 1e-12)
    }
  }

  test("k-means assign's struct-max fallback equals the window pick on seed ids the encoding cannot take") {
    val sq = spark
    import sq.implicits._
    import org.apache.spark.sql.expressions.Window
    // seeds are the ids below k; seeds 0 and 1 (by position) point the
    // same way, so the points near them tie on cos and the LOWER cell id
    // must win; one round, the assignment against the seeds themselves
    val dirs = Seq(Array(1f, 0f, 0f), Array(1f, 0f, 0f), Array(0f, 1f, 0f))
    val points = Seq(Array(0.9f, 0.1f, 0f), Array(0.2f, 0.8f, 0.1f),
      Array(0.5f, 0.5f, 0f), Array(0f, 0f, 1f), Array(1f, 0.01f, 0f))
    def assigned(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cell", "cos").as[(Long, Long, Double)].collect().toSet
    Seq(
      "non-negative seed ids (the encoded max)" -> (3, Seq(2L, 0L, 1L)),
      "negative seed ids" -> (0, Seq(-4L, -9L, -2L)),
      "a Long.MinValue seed id" -> (0, Seq(-1L, Long.MinValue, -5L))
    ).foreach { case (what, (k, seedIds)) =>
      val v = (seedIds.zip(dirs) ++ points.zipWithIndex.map {
        case (p, i) => (k + 10L + i, p) }).toDF("vec_id", "embedding")
      val seeds = v.filter($"vec_id" < k)
        .select($"vec_id".as("cell"), $"embedding".as("cv"))
      val want = assigned(v.join(broadcast(seeds))
        .withColumn("cos", expr(graft.llm.Similarity.cosineExpr("embedding", "cv")))
        .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
          .orderBy($"cos".desc, $"cell")))
        .filter($"rn" === 1))
      val got = assigned(graft.llm.Similarity.kmeansLloyd(v, k, 1))
      assert(got.size == 8 && got == want, s"$what: $got vs $want")
      assert(got.exists(_._2 == seedIds.min), s"$what: the tie goes to the lower id")
      graft.core.EngineCache.releaseAll()
    }
    // seed ids are below k, an Int, so an id range whose B overflows with
    // the score range (scores reach 2000001) cannot come from kmeansLloyd
    // itself; the pick gets that range here with the assign step's bounds
    val big = 1L << 45
    val scored = Seq((1L, 2000001L, big + 3), (1L, 2000001L, big),
      (2L, 17L, big + 1), (2L, 1L, 0L)).toDF("vec_id", "s", "cell")
    assert(graft.functions.VectorAggregates
      .top1PerGroup(scored, "vec_id", "s", "cell", 0L, big + 3, 2000001L)
      .as[(Long, Long, Long)].collect().toSet ==
      Set((1L, big, 2000001L), (2L, big + 1, 17L)))
  }

  test("filtered ANN is k-deep, respects the predicate, and beats post-filtering") {
    val got = LlmQueries.annFiltered(spark, sfDir).collect()
    val evenLabelIds = graft.core.Tables.load(spark, sfDir, "embeddings")
      .filter(expr(LlmQueries.FilteredCandWhere))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // every probe gets a FULL k (pre-filtering: the top-k runs over
    // qualifying candidates only), and every candidate qualifies
    val byProbe = got.groupBy(_.getLong(0))
    assert(byProbe.size == 10)
    byProbe.values.foreach(rows => assert(rows.length == LlmQueries.BruteK))
    assert(got.forall(r => evenLabelIds.contains(r.getLong(2))))
    // the naive alternative — post-filtering an unfiltered top-k — comes
    // up short for at least one probe here, which is exactly why the
    // operator filters BEFORE ranking
    val postFiltered = graft.llm.Similarity
      .bruteForceTopK(graft.core.Tables.load(spark, sfDir, "embeddings"),
        col("vec_id") < 10, LlmQueries.BruteK)
      .collect().filter(r => evenLabelIds.contains(r.getLong(2)))
      .groupBy(_.getLong(0))
    assert(postFiltered.values.exists(_.length < LlmQueries.BruteK),
      "fixture surprise: post-filtering lost nothing — pick a sharper predicate")
  }

  test("vocab coverage ladder is monotone and matches a local recount") {
    val r = LlmQueries.vocabCoverage(spark, sfDir).collect()
    assert(r.map(_.getInt(0)).toSeq == LlmQueries.VocabMinCounts)
    // k=1 keeps everything: coverage exactly 1
    assert(r.head.getDouble(3) == 1.0)
    // vocab shrinks and coverage falls as the threshold climbs
    r.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(1) <= a.getLong(1))
        assert(b.getLong(2) <= a.getLong(2))
      case _ =>
    }
    // local recount from raw word counts
    val counts = graft.core.Tables.load(spark, sfDir, "documents")
      .select(explode(graft.functions.TextFunctions.words("text")).as("t"))
      .groupBy("t").count().collect().map(_.getLong(1))
    val byK = r.map(row => row.getInt(0) -> (row.getLong(1), row.getLong(2))).toMap
    for (k <- LlmQueries.VocabMinCounts) {
      val kept = counts.filter(_ >= k)
      assert(byK(k) == ((kept.length.toLong, kept.sum)))
    }
  }

  test("dup cluster histogram accounts for every clustered doc") {
    val hist = LlmQueries.dupClusterSizes(spark, sfDir).collect()
    assert(hist.nonEmpty)
    // components have >= 2 members by construction (every node in the
    // pair graph has a neighbor)
    assert(hist.forall(_.getLong(0) >= 2))
    assert(hist.forall(r => r.getLong(2) == r.getLong(0) * r.getLong(1)))
    val totalDocs = hist.map(_.getLong(2)).sum
    val comp = graft.llm.Dedup.connectedComponents(
      LlmQueries.lshPairsAtRest(spark, sfDir)).count()
    assert(totalDocs == comp)
  }

  test("dedup impact report reconciles with the surviving corpus") {
    val r = LlmQueries.dedupImpact(spark, sfDir).collect()
    assert(r.nonEmpty)
    val totalDocs = r.map(_.getLong(1)).sum
    val totalKept = r.map(_.getLong(2)).sum
    assert(totalDocs ==
      graft.core.Tables.load(spark, sfDir, "documents").count())
    assert(totalKept == LlmQueries.dedupCorpus(spark, sfDir).count())
    assert(totalKept < totalDocs, "fixture has duplicates; some must drop")
    r.foreach { row =>
      assert(row.getLong(2) <= row.getLong(1))
      assert(row.getLong(4) <= row.getLong(3))
      assert(row.getDouble(5) > 0 && row.getDouble(5) <= 1.0)
      assert(row.getDouble(6) > 0 && row.getDouble(6) <= 1.0)
    }
  }

  test("blocking audit is internally consistent and truth-anchored") {
    val r = LlmQueries.blockingAudit(spark, sfDir).collect()
    assert(r.map(_.getString(0)).toSeq ==
      Seq("head_key", "minhash_bands", "simhash_blocks",
        "sorted_neighborhood"))
    // sorted-neighborhood's defining property: candidates are bounded
    // by n·w no matter how skewed the blocking key is
    val nDocs = graft.core.Tables.load(spark, sfDir, "documents")
      .filter(s"doc_id < ${LlmQueries.AuditSampleCap}").count()
    val sn = r.find(_.getString(0) == "sorted_neighborhood").get
    assert(sn.getLong(1) <= nDocs * graft.llm.Dedup.SnWindow,
      "SN candidate volume must respect the n*w worst-case bound")
    val truths = r.map(_.getLong(2)).distinct
    assert(truths.length == 1 && truths.head > 0,
      "every scheme is scored against the same nonempty truth set")
    r.foreach { row =>
      val (cand, truth, hits) = (row.getLong(1), row.getLong(2), row.getLong(3))
      assert(hits <= math.min(cand, truth))
      assert(row.getDouble(4) ==
        math.floor(hits.toDouble / truth * 1e6 + 0.5) / 1e6)
      assert(row.getDouble(5) ==
        math.floor(hits.toDouble / cand * 1e6 + 0.5) / 1e6)
    }
    // the truth count equals an independent exact all-pairs recompute
    val d = graft.core.Tables.load(spark, sfDir, "documents")
    val sig = graft.llm.Dedup.signatureFrame(d, "doc_id", "text",
      LlmQueries.WordShingleN, LlmQueries.MinhashK)
      .select("id", "hs").collect()
      .map(row => row.getLong(0) -> row.getSeq[Long](1).toSet)
    val nTruth = (for {
      (ia, ha) <- sig; (ib, hb) <- sig if ia < ib
      inter = (ha intersect hb).size
      if inter.toDouble / (ha.size + hb.size - inter) >= LlmQueries.MinhashTau
    } yield 1).length
    assert(r.head.getLong(2) == nTruth)
  }

  test("CDC chunk fingerprints survive a prepended edit") {
    val sq = spark
    import sq.implicits._
    // deterministic 400-word body; doc 2 is doc 1 with a 4-word edit
    // PREPENDED — the scenario that shifts every fixed-window chunk
    val body = (1 to 400).map(i => s"tok${i % 50}w$i").mkString(" ")
    val d = Seq((1L, body), (2L, "a fresh sentence prepended " + body))
      .toDF("doc_id", "text")
    val chunks = LlmQueries.cdcChunksOf(d).collect()
    val f1 = chunks.filter(_.getLong(0) == 1).map(_.getLong(3)).toSet
    val f2 = chunks.filter(_.getLong(0) == 2).map(_.getLong(3)).toSet
    assert(f1.size > 5, s"fixture surprise: only ${f1.size} chunks")
    val shared = f1 intersect f2
    // boundaries depend only on local 3-word windows, so every chunk
    // strictly after the first post-edit boundary must survive intact
    assert(shared.size >= f1.size - 2,
      s"CDC lost chunks to an upstream edit: ${shared.size}/${f1.size}")
    // and the corpus-wide share count sees the duplicated chunks
    chunks.filter(r => shared.contains(r.getLong(3)))
      .foreach(r => assert(r.getLong(4) == 2))
    // coverage: chunk token counts add back to each doc's word count
    val n1 = chunks.filter(_.getLong(0) == 1).map(_.getLong(2)).sum
    assert(n1 == 400)
  }

  test("hard negatives are cross-label and rank-exact vs a local recompute") {
    val got = LlmQueries.hardNegativeMining(spark, sfDir).collect()
    val vecs = graft.core.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray,
        r.getInt(2)))
    val byId = vecs.map(v => v._1 -> v).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      math.floor(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6 + 0.5) / 1e6
    }
    val byProbe = got.groupBy(_.getLong(0))
    assert(byProbe.size == 10)
    byProbe.foreach { case (qid, rows) =>
      assert(rows.length == LlmQueries.BruteK)
      // every mined negative carries a different label than its anchor
      rows.foreach(r => assert(byId(r.getLong(2))._3 != byId(qid)._3))
      // and the ranking equals the local cross-label top-k exactly
      val want = vecs.filter(_._3 != byId(qid)._3)
        .map(v => (-cos(byId(qid)._2, v._2), v._1))
        .sorted.take(LlmQueries.BruteK)
      val gotRanks = rows.sortBy(_.getInt(1))
        .map(r => (-r.getDouble(3), r.getLong(2))).toSeq
      assert(gotRanks == want.toSeq, s"probe $qid mismatch")
    }
  }

  test("pad batching matches a local recompute and sorted never wastes more") {
    val toks = graft.core.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount("text").cast("long").as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val B = LlmQueries.PadBatchRows
    def cost(order: Seq[Long]): (Long, Long, Long) = {
      val batches = order.grouped(B).toSeq
      (batches.length.toLong,
        batches.map(_.sum).sum,
        batches.map(b => b.length.toLong * b.max).sum)
    }
    val arrival = cost(toks.sortBy(_._1).map(_._2))
    val sorted = cost(toks.sortBy { case (id, t) => (-t, id) }.map(_._2))
    val got = LlmQueries.padBatching(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)), r.getDouble(4))).toMap
    assert(got("arrival")._1 == arrival)
    assert(got("sorted")._1 == sorted)
    // length-sorted batching can only reduce padding, and on this
    // fixture it strictly does
    assert(got("sorted")._2 < got("arrival")._2)
    got.values.foreach { case ((_, actual, padded), waste) =>
      assert(math.abs(waste - (padded - actual).toDouble / padded) <= 1e-6)
    }
  }
}
