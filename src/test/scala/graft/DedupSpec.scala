package graft

import graft.llm.{Dedup, Similarity}
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** Algebraic properties of the dedup/similarity operators (SURVEY.md §5.2):
  * identical texts collide everywhere, pair orientation, guard behavior on
  * degenerate inputs, idempotence. */
class DedupSpec extends SparkSpec {

  private def docsOf(rows: (Long, String)*) = {
    val sq = spark
    import sq.implicits._
    rows.toDF("doc_id", "text")
  }

  test("identical documents produce jaccard 1.0 via MinHash-LSH") {
    val d = docsOf(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta",
      3L -> "totally different words entirely here now")
    val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", 3, 8, 4, 0.5).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getLong(0) === 1L && pairs.head.getLong(1) === 2L)
    assert(pairs.head.getDouble(2) === 1.0)
  }

  test("pair-table delete: endpoint anti-join equals a rebuild on the filtered corpus") {
    // three near-dup families; ids 6 and 16 are tombstoned
    // (doc_id % 10 = 6), hitting one pair on each side and leaving one
    // family untouched
    val d = docsOf(
      1L -> "alpha beta gamma delta epsilon zeta",
      6L -> "alpha beta gamma delta epsilon zeta",   // tombstoned twin of 1
      11L -> "one two three four five six seven",
      12L -> "one two three four five six seven",     // surviving family
      16L -> "red orange yellow green blue indigo",
      17L -> "red orange yellow green blue indigo")   // 16 tombstoned
    import org.apache.spark.sql.functions._
    val all = Dedup.minhashLshPairs(d, "doc_id", "text", 3, 8, 4, 0.5)
    val tomb = d.filter(col("doc_id") % 10 === 6).select("doc_id")
    val served = all
      .join(broadcast(tomb.withColumnRenamed("doc_id", "id_a")),
        Seq("id_a"), "left_anti")
      .join(broadcast(tomb.withColumnRenamed("doc_id", "id_b")),
        Seq("id_b"), "left_anti")
      .select("id_a", "id_b") // keyed joins reorder; pin the projection
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebuilt = Dedup.minhashLshPairs(
        d.filter(col("doc_id") % 10 =!= 6), "doc_id", "text", 3, 8, 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == rebuilt && served == Set((11L, 12L)),
      s"delete ∘ store must equal rebuild: $served vs $rebuilt")
    graft.core.EngineCache.releaseAll()
  }

  test("component delete: bounded recompute handles splits and equals a rebuild") {
    val sq = spark
    import sq.implicits._
    import org.apache.spark.sql.functions.col
    // component {10,16,11,12} chained through bridge 16 (tombstoned:
    // % 10 = 6): deleting it splits the chain — 10 loses every edge and
    // leaves the table, {11,12} survives as its own component. {1,6,2}
    // chained through tombstoned 6 dissolves entirely. {20,21} is
    // untouched and must pass through verbatim.
    val pairs = Seq((10L, 16L), (16L, 11L), (11L, 12L),
      (1L, 6L), (6L, 2L), (20L, 21L))
      .toDF("id_a", "id_b").withColumn("jaccard", org.apache.spark.sql
        .functions.lit(1.0))
    val labels = Dedup.connectedComponents(pairs)
      .transform(graft.core.EngineCache.persisted)
    val tomb = Seq(6L, 16L).toDF("doc_id")
    val maintained = graft.operators.LlmQueries
      .componentDeleteOf(labels, pairs, tomb)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rebuilt = Dedup.connectedComponents(
        pairs.filter(!col("id_a").isin(6L, 16L) &&
          !col("id_b").isin(6L, 16L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(11L -> 11L, 12L -> 11L, 20L -> 20L, 21L -> 20L)
    assert(maintained == want && rebuilt == want,
      s"maintain must equal rebuild incl. the split: $maintained / $rebuilt")
    graft.core.EngineCache.releaseAll()
  }

  test("component append: condensed-graph merge equals a rebuild, labels canonical") {
    val sq = spark
    import sq.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    // base graph: components {1,2} and {5,7}, plus singleton-by-absence
    // docs 30 and 40 (no base edges -> not in the label table)
    val basePairs = Seq((1L, 2L), (5L, 7L))
      .toDF("id_a", "id_b").withColumn("jaccard", lit(1.0))
    val labels = Dedup.connectedComponents(basePairs)
      .transform(graft.core.EngineCache.persisted)
    // new pairs: 100 bridges BOTH base components (merge via batch doc);
    // (30,40) creates a brand-new component; (1,2) lands inside one
    // component (self-loop after condensing -> no-op)
    val newPairs = Seq((100L, 2L), (100L, 7L), (30L, 40L), (1L, 2L))
      .toDF("id_a", "id_b")
    val maintained = graft.operators.LlmQueries
      .componentAppendOf(labels, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rebuilt = Dedup.connectedComponents(
        basePairs.select("id_a", "id_b").unionByName(newPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // merged component's canonical label = global min id (1), the new
    // pair's component labels by its own min (30)
    val want = Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 7L -> 1L, 100L -> 1L,
      30L -> 30L, 40L -> 30L)
    assert(maintained == want && rebuilt == want,
      s"append-maintain must equal rebuild: $maintained / $rebuilt")
    graft.core.EngineCache.releaseAll()
  }

  test("incremental dedup from at-rest signatures equals a from-scratch run") {
    val corpus = docsOf(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "one two three four five six seven",
      3L -> "totally different words entirely here now")
    val batch = docsOf(
      10L -> "alpha beta gamma delta epsilon zeta", // near-dup of 1
      11L -> "nothing like anything stored before at all")
    val corpusSig = Dedup.signatureFrame(corpus, "doc_id", "text", 3, 8)
    val batchSig = Dedup.signatureFrame(batch, "doc_id", "text", 3, 8)
    val pairs = Dedup.incrementalLshPairs(corpusSig, batchSig, 8, 4, 0.5)
      .collect()
    assert(pairs.length === 1)
    assert(pairs.head.getLong(0) === 10L && pairs.head.getLong(1) === 1L)
    assert(pairs.head.getDouble(2) === 1.0)
    // signature round-trip through parquet is lossless: same pairs after
    // writing/reading the corpus frame (the at-rest form q145 joins)
    val path = java.nio.file.Files.createTempDirectory("graft-sig").toString
    corpusSig.write.mode("overwrite").parquet(path)
    val rehydrated = spark.read.parquet(path)
    val again = Dedup.incrementalLshPairs(rehydrated, batchSig, 8, 4, 0.5)
      .collect()
    assert(again.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ===
      pairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
  }

  test("incremental LSH pairs equal the dropDuplicates + join-back reference") {
    val sq = spark
    import sq.implicits._
    val (numHashes, bands, tau) = (8, 4, 0.5)
    val rnd = new scala.util.Random(20261020L)
    // signatures over a 3-value alphabet: a band (two values) collides
    // with p = 1/9, so pairs share 0, 1, 2 or several bands; shingle sets
    // over a 6-value alphabet make Jaccards of exactly tau common
    def sig() = Seq.fill(numHashes)(rnd.nextInt(3).toLong)
    def hs() = rnd.shuffle((0L until 6L).toList).take(1 + rnd.nextInt(5))
    val corpus = (1L to 40L).map(id => (id, hs(), sig()))
    val batch = (101L to 130L).map(id => (id, hs(), sig()))
    // planted: batch 201 shares exactly band 0 with corpus 51, all four
    // bands with corpus 52, bands 1 and 3 with corpus 53, none with 54;
    // its Jaccard with each is exactly tau (|∩| 2, |∪| 4)
    val s201 = Seq(10L, 11L, 12L, 13L, 14L, 15L, 16L, 17L)
    val planted = Seq((201L, List(1L, 2L, 3L), s201))
    val plantedCorpus = Seq(
      (51L, List(2L, 3L, 4L), s201.take(2) ++ Seq.fill(6)(90L)),
      (52L, List(3L, 2L, 4L), s201),
      (53L, List(4L, 3L, 2L), Seq(91L, 91L) ++ s201.slice(2, 4) ++
        Seq(92L, 92L) ++ s201.slice(6, 8)),
      (54L, List(2L, 3L, 4L), Seq.fill(8)(93L)))
    def parquet(rows: Seq[(Long, List[Long], Seq[Long])]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft-lsh-prop").toString
      rows.toDF("id", "hs", "sig").write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
    val c = parquet(corpus ++ plantedCorpus)
    val b = parquet(batch ++ planted)
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.select("batch_id", "corpus_id", "jaccard").collect().toSeq
        .map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    def same(cs: org.apache.spark.sql.DataFrame,
             bs: org.apache.spark.sql.DataFrame, t: Double) = {
      val got = multiset(Dedup.incrementalLshPairs(cs, bs, numHashes, bands, t))
      assert(got === multiset(
        DedupSpec.incrementalLshReference(cs, bs, numHashes, bands, t)))
      got
    }
    // tau 0 keeps every candidate: each colliding pair exactly once
    val all = same(c, b, 0.0)
    assert(all.values.forall(_ == 1), "one row per candidate pair")
    val hits = same(c, b, tau)
    assert(hits.keySet.exists(_(2) == tau), "a Jaccard exactly at tau is kept")
    assert(Seq(51L, 52L, 53L).forall(id => hits.contains(Seq(201L, id, tau))) &&
      !all.keySet.exists(k => k(0) == 201L && k(1) == 54L))
    // the generator must reach pairs sharing 1, 2 and all 4 bands
    val sigs = (corpus ++ plantedCorpus ++ batch ++ planted)
      .map(r => r._1 -> r._3.grouped(numHashes / bands).toSeq).toMap
    val shared = all.keySet.map { k =>
      val (x, y) = (sigs(k(0).asInstanceOf[Long]), sigs(k(1).asInstanceOf[Long]))
      x.zip(y).count { case (p, q) => p == q }
    }
    assert(Set(1, 2, 4).subsetOf(shared), s"shared-band counts reached: $shared")
    // empty sides
    assert(same(c, b.limit(0), tau).isEmpty && same(c.limit(0), b, tau).isEmpty)
  }

  test("pairs are oriented id_a < id_b and never self-paired") {
    val d = docsOf(
      5L -> "one two three four five six seven",
      2L -> "one two three four five six seven",
      9L -> "one two three four five six seven")
    val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", 3, 8, 4, 0.5).collect()
    assert(pairs.length === 3) // all 3 pairs of the triple
    pairs.foreach(r => assert(r.getLong(0) < r.getLong(1)))
  }

  test("documents shorter than the shingle width are excluded, not errors") {
    val d = docsOf(1L -> "too short", 2L -> "also tiny")
    assert(Dedup.minhashLshPairs(d, "doc_id", "text", 3, 8, 4, 0.1).count() === 0)
  }

  test("simhash of identical texts is identical; hamming 0") {
    val d = docsOf(1L -> "spark hash group row value", 2L -> "spark hash group row value")
    val pairs = Dedup.simhashPairs(d, "doc_id", "text", 0).collect()
    assert(pairs.length === 1 && pairs.head.getInt(2) === 0)
  }

  test("simhash blocking finds pairs differing only in the high byte") {
    // prefix blocking on sig >> 8 would bucket these apart and silently
    // drop every pair; pigeonhole multi-block must find all of them
    val sq = spark
    import sq.implicits._
    val sigs = Seq(
      1L -> 0x8000L, 2L -> 0x0000L, // hamming 1, differs in bit 15 only
      3L -> 0xE0AAL, 4L -> 0x00AAL, // hamming 3, all in the high byte
      5L -> 0x1234L, 6L -> 0x1234L, // hamming 0
      7L -> 0x0F0FL                 // far from everything (hamming > 3)
    ).toDF("id", "sig")
    val got = Dedup.simhashPairsFromSigs(sigs, 3)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq === Seq((1L, 2L, 1), (3L, 4L, 3), (5L, 6L, 0)))
  }

  test("simhash pairs equal the all-pairs ground truth on fixture docs") {
    val docs = graft.core.Tables.load(spark, sfDir, "documents").limit(200)
    val sig = Dedup.withSimhash(docs, "doc_id", "text")
    val a = sig.select(col("id").as("id_a"), col("sig").as("sig_a"))
    val b = sig.select(col("id").as("id_b"), col("sig").as("sig_b"))
    val truth = a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= 3)
      .select("id_a", "id_b", "hamming")
    val got = Dedup.simhashPairs(docs, "doc_id", "text", 3)
    assert(truth.count() > 0)
    assert(got.exceptAll(truth).count() === 0 && truth.exceptAll(got).count() === 0,
      "pigeonhole blocking must have exact recall at <= maxHamming")
  }

  test("star components equal label propagation and converge on a chain") {
    val sq = spark
    import sq.implicits._
    // 60-node path graph: diameter 59. Label propagation moves the min
    // ONE hop per round (would need ~59 rounds); star contraction must
    // finish within its default O(log) budget.
    val chain = (0 until 59).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    val star = Dedup.connectedComponentsStar(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star.keySet == (0L to 59L).toSet)
    assert(star.values.forall(_ == 0L), "every chain node joins component 0")
    // cross-validate both strategies on a multi-component graph: star
    // contraction (the DISTRIBUTED loop, called directly; once more over
    // every pair in both orientations, which must not matter) and the
    // adaptive driver union-find path
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (9L, 8L), (20L, 21L))
      .toDF("id_a", "id_b")
    val viaStar = Dedup.connectedComponentsStar(
        pairs.union(pairs.select($"id_b", $"id_a"))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLoop = Dedup.connectedComponentsStar(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaUf = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaStar == viaLoop)
    assert(viaUf == viaLoop)
    // the small-graph path must also handle chains (worst case for the
    // rounds-based strategies) with the same min-id contract
    val ufChain = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ufChain.keySet == (0L to 59L).toSet && ufChain.values.forall(_ == 0L))
  }

  test("SRP hyperplane LSH finds planted near-duplicates without cells") {
    val sq = spark
    import sq.implicits._
    // v2 = v1 rotated by ~0.6 degrees (cos ~0.9999); v3 orthogonal to v1
    val vs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Similarity.srpNearDupPairs(vs, bits = 60, bands = 10, tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L)),
      "only the planted near-dup passes banding + cosine verification")
  }

  test("exact clusters: reordered words collide on bag fingerprint") {
    val d = docsOf(
      1L -> "red green blue",
      2L -> "blue red green",
      3L -> "red green purple")
    val clusters = Dedup.exactClusters(d, "doc_id",
      TextFunctions.bagFingerprint("text")).collect()
    assert(clusters.length === 1)
    assert(clusters.head.getLong(1) === 1L && clusters.head.getLong(2) === 2L)
  }

  test("cosine top-k: identical vector ranks first with cos 1.0") {
    val sq = spark
    import sq.implicits._
    val vs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(vs, col("vec_id") === 1, 2)
      .orderBy("rnk").collect()
    assert(top(0).getLong(2) === 2L && top(0).getDouble(3) === 1.0)
    assert(top(1).getLong(2) === 3L && top(1).getDouble(3) === 0.0)
  }

  test("native hash kernels are bit-identical to their composable SQL forms") {
    graft.functions.GraftFunctions.register(spark)
    val words = graft.core.Tables.load(spark, sfDir, "documents").limit(100)
      .selectExpr("split(trim(text), '\\\\s+') AS w")
    // md5_i64 == CAST(conv(substr(md5(s),1,15),16,10) AS BIGINT), per element
    assert(words.selectExpr(
      "md5_i64(w) AS fast",
      "transform(w, s -> CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)) AS ref")
      .filter("fast != ref").count() === 0)
    // minhash_sig(hs, k)[i] == array_min(transform(hs, h -> (a*(h%P)+b)%P))
    val k = 8
    val p = graft.functions.HashKernels.P
    val mins = (0 until k).map { i =>
      val (a, b) = graft.functions.HashKernels.mixConsts(i)
      s"array_min(transform(hs, h -> ($a * (h % $p) + $b) % $p))"
    }.mkString(", ")
    assert(words.selectExpr("md5_i64(w) AS hs")
      .selectExpr(s"minhash_sig(hs, $k) AS fast", s"array($mins) AS ref")
      .filter("fast != ref").count() === 0)
    // simhash(hs, bits) == the per-bit ±1-sum aggregates, at 16 and 60 bits
    def bitsExpr(n: Int) = (0 until n).map { b =>
      s"(CASE WHEN aggregate(hs, 0L, (acc, h) -> acc + (shiftright(h, $b) & 1) * 2 - 1) > 0 " +
        s"THEN ${1L << b}L ELSE 0L END)"
    }.mkString(" + ")
    assert(words.selectExpr("md5_i64(w) AS hs")
      .selectExpr("simhash16(hs) AS fast", s"(${bitsExpr(16)}) AS ref")
      .filter("fast != ref").count() === 0)
    assert(words.selectExpr("md5_i64(w) AS hs")
      .selectExpr("simhash(hs, 60) AS fast", s"(${bitsExpr(60)}) AS ref")
      .filter("fast != ref").count() === 0)
    // prefixed md5_i64 == md5_i64 of the concatenated strings
    assert(words.selectExpr(
      "md5_i64(w, 's99:') AS fast",
      "md5_i64(transform(w, s -> concat('s99:', s))) AS ref")
      .filter("fast != ref").count() === 0)
    // fused shingles == array_distinct(transform(...)) composable forms,
    // as SETS (first-occurrence order matches too, but order is not load-
    // bearing downstream: minhash/intersect are order-invariant)
    assert(words.selectExpr(
      "word_shingles(w, 3) AS fast",
      TextFunctions.wordShinglesFromArrayExpr("w", 3) + " AS ref")
      .filter("fast != ref").count() === 0)
    val texts = graft.core.Tables.load(spark, sfDir, "documents").limit(100)
      .selectExpr("text")
    assert(texts.selectExpr(
      "char_shingles(text, 4) AS fast",
      TextFunctions.charShinglesExpr("text", 4) + " AS ref")
      .filter("fast != ref").count() === 0)
    // winnow_fps == array_distinct of per-window array_min over the
    // positional gram-hash array (the oracle's spelling), including the
    // short-input empty case and multi-byte chars
    val wk = graft.operators.CorpusFilterOps.WinK
    val ww = graft.operators.CorpusFilterOps.WinW
    val winRef =
      s"""CASE WHEN length(text) >= ${wk + ww - 1} THEN
          array_distinct(transform(sequence(1, (length(text) - ${wk - 1}) - ${ww - 1}),
            i -> array_min(slice(
              transform(sequence(1, length(text) - ${wk - 1}), p ->
                ${graft.core.Determinism.xhashExpr(s"substr(text, p, $wk)")}),
              i, $ww))))
          ELSE array() END"""
    val winTexts = texts.unionByName(spark.sql(
      s"SELECT * FROM VALUES (''), ('ab'), (repeat('é', ${wk + ww - 1})), " +
        "(repeat('日本語テキスト', 8)) AS t(text)"))
    assert(winTexts.selectExpr(
      s"winnow_fps(text, $wk, $ww) AS fast", s"$winRef AS ref")
      .filter("fast != ref").count() === 0)
    // word_gram_hashes == positional xhash(concat_ws(' ', slice(w,p,k)))
    val gk = graft.operators.LlmQueries.SubdupK
    val gramRef =
      s"""CASE WHEN size(w) >= $gk THEN
          transform(sequence(1, size(w) - ${gk - 1}), p ->
            ${graft.core.Determinism.xhashExpr(
              s"concat_ws(' ', slice(w, p, $gk))")})
          ELSE array() END"""
    assert(words.selectExpr(
      s"word_gram_hashes(w, $gk) AS fast", s"$gramRef AS ref")
      .filter("fast != ref").count() === 0)
    // sorted_intersect_count(sort_array(a), sort_array(b)) ==
    // size(array_intersect(a, b)) — distinct-common set semantics, for
    // arrays with duplicates, disjoint/identical pairs, empties and nulls
    val hsPairs = words.selectExpr("md5_i64(w) AS a")
      .crossJoin(words.limit(10).selectExpr("md5_i64(w) AS b"))
      .unionByName(spark.sql(
        """SELECT * FROM VALUES
           (array(1L, 1L, 2L, 3L), array(3L, 1L, 9L)),
           (array(), array(1L, 2L)),
           (array(5L), array(5L, 5L)),
           (array(CAST(NULL AS BIGINT), 1L), array(NULL, 2L)),
           (array(CAST(NULL AS BIGINT), 4L), array(4L)),
           (array(-3L, -3L, 0L), array(-3L, 0L, 0L))
           AS t(a, b)"""))
    assert(hsPairs.selectExpr(
      "sorted_intersect_count(sort_array(a), sort_array(b)) AS fast",
      "size(array_intersect(a, b)) AS ref")
      .filter("fast != ref").count() === 0)
  }

  test("langId is deterministic and total over the fixture") {
    val d = graft.core.Tables.load(spark, sfDir, "documents")
      .select(TextFunctions.langId("text").as("g"))
    assert(d.filter(col("g").isNull).count() === 0)
    val langs = d.distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(TextFunctions.LangMarkers.map(_._1).toSet))
  }

  test("leakage-safe split keeps every near-dup pair in one split") {
    val out = graft.operators.LlmQueries.leakageSplit(spark, sfDir)
      .select(col("doc_id"), col("split"))
    val d = graft.core.Tables.load(spark, sfDir, "documents")
    val pairs = Dedup.minhashLshPairs(d, "doc_id", "text",
      graft.operators.LlmQueries.WordShingleN,
      graft.operators.LlmQueries.MinhashK,
      graft.operators.LlmQueries.MinhashBands,
      graft.operators.LlmQueries.MinhashTau)
      .select(col("id_a"), col("id_b"))
    val straddling = pairs
      .join(out.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("split", "sa"), "id_a")
      .join(out.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("split", "sb"), "id_b")
      .filter(col("sa") =!= col("sb"))
    assert(pairs.count() > 0, "fixture must contain near-dup pairs")
    assert(straddling.count() === 0,
      "no near-dup pair may straddle a split boundary")
    graft.core.EngineCache.releaseAll()
  }

  test("k-fold CV keeps near-dup clusters in one fold, partitions exactly, audits balance") {
    val L = graft.operators.LlmQueries
    val assign = L.kfoldAssign(spark, sfDir)
      .select(col("doc_id"), col("component"), col("fold"))
      .transform(graft.core.EngineCache.persisted)
    val d = graft.core.Tables.load(spark, sfDir, "documents")
    // exactly one fold per doc, folds in [0, K)
    assert(assign.count() === d.count(), "every doc gets exactly one fold")
    assert(assign.filter(col("fold") < 0 || col("fold") >= L.KFolds)
      .count() === 0)
    // the leakage guarantee, per near-dup pair: both sides share a fold
    // in EVERY rotation (stronger than q142's single boundary)
    val pairs = Dedup.minhashLshPairs(d, "doc_id", "text",
      L.WordShingleN, L.MinhashK, L.MinhashBands, L.MinhashTau)
      .select(col("id_a"), col("id_b"))
    val straddling = pairs
      .join(assign.select(col("doc_id").as("id_a"), col("fold").as("fa")), "id_a")
      .join(assign.select(col("doc_id").as("id_b"), col("fold").as("fb")), "id_b")
      .filter(col("fa") =!= col("fb"))
    assert(pairs.count() > 0, "fixture must contain near-dup pairs")
    assert(straddling.count() === 0,
      "no near-dup pair may straddle a fold boundary")
    // the aggregated readout must reconcile with the assignment frame
    val cv = L.kfoldCv(spark, sfDir).collect()
    assert(cv.map(_.getLong(2)).sum === d.count(), "n_docs must telescope")
    // dev6 recomputes from the emitted counts alone (audit is honest)
    val byLang = cv.groupBy(_.getString(0))
    cv.foreach { r =>
      val tot = byLang(r.getString(0)).map(_.getLong(2)).sum
      val want = math.floor(
        math.abs((L.KFolds * r.getLong(2) - tot).toDouble) / tot * 1e6 + 0.5)
        .toLong
      assert(r.getLong(4) === want, s"dev6 drifted for $r")
    }
    graft.core.EngineCache.releaseAll()
  }

  test("k-fold CV: an entirely empty (lang, fold) cell surfaces as a dev6=1e6 row, never vanishes") {
    val L = graft.operators.LlmQueries
    val sq = spark
    import sq.implicits._
    // lang "yy" has ONE doc -> exactly one populated fold and K-1 empty
    // ones; lang "zz" has distinct docs spread by hash. Before the dense
    // lang x fold grid, the empty cells were invisible to the audit.
    val dir = "/tmp/graft_kfold_dense_t"
    // one exact near-dup pair (1, 13) so the at-rest LSH pair table the
    // fold assignment rides is non-empty (an empty warehouse table has
    // no parquet footer to read back)
    val docs =
      Seq((1000L, "solitary yy document with its own words", "yy"),
        (13L, s"zz document number 1 body text alpha1 beta1", "zz")) ++
        (1L to 12L).map(i =>
          (i, s"zz document number $i body text alpha$i beta$i", "zz"))
    docs.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cv = L.kfoldCv(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    // dense axis: every lang emits exactly K rows
    assert(cv.count(_._1 == "yy") === L.KFolds, s"yy axis not dense: ${cv.toSeq}")
    assert(cv.count(_._1 == "zz") === L.KFolds, s"zz axis not dense: ${cv.toSeq}")
    val yyEmpty = cv.filter(r => r._1 == "yy" && r._3 == 0L)
    assert(yyEmpty.size === L.KFolds - 1, s"yy must have K-1 empty folds: ${cv.toSeq}")
    assert(yyEmpty.forall(_._4 == 1000000L),
      s"empty fold must read dev6 = 1e6: ${yyEmpty.toSeq}")
    assert(cv.filter(_._1 == "yy").map(_._3).sum === 1L)
    assert(cv.filter(_._1 == "zz").map(_._3).sum === 13L)
    graft.core.EngineCache.releaseAll()
  }

  test("ngram hitters: exact at the strict boundary, partition-invariant, superset pass verified") {
    val L = graft.operators.LlmQueries
    // n = 1200 bigram occurrences -> threshold tf * 600 > 1200, i.e.
    // tf >= 3. Planted: 'hot hot' appears 10x (hitter), 'warm warm' 3x
    // (hitter, just above), 'edge edge' exactly 2x = n/600 (EXCLUDED:
    // strict >), and 1185 distinct cold bigrams filling the mass.
    // Build per-bigram docs ("x x" repeated k times gives k 'x x'
    // bigrams plus k-1 joiners... avoid joiners: one doc per
    // occurrence, 2 words each -> exactly one bigram per doc).
    val docs =
      (1 to 10).map(i => s"hot hot") ++
      (1 to 3).map(i => s"warm warm") ++
      (1 to 2).map(i => s"edge edge") ++
      (1 to 1185).map(i => s"c$i d$i")
    val sq = spark
    import sq.implicits._
    val base = docs.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      L.ngramHittersOf(spark, df).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = Seq(("hot hot", 10L), ("warm warm", 3L))
    // adversarial partitionings: single partition, prime fan-out with
    // the hot items scattered, and sorted so every 'hot hot' lands in
    // ONE partition (the order-sensitivity the recount must erase)
    assert(run(base.repartition(1)) == want, "1 partition")
    assert(run(base.repartition(7)) == want, "7 partitions")
    assert(run(base.orderBy("text")) == want, "sorted input")
    // the summary itself honors the space-saving guarantee on a
    // stream where the hitter arrives LAST, after the counters fill
    val ss = new graft.functions.SpaceSaving(10)
    (1 to 50).foreach(i => ss.add(s"junk$i"))
    (1 to 6).foreach(_ => ss.add("late")) // f_p = 6 > n_p/10 = 5.6
    assert(ss.candidates.contains("late"),
      "an item above n_p/capacity must survive its partition")
  }

  /** Encode a solid-color or two-band test image with the JDK itself. */
  private def testImage(w: Int, h: Int, fmt: String,
                        rgbOf: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgbOf(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  test("multimodal decode extracts real PNG/BMP dimensions and channel stats") {
    // 1: 16x8 solid red PNG; 2: 10x10 half-red/half-blue BMP; 3: garbage
    val red = testImage(16, 8, "png", (_, _) => 0xff0000)
    val band = testImage(10, 10, "bmp", (x, _) => if (x < 5) 0xff0000 else 0x0000ff)
    val junk = "this is not an image".getBytes("UTF-8")
    val sq = spark
    import sq.implicits._
    val media = Seq((1L, red), (2L, band), (3L, junk))
      .toDF("media_id", "content")
    val out = graft.llm.Multimodal.decodeImages(spark, media)
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getBoolean(1) && r1.getInt(2) === 16 && r1.getInt(3) === 8)
    val f1 = r1.getSeq[Float](5)
    assert(f1(0) === 1f && f1(1) === 0f && f1(2) === 0f) // pure red
    assert(math.abs(f1(3) - 0.299f) < 1e-6)              // BT.601 luma of red
    val r2 = out(2L)
    assert(r2.getBoolean(1) && r2.getInt(2) === 10 && r2.getInt(3) === 10)
    val f2 = r2.getSeq[Float](5)
    assert(f2(0) === 0.5f && f2(1) === 0f && f2(2) === 0.5f) // half red half blue
    // corrupt bytes survive as a decode_ok=false row, not a task failure
    val r3 = out(3L)
    assert(!r3.getBoolean(1) && r3.getInt(2) === 0 && r3.getSeq[Float](5).forall(_ == 0f))
  }

  test("grayscale decode reads raw raster samples (q140 oracle identity)") {
    // write known gray bytes with setSample; PNG is lossless, and the
    // raster-band decode path must hand back EXACTLY sum(v)/(n*255) —
    // no sRGB colorspace detour — or q140's arithmetic oracle breaks
    val img = new java.awt.image.BufferedImage(
      2, 2, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val vs = Array(0, 51, 102, 255)
    for (i <- 0 until 4) img.getRaster.setSample(i % 2, i / 2, 0, vs(i))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val sq = spark
    import sq.implicits._
    val media = Seq((7L, bos.toByteArray)).toDF("media_id", "content")
    val row = graft.llm.Multimodal.decodeImages(spark, media).collect().head
    assert(row.getBoolean(1) && row.getInt(2) === 2 && row.getInt(3) === 2)
    assert(row.getInt(4) === 1) // gray color model: one component
    val expect = (vs.sum.toDouble / (4 * 255L)).toFloat // = 0.4
    val f = row.getSeq[Float](5)
    assert(f.forall(_ === expect), s"raw-sample identity broken: $f")
  }

  test("audio wav round-trip is a real container: JDK AudioSystem reads it back") {
    val M = graft.llm.Multimodal
    // the honesty leg: the synthesized container must parse with the
    // JDK's own reader and hand back the identical PCM16 samples —
    // proving the bytes are genuine WAV, not a private format
    val samples = M.synthSamples(42L)
    val wav = M.wavEncode(samples, M.AudioRate)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val fmt = ais.getFormat
    assert(fmt.getSampleRate.toInt == M.AudioRate &&
      fmt.getChannels == 1 && fmt.getSampleSizeInBits == 16,
      s"container format drifted: $fmt")
    val raw = ais.readAllBytes()
    val got = java.nio.ByteBuffer.wrap(raw)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
    val arr = new Array[Short](got.remaining()); got.get(arr)
    assert(arr.toSeq == samples.toSeq,
      "AudioSystem must hand back the identical PCM16 samples")
    // and our own parser round-trips byte-exactly
    val dec = M.wavDecode(wav)
    assert(dec.exists { case (r, s) =>
      r == M.AudioRate && s.toSeq == samples.toSeq },
      "wavDecode must invert wavEncode")
  }

  test("audio features: exact integers of the samples, corrupt cohort flagged") {
    val sq = spark
    import sq.implicits._
    val M = graft.llm.Multimodal
    // id 50 is the corrupt cohort (50 % AudioCorruptMod == 0): the
    // truncated container must surface as decode_ok=false zeros
    val media = M.audioTable(Seq(3L, 50L).toDF("media_id"))
    val out = M.audioFeatures(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    val ok = out(3L)
    val s = M.synthSamples(3L)
    val peak = s.map(v => math.abs(v.toLong)).max
    val sabs = s.map(v => math.abs(v.toLong)).sum
    val zc = s.toSeq.sliding(2).count {
      case Seq(a, b) => (a >= 0) != (b >= 0); case _ => false }
    assert(ok.getBoolean(1) && ok.getInt(2) == M.AudioRate &&
      ok.getInt(3) == s.length && ok.getLong(4) == peak &&
      ok.getLong(5) == sabs && ok.getLong(6) == zc.toLong,
      s"features drifted for id 3: $ok vs ($peak, $sabs, $zc)")
    val bad = out(50L)
    assert(!bad.getBoolean(1) && bad.getInt(3) == 0 && bad.getLong(5) == 0L,
      s"the truncated container must flag, not fail: $bad")
    // malformed variants: wrong magic, stereo, and 8-bit all refuse
    val wav = M.wavEncode(M.synthSamples(1L), M.AudioRate)
    val wrongMagic = wav.clone(); wrongMagic(0) = 'X'.toByte
    assert(M.wavDecode(wrongMagic).isEmpty, "bad magic must refuse")
    val stereo = wav.clone(); stereo(22) = 2 // channels field
    assert(M.wavDecode(stereo).isEmpty, "stereo must refuse (mono parser)")
  }

  test("multimodal decode over the binaryFile source end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("media-real").toFile
    java.nio.file.Files.write(new java.io.File(dir, "g.png").toPath,
      testImage(4, 6, "png", (_, _) => 0x00ff00))
    val media = graft.llm.Multimodal.fromBinaryFiles(spark, dir.toString, "*.png")
    val row = graft.llm.Multimodal.decodeImages(spark, media).collect().head
    assert(row.getBoolean(1) && row.getInt(2) === 4 && row.getInt(3) === 6)
    assert(row.getSeq[Float](5)(1) === 1f) // solid green
  }

  test("binaryFile ingestion produces the media envelope with glob pruning") {
    val dir = java.nio.file.Files.createTempDirectory("media").toFile
    java.nio.file.Files.write(new java.io.File(dir, "a.png").toPath,
      Array[Byte](1, 2, 3, 4))
    java.nio.file.Files.write(new java.io.File(dir, "b.wav").toPath,
      Array[Byte](9, 8))
    java.nio.file.Files.write(new java.io.File(dir, "skip.txt").toPath,
      Array[Byte](0))
    val all = graft.llm.Multimodal.fromBinaryFiles(spark, dir.toString)
      .orderBy("byte_len").collect()
    assert(all.length === 3)
    val png = all.find(_.getString(2) == "image/png").get
    assert(png.getAs[Array[Byte]]("content").toSeq === Seq[Byte](1, 2, 3, 4))
    assert(png.getInt(3) === 4)
    assert(all.count(_.getString(2) == "audio/wav") === 1)
    // glob prunes at the listing — only .png survives
    val onlyPng = graft.llm.Multimodal.fromBinaryFiles(spark, dir.toString, "*.png")
    assert(onlyPng.count() === 1)
    // the envelope feeds the same downstream metadata stage
    val meta = graft.llm.Multimodal.withMetadata(onlyPng).collect().head
    assert(meta.getAs[String]("header_hex") === "01020304")
  }

  test("observeBatch reports row metrics off the existing action") {
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    val (df, finish) = graft.streaming.Telemetry.observeBatch(
      graft.core.Tables.load(spark, sfDir, "documents"), "docscan",
      report = lines += _)
    val n = df.count()
    val metrics = finish()
    assert(metrics("rows") === n)
    assert(lines.exists(_.startsWith(s"graft.docscan.rows:$n|c")))
  }

  test("multimodal resize decodes, resamples, and re-encodes real images") {
    // 2x2 quadrant image: nearest-neighbor 8x8 upscale must tile the quadrants
    val quad = testImage(2, 2, "png",
      (x, y) => if (x == 0 && y == 0) 0xff0000 else if (x == 1 && y == 0) 0x00ff00
                else if (x == 0 && y == 1) 0x0000ff else 0xffffff)
    val junk = "still not an image".getBytes("UTF-8")
    val sq = spark
    import sq.implicits._
    val media = Seq(
      (1L, quad, "image/png", quad.length),
      (2L, junk, "application/octet-stream", junk.length)
    ).toDF("media_id", "content", "mime", "byte_len")
    val resized = graft.llm.Multimodal.resizeImages(spark, media, 8, 8)
    assert(resized.schema === graft.llm.Multimodal.mediaSchema)
    val rows = resized.collect().map(r => r.getLong(0) -> r).toMap
    // the resized image decodes back at the target size with quadrant colors
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(rows(1L).getAs[Array[Byte]]("content")))
    assert(back.getWidth === 8 && back.getHeight === 8)
    assert((back.getRGB(1, 1) & 0xffffff) === 0xff0000)
    assert((back.getRGB(6, 1) & 0xffffff) === 0x00ff00)
    assert((back.getRGB(1, 6) & 0xffffff) === 0x0000ff)
    assert((back.getRGB(6, 6) & 0xffffff) === 0xffffff)
    assert(rows(1L).getAs[String]("mime") === "image/png")
    // non-image bytes pass through unchanged (lossless over the unhandled)
    assert(rows(2L).getAs[Array[Byte]]("content").toSeq === junk.toSeq)
    assert(rows(2L).getAs[String]("mime") === "application/octet-stream")
    // deterministic: same input, same bytes
    val again = graft.llm.Multimodal.resizeImages(spark, media, 8, 8).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("content").toSeq).toMap
    assert(again(1L) === rows(1L).getAs[Array[Byte]]("content").toSeq)
  }

  test("perceptual hash survives a resize re-encode where the byte hash breaks") {
    val sq = spark
    import sq.implicits._
    // a gradient image with real structure (flat images hash to ~0 bits)
    val grad = testImage(8, 8, "png", (x, y) => {
      val v = x * 32 + y * 4; (v << 16) | (v << 8) | v
    })
    val media = Seq((1L, grad, "image/png", grad.length))
      .toDF("media_id", "content", "mime", "byte_len")
    val orig = graft.llm.Multimodal.aHashes(spark, media).collect().head
    assert(orig.getBoolean(1) && orig.getLong(2) != 0L)
    // NN-upscale 8x8 -> 16x16 and re-encode: bytes change, but the aHash
    // grid samples land back on the original pixels, so the perceptual
    // hash is IDENTICAL — the invariance image dedup needs and a content
    // checksum cannot give
    val big = graft.llm.Multimodal.resizeImages(spark, media, 16, 16)
    val bigRow = big.collect().head
    assert(bigRow.getAs[Array[Byte]]("content").toSeq !=
      grad.toSeq, "re-encode must change bytes")
    val rehash = graft.llm.Multimodal.aHashes(spark, big).collect().head
    assert(rehash.getLong(2) === orig.getLong(2),
      "aHash must survive the resize re-encode")
    // corrupt bytes degrade to decode_ok=false, not an exception
    val bad = Seq((2L, "not an image".getBytes("UTF-8"), "image/png", 12))
      .toDF("media_id", "content", "mime", "byte_len")
    val badRow = graft.llm.Multimodal.aHashes(spark, bad).collect().head
    assert(!badRow.getBoolean(1) && badRow.getLong(2) === 0L)
  }

  test("substring dedup finds exact shared-run boundaries across docs") {
    import graft.operators.LlmQueries
    val run = (1 to 10).map(i => s"s$i").mkString(" ") // 10 shared tokens
    val d = docsOf(
      1L -> s"a1 a2 a3 $run b1 b2", // run at token positions 4..13 of 15
      2L -> s"$run c1 c2 c3", // run at positions 1..10 of 13
      3L -> "u1 u2 u3 u4 u5 u6 u7 u8 u9", // unrelated, long enough
      // same 8-token run twice WITHIN one doc: distinct-doc count is 1,
      // so within-doc repetition alone must not mark spans (q56's metric)
      4L -> "t1 t2 t3 t4 t5 t6 t7 t8 t1 t2 t3 t4 t5 t6 t7 t8",
      5L -> "v1 v2 v3") // shorter than the gram window
    val out = LlmQueries.substringDedupOf(d).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    val Array(r1, r2) = out
    // exactly the shared run is covered — boundary grams that straddle
    // unique context exist in only one doc and must not widen the span
    assert(r1.getInt(1) === 15 && r1.getLong(2) === 1L && r1.getLong(3) === 10L)
    assert(r2.getInt(1) === 13 && r2.getLong(2) === 1L && r2.getLong(3) === 10L)
    assert(math.abs(r1.getDouble(4) - 0.666667) < 1e-9)
  }

  test("duplicate-span cut keeps the canonical copy, cuts the rest") {
    import graft.operators.LlmQueries
    val run = (1 to 10).map(i => s"s$i").mkString(" ")
    val d = docsOf(
      1L -> s"a1 a2 a3 $run b1 b2", // min doc_id holds the run: untouched
      2L -> s"$run c1 c2 c3", // later copy: run cut, own context kept
      3L -> "u1 u2 u3 u4 u5 u6 u7 u8 u9", // unaffected
      4L -> run, // identical to the shared run, all tokens non-canonical
      5L -> "v1 v2") // shorter than the gram window: passes through whole
    val out = LlmQueries.dedupCleanOf(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out(1L)._2 === s"a1 a2 a3 $run b1 b2",
      "canonical doc must keep its text verbatim (ws-normalized)")
    assert(out(2L)._2 === "c1 c2 c3", "later copy loses exactly the run")
    assert(out(3L)._2 === "u1 u2 u3 u4 u5 u6 u7 u8 u9")
    assert(out(5L)._2 === "v1 v2")
    assert(!out.contains(4L),
      "a doc whose every token is a non-canonical duplicate drops out")
    assert(out(2L)._1 === 3L && out(1L)._1 === 15L)
  }

  test("tau sweep is monotone and anchored at the stored pair table") {
    import graft.operators.LlmQueries
    val sweep = LlmQueries.dedupTauSweep(spark, sfDir).collect()
    assert(sweep.length === 6)
    val pairs = sweep.map(_.getLong(1))
    assert(pairs.sliding(2).forall(w => w(0) >= w(1)),
      "raising tau can only remove pairs")
    assert(pairs.head === LlmQueries.lshPairsAtRest(spark, sfDir).count(),
      "tau = the banded floor keeps every stored pair")
    val docs = sweep.map(_.getLong(2))
    assert(docs.sliding(2).forall(w => w(0) >= w(1)))
    // each pair touches at most two docs
    assert(sweep.forall(r => r.getLong(2) <= 2 * r.getLong(1)))
  }

  test("gram novelty: 0 for a mirror, 1 for fresh text, between for partial copies") {
    import graft.operators.LlmQueries
    val corpusRun = (1 to 12).map(i => s"c$i").mkString(" ")
    val cg = LlmQueries.corpusGramsOf(docsOf(100L -> corpusRun))
    val fresh = (1 to 12).map(i => s"n$i").mkString(" ")
    val out = LlmQueries.gramNoveltyOf(docsOf(
      1L -> corpusRun,                        // verbatim mirror
      2L -> fresh,                            // entirely new
      3L -> s"${(1 to 12).map(i => s"c$i").mkString(" ")} $fresh"),
      cg).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(out(1L)._3 === 0.0, "a mirror has nothing novel")
    assert(out(2L)._3 === 1.0, "fresh text is fully novel")
    assert(out(3L)._3 > 0.0 && out(3L)._3 < 1.0,
      "a partial copy sits strictly between")
    assert(out(3L)._1 > out(1L)._1, "doc 3 is longer, more grams")
  }

  test("within-doc repetition cut keeps the first occurrence, collapses periodic runs") {
    import graft.operators.LlmQueries
    val run = (1 to 8).map(i => s"r$i").mkString(" ")
    val d = docsOf(
      // the 8-gram repeats within ONE doc, separated by unique context:
      // the first copy survives whole, the second is cut exactly
      1L -> s"$run g1 g2 g3 $run h1",
      // periodic run: every later period falls in chained spans — the
      // doc collapses to its leading period
      2L -> Array.fill(30)("abc x yz").flatMap(_.split(" ")).mkString(" "),
      3L -> Array.fill(50)("a").mkString(" "),
      // no within-doc repeats: passes through verbatim even though the
      // run also appears in doc 1 (cross-doc is q168's job, not this)
      4L -> s"$run tail1 tail2",
      5L -> "v1 v2") // shorter than the gram window
    val out = LlmQueries.intradocDedupOf(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out(1L)._2 === s"$run g1 g2 g3 h1",
      "second within-doc copy loses exactly the run")
    assert(out(2L)._2 === "abc x yz", "periodic doc collapses to one period")
    assert(out(3L)._2 === "a", "unigram run collapses to one token")
    assert(out(4L)._2 === s"$run tail1 tail2",
      "cross-doc duplication alone must not cut here")
    assert(out(5L)._2 === "v1 v2")
    assert(out(1L)._1 === 12L && out(2L)._1 === 3L && out(3L)._1 === 1L)
  }

  test("intra-doc cut kernel equals the self-join + island-union reference") {
    import graft.operators.LlmQueries
    val k = LlmQueries.SubdupK
    val rnd = new scala.util.Random(20261019L)
    def pick(vocab: Int) = s"w${rnd.nextInt(vocab)}"
    def words(n: Int, vocab: Int) = Seq.fill(n)(pick(vocab))
    val run = (1 to k + rnd.nextInt(3)).map(i => s"r$i")
    // each family as word lists; joined below with varied separators
    def planted = {
      val ctx = words(rnd.nextInt(6), 50)
      words(rnd.nextInt(4), 50) ++ run ++ ctx ++ run ++
        (if (rnd.nextBoolean()) ctx ++ run else Nil) ++ words(rnd.nextInt(4), 50)
    }
    def periodic = {
      val period = words(1 + rnd.nextInt(k + 2), 1000)
      words(rnd.nextInt(3), 1000) ++
        Seq.fill(1 + rnd.nextInt(12))(period).flatten ++ words(rnd.nextInt(3), 1000)
    }
    def overlapping = {
      // a run followed by a copy of its own tail: the two occurrences
      // overlap, so later grams chain into one cut span
      val r = words(k + rnd.nextInt(2 * k), 1000)
      r ++ r.drop(rnd.nextInt(k)) ++ words(rnd.nextInt(3), 1000)
    }
    def noisy = words(rnd.nextInt(40), 2 + rnd.nextInt(4)) // accidental repeats
    def short = words(1 + rnd.nextInt(k - 1), 3)
    def text(ws: Seq[String]) = rnd.nextInt(4) match {
      case 0 => ws.mkString(" ")
      case 1 => ws.mkString("  ") // double spaces: one split each
      case 2 => " " + ws.mkString(" ") + " " // trimmed away
      case _ => ws.mkString("\t") // tabs: split on \s+, kept by trim
    }
    val texts: Seq[String] =
      Seq.fill(60)(text(planted)) ++ Seq.fill(60)(text(periodic)) ++
        Seq.fill(40)(text(overlapping)) ++ Seq.fill(60)(text(noisy)) ++
        Seq.fill(20)(text(short)) ++
        Seq("", " ", "   ", "\t", " \t\n ", null, null, "é ü é ü é ü é ü é ü é ü é ü é ü é") ++
        Seq.fill(k + 3)("a").inits.map(_.mkString(" ")).toSeq
    val local = docsOf(texts.zipWithIndex.map { case (t, i) => i.toLong -> t }: _*)
    // a local frame evaluates the kernel interpreted (the optimizer folds
    // the projection into the relation); a parquet scan runs its codegen
    val dir = java.nio.file.Files.createTempDirectory("graft-intradoc-prop").toString
    local.write.mode("overwrite").parquet(dir)
    val d = spark.read.parquet(dir)
    val got = LlmQueries.intradocDedupOf(d)
    assert(got.schema.map(f => f.name -> f.dataType) === Seq(
      "doc_id" -> org.apache.spark.sql.types.LongType,
      "n_tokens" -> org.apache.spark.sql.types.IntegerType,
      "kept_tokens" -> org.apache.spark.sql.types.LongType,
      "clean_text" -> org.apache.spark.sql.types.StringType))
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_tokens", "kept_tokens", "clean_text").collect()
        .toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val want = DedupSpec.intradocReference(d)
    val fallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try assert(multiset(got) === multiset(want))
    finally spark.conf.set("spark.sql.codegen.fallback", fallback)
    assert(multiset(LlmQueries.intradocDedupOf(local)) === multiset(want))
    // the generator must reach the interesting cases: cuts happen, null
    // texts drop, empty texts keep one empty token
    val rows = got.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows.values.count(r => r.getLong(2) < r.getInt(1)) > 100)
    assert(rows.size === texts.count(_ != null))
    assert(rows(texts.indexOf("").toLong).getString(3) === "")
  }

  test("intra-doc cut over a parquet frame plans no Exchange") {
    import graft.operators.LlmQueries
    import org.apache.spark.sql.execution.exchange.Exchange
    val dir = java.nio.file.Files.createTempDirectory("graft-intradoc").toString
    val run = (1 to 8).map(i => s"r$i").mkString(" ")
    docsOf(1L -> s"$run g1 $run", 2L -> "a b c", 3L -> null)
      .write.mode("overwrite").parquet(dir)
    val out = LlmQueries.intradocDedupOf(spark.read.parquet(dir))
    assert(out.collect().length === 2)
    val plan = out.queryExecution.executedPlan
    assert(planNodes(plan).count(_.isInstanceOf[Exchange]) === 0,
      s"the per-doc cut must not shuffle:\n$plan")
  }

  test("substring dedup merges overlapping spans, keeps separated ones apart") {
    import graft.operators.LlmQueries
    val run1 = (1 to 8).map(i => s"p$i").mkString(" ")
    val run2 = (1 to 8).map(i => s"q$i").mkString(" ")
    val d = docsOf(
      1L -> s"$run1 gap1 $run2", // two dup runs split by a unique token
      2L -> s"$run1 w1 w2 w3 w4 w5 w6 w7 w8",
      3L -> s"z1 z2 z3 z4 z5 z6 z7 z8 $run2")
    val out = LlmQueries.substringDedupOf(d).collect()
    val r1 = out.find(_.getLong(0) == 1L).get
    assert(r1.getLong(2) === 2L, "separated runs stay two spans")
    assert(r1.getLong(3) === 16L)
    // adjacent spans fuse: doc 10 = run1 directly followed by run2 is
    // covered 1..16 contiguously; islands merge on s <= pmax + 1
    val d2 = docsOf(
      10L -> s"$run1 $run2 tail1 tail2",
      11L -> s"$run1 y1 y2 y3 y4 y5 y6 y7 y8",
      12L -> s"x1 x2 x3 x4 x5 x6 x7 x8 $run2")
    val out2 = LlmQueries.substringDedupOf(d2).collect()
    val r10 = out2.find(_.getLong(0) == 10L).get
    assert(r10.getLong(2) === 1L, "adjacent spans merge into one island")
    assert(r10.getLong(3) === 16L)
  }

  test("lsh calibration: graded self-pairs land in hand-computed buckets with exact theory terms") {
    import graft.operators.LlmQueries.{WordShingleN, MinhashK, MinhashBands}
    // id 9 keeps 10/10 of its words -> identical pair: s = 1, bucket 9,
    //   theoretical p = 1 exactly, and identical signatures MUST collide;
    // id 4 keeps 5/10 of 10 distinct words -> prefix shingles 3 of 8,
    //   nested sets: s = 3/8, bucket 3;
    // id 0 keeps ceil(30/10) = 3 of 30 words -> 1 of 28 shingles, bucket 0
    val d = docsOf(
      9L -> "a b c d e f",
      4L -> (1 to 10).map(i => s"w$i").mkString(" "),
      0L -> (1 to 30).map(i => s"v$i").mkString(" "))
    val out = Dedup.lshCalibration(d, "doc_id", "text",
      WordShingleN, MinhashK, MinhashBands).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // theory terms replayed with the same IEEE ops (left-assoc chains)
    def theo6(s: Double): Long = {
      val qq = 1.0 - s * s
      math.floor((1.0 - qq * qq * qq * qq) * 1e6 + 0.5).toLong
    }
    assert(out.keySet == Set(9L, 3L, 0L), s"buckets drifted: $out")
    assert(out(9L) == ((1L, 1L, 1000000L)),
      s"the exact-duplicate anchor must collide with p = 1: ${out(9L)}")
    val s4 = 3.0 / 8.0
    assert(out(3L)._1 == 1L && out(3L)._3 == theo6(s4),
      s"bucket 3 theory drifted: ${out(3L)} vs ${theo6(s4)}")
    val s0 = 1.0 / 28.0
    assert(out(0L)._1 == 1L && out(0L)._3 == theo6(s0),
      s"bucket 0 theory drifted: ${out(0L)} vs ${theo6(s0)}")
    // on the real fixture the audit's shape is deterministic: the
    // f = 1 decile collides certainly, the near-disjoint decile rarely
    val real = graft.llm.Dedup.lshCalibration(
      graft.core.Tables.load(spark, sfDir, "documents"), "doc_id", "text",
      WordShingleN, MinhashK, MinhashBands).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val b9 = real.find(_._1 == 9L).get
    assert(b9._2 == b9._3, s"identical pairs must always collide: $b9")
    val b0 = real.find(_._1 == 0L).get
    assert(b0._3 * 5 <= b0._2,
      s"the s~0 decile must rarely collide: $b0")
    graft.core.EngineCache.releaseAll()
  }
}

object DedupSpec {
  /** Incremental near-dedup as it was before the first-matching-band
    * filter, kept as [[Dedup.incrementalLshPairs]]'s reference: both
    * sides exploded to one row per band key, joined on the key,
    * `dropDuplicates` on the id pair, then the sorted shingle sets joined
    * back on each id for the exact Jaccard. */
  def incrementalLshReference(
      corpusSig: org.apache.spark.sql.DataFrame,
      batchSig: org.apache.spark.sql.DataFrame, numHashes: Int, bands: Int,
      tau: Double): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(corpusSig.sparkSession)
    val rows = numHashes / bands
    val bk = (0 until bands).map { b =>
      val slice = (0 until rows)
        .map(r => s"CAST(element_at(sig, ${b * rows + r + 1}) AS STRING)")
        .mkString(", ',', ")
      s"concat('b$b:', $slice)"
    }.mkString(", ")
    val bb = batchSig.selectExpr("id", s"explode(array($bk)) AS bk")
      .select(col("id").as("batch_id"), col("bk"))
    val cb = corpusSig.selectExpr("id", s"explode(array($bk)) AS bk")
      .select(col("id").as("corpus_id"), col("bk").as("bk_c"))
    bb.join(cb, col("bk") === col("bk_c"))
      .drop("bk", "bk_c")
      .dropDuplicates("batch_id", "corpus_id")
      .join(batchSig.select(col("id").as("batch_id"),
          sort_array(col("hs")).as("hs_a")), "batch_id")
      .join(corpusSig.select(col("id").as("corpus_id"),
          sort_array(col("hs")).as("hs_b")), "corpus_id")
      .withColumn("inter", expr("sorted_intersect_count(hs_a, hs_b)"))
      .withColumn("jaccard",
        expr("CAST(inter AS DOUBLE) / (size(hs_a) + size(hs_b) - inter)"))
      .filter(col("jaccard") >= tau)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))
  }

  /** The intra-doc cut as the gram self-join + island union it was
    * before the fused kernel, kept as the kernel's reference: grams
    * grouped by (doc, hash), every non-first occurrence a [pos,
    * pos+K-1] span, spans merged by the gaps-and-islands windows, the
    * uncovered words range-anti-joined out and rebuilt in position
    * order. Null texts and empty word arrays yield no row. */
  def intradocReference(
      docsDf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = docsDf.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val view = s"intradoc_ref_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    docsDf.createOrReplaceTempView(view)
    val k = graft.operators.LlmQueries.SubdupK
    val w = TextFunctions.wordsExpr("text")
    spark.sql(s"""
      WITH d AS (SELECT doc_id, $w AS w FROM $view),
      g AS (
        SELECT doc_id, CAST(size(w) AS INT) AS n_tokens,
          CAST(p0 + 1 AS INT) AS pos, ghash
        FROM d LATERAL VIEW posexplode(word_gram_hashes(w, $k)) AS p0, ghash),
      dfw AS (
        SELECT doc_id, ghash, CAST(min(pos) AS INT) AS keeper
        FROM g GROUP BY doc_id, ghash HAVING count(1) >= 2),
      sp AS (
        SELECT gg.doc_id, gg.n_tokens, gg.pos AS s, gg.pos + ${k - 1} AS e
        FROM g gg JOIN dfw ON gg.doc_id = dfw.doc_id
          AND gg.ghash = dfw.ghash AND gg.pos <> dfw.keeper),
      w2 AS (
        SELECT doc_id, n_tokens, s, e,
          max(e) OVER (PARTITION BY doc_id ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        FROM sp),
      isl AS (
        SELECT doc_id, n_tokens, s, e,
          CAST(sum(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY s, e
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS island
        FROM w2),
      m AS (
        SELECT doc_id, n_tokens, island, min(s) AS i_s, max(e) AS i_e
        FROM isl GROUP BY doc_id, n_tokens, island),
      tok AS (SELECT doc_id, w, posexplode(w) AS (p, word) FROM d),
      t AS (SELECT doc_id, CAST(size(w) AS INT) AS n_tokens,
              p + 1 AS pos, word FROM tok),
      kept AS (
        SELECT t.doc_id, t.n_tokens, t.pos, t.word
        FROM t LEFT JOIN m ON m.doc_id = t.doc_id
          AND t.pos BETWEEN m.i_s AND m.i_e
        WHERE m.i_s IS NULL)
      SELECT doc_id, CAST(min(n_tokens) AS INT) AS n_tokens,
        CAST(count(1) AS BIGINT) AS kept_tokens,
        array_join(transform(array_sort(collect_list(struct(pos, word))),
          s -> s.word), ' ') AS clean_text
      FROM kept GROUP BY doc_id""")
  }
}
