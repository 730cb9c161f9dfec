package graft

import graft.operators.{CoreRelational, Windows}
import graft.llm.Similarity
import org.apache.spark.sql.functions.col

/** Plan-shape assertions — the 100 TB design points that correctness
  * hashes can't see: pushdown, pruning, broadcast vs shuffle, top-k
  * without a full sort (SURVEY.md §4 engine consequences). */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Plan string AFTER execution: with AQE the pre-execution string is the
    * un-finalized plan, which omits WholeStageCodegen spans. */
  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // finalize THIS df's adaptive plan (a write would clone it)
    df.queryExecution.executedPlan.toString
  }

  test("filters reach the parquet scan (PushedFilters) and columns are pruned") {
    val p = plan(CoreRelational.filterProject(spark, sfDir))
    assert(p.contains("PushedFilters"))
    assert(p.contains("l_shipdate") && p.contains("l_discount"))
    // column pruning: the scan schema must not include unprojected columns
    assert(!p.contains("l_comment") && !p.contains("l_tax"),
      s"scan should read only needed columns:\n$p")
  }

  test("dimension joins broadcast; the fact side is never broadcast") {
    val p = plan(CoreRelational.joinRevenue(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("salted skew join is a real shuffle join, not a broadcast") {
    val p = plan(CoreRelational.saltedJoin(spark, sfDir))
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"salting is moot under broadcast — expected a shuffle join:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"dim side must not broadcast:\n$p")
  }

  test("global top-k plans TakeOrderedAndProject, not a full sort") {
    val p = plan(Windows.sortLimit(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("ANN probes broadcast against the corpus scan") {
    val p = plan(Similarity.bruteForceTopK(
      graft.core.Tables.load(spark, sfDir, "embeddings"), col("vec_id") < 5, 3))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe side must broadcast:\n$p")
  }

  test("ANN top-k is a partial aggregation, not a row_number window") {
    val p = plan(Similarity.bruteForceTopK(
      graft.core.Tables.load(spark, sfDir, "embeddings"), col("vec_id") < 5, 3))
    // VectorAggregates.topKPerGroup runs under the standard two-phase agg
    // contract: a partial (map-side) aggregate below the exchange reduces
    // each partition to <= k rows per query before anything shuffles
    assert(p.contains("Aggregate"), s"expected aggregate-based top-k:\n$p")
    assert(!p.contains("Window"),
      s"row_number window would shuffle every scored row:\n$p")
    assert("(?s)Aggregate.*Exchange.*Aggregate".r.findFirstIn(p).isDefined,
      s"expected partial agg below the exchange:\n$p")
  }

  test("as-of join is one window pass, not a range-join pair explosion") {
    val p = plan(Windows.asofJoin(spark, sfDir))
    assert(p.contains("Window"), s"expected window carry-forward:\n$p")
    assert(!p.contains("Join"),
      s"as-of must not materialize purchase x click pairs:\n$p")
  }

  test("batch sessionization is windows over one per-user sort, no self-join") {
    val p = plan(Windows.batchSessions(spark, sfDir))
    assert(p.contains("Window"), s"expected lag/running-sum windows:\n$p")
    assert(!p.contains("Join"), s"gaps-and-islands needs no join:\n$p")
  }

  test("IVF cell assignment broadcasts centroids and aggregates, no window") {
    val p = plan(graft.llm.Similarity.ivfAssign(
      graft.core.Tables.load(spark, sfDir, "embeddings"), "label"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the tiny centroid table must broadcast against the corpus scan:\n$p")
    assert(!p.contains("Window"),
      s"argmax must be the bounded top-1 aggregator, not a window:\n$p")
  }

  test("decontamination broadcasts the eval shingle set against the corpus") {
    val p = plan(graft.operators.LlmQueries.decontaminate(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"eval shingles must broadcast — a corpus-side shuffle of shingles " +
        s"is the 100 TB failure mode:\n$p")
  }

  test("bloom-gated incremental dedup equals the plain anti-join exactly") {
    val exact = graft.operators.LlmQueries.novelDocs(spark, sfDir)
    val bloomed = graft.operators.LlmQueries.novelDocsBloom(spark, sfDir)
    assert(exact.exceptAll(bloomed).count() === 0 &&
      bloomed.exceptAll(exact).count() === 0,
      "bloom pre-filter must not change the result (no false negatives)")
  }

  test("sequence packing plans one exchange on the group key, no global sort") {
    val p = plan(graft.llm.Packing.packGreedy(
      graft.core.Tables.load(spark, sfDir, "documents"),
      "doc_id", "text", "lang", 256, 4))
    // one hashpartitioning exchange on the group key; the sort is
    // per-partition (group-local), never a global range exchange
    assert(p.contains("Exchange hashpartitioning"), s"expected keyed exchange:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"packing must not global-sort the corpus:\n$p")
  }

  test("rolling window is one keyed window pass, no self-join") {
    val p = plan(Windows.rollingWindow(spark, sfDir))
    assert(p.contains("Window"), s"expected a window operator:\n$p")
    assert(!p.contains("Join"),
      s"trailing-window must not plan an events-to-events join:\n$p")
  }

  test("funnel stage frames broadcast and the stage filter reaches the scan") {
    val p = plan(Windows.eventFunnel(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"per-user stage frames must broadcast:\n$p")
    assert(p.contains("PushedFilters") && p.contains("event_type"),
      s"event_type filter must push to the parquet scan:\n$p")
  }

  test("z-score stats join broadcasts the 5-row stats frame") {
    val p = plan(Windows.zscoreOutliers(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"per-type stats must broadcast, not shuffle the fact table:\n$p")
  }

  test("gap-fill computes the hourly aggregate once, not once per branch") {
    val p = executedPlan(Windows.gapFill(spark, sfDir))
    // both consumers (grid bounds + left join) read the cached hourly
    // frame; the only events FileScan lives inside the cache-build plan
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"hourly pre-aggregation should be cached and hit by both branches:\n$p")
  }

  test("tf-idf chunk shuffles carry (doc_id, term) pairs only, never text") {
    val p = plan(graft.operators.LlmQueries.tfidfTerms(spark, sfDir))
    // the doc count joins as a broadcast (1 row), never a cartesian
    assert(!p.contains("CartesianProduct"), s"doc count must broadcast:\n$p")
    // every hash exchange is keyed on doc_id/term — i.e. the only shuffled
    // frames are the exploded pair aggregates, never raw text
    val keys = "hashpartitioning\\(([a-z_]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(keys.nonEmpty && keys.subsetOf(Set("doc_id", "term")),
      s"unexpected shuffle keys $keys:\n$p")
  }

  test("native cosine_sim is bit-identical to the composable form and codegen'd") {
    val emb = graft.core.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val pairs = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      .crossJoin(emb.select(col("vec_id").as("id_b"), col("embedding").as("vb")))
      .filter(col("id_a") < col("id_b") && col("id_b") < 40)
    val both = pairs.selectExpr(
      "id_a", "id_b",
      s"${Similarity.cosineExpr("va", "vb")} AS native",
      s"${Similarity.cosineExprComposable("va", "vb")} AS composable")
    assert(both.count() > 100)
    assert(both.filter(col("native") =!= col("composable")).count() === 0,
      "native expression must reproduce the lambda form bit-for-bit")
    // and it must run inside whole-stage codegen (no eval fallback)
    val p = executedPlan(both)
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      s"cosine must be codegen'd:\n$p")
  }

  test("native l2_sq is bit-identical to the composable form and codegen'd") {
    val emb = graft.core.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val pairs = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      .crossJoin(emb.select(col("vec_id").as("id_b"), col("embedding").as("vb")))
      .filter(col("id_a") < col("id_b") && col("id_b") < 40)
    val composable =
      "aggregate(zip_with(va, vb, (p, q) -> " +
        "(CAST(p AS DOUBLE) - CAST(q AS DOUBLE)) * " +
        "(CAST(p AS DOUBLE) - CAST(q AS DOUBLE))), " +
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    val both = pairs.selectExpr(
      "id_a", "id_b", "l2_sq(va, vb) AS native", s"$composable AS composable")
    assert(both.count() > 100)
    assert(both.filter(col("native") =!= col("composable")).count() === 0,
      "native l2_sq must reproduce the lambda fold bit-for-bit")
    val p = executedPlan(both)
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      s"l2_sq must be codegen'd:\n$p")
  }

  test("whole-stage codegen covers the aggregation hot path") {
    val p = executedPlan(CoreRelational.aggSummary(spark, sfDir))
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      s"agg must be codegen'd:\n$p")
  }

  test("priority sample plans TakeOrderedAndProject (partial top-N per partition)") {
    val p = plan(graft.operators.CorpusOps.prioritySample(
      graft.core.Tables.load(spark, sfDir, "documents"), "doc_id", "text", 10))
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted sampling must not globally sort the corpus:\n$p")
  }

  test("edit-distance join is an equi-join on block keys, never a cartesian") {
    val p = plan(graft.llm.Dedup.editDistancePairs(
      graft.core.Tables.load(spark, sfDir, "documents"), "doc_id", "text", 32, 3))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"PassJoin blocking must plan as an equi-join:\n$p")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("BroadcastHashJoin"), s"expected a hash-keyed join:\n$p")
  }

  test("interval-overlap join plans the month dim as a broadcast semi join") {
    val p = plan(graft.operators.CorpusOps.intervalMonthJoin(spark, sfDir))
    assert(p.contains("LeftSemi"), s"month membership should be a semi join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"bucket rewrite must avoid the inequality-join plan:\n$p")
  }

  test("source report is one scan, single-distinct two-phase agg, no Expand") {
    val p = plan(graft.operators.LlmQueries.sourceReport(spark, sfDir))
    assert(!p.contains("Expand"),
      s"single count(DISTINCT) must not plan an Expand (row multiplication):\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"corpus card must read the corpus exactly once:\n$p")
  }

  test("auto-skew wiring: measured skew flips the plan to a salted join") {
    val sq = spark
    import sq.implicits._
    // key 7 carries 600 of 660 rows (x_mean ~ 55): must salt
    val skewed = (Seq.fill(600)(7L) ++ (1L to 60L)).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "rid")
    val uniform = (1L to 600L).map(k => (k, k)).toDF("k", "rid")
    val dim = Seq((7L, "a"), (8L, "b"), (9L, "c")).toDF("dk", "v")
    val saltedJoin = graft.operators.AnalyticsOps.autoSaltedJoin(
      skewed, "k", dim, "dk", col("rid"))
    val pSkew = plan(saltedJoin)
    assert(pSkew.contains("Generate"),
      s"skewed key must trigger dim replication (explode):\n$pSkew")
    assert(pSkew.contains("ShuffledHashJoin") || pSkew.contains("SortMergeJoin"),
      s"salted join must stay a shuffle join:\n$pSkew")
    val pUni = plan(graft.operators.AnalyticsOps.autoSaltedJoin(
      uniform, "k", dim, "dk", col("rid")))
    assert(!pUni.contains("Generate"),
      s"uniform key must plan the plain join, no salting:\n$pUni")
    // and the salted result is row-identical to the plain join
    val plainCount = skewed.join(dim, col("k") === col("dk")).count()
    assert(saltedJoin.count() === plainCount)
  }

  test("rank-based queries plan NO single-partition window (empty partitionBy)") {
    // q117 RFM, q121 Gini, q130 lift: the oracle uses global ntile /
    // row_number, but the engine must rank via DistributedRank's
    // range-partitioned two-pass scheme — an empty-partitionBy Window
    // is a one-task sort of the whole table, dead at 100x scale
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val dfs = Seq(
      "q117_rfm" -> graft.operators.ScaleOps.rfm(spark, sfDir),
      "q121_gini" -> graft.operators.ScaleOps.gini(spark, sfDir),
      "q130_lift_table" -> graft.operators.StatsOps.liftTable(spark, sfDir),
      // q165: within-source rank must ride rankWithin's keyed buckets,
      // and the global interleave position must ride rankOnly — neither
      // may fall back to a single-task global window
      "q165_curriculum" -> graft.operators.LlmQueries.curriculumOrder(spark, sfDir),
      // q148 batching ranks two global orders the same way
      "q148_pad_batching" -> graft.operators.LlmQueries.padBatching(spark, sfDir),
      // q185: the position AND the token prefix sum must both ride the
      // bucketed rank+scan, never SUM OVER (ORDER BY) on one task
      "q185_epoch_shuffle" -> graft.operators.LlmQueries.epochShuffle(spark, sfDir),
      // q186: the cumulative negative-sampling table is vocab-sized but
      // its scan must still be the bucketed prefix sum
      "q186_skipgram_negs" -> graft.operators.LlmQueries.skipgramNegatives(spark, sfDir),
      // q195/q198: both layout ranks ride rankOnly's bucketed scheme —
      // a z-order writer that sorts the table on one task is pointless
      "q195_zorder_layout" -> graft.operators.ScaleOps.zorderLayout(spark, sfDir),
      "q198_zorder_serve" -> graft.operators.ScaleOps.zorderServe(spark, sfDir),
      // q196: the token-line prefix sum must be the bucketed rank+scan
      "q196_pps_sample" -> graft.operators.LlmQueries.ppsSample(spark, sfDir))
    for ((name, df) <- dfs) {
      val bad = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty,
        s"$name plans ${bad.size} global window(s) — single-task sort:\n" +
          df.queryExecution.optimizedPlan)
    }
  }

  test("distributed rank is a deterministic dense 1..n permutation matching the window") {
    val base = graft.core.Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"),
        col("o_totalprice").multiply(100).cast("long").as("cents"))
    val ranked = graft.operators.DistributedRank.rankOnly(
      base, "rk", "cents", desc = true, col("cents").desc, col("o_orderkey"))
    val n = base.count()
    // dense 1..n permutation
    val ranks = ranked.select("rk").collect().map(_.getLong(0)).sorted
    assert(ranks.head == 1L && ranks.last == n &&
      ranks.distinct.length == ranks.length,
      "global rank must be a dense 1..n permutation")
    // bit-identical to the single-partition window it replaces
    val viaWindow = base.withColumn("rk",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cents").desc, col("o_orderkey"))).cast("long"))
    assert(ranked.exceptAll(viaWindow).count() === 0 &&
      viaWindow.exceptAll(ranked).count() === 0,
      "bucketed rank must equal the window rank row for row")
    // deterministic: a second materialization agrees exactly (no sampled
    // state anywhere in the pipeline)
    val again = graft.operators.DistributedRank.rankOnly(
      base, "rk", "cents", desc = true, col("cents").desc, col("o_orderkey"))
    assert(ranked.exceptAll(again).count() === 0)
    // and the rank plan itself carries no empty-partitionBy window
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val bad = ranked.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, "rank pipeline must not plan a global window")
  }

  test("filtered ANN pushes the candidate predicate into the corpus scan") {
    val p = plan(graft.operators.LlmQueries.annFiltered(spark, sfDir))
    // pre-filtering means the metadata predicate reaches the parquet
    // scan — a selective filter then prunes I/O, not just compute
    assert(p.contains("PushedFilters") && p.contains("label"),
      s"q147's label filter must push to the scan:\n$p")
  }

  test("IVF-PQ serving scans the at-rest code index, not a fresh encode") {
    val p = plan(graft.operators.ScaleOps.ivfPqServe(spark, sfDir))
    assert(p.contains("ivfpq_codes_"),
      s"q146 must scan the persisted code index:\n$p")
  }

  test("rerank serve scans the at-rest retrieval index and encodes only probes") {
    val p = plan(graft.operators.ScaleOps.annRerank(spark, sfDir))
    // stage 1 reads the persisted retrieval-grade code table…
    assert(p.contains("rerank_codes_"),
      s"q193 must scan the persisted retrieval index:\n$p")
    // …and the only embedding-column work is probe-side: the probe
    // filter must reach the embeddings scan, so the corpus is never
    // re-encoded at serve time (the pool joins by vec_id alone)
    assert(p.contains("PushedFilters") && p.contains("vec_id"),
      s"q193's probe filter must push to the embeddings scan:\n$p")
  }

  test("IVF-PQ append reads the stored base index and equals a full rebuild") {
    val appended = graft.operators.ScaleOps.ivfPqAppend(spark, sfDir)
    // the serve plan reads the at-rest BASE index (not a re-encode of
    // the base corpus)…
    val p = plan(appended)
    assert(p.contains("ivfpq_base_"),
      s"q151 must scan the persisted base index:\n$p")
    // …and the incremental path is lossless: stored-base ∪ fresh-batch
    // reproduces the full-recompute search bit for bit
    val rebuild = graft.operators.ScaleOps.ivfPqSearch(spark, sfDir)
    assert(appended.exceptAll(rebuild).count() === 0)
    assert(rebuild.exceptAll(appended).count() === 0)
  }

  test("dedup family consumes the at-rest pair table without re-shingling") {
    // materialize the q144 pair table once, then the downstream plans
    // must carry a parquet scan of lsh_pairs_* and NO shingle/minhash
    // expressions — the persist-don't-recompute contract
    graft.operators.LlmQueries.lshPairsAtRest(spark, sfDir).collect()
    val p = plan(graft.operators.LlmQueries.sourceContamination(spark, sfDir))
    assert(p.contains("lsh_pairs_"),
      s"q143 must scan the persisted pair table:\n$p")
    assert(!p.contains("word_shingles") && !p.contains("minhash"),
      s"q143 must not recompute signatures:\n$p")
  }

  test("gram novelty scans the at-rest gram table, tokenizes only the batch") {
    // materialize the q171 gram table once; q189's plan must then read
    // subdup_grams_* and tokenize exactly ONE documents scan (the
    // batch side) — the corpus side is the stored 8-byte hashes
    graft.operators.LlmQueries.corpusGramsAtRest(spark, sfDir).collect()
    val p = plan(graft.operators.LlmQueries.gramNovelty(spark, sfDir))
    assert(p.contains("subdup_grams_"),
      s"q189 must scan the persisted gram table:\n$p")
    val docScans = "documents\\.parquet".r.findAllIn(p).length
    assert(docScans <= 1,
      s"only the batch may be tokenized (docScans=$docScans):\n$p")
  }

  test("BM25 serve reads the at-rest index, prunes shards, never re-tokenizes") {
    // build the index tables once, then the serve plan must scan
    // bm25_postings/bm25_doclen with a shard partition filter and carry
    // no tokenization of corpus text — the q146-for-text contract
    graft.operators.CorpusOps.bm25IndexTables(spark, sfDir)
    val p = plan(graft.operators.CorpusOps.bm25IndexServe(spark, sfDir))
    assert(p.contains("bm25_postings"),
      s"serve must scan the persisted postings:\n$p")
    assert(p.contains("bm25_doclen"),
      s"serve must scan the persisted doc lengths:\n$p")
    assert(p.contains("PartitionFilters: [shard"),
      s"query-vocab shards must prune at the partition level:\n$p")
    assert(!p.contains("split(") && !p.contains("documents.parquet"),
      s"serve must not re-tokenize or rescan the corpus:\n$p")
  }

  test("BM25 append serves from stored base tables plus the batch alone") {
    graft.operators.CorpusOps.bm25BaseTables(spark, sfDir)
    val p = plan(graft.operators.CorpusOps.bm25IndexAppend(spark, sfDir))
    assert(p.contains("bm25_postings_base") && p.contains("bm25_doclen_base"),
      s"append must read the at-rest base index:\n$p")
    // the only text tokenization is the arriving batch: every documents
    // scan in the plan carries the batch-source pushed filter
    val scans = "PushedFilters: \\[[^\\]]*source".r.findAllIn(p).size
    val docScans = "documents.parquet".r.findAllIn(p).size
    assert(docScans > 0 && scans >= docScans,
      s"base text must never re-tokenize (docScans=$docScans, filtered=$scans):\n$p")
  }

  test("phrase search reads the positional index with shard pruning") {
    graft.operators.CorpusOps.phrasePositionsTable(spark, sfDir)
    val p = plan(graft.operators.CorpusOps.phraseSearch(spark, sfDir))
    assert(p.contains("bm25_positions"),
      s"phrase search must scan the persisted positional index:\n$p")
    assert(p.contains("PartitionFilters: [shard"),
      s"phrase vocabulary shards must prune:\n$p")
    assert(!p.contains("split(") && !p.contains("documents.parquet"),
      s"no query-time tokenization:\n$p")
  }

  test("z-order serve scans only pruned at-rest partitions, not the raw table") {
    graft.operators.ScaleOps.zorderRowsAtRest(spark, sfDir)
    val p = plan(graft.operators.ScaleOps.zorderServe(spark, sfDir))
    assert(p.contains("zlay_"),
      s"serve must scan the persisted z-laid rows:\n$p")
    assert(p.contains("PartitionFilters: [file_id"),
      s"the manifest prune must reach the scan as a partition filter:\n$p")
    assert(!p.contains("lineitem.parquet"),
      s"serve must not rescan the raw table:\n$p")
  }

  test("z-order append serves from the stored base plus the batch alone") {
    graft.operators.ScaleOps.zorderBaseAtRest(spark, sfDir)
    val p = plan(graft.operators.ScaleOps.zorderAppendServe(spark, sfDir))
    assert(p.contains("zbase_"),
      s"append serve must scan the at-rest base layout:\n$p")
    assert(p.contains("PartitionFilters: [file_id"),
      s"base files must prune at the partition level:\n$p")
    // every raw-table scan is the arriving batch's (the persisted batch
    // frame prints its lineage per cache reference): each must carry
    // the batch mod-filter, so the base is never re-read from raw
    val rawScans = "lineitem.parquet".r.findAllIn(p).size
    val batchScans =
      ("DataFilters: \\[[^\\]]*% 10\\) = " +
        graft.operators.ScaleOps.ZBatchMod).r.findAllIn(p).size
    assert(rawScans > 0 && batchScans >= rawScans,
      s"base rows must come from the layout, not a raw re-scan " +
        s"(rawScans=$rawScans, batch-filtered=$batchScans):\n$p")
  }

  test("bloom-skip serve scans only bloom-positive at-rest partitions") {
    graft.operators.ScaleOps.bloomLayoutTableOnce(spark, sfDir, "bflay_", "true")
    val p = plan(graft.operators.ScaleOps.bloomSkipServe(spark, sfDir))
    assert(p.contains("bflay_"),
      s"serve must scan the persisted bloom layout:\n$p")
    assert(p.contains("PartitionFilters: [file_id"),
      s"bloom-positive files must prune at the partition level:\n$p")
    assert(!p.contains("lineitem.parquet"),
      s"serve must not rescan the raw table:\n$p")
  }

  test("bloom-skip append serves from the stored base plus the batch alone") {
    graft.operators.ScaleOps.bloomLayoutTableOnce(spark, sfDir, "bfbase_",
      s"l_orderkey % 10 != ${graft.operators.ScaleOps.ZBatchMod}")
    val p = plan(graft.operators.ScaleOps.bloomSkipAppendServe(spark, sfDir))
    assert(p.contains("bfbase_"),
      s"append serve must scan the at-rest base layout:\n$p")
    assert(p.contains("PartitionFilters: [file_id"),
      s"base files must prune at the partition level:\n$p")
    val rawScans = "lineitem.parquet".r.findAllIn(p).size
    val batchScans =
      ("DataFilters: \\[[^\\]]*% 10\\) = " +
        graft.operators.ScaleOps.ZBatchMod).r.findAllIn(p).size
    assert(rawScans > 0 && batchScans >= rawScans,
      s"base rows must come from the layout, not a raw re-scan " +
        s"(rawScans=$rawScans, batch-filtered=$batchScans):\n$p")
  }

  test("bitmap serve answers conjunctions from the at-rest words alone") {
    graft.operators.ScaleOps.bitmapServe(spark, sfDir).collect() // build once
    val p = plan(graft.operators.ScaleOps.bitmapServe(spark, sfDir))
    assert(p.contains("bitmapidx_"),
      s"serve must scan the published bitmap words:\n$p")
    assert(!p.contains("lineitem.parquet"),
      s"a bitmap conjunction must never rescan the base table:\n$p")
    // the col= predicate is a partition filter on the Hive col= layout
    assert(p.contains("PartitionFilters: ["),
      s"the predicate columns must prune at the partition level:\n$p")
  }

  test("bitmap append reads the at-rest base; only the batch is rescanned") {
    val p = plan(graft.operators.ScaleOps.bitmapAppendServe(spark, sfDir))
    assert(p.contains("bitmapbase_"),
      s"append must read the published base bitmaps:\n$p")
    val rawScans = "lineitem.parquet".r.findAllIn(p).size
    val batchScans =
      ("% " + graft.operators.ScaleOps.BitmapBatchMod + "\\) = " +
        graft.operators.ScaleOps.BitmapBatchRem).r.findAllIn(p).size
    assert(rawScans > 0 && batchScans >= rawScans,
      s"every raw scan must be the arriving batch " +
        s"(rawScans=$rawScans, batch-filtered=$batchScans):\n$p")
  }

  test("BM25 delete keeps shard pruning through the tombstone anti-join") {
    graft.operators.CorpusOps.bm25IndexTables(spark, sfDir)
    val p = plan(graft.operators.CorpusOps.bm25IndexDelete(spark, sfDir))
    assert(p.contains("bm25_postings"),
      s"delete-serve must scan the persisted postings:\n$p")
    assert(p.contains("PartitionFilters: [shard"),
      s"shard pruning must push below the anti-join:\n$p")
    assert(!p.contains("split(") && !p.contains("documents.parquet"),
      s"deletion must never re-tokenize or rescan the corpus:\n$p")
  }

  test("BM25 update tokenizes only the revised cohort; stored postings stay pruned") {
    graft.operators.CorpusOps.bm25IndexTables(spark, sfDir)
    val p = plan(graft.operators.CorpusOps.bm25IndexUpdate(spark, sfDir))
    assert(p.contains("bm25_postings"),
      s"update-serve must scan the persisted postings:\n$p")
    assert(p.contains("PartitionFilters: [shard"),
      s"shard pruning must survive the anti-join + union:\n$p")
    // the ONLY corpus scan is the revised slice: every raw-text read
    // must carry the cohort filter, so base text is never re-tokenized
    val rawScans = p.split("\n").filter(l =>
      l.contains("documents") && l.contains("parquet") && l.contains("Scan"))
    assert(p.split("Scan parquet").drop(1)
      .filter(_.contains("documents"))
      .forall(s => s.contains(s"% ${graft.operators.CorpusOps.Bm25UpdMod})") ||
        s.contains(s"% ${graft.operators.CorpusOps.Bm25UpdMod} ")),
      s"every corpus scan must be cohort-filtered (O(updates) text):\n$p")
    assert(rawScans.isEmpty || p.contains("PushedFilters"),
      s"cohort filter must push into the scan:\n$p")
  }

  test("wordpiece frozen serve reads the at-rest vocab; only batch text splits") {
    // the recursive loop body prints opaquely in the physical string
    // and logical Relations elide file paths, so the evidence is
    // structural: the vocab arrives as a bare 2-column parquet
    // relation [kind, piece] — a serve-time DERIVATION would instead
    // plan the candidate aggregate + its row_number rank window.
    // Since the round-13 staging, the vocab scan sits inside the
    // persisted JUMP view's cached build plan, which prints as the
    // physical `FileScan parquet [kind#…,piece#…]` rather than the
    // logical `Relation [kind…]` — both spellings are the same bare
    // 2-column scan of the published table.
    val p = graft.operators.LlmQueries.wordpieceFrozen(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    // anchored to the PUBLISHED table (its warehouse location carries
    // the wp_vocab_<dir> name): a bare 2-column [kind, piece] scan of
    // any parquet no longer satisfies this — the scan's own line (or,
    // for the logical Relation spelling, the plan) must name wp_vocab
    assert(
      "FileScan parquet \\[kind#\\d+,piece#\\d+\\][^\\n]*wp_vocab".r
        .findFirstIn(p).isDefined ||
        (p.contains("Relation [kind") && p.contains("wp_vocab")),
      s"frozen serve must scan the published wp_vocab (kind, piece) table:\n$p")
    assert(!p.contains("row_number"),
      s"a rank window means the vocab was re-derived at serve time:\n$p")
    // the only corpus text read is the batch slice
    assert(p.contains(s"source") &&
      p.contains(graft.operators.LlmQueries.BatchSource),
      s"the batch filter must appear in the serve plan:\n$p")
  }

  test("unigram frozen serve plans the kernel over batch text only") {
    // the piece table is consumed as a bounded collect into the kernel
    // constant, so the serve plan must contain the fused expression and
    // NO training machinery: no rank window (vocab re-derivation) and
    // no unfiltered corpus scan — the only text read is the batch slice
    val p = graft.operators.LlmQueries.unigramFrozen(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(p.contains("unigram_viterbi"),
      s"frozen serve must segment through the fused kernel:\n$p")
    assert(!p.contains("row_number"),
      s"a rank window means the distribution was re-derived at serve:\n$p")
    assert(p.contains("source") &&
      p.contains(graft.operators.LlmQueries.BatchSource),
      s"the batch filter must appear in the serve plan:\n$p")
  }

  test("IVF-PQ delete keeps serving from the at-rest codes under the anti-join") {
    val p = plan(graft.operators.ScaleOps.ivfPqDelete(spark, sfDir))
    assert(p.contains("ivfpq_codes_"),
      s"delete-serve must scan the published code table:\n$p")
  }

  test("nsw search walks the at-rest graph, never re-banding the corpus") {
    val p = graft.operators.ScaleOps.nswSearch(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    // r13: the walk eagerly checkpoints the graph side and each hop's
    // state (lineage truncation — ScaleAnnOps.nswSearchOf scaladoc), so
    // the serve plan's leaf is the final hop's checkpointed
    // (query_id, cand_id, cos) LogicalRDD; the published-adjacency read
    // happens during the (already-run) hop jobs. The no-re-banding
    // intent is the srp_sig assertion below, which is unchanged.
    assert(p.contains("nswgraph_") || p.contains("Relation [src") ||
      "LogicalRDD \\[(src|query_id)".r.findFirstIn(p).isDefined,
      s"the walk must serve from the checkpointed walk state:\n$p")
    assert(!p.contains("srp_sig"),
      s"a serve-time signature means the graph was re-derived:\n$p")
  }

  test("iterative trainers scan a persisted frame, not the corpus per pass") {
    // q163 (3 GD iterations) and q170 (3 power iterations): the per-pass
    // input must be an InMemoryTableScan of the persisted feature /
    // centered frame — re-deriving the regex features or the explode per
    // stage multiplies the corpus scans by the iteration count
    val cls = executedPlan(graft.operators.StatsOps.qualityClassifier(spark, sfDir))
    assert(cls.contains("InMemoryTableScan"),
      s"q163 must scan the persisted feature frame:\n$cls")
    val pca = executedPlan(graft.operators.ScaleOps.embPca(spark, sfDir))
    assert("InMemoryTableScan".r.findAllIn(pca).size >= 3,
      s"q170's iterations must each hit the persisted centered frame:\n$pca")
  }

  test("plan sweep: no declared query ships a lazy shape") {
    // The hand-picked assertions above pin specific designs; this sweep
    // is the regression net over EVERY SparkEntry query: a future query
    // must not plan (a) a global window over unbounded input — a
    // one-task sort of the corpus, (b) a CartesianProduct — both sides
    // unkeyed and unbroadcast, or (c) a single-partition shuffle whose
    // input is not already reduced by an aggregate/limit. Global
    // windows and single-partition exchanges OVER AGGREGATED frames
    // are legitimate (hourly series, histogram tails, final readouts):
    // the sweep checks the subtree below each suspect node for an
    // Aggregate/Limit, which is exactly what bounds the rows reaching
    // it at any corpus size.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow,
      Aggregate, GlobalLimit, LocalLimit, LogicalPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    def bounded(p: LogicalPlan): Boolean = p.collectFirst {
      case a: Aggregate => a: Any
      case l: GlobalLimit => l: Any
      case l: LocalLimit => l: Any
    }.isDefined
    // Audited exceptions, each with the reason the "unbounded" input is
    // in fact tiny. q114: the phase-2 global window consumes the union
    // of 32 per-bucket LOCAL skylines — window-filtered, not
    // aggregated, so the Aggregate probe can't see the reduction, but
    // the frontier union is a few hundred rows at any corpus size
    // (scaladoc at ScaleRelationalOps.skylinePhase).
    val allowGlobalWindow = Set("q114_skyline")
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        val qe = fn(spark, sfDir).queryExecution
        val badWin = if (allowGlobalWindow(name)) Nil else
          qe.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty && !bounded(w.child) => w
        }
        if (badWin.nonEmpty)
          failures += s"$name: ${badWin.size} global window(s) over unbounded input"
        val phys = qe.sparkPlan
        if (phys.toString.contains("CartesianProduct"))
          failures += s"$name: CartesianProduct"
        val badSingle = phys.collect {
          case e: ShuffleExchangeExec
            if e.outputPartitioning == SinglePartition &&
              e.child.collectFirst {
                case c if c.getClass.getSimpleName.contains("Aggregate") ||
                  c.getClass.getSimpleName.contains("Limit") ||
                  c.getClass.getSimpleName.contains("TakeOrdered") => c
              }.isEmpty => e
        }
        if (badSingle.nonEmpty)
          failures += s"$name: ${badSingle.size} single-partition " +
            "exchange(s) over non-aggregated input"
      } catch { case e: Throwable =>
        failures += s"$name: plan build threw " +
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}"
      } finally graft.core.EngineCache.releaseOwned()
    }
    assert(failures.isEmpty,
      s"${failures.size} queries plan lazy shapes:\n" + failures.mkString("\n"))
  }
}
