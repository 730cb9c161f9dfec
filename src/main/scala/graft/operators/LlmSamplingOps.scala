package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Determinism._
import graft.core.Tables
import graft.functions.{GraftFunctions, TextFunctions}
import graft.functions.TextFunctions._
import graft.llm.{Dedup, Multimodal, Packing, Similarity}

/** The sampling / retrieval / multimodal family, split from
  * [[LlmQueries]]: skip-gram generation (q186), the blocking audit and
  * pad batching (q159/q148), content-defined chunking (q152), learned-
  * cell ANN and multiprobe (q166/q179), the pre-tokenizer and token
  * budget (q138/q139), multimodal decode/vocab/cluster readouts
  * (q140/q156/q157) and perceptual-hash near-dup (q155). */
private[graft] trait LlmSamplingOps { this: LlmQueries.type =>

  // ---------------------------------------------------------------- q186
  /** Deterministic skip-gram + negative-sample generation — the
    * word2vec-style embedding-training input pipeline as a query.
    * Three classic stages, every "random" choice a pure hash:
    *   1. frequency SUBSAMPLING (Mikolov's t-rule): token survives iff
    *      hash(doc,pos) mod 1e6 < ⌊p_keep·1e6⌉ with p_keep =
    *      min(1, (√(f/t)+1)·t/f) — frequent-word tokens thin out,
    *      reproducibly on any partitioning;
    *   2. skip-gram PAIRS: surviving tokens within ±[[SgWindow]]
    *      positions in the same doc — a doc-keyed band join, never a
    *      corpus window;
    *   3. NEGATIVES: [[SgNegK]] draws per pair from the unigram^0.75
    *      table. The 3/4 power is sqrt(cnt·sqrt(cnt)) — two IEEE
    *      sqrts and a product, all correctly rounded, so BOTH engines
    *      get the same integer weight (pow() would not cross-engine).
    *      Cumulative weight intervals come from the
    *      [[DistributedRank.rankAndScanWithin]] distributed prefix
    *      sum over the vocab; each hash draw lands in [0, W_total)
    *      and resolves to its interval through a BUCKETED equi-join
    *      (intervals explode into ⌈w/bs⌉ covering buckets, draws
    *      compute their bucket arithmetically) — the q95 trick, so
    *      the lookup is an equi-join at any vocab size while the
    *      oracle spells the plain inequality join.
    * Output: one row per (pair, negative slot) — the exact training
    * stream a skip-gram trainer consumes, RNG-free end to end. */
  val SgWindow = 2
  val SgNegK = 2
  val SgSubsampleT = "1e-3"
  val SgBuckets = 1024

  def skipgramNegatives(spark: SparkSession, dir: String): DataFrame =
    skipgramNegativesOf(docs(spark, dir))

  /** Corpus-derived sampling state: vocab / bucketed-interval view
    * names plus the total token count, total unigram^0.75 weight, and
    * interval bucket size. Session-bound (the views live on the
    * session that built them). */
  private[operators] case class SgStats(vocabV: String, vbV: String,
                             totT: Long, totW: Long, bs: Long)

  /** Build the frozen sampling state from a base corpus: vocab counts,
    * unigram^0.75 weights, the rankAndScanWithin cumulative intervals,
    * and their bucket explosion. One pass over the base; everything
    * downstream (batch or stream) only reads the views. */
  private[operators] def sgStats(baseDocs: DataFrame, tag: String): SgStats = {
    val spark = baseDocs.sparkSession
    val tid = Thread.currentThread().getId
    val dv = s"graft_sg_base_${tag}_t$tid"
    baseDocs.createOrReplaceTempView(dv)
    val vocabV = s"graft_sg_vocab_${tag}_t$tid"
    spark.sql(s"""
      SELECT word, CAST(count(1) AS BIGINT) AS cnt,
        CAST(greatest(1, floor(sqrt(CAST(count(1) AS DOUBLE) *
          sqrt(CAST(count(1) AS DOUBLE))))) AS BIGINT) AS w,
        ${xhashExpr("concat('w:', word)")} AS hw
      FROM (SELECT explode(${wordsExpr("text")}) AS word FROM $dv) z
      GROUP BY word""")
      .transform(graft.core.EngineCache.persisted)
      .createOrReplaceTempView(vocabV)
    val Array(totT, totW) = spark.sql(
      s"SELECT CAST(sum(cnt) AS BIGINT), CAST(sum(w) AS BIGINT) FROM $vocabV")
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val bs = (totW + SgBuckets - 1) / SgBuckets
    // cumulative unigram^0.75 intervals via the distributed prefix sum
    val cum = DistributedRank.rankAndScanWithin(
      spark.sql(s"SELECT word, w, hw, 1 AS k FROM $vocabV"),
      "k", "rk", "sc", "w", "hw", desc = false, col("hw"), col("word"))
    val cumV = s"graft_sg_cum_${tag}_t$tid"
    cum.createOrReplaceTempView(cumV)
    val vbV = s"graft_sg_vb_${tag}_t$tid"
    spark.sql(s"""
      SELECT word, w, sc, explode(sequence(sc div $bs, (sc + w - 1) div $bs))
        AS b
      FROM $cumV""")
      .transform(graft.core.EngineCache.persisted)
      .createOrReplaceTempView(vbV)
    SgStats(vocabV, vbV, totT, totW, bs)
  }

  /** The per-batch half: subsample, pair, and draw negatives for
    * `batchDocs` ALONE under frozen `st` statistics — the stream-time
    * unit of work. Batch words absent from the base vocab drop out
    * (no frequency ⇒ no subsample decision ⇒ no pair), the same
    * frozen-artifact contract as q151's codebook. */
  private[operators] def sgPairsFor(batchDocs: DataFrame, st: SgStats,
                         tag: String): DataFrame = {
    val spark = batchDocs.sparkSession
    val tid = Thread.currentThread().getId
    val bv = s"graft_sg_batch_${tag}_t$tid"
    batchDocs.createOrReplaceTempView(bv)
    val pk = s"""least(1.0, (sqrt((CAST(v.cnt AS DOUBLE) / ${st.totT})
      / $SgSubsampleT) + 1.0) * $SgSubsampleT
      / (CAST(v.cnt AS DOUBLE) / ${st.totT}))"""
    val keptV = s"graft_sg_kept_${tag}_t$tid"
    spark.sql(s"""
      SELECT t.doc_id, t.pos, t.word
      FROM (SELECT doc_id, p + 1 AS pos, word
            FROM (SELECT doc_id, posexplode(${wordsExpr("text")})
                    AS (p, word) FROM $bv) zz) t
      JOIN ${st.vocabV} v ON t.word = v.word
      WHERE ${xhashExpr(
        "concat('ss:', CAST(t.doc_id AS STRING), ':', CAST(t.pos AS STRING))")}
        % 1000000 < CAST(floor(($pk) * 1e6 + 0.5) AS BIGINT)""")
      .transform(graft.core.EngineCache.persisted)
      .createOrReplaceTempView(keptV)
    spark.sql(s"""
      SELECT n.doc_id, n.pos, n.cpos, n.center, n.context,
        n.neg_slot, vb.word AS neg_word
      FROM (
        SELECT c.doc_id, c.pos, x.pos AS cpos, c.word AS center,
          x.word AS context, j AS neg_slot,
          ${xhashExpr(
            "concat('neg:', CAST(c.doc_id AS STRING), ':', " +
            "CAST(c.pos AS STRING), ':', CAST(x.pos AS STRING), ':', " +
            "CAST(j AS STRING))")} % ${st.totW} AS draw
        FROM $keptV c
        JOIN $keptV x ON c.doc_id = x.doc_id
          AND x.pos BETWEEN c.pos - $SgWindow AND c.pos + $SgWindow
          AND x.pos <> c.pos
        LATERAL VIEW explode(sequence(1, $SgNegK)) nj AS j) n
      JOIN ${st.vbV} vb ON vb.b = n.draw div ${st.bs}
        AND n.draw >= vb.sc AND n.draw < vb.sc + vb.w
      ORDER BY doc_id, pos, cpos, neg_slot""")
  }

  def skipgramNegativesOf(docsF: DataFrame): DataFrame =
    sgPairsFor(docsF, sgStats(docsF, "self"), "self")

  /** Frozen-stats batch entry: pairs for `batchDocs` under `baseDocs`'
    * statistics — the unit [[graft.streaming.EventAnalytics
    * .startStreamingSkipgram]] runs per micro-batch. */
  def skipgramBatchPairs(baseDocs: DataFrame,
                         batchDocs: DataFrame): DataFrame =
    sgPairsFor(batchDocs, sgStats(baseDocs, "base"), "base")

  /** [[skipgramBatchPairs]] with the stats built once and reused —
    * returns the per-batch closure the streaming twin installs. */
  def skipgramPairsWithFrozenStats(baseDocs: DataFrame)
      : DataFrame => DataFrame = {
    val st = sgStats(baseDocs, "frozen")
    batch => sgPairsFor(batch, st, "frozen")
  }

  def skipgramNegativesSql: String = s"""
      WITH tok AS MATERIALIZED (
        SELECT doc_id, pos, w[pos] AS word FROM (
          SELECT doc_id, w, unnest(range(1, len(w) + 1))::INT AS pos
          FROM (SELECT doc_id, ${wordsSql("text")} AS w FROM documents) d) z),
      vocab AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS cnt,
          CAST(greatest(1, floor(sqrt(CAST(count(*) AS DOUBLE) *
            sqrt(CAST(count(*) AS DOUBLE))))) AS BIGINT) AS w,
          ${xhashSql("'w:' || word")} AS hw
        FROM tok GROUP BY word),
      tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t,
                     CAST(sum(w) AS BIGINT) AS wt FROM vocab),
      kept AS MATERIALIZED (
        SELECT t.doc_id, t.pos, t.word
        FROM tok t JOIN vocab v ON t.word = v.word CROSS JOIN tot
        WHERE ${xhashSql("'ss:' || t.doc_id || ':' || t.pos")} % 1000000
          < CAST(floor(least(1.0,
              (sqrt((CAST(v.cnt AS DOUBLE) / tot.t) / $SgSubsampleT) + 1.0)
              * $SgSubsampleT / (CAST(v.cnt AS DOUBLE) / tot.t)) * 1e6 + 0.5)
            AS BIGINT)),
      cum AS MATERIALIZED (
        SELECT word, w,
          CAST(coalesce(sum(w) OVER (ORDER BY hw, word
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS sc
        FROM vocab),
      pairs AS MATERIALIZED (
        SELECT c.doc_id, c.pos, x.pos AS cpos, c.word AS center,
          x.word AS context, j AS neg_slot,
          ${xhashSql(
            "'neg:' || c.doc_id || ':' || c.pos || ':' || x.pos || ':' || j")}
            % tot.wt AS draw
        FROM kept c
        JOIN kept x ON c.doc_id = x.doc_id
          AND x.pos BETWEEN c.pos - $SgWindow AND c.pos + $SgWindow
          AND x.pos <> c.pos
        CROSS JOIN (SELECT unnest(range(1, ${SgNegK + 1}))::INT AS j) nj
        CROSS JOIN tot)
      SELECT p.doc_id, p.pos, p.cpos, p.center, p.context, p.neg_slot,
        c.word AS neg_word
      FROM pairs p JOIN cum c ON p.draw >= c.sc AND p.draw < c.sc + c.w
      ORDER BY doc_id, pos, cpos, neg_slot"""
  /** Incremental substring dedup against GRAMS at rest — the q145
    * discipline for the span leg: the corpus's distinct positional-gram
    * hashes persist ONCE to the warehouse (`shard=N` on ghash; 8 bytes
    * per unique gram — the smallest artifact that answers "is this run
    * verbatim in the corpus?"), and each arriving batch is the only
    * text that gets tokenized: batch grams probe the stored set,
    * matched spans merge through the same gaps-and-islands union, and
    * the output is q162's profile for the BATCH docs alone — the cut
    * list for an arriving increment, O(batch) work per increment.
    * Within-batch duplication is deliberately out of scope here (q162
    * owns it); this measures overlap with what is already stored. The
    * oracle replays both sides from raw text, proving the at-rest gram
    * set lost nothing. The STREAM-TIME twin
    * [[graft.streaming.EventAnalytics.startStreamingSpanDedup]] runs
    * the same increment per micro-batch against the same stored set. */
  def spanIncrement(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    spanIncrementOf(
      d.filter(col("source") === BatchSource), corpusGramsAtRest(spark, dir))
      .orderBy("doc_id")
  }

  /** Build-or-read the corpus-side distinct-gram table for `dir`. */
  /** The distinct positional-gram hash set of a corpus frame — the
    * content of the at-rest gram table, exposed for specs and ad-hoc
    * baselines. */
  def corpusGramsOf(docsDf: DataFrame): DataFrame = {
    val (_, g) = subdupGramsView(docsDf)
    docsDf.sparkSession.table(g).select(col("ghash")).distinct()
  }

  def corpusGramsAtRest(spark: SparkSession, dir: String): DataFrame = {
    val table = "subdup_grams_" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    graft.core.Warehouse.tableOnce(spark, table, "shard") {
      corpusGramsOf(docs(spark, dir).filter(col("source") =!= BatchSource))
        .withColumn("shard", expr("CAST(pmod(ghash, 8) AS INT)"))
    }.select("ghash")
  }

  /** The increment over an arbitrary batch frame + stored gram set —
    * the spec and foreachBatch entry point, unordered. The BATCH grams
    * are the broadcast side and the stored set streams through them, so
    * only O(batch) rows reach the driver whatever the corpus size. An
    * inner join is exact here even if the stored frame repeats a
    * `ghash`: the repeat repeats a (doc_id, s, e) span, which falls into
    * the island it already opened, so `dup_spans` and `dup_tokens` do not
    * change. The batch grams are not persisted: this join is their one
    * reader. */
  def spanIncrementOf(batchDocs: DataFrame,
                      corpusGrams: DataFrame): DataFrame = {
    val spark = batchDocs.sparkSession
    // DataFrame-API join (no temp view for the corpus side): under
    // foreachBatch the batch frame lives in a CLONED session whose
    // catalog snapshot predates any view registered here — frames
    // compose across the clone, catalog lookups do not
    val sp = broadcast(gramsOf(batchDocs))
      .join(corpusGrams.select(col("ghash")), Seq("ghash"))
      .select(col("doc_id"), col("n_tokens"), col("pos").as("s"),
        (col("pos") + (SubdupK - 1)).as("e"))
    val spView = s"graft_spaninc_sp_t${Thread.currentThread().getId}"
    sp.createOrReplaceTempView(spView)
    spark.sql(s"""
      WITH sp AS (SELECT * FROM $spView),
      $subdupIslandProfile""")
  }

  // ---------------------------------------------------------------- q234
  /** REFCOUNTED gram-set DELETE — the tombstone verb for the span-dedup
    * state, and the structural fix the honest-delete audit (q224)
    * prescribes: q171's at-rest artifact is a DISTINCT gram set, and a
    * distinct set cannot retract a member when a document dies because
    * it forgot who else holds the gram. The deletable spelling stores
    * (ghash, df) with df = count(DISTINCT doc) — the Lucene-posting /
    * counting-Bloom move — so a delete is pure refcount arithmetic:
    * tokenize ONLY the tombstoned docs (O(deletes), the q231/q233
    * locality rule), count their distinct doc-gram incidences per
    * hash, subtract, and drop rows reaching zero. Grams shared with
    * survivors stay; grams exclusive to the dead docs leave — exactly
    * the set a rebuild on the filtered corpus produces, and the ORACLE
    * proves it by replaying that rebuild. Output is the maintained
    * set's per-shard summary (count, total df, bit_xor of hashes — an
    * order-free exact checksum), O(shards) rows at any corpus size;
    * the same tombstone cohort as q233 (doc_id ≡ [[DedupDelRem]]
    * mod 10), so the two deletes describe ONE corpus deletion event
    * hitting two at-rest artifacts. */
  /** Distinct (doc_id, ghash) incidences of a docs frame — the unit of
    * the refcount arithmetic, shared by the batch delete (q234) and its
    * stream-time twin. */
  private[graft] def distinctDocGramsOf(d: DataFrame): DataFrame = {
    val (_, g) = subdupGramsView(d)
    d.sparkSession.table(g).select(col("doc_id"), col("ghash")).distinct()
  }

  /** The per-cohort refcount decrements — (ghash, dec) counted over the
    * tombstoned docs' distinct grams. Additive: decrements from any
    * batch split of the cohort sum to the one-shot decrement, which is
    * what makes the streaming twin batch-split-invariant. */
  private[graft] def gramDecrementsOf(tombDocs: DataFrame): DataFrame =
    distinctDocGramsOf(tombDocs)
      .groupBy("ghash").agg(count(lit(1)).as("dec"))

  /** The maintained-set rollup after subtracting `dec` from the stored
    * (ghash, df, shard) table: zero-df rows drop, survivors summarize
    * per shard with an exact order-free checksum. */
  private[graft] def gramSetAfterDelete(base: DataFrame,
                                        dec: DataFrame): DataFrame =
    base.join(dec, Seq("ghash"), "left")
      .select(col("ghash"), col("shard"),
        (col("df") - coalesce(col("dec"), lit(0L))).as("df"))
      .filter(col("df") > 0)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_grams"), sum("df").as("doc_incidences"),
        expr("bit_xor(ghash)").as("hash_xor"))
      .orderBy("shard")

  def gramSetDelete(spark: SparkSession, dir: String): DataFrame = {
    val table = "gramdf_" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val base = graft.core.Warehouse.tableOnce(spark, table, "shard") {
      distinctDocGramsOf(docs(spark, dir))
        .groupBy("ghash").agg(count(lit(1)).as("df"))
        .withColumn("shard", expr("CAST(pmod(ghash, 8) AS INT)"))
    }
    val pred = s"doc_id % ${DedupDelMod} = ${DedupDelRem}"
    gramSetAfterDelete(base,
      gramDecrementsOf(docs(spark, dir).filter(pred)))
  }

  def gramSetDeleteSql: String = s"""
      WITH d AS (
        SELECT doc_id, ${wordsSql("text")} AS w FROM documents
        WHERE NOT (doc_id % ${DedupDelMod} = ${DedupDelRem})),
      e AS (
        SELECT doc_id, w, unnest(range(1, len(w) - ${SubdupK - 2}))::INT AS pos
        FROM d),
      g AS (
        SELECT DISTINCT doc_id,
          ${xhashSql(s"array_to_string(w[pos:pos+${SubdupK - 1}], ' ')")}
            AS ghash
        FROM e),
      gd AS (
        SELECT ghash, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM g GROUP BY ghash)
      SELECT (((ghash % 8) + 8) % 8)::INT AS shard,
        CAST(count(*) AS BIGINT) AS n_grams,
        CAST(sum(df) AS BIGINT) AS doc_incidences,
        CAST(bit_xor(ghash) AS BIGINT) AS hash_xor
      FROM gd GROUP BY 1 ORDER BY shard"""

  def spanIncrementSql: String = s"""
      WITH bd AS (SELECT doc_id, ${wordsSql("text")} AS w
                  FROM documents WHERE source = '$BatchSource'),
      be AS (
        SELECT doc_id, len(w)::INT AS n_tokens, w,
          unnest(range(1, len(w) - ${SubdupK - 2}))::INT AS pos
        FROM bd),
      bg AS (
        SELECT doc_id, n_tokens, pos,
          ${xhashSql(s"array_to_string(w[pos:pos+${SubdupK - 1}], ' ')")}
            AS ghash
        FROM be),
      cd AS (SELECT ${wordsSql("text")} AS w
             FROM documents WHERE source <> '$BatchSource'),
      ce AS (
        SELECT w, unnest(range(1, len(w) - ${SubdupK - 2}))::INT AS pos
        FROM cd),
      cg AS (
        SELECT DISTINCT
          ${xhashSql(s"array_to_string(w[pos:pos+${SubdupK - 1}], ' ')")}
            AS ghash
        FROM ce),
      sp AS (
        SELECT bg.doc_id, bg.n_tokens, bg.pos AS s,
          bg.pos + ${SubdupK - 1} AS e
        FROM bg JOIN cg ON bg.ghash = cg.ghash),
      $subdupIslandTail"""

  def substringDedupSql: String = s"""
      WITH d AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
      e AS (
        SELECT doc_id, len(w)::INT AS n_tokens, w,
          unnest(range(1, len(w) - ${SubdupK - 2}))::INT AS pos
        FROM d),
      g AS (
        SELECT doc_id, n_tokens, pos,
          ${xhashSql(s"array_to_string(w[pos:pos+${SubdupK - 1}], ' ')")}
            AS ghash
        FROM e),
      df AS (
        SELECT ghash FROM g GROUP BY ghash
        HAVING count(DISTINCT doc_id) >= 2),
      sp AS (
        SELECT g.doc_id, g.n_tokens, g.pos AS s,
          g.pos + ${SubdupK - 1} AS e
        FROM g JOIN df ON g.ghash = df.ghash),
      $subdupIslandTail"""

  // ---------------------------------------------------------------- q159
  /** Blocking-strategy audit ([[Dedup.blockingAudit]]): MinHash bands vs
    * SimHash pigeonhole blocks vs the normalized-head key, each scored
    * for candidate volume, recall, and precision against the unblocked
    * exact-Jaccard ground truth — the measurement that decides which
    * blocking a production dedup can afford before anyone trusts it. */
  /** The audit's labeled sample: the unblocked truth is O(sample²), so
    * the cap — not the corpus — prices the measurement (5 000 docs at
    * sf0.1 already cost 12.5M exact set intersections unbounded). */
  val AuditSampleCap = 500
  def blockingAudit(spark: SparkSession, dir: String): DataFrame =
    Dedup.blockingAudit(
      docs(spark, dir).filter(col("doc_id") < AuditSampleCap),
      "doc_id", "text", WordShingleN, MinhashK, MinhashBands,
      SimhashMaxHamming, StatsOps.SurvivorHeadWords, MinhashTau)

  // ---------------------------------------------------------------- q148
  /** Padding-efficiency report for fixed-size inference/training batches
    * — the batching-planner readout: a batch of B docs pads every doc to
    * the batch max, so padded cost = Σ_batches n·max(tokens). 'arrival'
    * batches docs in doc_id order (the naive collate); 'sorted' batches
    * them in (tokens DESC, doc_id) order — length-sorted batching, the
    * standard trick that puts like-sized docs together and collapses the
    * padding waste. Both global ranks come from [[DistributedRank]]
    * (never a single-partition window); the token frame is persisted
    * once and serves both rank passes. All tallies are exact integers;
    * fp appears only in the final waste ratio. Output is O(strategies)
    * rows at any corpus size. */
  val PadBatchRows = 8
  def padBatching(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), tokenCount("text").cast("long").as("tok"))
      .transform(graft.core.EngineCache.persisted)
    val arrival = DistributedRank.rankOnly(
      toks, "rk", "doc_id", desc = false, col("doc_id"))
    val sorted = DistributedRank.rankOnly(
      toks, "rk", "tok", desc = true, col("tok").desc, col("doc_id"))
    def strat(df: DataFrame, name: String): DataFrame =
      df.withColumn("batch_id", expr(s"(rk - 1) div $PadBatchRows"))
        .groupBy("batch_id")
        .agg(count(lit(1)).as("n"), max(col("tok")).as("mx"),
          sum(col("tok")).as("st"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("st")).as("actual_tokens"),
          sum(col("n") * col("mx")).as("padded_tokens"))
        .select(lit(name).as("strategy"), col("n_batches"),
          col("actual_tokens"), col("padded_tokens"))
    strat(arrival, "arrival").unionByName(strat(sorted, "sorted"))
      .withColumn("waste_ratio", dround(
        (col("padded_tokens") - col("actual_tokens")).cast("double") /
          col("padded_tokens").cast("double"), 6))
      .orderBy("strategy")
  }

  // ---------------------------------------------------------------- q152
  /** Content-defined chunking (CDC) — the shift-robust complement to
    * q72's fixed sliding windows: chunk boundaries are declared wherever
    * the hash of the trailing [[CdcWindow]]-word window ≡ 0 (mod
    * [[CdcDiv]]), so a boundary depends only on LOCAL content. Insert a
    * sentence at the top of a document and every q72 chunk shifts (all
    * fingerprints change); CDC boundaries downstream of the edit stay
    * put, so unchanged chunks keep their fingerprints — the property
    * dedup storage systems are built on. Expected chunk length is
    * CdcDiv words. One window pass per doc orders the tokens (boundary
    * flags → running-sum chunk ids), one hash agg fingerprints each
    * chunk, and the final fp_share count is the corpus-wide duplicate
    * signal; output is O(corpus tokens / CdcDiv) rows. */
  val CdcWindow = 3   // boundary decision window, in words
  val CdcDiv = 16     // boundary when window-hash % CdcDiv == 0
  def cdcChunks(spark: SparkSession, dir: String): DataFrame =
    cdcChunksOf(docs(spark, dir))

  /** [[cdcChunks]] over an arbitrary (doc_id, text) frame — the spec
    * entry point for shift-robustness (edit a doc, most fps survive).
    *
    * Shape (guide §2.3/§2.4, measured in OPTIMIZATION_r14.md "q152"): the
    * boundary hash runs on EXPLODED rows — whole-stage-codegen md5, the
    * hot path — and the per-doc chunking happens on ONE packed row per
    * doc: a single aggregate collects the boundary positions (a few
    * ints per doc) and carries the words array via first(), then the
    * chunks materialize as an in-row array<struct> (slice between
    * consecutive starts), so the corpus crosses exactly ONE exchange,
    * packed. The old spelling paid a corpus-token Exchange+Sort+
    * WindowExec for the running boundary sum plus a SECOND exploded
    * corpus-token Exchange for the (doc_id, chunk_id) group with a
    * collect_list+array_sort reassembly. Rejected alternatives, same
    * harness: computing the per-token hash inside an array lambda
    * (transform) is 5-6x slower — higher-order-function lambdas
    * evaluate interpreted, never whole-stage-codegen — and building
    * chunk structs per exploded start (words re-carried per chunk row)
    * is quadratic in doc length. chunk_id equivalence: the old running
    * sum(is_b) at position p counts boundaries ≤ p, which is exactly
    * the chunk's index in the starts array; token order inside a chunk
    * is array order, which IS the i-order the old group reassembled,
    * so chunk_fp hashes the identical string. */
  def cdcChunksOf(docsDf: DataFrame): DataFrame = {
    val spark = docsDf.sparkSession
    val view = s"graft_cdc_docs_t${Thread.currentThread().getId}"
    docsDf.createOrReplaceTempView(view)
    val win = "'cdc:' || words[i-2] || ' ' || words[i-1] || ' ' || words[i]"
    // chunk k spans [starts[k], en) with en = next start or doc length
    val en = "IF(k + 1 < size(starts), element_at(starts, k + 2), size(words))"
    spark.sql(s"""
      WITH d AS (SELECT doc_id, ${wordsExpr("text")} AS words FROM $view),
      w AS (
        SELECT doc_id, words, i,
          CASE WHEN i >= ${CdcWindow - 1}
                 AND ${xhashExpr(win)} % $CdcDiv = 0
               THEN 1 ELSE 0 END AS is_b
        FROM d LATERAL VIEW posexplode(words) t AS i, word),
      s AS (
        SELECT doc_id, first(words) AS words,
          concat(array(0), array_sort(
            collect_list(CASE WHEN is_b = 1 THEN i END))) AS starts
        FROM w GROUP BY doc_id),
      x AS (
        SELECT doc_id, transform(starts, (st, k) -> named_struct(
            'chunk_id', CAST(k AS BIGINT),
            'n_tokens', CAST($en - st AS BIGINT),
            'chunk_fp', ${xhashExpr(s"array_join(slice(words, st + 1, $en - st), ' ')")}
          )) AS cs
        FROM s),
      g AS (
        SELECT doc_id, c.chunk_id, c.n_tokens, c.chunk_fp
        FROM x LATERAL VIEW explode(cs) t AS c)
      SELECT doc_id, chunk_id, n_tokens, chunk_fp,
        count(1) OVER (PARTITION BY chunk_fp) AS fp_share
      FROM g ORDER BY doc_id, chunk_id""")
  }

  def cdcChunksSql: String = {
    val win = "'cdc:' || words[pos-2] || ' ' || words[pos-1] || ' ' || words[pos]"
    s"""
      WITH d AS (SELECT doc_id, ${wordsSql("text")} AS words FROM documents),
      e AS (SELECT doc_id, words,
              unnest(range(1, len(words) + 1))::INT AS pos FROM d),
      b AS (
        SELECT doc_id, pos, words[pos] AS word,
          CASE WHEN pos >= $CdcWindow
                 AND ${xhashSql(win)} % $CdcDiv = 0
               THEN 1 ELSE 0 END AS is_b
        FROM e),
      c AS (
        SELECT doc_id, pos, word,
          CAST(sum(is_b) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS chunk_id
        FROM b),
      g AS (
        SELECT doc_id, chunk_id, count(*) AS n_tokens,
          ${xhashSql("string_agg(word, ' ' ORDER BY pos)")} AS chunk_fp
        FROM c GROUP BY doc_id, chunk_id)
      SELECT doc_id, chunk_id, n_tokens, chunk_fp,
        count(*) OVER (PARTITION BY chunk_fp) AS fp_share
      FROM g ORDER BY doc_id, chunk_id"""
  }

  def padBatchingSql: String = {
    def strat(ranked: String, name: String) = s"""
      SELECT '$name' AS strategy, count(1)::BIGINT AS n_batches,
        sum(st)::BIGINT AS actual_tokens, sum(n * mx)::BIGINT AS padded_tokens
      FROM (
        SELECT (rk - 1) // $PadBatchRows AS batch_id, count(1) AS n,
          max(tok) AS mx, sum(tok) AS st
        FROM $ranked GROUP BY 1)"""
    s"""
    WITH t AS (
      SELECT doc_id, ${tokenCountSql("text")}::BIGINT AS tok FROM documents),
    ar AS (SELECT tok, row_number() OVER (ORDER BY doc_id) AS rk FROM t),
    sr AS (SELECT tok, row_number() OVER (ORDER BY tok DESC, doc_id) AS rk FROM t),
    u AS (${strat("ar", "arrival")} UNION ALL ${strat("sr", "sorted")})
    SELECT strategy, n_batches, actual_tokens, padded_tokens,
      ${droundSql(
        "(padded_tokens - actual_tokens)::DOUBLE / padded_tokens::DOUBLE", 6)}
        AS waste_ratio
    FROM u ORDER BY strategy"""
  }

  def annIvf(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(embs(spark, dir), "label", col("vec_id") < 50, IvfK)
      .orderBy("query_id", "rnk")

  // ---------------------------------------------------------------- q166
  /** IVF top-k over LEARNED cells — the production search path q169's
    * audit validates (q84 Lloyd cells: ~5× the recall of the label
    * stand-in at comparable scan): cluster once ([[Similarity
    * .kmeansLloyd]], broadcast-assign per round, corpus never
    * shuffles), then the cell-restricted search of q40 over the learned
    * assignment. The oracle composes the Lloyd replay with the IVF
    * chain — both already proven — so the learned inverted file is
    * hash-gated end to end. */
  def annKmeans(spark: SparkSession, dir: String): DataFrame = {
    val vecs = embs(spark, dir)
    val vk = vecs.select(col("vec_id"), col("embedding"))
      .join(Similarity.kmeansLloyd(vecs, KmK, KmRounds)
        .select(col("vec_id"), col("cell")), "vec_id")
    Similarity.ivfTopK(vk, "cell", col("vec_id") < 50, IvfK)
      .orderBy("query_id", "rnk")
  }

  // ---------------------------------------------------------------- q179
  /** Multi-probe IVF search (nprobe = [[MultiProbe]]) — the production
    * recall knob q169's audit prices: a probe ranks the learned cells
    * by cosine to their member-mean centroids (davg-bridged, so the
    * centroid bits match cross-engine) and searches its
    * [[MultiProbe]] nearest cells instead of one — recall climbs at
    * nprobe/K of the scan cost, which is exactly the trade a
    * billion-vector inverted file tunes. Centroids are K tiny rows
    * (broadcast); cell ranking and the candidate top-k both ride the
    * bounded TopKAgg; the corpus never shuffles. Oracle replays
    * Lloyd → member centroids → cell ranking → search. */
  val MultiProbe = 2

  /** (vk, pcells, results) — the multiprobe internals, exposed so the
    * q169 audit can price the nprobe trade from the same frames. */
  def annMultiprobeParts(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import graft.functions.VectorAggregates.topKOf
    val vecs = embs(spark, dir)
    val vk = vecs.select(col("vec_id"), col("embedding"))
      .join(Similarity.kmeansLloyd(vecs, KmK, KmRounds)
        .select(col("vec_id"), col("cell")), "vec_id")
      .transform(graft.core.EngineCache.persisted)
    val cents = vk
      .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("cell", "dim")
      .agg(graft.core.Determinism.davg(col("x").cast("double"), 8).as("c"))
      .groupBy("cell")
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), " +
        "s -> CAST(s.c AS FLOAT))").as("cv"))
    val probes = vecs.filter(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val pcells = broadcast(probes).join(broadcast(cents))
      .withColumn("ccos", expr(Similarity.cosineExpr("qv", "cv")))
      .groupBy(col("query_id"))
      .agg(topKOf(MultiProbe, col("ccos"), col("cell")).as("top"))
      .select(col("query_id"), explode(col("top.cand_id")).as("cell"))
    val results = pcells
      .join(broadcast(probes), "query_id")
      .join(vk, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", expr(Similarity.cosineExpr("qv", "embedding")))
      .groupBy(col("query_id"))
      .agg(topKOf(IvfK, col("cos"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("query_id"), (col("i") + 1).cast("int").as("rnk"),
        col("s.cand_id").as("cand_id"), col("s.cos").as("cos"))
    (vk, pcells, results)
  }

  def annMultiprobe(spark: SparkSession, dir: String): DataFrame =
    annMultiprobeParts(spark, dir)._3.orderBy("query_id", "rnk")

  def annMultiprobeSql: String =
    s"WITH $annMultiprobeCtes" + s"""
      SELECT query_id, rnk, cand_id, cos FROM (
        SELECT query_id, cand_id, cos,
          (row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, cand_id))::INT AS rnk
        FROM sc) r
      WHERE rnk <= $IvfK
      ORDER BY query_id, rnk"""

  /** The multiprobe oracle CTE chain through `pc` (probed cells) and
    * `sc` (scored candidates) — shared with the q169 audit oracle. */
  def annMultiprobeCtes: String = s"""
      akm AS (SELECT vec_id, cell FROM
        (${Similarity.kmeansLloydSql("embeddings", KmK, KmRounds)}) q),
      akv AS (
        SELECT e.vec_id, e.embedding, k.cell
        FROM embeddings e JOIN akm k ON e.vec_id = k.vec_id),
      ce AS (
        SELECT cell, (unnest(range(1, len(embedding) + 1)) - 1)::INT AS dim,
          unnest(embedding) AS x
        FROM akv),
      cd AS (
        SELECT cell, dim, ${graft.core.Determinism.avgSql("x::DOUBLE", 8)} AS c
        FROM ce GROUP BY cell, dim),
      cents AS (
        SELECT cell, list_transform(list(c ORDER BY dim), y -> y::FLOAT) AS cv
        FROM cd GROUP BY cell),
      prb AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        WHERE vec_id < 50),
      pc AS (
        SELECT query_id, cell FROM (
          SELECT p.query_id, c.cell,
            row_number() OVER (PARTITION BY p.query_id
              ORDER BY ${Similarity.cosineSql("p.qv", "c.cv")} DESC, c.cell)
              AS crn
          FROM prb p CROSS JOIN cents c) z
        WHERE crn <= $MultiProbe),
      sc AS (
        SELECT pc.query_id, v2.vec_id AS cand_id,
          ${Similarity.cosineSql("p.qv", "v2.embedding")} AS cos
        FROM pc
        JOIN prb p ON p.query_id = pc.query_id
        JOIN akv v2 ON v2.cell = pc.cell
        WHERE v2.vec_id <> pc.query_id)"""

  def annKmeansSql: String = s"""
      WITH akm AS (SELECT vec_id, cell FROM
        (${Similarity.kmeansLloydSql("embeddings", KmK, KmRounds)}) q),
      akv AS (
        SELECT e.vec_id, e.embedding, k.cell
        FROM embeddings e JOIN akm k ON e.vec_id = k.vec_id)
      SELECT query_id, cell, rnk, cand_id, cos FROM
        (${Similarity.ivfTopKSql("akv", "cell", "vec_id < 50", IvfK)}) q
      ORDER BY query_id, rnk"""

  def embCentroids(spark: SparkSession, dir: String): DataFrame =
    Similarity.centroids(embs(spark, dir), "label")
      .orderBy("cell", "dim")

  /** Nearest-centroid cell assignment (one Lloyd step) — the k-means side
    * of IVF, making q40's cells computed rather than fixture-given. */
  def ivfAssign(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfAssign(embs(spark, dir), "label")
      .orderBy("vec_id")

  /** Multimodal metadata over binary content (the real imageio decode is
    * the mapPartitions stage — see Multimodal.decodeImages; this is the
    * expression-level plumbing that needs no decoder). */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.withMetadata(
      Multimodal.asMediaTable(docs(spark, dir), "doc_id", "text"))
      .select(col("media_id"), col("byte_len"), col("header_hex"),
        col("content_md5"), array_join(col("frame_sample"), ":").as("frames"))
      .orderBy("media_id")

  /** Spearman rank correlation between document length (tokens) and
    * quality score, per language — does the quality signal just re-rank
    * by length? Rank correlation is the distribution-free way to ask, and
    * with strict ranks (row_number, doc_id tiebreak — documented variant
    * of tie-averaged Spearman) every intermediate is an INTEGER: rank
    * differences, their squares, and Σd² are exact in int64, so
    * ρ = 1 − 6Σd²/(n(n²−1)) is one identical-double expression at the
    * end — no fp accumulation anywhere. Two keyed window sorts + one
    * tiny aggregate; each language ranks independently at any scale. */
  def rankCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val tokens = tokenCount("text").cast("double")
    val punctR = punctCount("text").cast("double") / length(col("text"))
    val stopR = lexiconHits("text", EnglishStopwords).cast("double") / tokens
    val score = dround(
      least(tokens / 100.0, lit(1.0)) * 0.4 + (lit(1.0) - punctR) * 0.3 + stopR * 0.3, 6)
    val wx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("x"), col("doc_id"))
    val wy = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("y"), col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        tokenCount("text").as("x"), score.as("y"))
      .withColumn("rx", row_number().over(wx).cast("long"))
      .withColumn("ry", row_number().over(wy).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("rx") - col("ry")) * (col("rx") - col("ry"))).as("sd2"))
      .select(col("lang"), col("n_docs"),
        dround(lit(1.0) - (lit(6.0) * col("sd2")) /
          (col("n_docs") * (col("n_docs") * col("n_docs") - 1)), 6)
          .as("spearman"))
      .orderBy("lang")
  }

  /** Int8 embedding quantization: symmetric per-vector scale
    * (max|x|/127), quantize-round-clamp, and reconstruction-error metrics
    * (max abs error, MSE, saturated-lane count) — the 4× storage/bandwidth
    * reduction step before ANN serving. Pure codegen'd array expressions
    * (transform/zip_with/aggregate) over one scan, no shuffle; every
    * arithmetic step is float→double then identical IEEE ops in both
    * engines, so even the quantized lanes are oracle-exact. */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val quant = "transform(e, x -> least(greatest(round(x / scale), -127.0D), 127.0D))"
    embs(spark, dir)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS e")
      .selectExpr("vec_id", "e",
        "array_max(transform(e, x -> abs(x))) AS amax")
      .selectExpr("vec_id", "e",
        "CASE WHEN amax = 0.0D THEN 1.0D ELSE amax / 127.0D END AS scale")
      .selectExpr("vec_id", "e", "scale", s"$quant AS qv")
      .select(col("vec_id"),
        dround(col("scale"), 8).as("scale"),
        expr("CAST(size(filter(qv, v -> abs(v) = 127.0D)) AS INT)").as("n_saturated"),
        dround(expr(
          "array_max(zip_with(e, qv, (x, q) -> abs(x - q * scale)))"), 8)
          .as("max_abs_err"),
        dround(expr(
          "aggregate(zip_with(e, qv, (x, q) -> (x - q * scale) * (x - q * scale)), " +
            "CAST(0.0 AS DOUBLE), (a, v) -> a + v) / size(e)"), 10).as("mse"))
      .orderBy("vec_id")
  }

  /** Array higher-order functions over embeddings (transform/filter/
    * aggregate/zip_with coverage with exact outputs). */
  def arrayOps(spark: SparkSession, dir: String): DataFrame =
    embs(spark, dir).select(
      col("vec_id"),
      size(col("embedding")).as("dim"),
      expr("CAST(size(filter(embedding, x -> x > 0)) AS INT)").as("n_pos"),
      dround(expr(
        "aggregate(transform(embedding, x -> CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (a, v) -> a + v)"), 6)
        .as("sum_elems"),
      dround(expr("CAST(array_max(embedding) AS DOUBLE)"), 6).as("max_elem"),
      dround(expr("CAST(array_min(embedding) AS DOUBLE)"), 6).as("min_elem"))
      .orderBy("vec_id")

  // ---------------------------------------------------------------- q138
  /** BPE-ish token-count estimate — the budget number every packing /
    * mixture / pricing decision needs BEFORE a real tokenizer runs:
    * split into GPT-2-style pieces (letter runs | single digits |
    * single punctuation — whitespace never tokenizes), then estimate
    * subwords as ⌈len/4⌉ per letter run (the "~4 chars per BPE token"
    * rule of thumb) and 1 per digit/punct piece. Pure string ops on an
    * ASCII-safe regex whose alternation resolves identically under
    * Java's leftmost-first and RE2's leftmost-longest (the letter-run
    * branch IS the longest match), so the counts hash-match exactly.
    * One projection, codegen'd, no UDF. */
  val BpePieceRe = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"

  def bpeTokens(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir).createOrReplaceTempView("documents")
    spark.sql(s"""
      WITH p AS (
        SELECT doc_id,
          regexp_extract_all(text, '$BpePieceRe', 0) AS pieces
        FROM documents)
      SELECT doc_id,
        CAST(size(pieces) AS BIGINT) AS n_pieces,
        CAST(aggregate(
          transform(pieces, x -> CAST(ceil(length(x) / 4.0) AS BIGINT)),
          CAST(0 AS BIGINT), (a, x) -> a + x) AS BIGINT) AS n_subtokens
      FROM p ORDER BY doc_id""")
  }

  def bpeTokensSql: String = s"""
    WITH p AS (
      SELECT doc_id,
        regexp_extract_all(text, '$BpePieceRe') AS pieces
      FROM documents)
    SELECT doc_id,
      CAST(len(pieces) AS BIGINT) AS n_pieces,
      CAST(coalesce(list_sum(
        list_transform(pieces, x -> CAST(ceil(length(x) / 4.0) AS BIGINT))),
        0) AS BIGINT) AS n_subtokens
    FROM p ORDER BY doc_id"""

  // ---------------------------------------------------------------- q139
  /** Per-source corpus card — the dataset-documentation aggregate every
    * training-mixture decision reads: document and character volume,
    * mean quality (the q31 composite, decimal-bridged through the
    * order-free average), English share, and the exact within-source
    * duplicate rate (1 − distinct fingerprints / docs — md5 is
    * cross-engine identical). One hash aggregate over one scan; output
    * is O(|sources|) at any corpus size. */
  def sourceReport(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).groupBy(col("source")).agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(length(col("text"))).cast("long").as("total_chars"),
        davg(qualityCol, 6).as("mean_quality"),
        dround(sum(when(col("lang") === "en", 1).otherwise(0)).cast("double") /
          count(lit(1)), 6).as("en_share"),
        dround(lit(1.0) - countDistinct(md5(col("text"))).cast("double") /
          count(lit(1)), 6).as("dup_rate"))
      .orderBy("source")

  def sourceReportSql: String = s"""
    SELECT source,
      CAST(count(1) AS BIGINT) AS n_docs,
      CAST(sum(length(text)) AS BIGINT) AS total_chars,
      ${avgSql(qualitySql, 6)} AS mean_quality,
      ${droundSql(
        "CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)" +
          " / count(1)", 6)} AS en_share,
      ${droundSql(
        "1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(1)",
        6)} AS dup_rate
    FROM documents GROUP BY source ORDER BY source"""

  // ---------------------------------------------------------------- q140
  /** Query-level media decode: render one REAL 8×8 grayscale PNG per
    * embedding row (64 dims → pixel bytes, encoded with JDK imageio
    * inside the same per-partition batch contract production ingest
    * uses), then run [[Multimodal.decodeImages]] over the bytes and
    * report dimensions + channel means. Self-contained on purpose: the
    * fixture corpus carries no image column, and synthesizing the PNGs
    * in-query exercises the encode AND decode halves of the codec path
    * on every row.
    *
    * Fully oracle-gated: pixels are written as RAW raster samples
    * (`setSample`, not `setRGB` — which would route through an
    * sRGB→gray colorspace conversion and destroy the arithmetic
    * identity), PNG is lossless, and the decode side reads raw raster
    * bands, so `mean_luma` is a pure double-arithmetic function of the
    * embedding that DuckDB replicates bit-for-bit: pixel v_i =
    * clamp(floor(e_i*127+128+0.5), 0, 255), mean = Σv / (64·255). */
  /** Render side of the media fixture: every rendered image is
    * [[ImgSide]]×[[ImgSide]] gray, and q223's oracle derives its frame
    * list and row-slice width from the SAME constant, so a dimension
    * change can never leave the oracle silently stale. */
  private[operators] val ImgSide = 8

  /** Render each embedding row as a REAL 8×8 gray PNG via raw raster
    * writes (q140's lossless contract) — the shared media fixture for
    * the codec queries (q140 decode, q155 perceptual hash). */
  private[operators] def renderMedia(spark: SparkSession, dir: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(Multimodal.mediaSchema)
    val side = ImgSide // local copy: the closure must not drag the object
    embs(spark, dir).select(col("vec_id"), col("embedding"))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val id = r.getLong(0)
          val e = r.getSeq[Float](1)
          val img = new java.awt.image.BufferedImage(
            side, side, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val ras = img.getRaster
          var i = 0
          while (i < side * side) {
            val v = if (i < e.length)
              math.max(0, math.min(255,
                math.floor(e(i).toDouble * 127.0 + 128.0 + 0.5).toInt))
            else 0
            ras.setSample(i % side, i / side, 0, v)
            i += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          val b = bos.toByteArray
          org.apache.spark.sql.Row(id, b, "image/png", b.length)
        }
      }(enc)
  }

  // ---------------------------------------------------------------- q156
  /** Vocabulary coverage ladder — the tokenizer-engineering readout:
    * for each min-count threshold k, how many distinct words survive a
    * "drop words seen < k times" vocabulary cut, and what share of ALL
    * token occurrences they still cover. The Zipf shape of the answer
    * (tiny vocab ⇒ still-high coverage) is what justifies truncated
    * vocabularies. Deliberately RANK-FREE: thresholding on the count
    * needs only one explode + one hash agg + ONE conditional-aggregation
    * pass over the vocab (all thresholds in one scan, unpivoted after) —
    * no global sort of a 100M-row vocabulary anywhere. Exact integers
    * until the final share. */
  val VocabMinCounts = Seq(1, 2, 4, 8, 16, 32, 64, 128)
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir).createOrReplaceTempView("documents")
    val aggs = VocabMinCounts.map(k =>
      s"CAST(count(CASE WHEN c >= $k THEN 1 END) AS BIGINT) AS v$k, " +
      s"CAST(coalesce(sum(CASE WHEN c >= $k THEN c END), 0) AS BIGINT) AS s$k")
      .mkString(", ")
    val stack = VocabMinCounts.map(k => s"$k, v$k, s$k").mkString(", ")
    spark.sql(s"""
      WITH cnt AS (
        SELECT term, count(1) AS c
        FROM (SELECT explode(${wordsExpr("text")}) AS term FROM documents)
        GROUP BY term),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM cnt),
      agg AS (SELECT $aggs FROM cnt),
      u AS (
        SELECT stack(${VocabMinCounts.length}, $stack)
          AS (min_count, vocab_size, covered_tokens)
        FROM agg)
      SELECT min_count, vocab_size, covered_tokens,
        ${droundSql(
          "CAST(covered_tokens AS DOUBLE) / CAST(total AS DOUBLE)", 6)}
          AS coverage
      FROM u CROSS JOIN tot
      ORDER BY min_count""")
  }

  def vocabCoverageSql: String = {
    val ks = VocabMinCounts.map(k => s"($k)").mkString(",")
    s"""
      WITH cnt AS (
        SELECT term, count(*) AS c
        FROM (SELECT unnest(${wordsSql("text")}) AS term FROM documents)
        GROUP BY term),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM cnt),
      ks(min_count) AS (VALUES $ks),
      agg AS (
        SELECT k.min_count,
          (count(*) FILTER (WHERE c >= k.min_count))::BIGINT AS vocab_size,
          coalesce(sum(c) FILTER (WHERE c >= k.min_count), 0)::BIGINT
            AS covered_tokens
        FROM cnt CROSS JOIN ks k GROUP BY k.min_count)
      SELECT min_count, vocab_size, covered_tokens,
        ${droundSql("covered_tokens::DOUBLE / total::DOUBLE", 6)} AS coverage
      FROM agg CROSS JOIN tot
      ORDER BY min_count"""
  }

  // ---------------------------------------------------------------- q157
  /** Near-dup cluster size histogram — the dedup health readout (a spike
    * of large clusters means template spam or a mirror dump; a corpus of
    * pairs-only means organic duplication): connected components over
    * the q144 AT-REST pair table rolled up to (cluster size →
    * n_clusters, n_docs). Output is O(max cluster size) rows at any
    * corpus scale, and the expensive leg (the pair table) is read from
    * the warehouse, not recomputed. */
  def dupClusterSizes(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(lshPairsAtRest(spark, dir))
      .groupBy(col("component")).agg(count(lit(1)).as("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("size"), col("n_clusters"),
        (col("size") * col("n_clusters")).as("n_docs"))
      .orderBy("size")

  def dupClusterSizesSql: String = s"""
    WITH comp AS (${Dedup.componentsSql(
      Dedup.minhashLshPairsSql("documents", "doc_id", "text",
        WordShingleN, MinhashK, MinhashBands, MinhashTau, "id_a, id_b"),
      "doc_id")}),
    cs AS (SELECT component, count(*) AS size FROM comp GROUP BY component)
    SELECT size::BIGINT AS size, count(*)::BIGINT AS n_clusters,
      (size * count(*))::BIGINT AS n_docs
    FROM cs GROUP BY size ORDER BY size"""

  // ---------------------------------------------------------------- q155
  /** Perceptual-hash near-dup detection over REAL decoded pixels — the
    * multimodal mirror of q36's SimHash text dedup: render → PNG →
    * decode → 63-bit aHash ([[Multimodal.aHashes]], raw raster reads) →
    * pigeonhole-blocked Hamming self-join (the same guaranteed-recall
    * block machinery as SimHash, [[Dedup.simhashPairsFromSigs]]). A
    * byte hash breaks on any re-encode; the perceptual hash survives
    * re-encodes and small edits, which is what image dedup needs. The
    * oracle needs no codec: q140 proves the decoded pixels are pure
    * arithmetic over the embedding, so DuckDB replays pixel → luma →
    * threshold → hash → all-pairs bit_count exactly — the hash match
    * certifies both the codec path and the blocking's zero recall loss.
    * Note the honest scale caveat: at maxHamming 16 on 63 bits the
    * pigeonhole blocks are 3-4 bits wide, so block selectivity carries
    * less than at q36's production-shaped threshold (3 over 60 bits) —
    * real image corpora cluster, which is what makes the blocks pay. */
  val PhashMaxHamming = 16
  def phashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sigs = Multimodal.aHashes(spark, renderMedia(spark, dir))
      .filter(col("decode_ok"))
      .select(col("media_id").as("id"), col("phash").as("sig"))
      .transform(graft.core.EngineCache.persisted)
    Dedup.simhashPairsFromSigs(sigs, PhashMaxHamming, sigBits = 63)
      .orderBy("id_a", "id_b")
  }

  def phashPairsSql: String = s"""
    WITH px AS (
      SELECT vec_id, list_transform(embedding, x ->
        LEAST(255, GREATEST(0,
          CAST(floor(CAST(x AS DOUBLE) * 127.0 + 128.0 + 0.5) AS BIGINT)))) AS p
      FROM embeddings),
    st AS (SELECT vec_id, p, list_sum(p) AS s FROM px),
    ph AS (
      SELECT vec_id,
        CAST(coalesce(list_sum(list_transform(range(1, 64), i ->
          CASE WHEN 64 * p[i] > s THEN (1::BIGINT << (i - 1))
               ELSE 0 END)), 0) AS BIGINT) AS phash
      FROM st)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
    FROM ph a JOIN ph b ON a.vec_id < b.vec_id
    WHERE bit_count(xor(a.phash, b.phash)) <= $PhashMaxHamming
    ORDER BY id_a, id_b"""

  def mediaDecode(spark: SparkSession, dir: String): DataFrame = {
    Multimodal.decodeImages(spark, renderMedia(spark, dir))
      .select(col("media_id").as("vec_id"), col("decode_ok"),
        col("width"), col("height"), col("channels"),
        dround(element_at(col("features"), 4).cast("double"), 6).as("mean_luma"))
      .orderBy("vec_id")
  }

  /** DuckDB twin of [[mediaDecode]]: the PNG round-trip is lossless and
    * the decode reads raw samples, so the expected output is plain
    * arithmetic over the embedding — no image codec needed. The cast
    * chain (DOUBLE division → FLOAT → DOUBLE → dround) mirrors the
    * Spark side's exact-integer-sum / FloatType-features / dround path. */
  def mediaDecodeSql: String = s"""
    SELECT vec_id,
      true AS decode_ok,
      8 AS width, 8 AS height, 1 AS channels,
      ${droundSql(
        "CAST(CAST(CAST(list_sum(list_transform(embedding, x -> " +
          "LEAST(255, GREATEST(0, CAST(floor(CAST(x AS DOUBLE) * 127.0" +
          " + 128.0 + 0.5) AS INTEGER))))) AS DOUBLE) / 16320.0" +
          " AS FLOAT) AS DOUBLE)", 6)} AS mean_luma
    FROM embeddings ORDER BY vec_id"""

  // ---------------------------------------------------------------- q223
  /** Frame sampling + per-frame features over real decoded media — the
    * VIDEO verb of the multimodal family (decode → stride-sample
    * frames → per-frame feature rows), spelled on the fixture's stills
    * with pixel rows standing in for frames ([[Multimodal.frameSamples]];
    * a real video codec drops into the same mapPartitions loop). Every
    * [[FrameStride]]-th frame emits its mean luma from exact integer
    * band sums with ONE double divide, so the oracle replays the
    * pipeline as pure arithmetic over the embedding slices — no codec,
    * the q140/q155 discipline. The explode shape (media × sampled
    * frames) is the schema contract a frame-level dedup or captioning
    * stage consumes downstream. */
  val FrameStride = 2

  def frameSample(spark: SparkSession, dir: String): DataFrame =
    Multimodal.frameSamples(spark, renderMedia(spark, dir), FrameStride)
      .select(col("media_id").as("vec_id"), col("frame_idx"),
        dround(col("frame_mean").cast("double"), 6).as("frame_mean"))
      .orderBy("vec_id", "frame_idx")

  def frameSampleSql: String = {
    val clamp = "LEAST(255, GREATEST(0, CAST(floor(CAST(x AS DOUBLE) " +
      "* 127.0 + 128.0 + 0.5) AS BIGINT)))"
    // frame list, slice width, and luma divisor all DERIVE from
    // FrameStride and the shared render shape [[ImgSide]]: changing
    // either constant updates engine and oracle together
    val frames = (0 until ImgSide by FrameStride).mkString(", ")
    val s = ImgSide
    s"""
    WITH f AS (SELECT unnest([$frames])::INT AS frame_idx),
    m AS (
      SELECT e.vec_id, f.frame_idx,
        CAST(CAST(CAST(list_sum(list_transform(
          e.embedding[f.frame_idx * $s + 1 : f.frame_idx * $s + $s],
          x -> $clamp)) AS DOUBLE) / ${s * 255}.0 AS FLOAT) AS DOUBLE) AS fm
      FROM embeddings e CROSS JOIN f)
    SELECT vec_id, frame_idx, ${droundSql("fm", 6)} AS frame_mean
    FROM m ORDER BY vec_id, frame_idx"""
  }

  // ---------------------------------------------------------------- q272
  /** AUDIO decode + waveform triage — the audio verb of the multimodal
    * family, completing image (q140) / video-frame (q223) / audio: a
    * GENUINE RIFF/WAVE PCM16 container is synthesized per document from
    * a deterministic integer waveform ([[Multimodal.synthSamples]] —
    * the fixture has no audio corpus, so arithmetic stands in for
    * recordings exactly as utf-8 bytes stand in for image payloads
    * elsewhere), a cohort (media_id ≡ 0 mod
    * [[Multimodal.AudioCorruptMod]]) ships TRUNCATED mid-header, and
    * the feature stage decodes the bytes back through a chunk-walking
    * WAV parser — magics, PCM/mono/16-bit validation, corrupt bytes
    * flowing through as decode_ok = false rows, never task failures.
    * Features are exact integers of the decoded samples: peak |s|
    * (clipping), Σ|s| (silence), sign-change count (activity) — the
    * triage columns an audio corpus runs before any model sees it.
    * Because the container round-trip is lossless and spec-proven
    * against the JDK's own `AudioSystem` reader, the ORACLE replays
    * the waveform definition as pure arithmetic — no codec, the
    * q140/q223 derived-oracle discipline. One mapPartitions pass each
    * way, O(samples) per row, no shuffle. */
  def audioDecode(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    Multimodal.audioFeatures(Multimodal.audioTable(
        graft.core.Tables.load(spark, dir, "documents")
          .select(col("doc_id").as("media_id"))))
      .orderBy("media_id")
  }

  def audioDecodeSql: String = {
    val m = Multimodal.AudioCorruptMod
    s"""
    WITH ids AS (SELECT doc_id AS media_id FROM documents),
    k AS (SELECT media_id, CAST(256 + media_id % 256 AS BIGINT) AS n
          FROM ids),
    s AS (SELECT media_id, n, unnest(range(0, n))::BIGINT AS i FROM k),
    v AS (
      SELECT media_id, n, i,
        ((media_id * 31 + i * 17) % 4096) - 2048 AS s0,
        CASE WHEN i > 0
             THEN ((media_id * 31 + (i - 1) * 17) % 4096) - 2048 END AS sp
      FROM s)
    SELECT media_id,
      (media_id % $m <> 0) AS decode_ok,
      CAST(CASE WHEN media_id % $m = 0 THEN 0
           ELSE ${Multimodal.AudioRate} END AS INTEGER) AS sample_rate,
      CAST(CASE WHEN media_id % $m = 0 THEN 0 ELSE max(n) END AS INTEGER)
        AS n_samples,
      CAST(CASE WHEN media_id % $m = 0 THEN 0 ELSE max(abs(s0)) END
        AS BIGINT) AS peak_abs,
      CAST(CASE WHEN media_id % $m = 0 THEN 0 ELSE sum(abs(s0)) END
        AS BIGINT) AS sum_abs,
      CAST(CASE WHEN media_id % $m = 0 THEN 0
           ELSE sum(CASE WHEN i > 0 AND ((s0 >= 0) <> (sp >= 0))
                    THEN 1 ELSE 0 END) END AS BIGINT) AS zero_cross
    FROM v GROUP BY media_id ORDER BY media_id"""
  }

  // ---------------------------------------------------------------- q293
  /** Weighted sampling WITHOUT replacement, exact-K per language
    * (Efraimidis & Spirakis 2006) — the PPS-WOR member completing the
    * sampler family: q49 draws Bernoulli (no size control), q196 draws
    * systematically WITH multiplicity (a giant doc appears several
    * times), this draws K DISTINCT docs per stratum with inclusion
    * probability ∝ token count — the audit sample ("show me 8
    * representative docs per language, long docs proportionally
    * likely, no repeats") every corpus review starts from. RNG-free:
    * the ES key u^(1/w) orders identically to ln(u)/w, so each doc
    * computes s9 = floor(ln(u6/1e6)/w · 1e9 + 0.5) from u6 =
    * seeded-xhash mod 1e6 + 1 ∈ [1, 1e6] — one BIGINT both engines
    * grid identically (|s9| ≤ 1.4e10 < 2⁵³, exact as a double) — and
    * the per-language top-[[EsK]] by (s9 DESC, doc_id) IS the ES
    * sample. Scale shape: the selection rides q39's bounded top-k
    * `Aggregator` (map-side partials: the shuffle carries
    * O(langs × partitions × K) rows, never a per-language corpus
    * sort — the row_number spelling the oracle uses is the proof, not
    * the plan), and token counts re-attach to the O(langs × K) winners
    * by one broadcast join. */
  val EsK = 8

  private def esScoreSql(u6: String, w: String): String =
    s"CAST(floor(ln(CAST($u6 AS DOUBLE) / 1e6) / CAST($w AS DOUBLE)" +
      s" * 1e9 + 0.5) AS BIGINT)"

  def esSample(spark: SparkSession, dir: String): DataFrame =
    esSampleOf(spark, docs(spark, dir))

  private[graft] def esSampleOf(spark: SparkSession, docsF: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bcast}
    // toks > 0 guard BEFORE the s9 divide: the current tokenCount never
    // returns 0 (split of "" yields [""], so empty docs weigh 1), but a
    // future 0 would divide to ±Inf/NaN that Spark casts to a BIGINT
    // while DuckDB errors — a latent engine divergence. Zero-weight
    // docs are unsampleable by definition; drop them in BOTH engines.
    val scored = docsF.select(col("doc_id"), col("lang"),
      TextFunctions.tokenCount("text").as("toks"))
      .filter(col("toks") > 0)
      .withColumn("u6",
        xhash(concat(lit("es:"), col("doc_id").cast("string"))) % 1000000 + 1)
      .withColumn("s9", expr(esScoreSql("u6", "toks")))
    val top = scored.groupBy("lang")
      .agg(graft.functions.VectorAggregates.topKOf(EsK,
        col("s9").cast("double"), col("doc_id")).as("win"))
      .select(col("lang"), posexplode(col("win")).as(Seq("pos", "w")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rk"),
        col("w.cand_id").as("doc_id"))
    scored.select(col("doc_id"), col("toks"))
      .join(bcast(top), "doc_id")
      .select(col("lang"), col("rk"), col("doc_id"),
        col("toks").cast("long").as("n_tokens"))
      .orderBy("lang", "rk")
  }

  def esSampleSql: String = s"""
    WITH d AS (
      SELECT doc_id, lang, ${tokenCountSql("text")} AS toks,
        (${xhashSql("'es:' || doc_id::VARCHAR")} % 1000000 + 1) AS u6
      FROM documents),
    s AS (
      SELECT doc_id, lang, toks,
        ${esScoreSql("u6", "toks")} AS s9
      FROM d WHERE toks > 0),
    r AS (
      SELECT lang, doc_id, toks,
        row_number() OVER (PARTITION BY lang
          ORDER BY s9 DESC, doc_id) AS rk
      FROM s)
    SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id,
      CAST(toks AS BIGINT) AS n_tokens
    FROM r WHERE rk <= $EsK ORDER BY lang, rk"""

  // ---------------------------------------------------------------- q196
  /** Systematic probability-proportional-to-size (PPS) corpus sampling
    * — "draw exactly K documents with inclusion probability ∝ token
    * count", the subsample primitive behind every corpus-scale study
    * (quality eyeballing, contamination spot checks, eval-set carving,
    * scaling-law subcorpora) where uniform-by-doc sampling would
    * under-represent long documents' tokens. Classic systematic
    * sampling made RNG-free and integer-exact: documents are laid on a
    * line in hash-permuted order (okey = xhash(doc_id) — the random
    * shuffle, reproducible from ids alone), each occupying its token
    * count in length; a fixed grid of [[PpsK]] points at step =
    * ⌊total/K⌋ is dropped on the line, and a document is drawn once
    * per grid point inside its interval: n_copies =
    * min(K, ⌊(before+w)/step⌋) − min(K, ⌊before/step⌋). Exactly K
    * draws always; a doc longer than the step is drawn ≥1 time with
    * certainty (multiplicity = its systematic share) — the
    * variance-killing property random-with-replacement lacks.
    *
    * The interval layout is the [[DistributedRank.rankAndScanWithin]]
    * distributed prefix sum (q185's machinery: per-bucket exact int64
    * sums + driver offsets, never a single-partition window), so the
    * pass is one scan + one keyed window at any corpus size, and the
    * oracle's `SUM OVER (ORDER BY)` spelling hash-proves the rewrite.
    * Output: the O(K) sample with multiplicities and the exact
    * expected inclusion count n_copies ≈ K·w/total (reported 6dp). */
  val PpsK = 64

  def ppsSample(spark: SparkSession, dir: String): DataFrame =
    ppsSampleOf(docs(spark, dir))

  def ppsSampleOf(docsF: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bcast}
    val base = docsF
      .selectExpr("doc_id", "source",
        s"CAST(size(${wordsExpr("text")}) AS BIGINT) AS w",
        xhashExpr("concat('pps:', CAST(doc_id AS STRING))") + " AS okey")
      .withColumn("g", lit(0))
    val laid = DistributedRank.rankAndScanWithin(
      base, "g", "pos", "before", "w", "okey", desc = false,
      col("okey"), col("doc_id"))
    val tot = base.agg(sum(col("w")).as("tot"))
    // loud precondition rather than a divergent div-by-zero: a corpus
    // with fewer total tokens than grid points cannot support K draws
    val totV = Option(tot.head().get(0)).map(_.toString.toLong).getOrElse(0L)
    require(totV >= PpsK,
      s"ppsSample: corpus has $totV weighted tokens < K=$PpsK grid points")
    laid.crossJoin(bcast(tot))
      .selectExpr("doc_id", "source", "w", "before", "tot",
        s"least($PpsK, (before + w) div (tot div $PpsK)) - " +
          s"least($PpsK, before div (tot div $PpsK)) AS n_copies")
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("source"), col("w").as("n_tokens"),
        col("n_copies"),
        dround(col("w").cast("double") * PpsK / col("tot").cast("double"), 6)
          .as("expect_copies"))
      .orderBy("doc_id")
  }

  def ppsSampleSql: String = s"""
    WITH base AS (
      SELECT doc_id, source,
        CAST(len(${wordsSql("text")}) AS BIGINT) AS w,
        ${xhashSql("'pps:' || doc_id")} AS okey
      FROM documents),
    laid AS (
      SELECT doc_id, source, w,
        CAST(coalesce(sum(w) OVER (ORDER BY okey, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS BIGINT) AS before,
        CAST(sum(w) OVER () AS BIGINT) AS tot
      FROM base),
    drawn AS (
      SELECT doc_id, source, w, tot,
        least($PpsK, (before + w) // (tot // $PpsK)) -
          least($PpsK, before // (tot // $PpsK)) AS n_copies
      FROM laid)
    SELECT doc_id, source, w AS n_tokens,
      CAST(n_copies AS BIGINT) AS n_copies,
      ${droundSql(s"w::DOUBLE * $PpsK / tot::DOUBLE", 6)} AS expect_copies
    FROM drawn WHERE n_copies >= 1
    ORDER BY doc_id"""

  // ---------------------------------------------------------------- q244
  /** CLUSTER-BALANCED sampling — the embedding-space complement of the
    * metadata-keyed samplers (q49 stratifies by source, q55 by quota,
    * q196 by token mass): k-means cells (q84's Lloyd machinery, same
    * K/rounds) define the strata, and a fixed per-cell quota of
    * [[CbsPerCell]] vectors is drawn by deterministic hash rank — the
    * prototype-based diversity selection of Sorscher et al. 2022
    * ("Beyond neural scaling laws": cluster, then sample evenly across
    * clusters) that flattens cluster-size skew: a dominant mode
    * contributes the same quota as a rare one, which is the point —
    * uniform sampling would spend the budget on the head mode. RNG-free
    * and replayable from ids alone (the q196 discipline): within-cell
    * order is xhash('cbs:' || vec_id) with a vec_id tiebreak. Output
    * carries each cell's population so the skew being flattened is
    * visible in the row. Scale: the clustering is q84's
    * broadcast-centroid scan (the corpus never shuffles); the draw is
    * one CELL-KEYED window — never a global order — and the result is
    * O(K·quota). The oracle replays clustering AND draw, so the hash
    * match covers the composition. */
  val CbsPerCell = 5

  def clusterBalancedSample(spark: SparkSession, dir: String): DataFrame =
    clusterQuotaOf(graft.llm.Similarity
      .kmeansLloyd(embs(spark, dir), KmK, KmRounds)
      .select(col("vec_id"), col("cell")), CbsPerCell)

  /** The quota draw over an arbitrary (vec_id, cell) assignment — the
    * spec entry point. */
  private[graft] def clusterQuotaOf(asg: DataFrame, quota: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cell").orderBy(col("hr"), col("vec_id"))
    asg.withColumn("hr",
        expr(xhashExpr("concat('cbs:', CAST(vec_id AS STRING))")))
      .withColumn("rk", row_number().over(w).cast("int"))
      .withColumn("n_cell",
        count(lit(1)).over(Window.partitionBy("cell")))
      .filter(col("rk") <= quota)
      .select(col("cell").cast("long").as("cell"), col("n_cell"),
        col("vec_id"), col("rk"))
      .orderBy("cell", "rk")
  }

  def clusterBalancedSampleSql: String = s"""
    WITH asg AS (
      SELECT vec_id, cell FROM (
        ${graft.llm.Similarity.kmeansLloydSql("embeddings", KmK, KmRounds)}) z),
    r AS (
      SELECT vec_id, cell,
        row_number() OVER (PARTITION BY cell
          ORDER BY ${xhashSql("'cbs:' || vec_id::VARCHAR")}, vec_id) AS rk,
        count(*) OVER (PARTITION BY cell) AS n_cell
      FROM asg)
    SELECT cell::BIGINT AS cell, n_cell::BIGINT AS n_cell, vec_id, rk::INT AS rk
    FROM r WHERE rk <= $CbsPerCell
    ORDER BY cell, rk"""

  // ---------------------------------------------------------------- q253
  /** SemDeDup — SEMANTIC deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): the dedup family's embedding-space member, and a
    * genuinely different notion of "duplicate" from the lexical family
    * (MinHash q35, SimHash q36, grams q37) — paraphrases and
    * re-renderings that share no tokens but say the same thing.
    * Mechanics are the paper's: k-means clusters the corpus (q84's
    * Lloyd, same K/rounds/seeding), pairwise cosine runs ONLY within a
    * cell, pairs ≥ [[SemTau]] form duplicate groups (connected
    * components over the τ-graph — cell-local by construction, since
    * edges never cross cells), and each group KEEPS exactly its
    * lowest-centroid-similarity member (the paper's keep-the-outlier
    * choice: prototypical members are the redundant ones; ties break
    * to the lower vec_id), dropping the rest. Output: every duplicate-
    * group member with its cell, group label, 6dp centroid cosine, and
    * kept flag.
    *
    * Scale: the quadratic term is PER-CELL — the corpus-sized work is
    * Lloyd's broadcast-centroid scans plus one equi-join on cell
    * (shuffle-partitioned by cell, AQE-splittable on a skewed cell; at
    * 100 TB you raise K so cell populations stay bounded, exactly how
    * the paper runs web-scale). The τ-graph and its components are
    * O(duplicates), not O(corpus), and the keeper draw is one window
    * over group members. The ORACLE replays clustering, τ-graph, and
    * the recursive-CTE closure verbatim — the hash match covers the
    * whole composition, q244-style. */
  val SemTau = 0.40

  def semDedup(spark: SparkSession, dir: String): DataFrame =
    semDedupOf(embs(spark, dir), KmK, KmRounds, SemTau)

  /** The full pipeline over an arbitrary (vec_id, embedding) corpus —
    * the spec entry point. */
  private[graft] def semDedupOf(vecs: DataFrame, k: Int, rounds: Int,
                                tau: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val S = graft.llm.Similarity
    val asg = S.kmeansLloyd(vecs, k, rounds) // (vec_id, cell, cos) 6dp
      .transform(graft.core.EngineCache.persisted)
    val withVec = asg.select(col("vec_id"), col("cell"), col("cos"))
      .join(vecs.select(col("vec_id"), col("embedding")), "vec_id")
      .transform(graft.core.EngineCache.persisted)
    val pairs = withVec.select(col("vec_id").as("id_a"), col("cell"),
        col("embedding").as("ea"))
      .join(withVec.select(col("vec_id").as("id_b"), col("cell"),
        col("embedding").as("eb")), Seq("cell"))
      .filter(col("id_a") < col("id_b") &&
        expr(s"${S.cosineExpr("ea", "eb")} >= $tau"))
      .select(col("id_a"), col("id_b"))
    val comp = graft.llm.Dedup.connectedComponents(pairs)
      .toDF("vec_id", "grp")
    val w = Window.partitionBy("grp").orderBy(col("cent_cos"), col("vec_id"))
    comp.join(withVec.select(col("vec_id"), col("cell"),
        col("cos").as("cent_cos")), "vec_id")
      .withColumn("kept", row_number().over(w) === 1)
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("grp"), col("cent_cos"), col("kept"))
      .orderBy("vec_id")
  }

  // wv/edges MATERIALIZED (DuckDB): wv embeds the full Lloyd's rounds
  // subquery and is referenced three times (both prs sides + ranked);
  // edges feeds every step of the recursive reach — inlined, the
  // k-means re-runs per recursion round.
  def semDedupSql: String = s"""
    WITH RECURSIVE wv AS MATERIALIZED (
      SELECT z.vec_id, z.cell, z.cos, e.embedding
      FROM (${graft.llm.Similarity.kmeansLloydSql("embeddings", KmK, KmRounds)}) z
      JOIN embeddings e ON z.vec_id = e.vec_id),
    prs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM wv a JOIN wv b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE ${graft.llm.Similarity.cosineSql("a.embedding", "b.embedding")}
        >= $SemTau),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM prs
      UNION ALL SELECT id_b, id_a FROM prs),
    reach(id, label) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON r.id = e.src),
    comp AS (SELECT id AS vec_id, min(label) AS grp FROM reach GROUP BY id),
    ranked AS (
      SELECT c.vec_id, w.cell, c.grp, w.cos AS cent_cos,
        row_number() OVER (PARTITION BY c.grp
          ORDER BY w.cos, c.vec_id) AS rn
      FROM comp c JOIN wv w ON c.vec_id = w.vec_id)
    SELECT vec_id, cell::BIGINT AS cell, grp, cent_cos, (rn = 1) AS kept
    FROM ranked ORDER BY vec_id"""

}
