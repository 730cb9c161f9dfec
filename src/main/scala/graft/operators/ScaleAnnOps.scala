package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, expr, lit, max, min, row_number, sum}
import graft.core.Determinism._
import graft.core.Tables
import graft.functions.TextFunctions._

/** SRP-LSH band geometry for the NSW skeleton: `bands` keys of
  * `bitsPerBand` bits each, packed into ONE 64-bit `srp_sig` word
  * (bits = bands·bitsPerBand ≤ 60 — the srp_sig/simhash int64-oracle
  * ceiling). [[NswGeometry.frozen]] is the registry constant the
  * q261–q279 DuckDB oracles spell verbatim (60 bits / 10 bands = 64
  * buckets per band); [[NswGeometry.forCorpus]] is the PRODUCTION
  * knob the maintenance-verb cost story depends on: buckets per band
  * grow with the corpus so expected bucket population stays bounded
  * (≈ [[NswGeometry.TargetBucketPop]]), which is exactly the condition
  * under which a fixed-size append batch touches O(batch) buckets and
  * the band-mate trigger marks O(batch·pop) base nodes affected —
  * never the corpus. The hyperplane family is indexed by bit position
  * ([[graft.functions.HashKernels.srpSigns]] seeds plane i from
  * "hp i:d"), so a narrower geometry's signature is a bit-prefix of a
  * wider one — geometries differ only in how the same sign stream is
  * cut into band keys.
  *
  * One honest cap: a single sig word exhausts at
  * [[NswGeometry.MaxBitsPerBand]] bits per band (2^15 buckets with the
  * 4-band floor). Past ~2^15·pop ≈ 260k vectors per geometry word the
  * production continuation is additional seeded sig words (the
  * md5_i64-prefix seeded-family pattern), not wider words; the law
  * spec asserts the bound holds to the cap and names the cap. */
final case class NswGeometry(bitsPerBand: Int, bands: Int) {
  require(bitsPerBand >= 1 && bands >= 1 && bitsPerBand * bands <= 60,
    s"geometry $bitsPerBand bits x $bands bands must pack into 60 sig bits")
  def bits: Int = bitsPerBand * bands
  def bucketsPerBand: Long = 1L << bitsPerBand
  /** Expected bucket population for an n-vector corpus under the
    * uniform-hash model — the quantity [[NswGeometry.forCorpus]]
    * bounds and the geometry spec asserts. */
  def expectedBucketPop(n: Long): Double = n.toDouble / bucketsPerBand
}

object NswGeometry {
  /** The registry/oracle constant: 60 bits / 10 bands — identical to
    * [[LlmQueries.SrpBits]]/[[LlmQueries.SrpBands]], asserted in spec. */
  val frozen: NswGeometry = NswGeometry(6, 10)
  /** Target expected bucket population for [[forCorpus]]. */
  val TargetBucketPop = 8
  /** Single-sig-word ceiling: 15 bits/band × the 4-band floor = 60. */
  val MaxBitsPerBand = 15
  private def log2ceil(x: Double): Int =
    math.ceil(math.log(x) / math.log(2.0)).toInt
  /** Size buckets to the corpus: smallest bitsPerBand whose 2^b buckets
    * keep expected population ≤ targetPop (floored at the frozen 6 so
    * small corpora reproduce the registry geometry bit-for-bit, capped
    * at [[MaxBitsPerBand]] by the sig word); bands then take what is
    * left of the 60-bit word, floored at 4 (recall needs several
    * independent collision chances) and capped at the frozen 10. */
  def forCorpus(n: Long, targetPop: Int = TargetBucketPop): NswGeometry = {
    val needed = log2ceil(math.max(1.0, n.toDouble / targetPop))
    val bpb = math.max(6, math.min(MaxBitsPerBand, needed))
    NswGeometry(bpb, math.max(4, math.min(10, 60 / bpb)))
  }
}

/** The PQ / ANN / embedding-spectral block, split from [[ScaleOps]]:
  * the parameterized Lloyd codebook and PQ encode (q105), ADC search
  * (q107), the five-leg recall audit (q169), power-iteration PCA and
  * deflation (q170/q181), ABTT (q172), IVF-PQ search/serve/append
  * (q119/q146/q151), two-stage retrieve-then-rerank (q193), the JL
  * audit (q153), drift matrix (q154) and attribution (q106). */
private[graft] trait ScaleAnnOps { this: ScaleOps.type =>

  // ---------------------------------------------------------------- q105
  /** Product-quantization encode — the IVF-PQ building block: split the
    * 64-dim embedding into [[PqM]] × [[PqSub]]-dim subspaces; per
    * subspace, assign each vector to its nearest of [[PqK]] centroids
    * (codebook = deterministic-seed k-means, [[PqRounds]] Lloyd
    * iterations per subspace — the production IVF-PQ shape). Output is one
    * (vec_id, m, code) row per subspace — 64 floats compress to PqM
    * codes, the 16×-compression memory story that makes billion-vector
    * ANN fit a cluster. The codebook is O(K·dim) and broadcasts; the
    * corpus is scanned once and never shuffled (argmin is a bounded
    * window over PqK rows per vector×subspace). L2² distances are
    * half-up-bridged to a 1e-6 grid before the argmin; ties break by
    * centroid id (q38/q39 precedent for cross-engine fold equality). */
  /** Shared PQ pipeline through per-(vector, subspace, centroid)
    * distances `d` and the argmin ranking `r` — q105 (encode), q107
    * (ADC search) and q119 (IVF-PQ) all build on this. Spark dialect.
    *
    * The codebook is a REAL per-subspace k-means: seeds are the PqK
    * smallest vec_ids' subvectors (deterministic init), then
    * [[PqRounds]] Lloyd iterations (assign by d6-bridged L2², ties by
    * cid; update = per-dim decimal-bridged mean, q84's proven
    * cross-engine fold) refine them. A centroid that loses all members
    * simply drops out of the next round — same set in both engines.
    * The codebook CTEs are O(PqK·PqM·PqSub) and broadcast; the corpus
    * is scanned once per assign round (at 100 TB the codebook build
    * runs on a SAMPLE — the fixture corpus is already sample-sized). */
  val PqRounds = 2 // Lloyd iterations refining the seed codebook

  /** Per-dim mean with the decimal bridge (Determinism.davg's SQL twin,
    * Spark spelling): exact decimal sum → double → half-up 1e-8 grid. */
  private[operators] def davgSparkSql(x: String): String =
    s"floor((CAST(sum(CAST(CAST(($x) AS DOUBLE) AS DECIMAL(30,8))) AS DOUBLE)" +
      s" / count($x)) * 1e8 + 0.5) / 1e8"

  /** `ms` + `sub` CTE bodies shared by the codebook rounds and the final
    * encode: one subvector row per (vector, subspace). The geometry is
    * parameterized — (PqM, PqSub, PqK) is the default audit-sized
    * codebook; q193's retrieval stage passes its finer production
    * geometry through the same machinery. */
  private[operators] def pqSubSqlP(m: Int, sub: Int): String =
    s"""ms AS (SELECT explode(sequence(0, ${m - 1})) AS m),
    sub AS (
      SELECT vec_id, m, slice(embedding, m * $sub + 1, $sub) AS v
      FROM embeddings CROSS JOIN ms)"""

  /** The Lloyd codebook, built ROUND BY ROUND with a driver-side
    * materialization barrier between iterations.
    *
    * The naive spelling — one WITH chain `c0 → a1 → c1 → a2 → c2` handed
    * to Spark whole — is quadratic-to-exponential in plan size: Spark
    * INLINES multiply-referenced CTEs, and every round references both
    * `sub` and the entire previous round's subtree twice (assign join +
    * update join), so each added iteration re-expands everything before
    * it. At 2 rounds that plan ran ~40× slower than the seed-only
    * codebook (27 s for a 2 000 × 64-float fixture). The codebook itself
    * is PqK×PqM rows, so the scalable shape is: run ONE flat
    * assign+update query per round against the previous round's
    * materialized (collected, re-registered) codebook — each round is a
    * bounded scan of `sub`, plan depth constant in `rounds`. Arithmetic
    * is byte-identical to the inline spelling (same SQL expressions,
    * decimal-bridged means, d6 grid, cid tiebreaks), so the oracle's
    * inline CTE chain still folds to the same codebook. At 100 TB the
    * build runs on a sample; the collect is K·M centroid rows, never
    * corpus-sized. */
  /** Codebook rows memoized by (fixture dir, rounds): q105/q107/q119 all
    * need the IDENTICAL codebook over the same embeddings table, and the
    * build is a multi-job driver loop — recomputing it per query tripled
    * the PQ family's cost. The fixture dirs are immutable (read-only
    * testdata / unique temp dirs), so the key is sound. K·M rows per
    * entry — memory-trivial. */
  private[operators] val pqCbCache =
    scala.collection.concurrent.TrieMap
      .empty[(String, Int, Int, Int, Int), Array[org.apache.spark.sql.Row]]

  private[operators] def pqCodebook(spark: SparkSession, dir: String, rounds: Int,
                         m: Int = PqM, sub: Int = PqSub,
                         k: Int = PqK): DataFrame = {
    import org.apache.spark.sql.types._
    val cbSchema = StructType(Seq(
      StructField("cid", IntegerType), StructField("m", IntegerType),
      StructField("c", ArrayType(FloatType))))
    // Double-checked under the class monitor: Verify launches q105/q107/
    // q119 on concurrent workers, and an unguarded first call would
    // stampede three identical multi-job builds through the session at
    // once (observed starving a neighboring query past its watchdog).
    // The build is driver-coordinated and quick; serializing first-build
    // is cheaper than duplicating it.
    def cached = pqCbCache.get((dir, rounds, m, sub, k))
    val rows = cached.getOrElse(synchronized {
      cached.getOrElse(pqCodebookBuild(spark, rounds, m, sub, k))
    })
    pqCbCache.put((dir, rounds, m, sub, k), rows)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), cbSchema)
  }

  private[operators] def pqCodebookBuild(spark: SparkSession, rounds: Int,
                              m: Int, sub: Int,
                              k: Int): Array[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.types._
    val cbSchema = StructType(Seq(
      StructField("cid", IntegerType), StructField("m", IntegerType),
      StructField("c", ArrayType(FloatType))))
    // Temp views are session-global and Verify runs queries on concurrent
    // worker threads; a shared view name would let one query's round-1
    // cents stomp another's mid-iteration. Thread-scoped names make each
    // worker's build race-free without any locking.
    val centsView = s"graft_pq_cents_t${Thread.currentThread().getId}"
    var cents = spark.sql(
      s"""WITH seeds AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid,
               embedding
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $k)),
      ms AS (SELECT explode(sequence(0, ${m - 1})) AS m)
      SELECT cid, m, slice(embedding, m * $sub + 1, $sub) AS c
      FROM seeds CROSS JOIN ms""").collect()
    for (_ <- 1 to rounds) {
      spark.createDataFrame(
        spark.sparkContext.parallelize(cents.toIndexedSeq, 1), cbSchema)
        .createOrReplaceTempView(centsView)
      cents = spark.sql(
        s"""WITH ${pqSubSqlP(m, sub)},
        a_d AS (
          SELECT s.vec_id, s.m, c.cid,
            CAST(floor(l2_sq(s.v, c.c) * 1e6 + 0.5) AS BIGINT) AS d6
          FROM sub s JOIN $centsView c ON s.m = c.m),
        a AS (
          SELECT vec_id, m, cid FROM (
            SELECT vec_id, m, cid,
              row_number() OVER (PARTITION BY vec_id, m ORDER BY d6, cid) AS rn
            FROM a_d) WHERE rn = 1),
        e AS (
          SELECT a.m, a.cid, posexplode(s.v) AS (dim, x)
          FROM a JOIN sub s ON a.vec_id = s.vec_id AND a.m = s.m),
        e_d AS (
          SELECT m, cid, dim, ${davgSparkSql("x")} AS c
          FROM e GROUP BY m, cid, dim)
        SELECT cid, m,
          transform(array_sort(collect_list(struct(dim, c))),
            s -> CAST(s.c AS FLOAT)) AS c
        FROM e_d GROUP BY cid, m""").collect()
    }
    cents
  }

  /** Register the materialized `rounds`-iteration codebook as `csub` and
    * return the flat base CTEs (`sub` → `d` → `r`) every PQ query tails
    * onto. Plan depth no longer depends on `rounds`. */
  private[operators] def pqFlatBase(spark: SparkSession, dir: String,
                         rounds: Int = PqRounds, m: Int = PqM,
                         sub: Int = PqSub, k: Int = PqK): String = {
    val cbView =
      s"graft_pq_codebook_${m}_${k}_t${Thread.currentThread().getId}"
    pqCodebook(spark, dir, rounds, m, sub, k).createOrReplaceTempView(cbView)
    s"""${pqSubSqlP(m, sub)},
    csub AS (SELECT cid, m, c FROM $cbView),
    d AS (
      SELECT s.vec_id, s.m, c.cid,
        CAST(floor(l2_sq(s.v, c.c) * 1e6 + 0.5) AS BIGINT) AS d6
      FROM sub s JOIN csub c ON s.m = c.m),
    r AS (
      SELECT vec_id, m, cid, d6,
        row_number() OVER (PARTITION BY vec_id, m ORDER BY d6, cid) AS rn
      FROM d)"""
  }

  /** [[pqFlatBase]] with the corpus scan RESTRICTED by `where` — the
    * incremental-index building block: encoding a new batch (or just
    * the probe set) touches only qualifying rows, with the filter
    * pushed into the embedding scan. The codebook stays the memoized
    * frozen one — exactly the production contract, where the codebook
    * is trained once and an arriving batch must never shift it. */
  private[operators] def pqFlatBaseWhere(spark: SparkSession, dir: String,
                              where: String,
                              rounds: Int = PqRounds, m: Int = PqM,
                              sub: Int = PqSub, k: Int = PqK): String =
    pqFlatBaseOver(spark, dir, "embeddings", where, rounds, m, sub, k)

  /** The PQ base over an arbitrary `(vec_id, embedding)` source view —
    * the further generalization streaming ingest needs: a micro-batch
    * frame is not a predicate over the corpus table, it is its own
    * (tiny) relation, and only IT gets scanned. */
  private[operators] def pqFlatBaseOver(spark: SparkSession, dir: String,
                             srcView: String, where: String,
                             rounds: Int = PqRounds, m: Int = PqM,
                             sub: Int = PqSub, k: Int = PqK): String = {
    val cbView =
      s"graft_pq_codebook_${m}_${k}_t${Thread.currentThread().getId}"
    pqCodebook(spark, dir, rounds, m, sub, k).createOrReplaceTempView(cbView)
    s"""ms AS (SELECT explode(sequence(0, ${m - 1})) AS m),
    sub AS (
      SELECT vec_id, m, slice(embedding, m * $sub + 1, $sub) AS v
      FROM $srcView CROSS JOIN ms WHERE $where),
    csub AS (SELECT cid, m, c FROM $cbView),
    d AS (
      SELECT s.vec_id, s.m, c.cid,
        CAST(floor(l2_sq(s.v, c.c) * 1e6 + 0.5) AS BIGINT) AS d6
      FROM sub s JOIN csub c ON s.m = c.m),
    r AS (
      SELECT vec_id, m, cid, d6,
        row_number() OVER (PARTITION BY vec_id, m ORDER BY d6, cid) AS rn
      FROM d)"""
  }

  private[operators] def pqSparkSql(spark: SparkSession, dir: String): String = s"""
    WITH ${pqFlatBase(spark, dir)}
    SELECT vec_id, m, cid AS code, CAST(d6 AS DOUBLE) / 1e6 AS dist
    FROM r WHERE rn = 1
    ORDER BY vec_id, m"""

  /** DuckDB dialect of the PQ base (inline CTE spelling) (unnest/list-slice forms), same
    * seed + [[PqRounds]]-iteration Lloyd codebook, fold-for-fold. */
  private[operators] def pqBaseOracle: String =
    pqBaseOracleP(PqM, PqSub, PqK, PqRounds)

  /** `encSrc` splits the codebook's TRAINING source (always the
    * original `embeddings` — the frozen-codebook contract) from the
    * relation whose rows get ENCODED by the final assignment: q236's
    * update oracle encodes an updated corpus against the unchanged
    * codebook, exactly what the engine's memoized-codebook path does.
    * The default leaves every existing oracle byte-compatible. */
  private[operators] def pqBaseOracleP(m: Int, sub: Int, k: Int,
                            rounds: Int,
                            encSrc: String = "embeddings"): String = {
    def l2d6(v: String, c: String) =
      s"""CAST(floor(list_sum(list_transform(range(1, ${sub + 1}),
          i -> (($v)[i]::DOUBLE - ($c)[i]::DOUBLE) *
               (($v)[i]::DOUBLE - ($c)[i]::DOUBLE))) * 1e6 + 0.5)
          AS BIGINT)"""
    def assign(cents: String, name: String) = s""",
    ${name}_d AS (
      SELECT s.vec_id, s.m, c.cid, ${l2d6("s.v", "c.c")} AS d6
      FROM sub s JOIN $cents c ON s.m = c.m),
    $name AS (
      SELECT vec_id, m, cid FROM (
        SELECT vec_id, m, cid,
          row_number() OVER (PARTITION BY vec_id, m ORDER BY d6, cid) AS rn
        FROM ${name}_d) WHERE rn = 1)"""
    def update(assigned: String, name: String) = s""",
    ${name}_e AS (
      SELECT a.m, a.cid, (unnest(range(1, len(s.v) + 1)) - 1)::INT AS dim,
        unnest(s.v) AS x
      FROM $assigned a JOIN sub s ON a.vec_id = s.vec_id AND a.m = s.m),
    ${name}_d AS (
      SELECT m, cid, dim, ${graft.core.Determinism.avgSql("x::DOUBLE", 8)} AS c
      FROM ${name}_e GROUP BY m, cid, dim),
    $name AS (
      SELECT cid, m, list_transform(list(c ORDER BY dim), y -> y::FLOAT) AS c
      FROM ${name}_d GROUP BY cid, m)"""
    val lloyd = (1 to rounds)
      .map(i => assign(s"c${i - 1}", s"a$i") + update(s"a$i", s"c$i"))
      .mkString
    s"""ms AS (SELECT unnest(range(0, $m)) AS m),
    seeds AS (
      SELECT (row_number() OVER (ORDER BY vec_id))::INT - 1 AS cid, embedding
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $k)),
    sub AS (
      SELECT vec_id, m, embedding[m * $sub + 1 : m * $sub + $sub] AS v
      FROM embeddings CROSS JOIN ms),
    c0 AS (
      SELECT cid, m, embedding[m * $sub + 1 : m * $sub + $sub] AS c
      FROM seeds CROSS JOIN ms)$lloyd,
    csub AS (SELECT cid, m, c FROM c$rounds),
    sub_e AS (
      SELECT vec_id, m, embedding[m * $sub + 1 : m * $sub + $sub] AS v
      FROM $encSrc CROSS JOIN ms),
    d AS (
      SELECT s.vec_id, s.m, c.cid, ${l2d6("s.v", "c.c")} AS d6
      FROM sub_e s JOIN csub c ON s.m = c.m),
    r AS (
      SELECT vec_id, m, cid, d6,
        row_number() OVER (PARTITION BY vec_id, m ORDER BY d6, cid) AS rn
      FROM d)"""
  }

  private[operators] def pqOracleSql: String = s"""
    WITH $pqBaseOracle
    SELECT vec_id, m::INT AS m, cid AS code, d6::DOUBLE / 1e6 AS dist
    FROM r WHERE rn = 1
    ORDER BY vec_id, m"""

  def pqEncode(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("embeddings")
    spark.sql(pqSparkSql(spark, dir))
  }

  /** Mean quantization error (avg d6 of the winning assignment, in L2²
    * units) under a codebook refined by `rounds` Lloyd iterations;
    * rounds = 0 is the raw seed codebook. Spec hook proving the k-means
    * refinement actually lowers distortion. */
  def pqMeanError(spark: SparkSession, dir: String, rounds: Int): Double = {
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("embeddings")
    spark.sql(s"WITH ${pqFlatBase(spark, dir, rounds)} " +
      "SELECT avg(CAST(d6 AS DOUBLE)) / 1e6 AS e FROM r WHERE rn = 1")
      .head().getDouble(0)
  }

  // ---------------------------------------------------------------- q106
  /** Last-touch revenue attribution: each purchase's value is credited
    * to the user's most recent PRIOR non-purchase event type. The
    * carried "touch" is a lexicographically-ordered `lpad(epoch_ms)`
    * string max over a ROWS frame ending 1 PRECEDING — one window pass
    * per user partition, no self-join, and the string max is engine-
    * independent where a struct max would not be. Revenue sums as exact
    * integer cents (value bridged per-row before the order-
    * nondeterministic aggregation). The epoch is offset by the
    * year-0001 constant before lpad: a negative (pre-1970) epoch would
    * render with a '-' prefix and sort lexicographically WRONG — the
    * offset keeps every representable timestamp nonnegative so the
    * zero-padded string order equals the numeric order. */
  private[operators] def attributionSql(epochMs: String): String = s"""
    WITH t AS (
      SELECT event_id, user_id, ts, event_type, value,
        max(CASE WHEN event_type <> 'purchase'
              THEN lpad(CAST(($epochMs) + 62135596800000 AS STRING), 20, '0')
                || ':' || event_type
            END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      FROM events)
    SELECT substr(touch, 22) AS touch_type,
      count(1) AS n_purchases,
      CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        AS revenue_cents
    FROM t
    WHERE event_type = 'purchase' AND touch IS NOT NULL
    GROUP BY substr(touch, 22)
    ORDER BY touch_type"""

  def attribution(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    spark.sql(attributionSql("unix_millis(ts)"))
  }

  // ---------------------------------------------------------------- q250
  /** Markov removal-effect attribution (Anderl et al. 2014's
    * data-driven multi-touch model) — the causal-flavored complement
    * of q106's last-touch rule: user journeys (events up to the FIRST
    * purchase, ordered by (ts, event_id)) define a first-order Markov
    * chain over channel states with START/CONV/NULL absorbers;
    * P(conversion from START) comes from [[MarkovIters]] fixed rounds
    * of value iteration; the REMOVAL EFFECT of channel c re-runs the
    * iteration on the chain with c's outgoing rows dropped and edges
    * INTO c redirected to NULL (row totals preserved — the standard
    * removal semantics) and reports 1 − p_removed/p_full — "how much
    * conversion disappears if this channel vanishes", the number
    * last-touch structurally cannot produce (it over-credits closers).
    *
    * Exactness: transition probabilities are ratios of exact counts,
    * and every iteration step is PURE INTEGER arithmetic on a 1e-12
    * grid — term = (2·c·p_dst + total) div (2·total), i.e.
    * round(c·p_dst/total) — so both engines iterate bit-identical
    * BIGINTs and the final doubles are the same IEEE values. The
    * channel vocabulary is a declared constant (the q164 literal-query
    * discipline) GUARDED loudly against the data: an undeclared
    * channel would silently miss its removal row.
    *
    * Scale: the corpus-sized work is ONE window pass per user
    * partition + one hash agg to O(channels²) transition rows; the
    * iteration runs driver-side over that collected handful (≤ ~36
    * rows — the BPE-winner bounded-collect pattern), 5 variants ×
    * 12 rounds of arithmetic on a few integers. */
  val MarkovChannels = Seq("click", "error", "signup", "view")
  val MarkovIters = 12
  val MarkovGrid = 1000000000000L

  /** The journey → transition CTE chain (through `trans0`), shared by
    * the engine's count query and the oracle. */
  private def markovTransCtes(epochMs: String): String = s"""fp AS (
      SELECT user_id, min(($epochMs) * 100000 + event_id) AS pk
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    j AS (
      SELECT e.user_id, e.event_type,
        ($epochMs) * 100000 + e.event_id AS ok,
        fp.pk IS NOT NULL AS conv
      FROM events e LEFT JOIN fp ON e.user_id = fp.user_id
      WHERE e.event_type <> 'purchase'
        AND (fp.pk IS NULL OR ($epochMs) * 100000 + e.event_id < fp.pk)),
    seq AS (
      SELECT user_id, event_type AS s, conv,
        lead(event_type) OVER (PARTITION BY user_id ORDER BY ok) AS nxt,
        row_number() OVER (PARTITION BY user_id ORDER BY ok) AS rn
      FROM j),
    allu AS (
      SELECT u.user_id, fp.pk IS NOT NULL AS conv, f.s AS first_s
      FROM (SELECT DISTINCT user_id FROM events) u
      LEFT JOIN fp ON u.user_id = fp.user_id
      LEFT JOIN (SELECT user_id, s FROM seq WHERE rn = 1) f
        ON u.user_id = f.user_id),
    trans0 AS (
      SELECT 'START' AS src,
        CASE WHEN first_s IS NOT NULL THEN first_s
             WHEN conv THEN 'CONV' ELSE 'NULL' END AS dst
      FROM allu
      UNION ALL
      SELECT s AS src,
        coalesce(nxt, CASE WHEN conv THEN 'CONV' ELSE 'NULL' END) AS dst
      FROM seq)"""

  /** Driver-side integer value iteration over collected (src, dst, c)
    * rows; `removed` applies the removal rewrite first. Returns the
    * 1e-12-grid P(CONV | START). */
  private[graft] def markovPConv(tc: Seq[(String, String, Long)],
                          removed: Option[String]): Long = {
    val t = removed.fold(tc) { r =>
      tc.filter(_._1 != r)
        .map { case (s, d, c) => (s, if (d == r) "NULL" else d, c) }
        .groupBy(x => (x._1, x._2)).toSeq
        .map { case ((s, d), xs) => (s, d, xs.map(_._3).sum) }
    }
    val totals = t.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._3).sum }
    val transient = t.map(_._1).distinct
    var p = transient.map(_ -> 0L).toMap
    for (_ <- 1 to MarkovIters)
      p = transient.map { s =>
        val tot = totals(s)
        s -> t.filter(_._1 == s).map { case (_, d, c) =>
          val pd = d match {
            case "CONV" => MarkovGrid
            case "NULL" => 0L
            case x      => p.getOrElse(x, 0L)
          }
          (2L * c * pd + tot) / (2L * tot)
        }.sum
      }.toMap
    // an empty events table yields no transitions at all — START is
    // absent from the transient set and P(conv | START) is honestly 0,
    // not a NoSuchElementException
    p.getOrElse("START", 0L)
  }

  def markovAttribution(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    val tc = spark.sql(s"""
        WITH ${markovTransCtes("unix_millis(ts)")}
        SELECT src, dst, CAST(count(1) AS BIGINT) AS c
        FROM trans0 GROUP BY src, dst""").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // loud vocabulary guard: an undeclared channel would silently miss
    // its removal row (the bitmap rid-guard discipline)
    val observed = (tc.map(_._1) ++ tc.map(_._2)).distinct
      .filterNot(Set("START", "CONV", "NULL"))
    require(observed.forall(MarkovChannels.contains),
      s"undeclared channels ${observed.filterNot(MarkovChannels.contains)}" +
        s" — extend MarkovChannels or the removal sweep is incomplete")
    val pf = markovPConv(tc, None)
    // zero conversions ⇒ pf = 0 and every removal effect is 0/0: fail
    // loudly (the vocabulary-guard discipline) instead of emitting NaN
    // rows that poison downstream budget decisions
    require(pf > 0,
      "no conversions reach START (p_conv = 0) — removal effects are " +
        "undefined; attribution needs at least one converting journey")
    def d6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    // grid → 6dp probability: floor(p_grid/1e6 + 0.5)/1e6, the oracle's
    // exact spelling on the identical BIGINT
    def prob6(g: Long): Double = math.floor(g.toDouble / 1e6 + 0.5) / 1e6
    val rows = MarkovChannels.map { ch =>
      val pr = markovPConv(tc, Some(ch))
      (ch, prob6(pf), prob6(pr), d6(1.0 - pr.toDouble / pf.toDouble))
    }
    spark.createDataFrame(rows)
      .toDF("channel", "p_conv", "p_conv_removed", "removal_effect")
      .orderBy("channel")
  }

  /** The q250 oracle: identical transition build + the SAME integer
    * iteration unrolled as chained CTEs per removal variant. */
  private[operators] def markovAttributionSql: String = {
    def chain(tag: String, removed: Option[String]): (String, String) = {
      val head = removed.fold(
        s"""t_$tag AS (SELECT src, dst, c FROM tc),
        tt_$tag AS (SELECT src, CAST(sum(c) AS BIGINT) AS total FROM tc GROUP BY src)""") { r =>
        s"""t_$tag AS (
          SELECT src, CASE WHEN dst = '$r' THEN 'NULL' ELSE dst END AS dst,
            CAST(sum(c) AS BIGINT) AS c
          FROM tc WHERE src <> '$r' GROUP BY 1, 2),
        tt_$tag AS (SELECT src, CAST(sum(c) AS BIGINT) AS total
          FROM t_$tag GROUP BY src)"""
      }
      val iters = (1 to MarkovIters).map { k =>
        val pd = if (k == 1) "0" else "coalesce(p.p, 0)"
        val join = if (k == 1) ""
          else s"LEFT JOIN p_${tag}_${k - 1} p ON t.dst = p.src"
        s"""p_${tag}_$k AS (
          SELECT t.src,
            CAST(sum((2 * t.c * (CASE WHEN t.dst = 'CONV' THEN $MarkovGrid
                 WHEN t.dst = 'NULL' THEN 0 ELSE $pd END) + tt.total)
                // (2 * tt.total)) AS BIGINT) AS p
          FROM t_$tag t JOIN tt_$tag tt ON t.src = tt.src $join
          GROUP BY t.src)"""
      }
      ((head +: iters).mkString(",\n"), s"p_${tag}_$MarkovIters")
    }
    val (fullCtes, fullFinal) = chain("full", None)
    val variants = MarkovChannels.map(ch => ch -> chain(s"r_$ch", Some(ch)))
    val sel = MarkovChannels.map { ch =>
      val fin = variants.find(_._1 == ch).get._2._2
      s"""SELECT '$ch' AS channel,
        (SELECT p FROM $fullFinal WHERE src = 'START') AS pf,
        (SELECT p FROM $fin WHERE src = 'START') AS pr"""
    }.mkString(" UNION ALL ")
    // MATERIALIZED (DuckDB): seq feeds both allu (rn=1 firsts) and
    // trans0, and tc is referenced by t/tt in ALL five removal chains ×
    // 12 unrolled iterations — inlined, the events scan + windows
    // re-expand ~120×, which made this single oracle a third of the
    // whole 295-oracle compare (82.4 s measured at sf0.01; 2.0 s
    // materialized, rows identical).
    s"""WITH ${markovTransCtes("epoch_ms(ts)").replace("seq AS (", "seq AS MATERIALIZED (")},
    tc AS MATERIALIZED (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS c
      FROM trans0 GROUP BY src, dst),
    ${(fullCtes +: variants.map(_._2._1)).mkString(",\n")}
    SELECT channel,
      floor(pf::DOUBLE / 1e6 + 0.5) / 1e6 AS p_conv,
      floor(pr::DOUBLE / 1e6 + 0.5) / 1e6 AS p_conv_removed,
      floor((1.0 - pr::DOUBLE / pf::DOUBLE) * 1e6 + 0.5) / 1e6
        AS removal_effect
    FROM ($sel) u ORDER BY channel"""
  }

  // ---------------------------------------------------------------- q251
  /** Shapley-value attribution (Zhao et al. 2018, "Shapley Value
    * Methods for Attribution Modeling in Online Advertising") — the
    * other standard data-driven model beside q250's Markov chain, and
    * a genuinely different axiomatization: the Markov model asks "how
    * much conversion disappears if the channel vanishes from the
    * GRAPH"; Shapley asks "what is the channel's average marginal
    * contribution over every COALITION order". Worth function
    * v(S) = conversions from users whose touched-channel set ⊆ S
    * (monotone by construction); φ_c = Σ_{S ∌ c} |S|!(n−1−|S|)!/n! ·
    * (v(S∪c) − v(S)). With the declared 4-channel vocabulary every
    * weight is a multiple of 1/24, so φ·24 is an EXACT INTEGER — both
    * engines compute identical BIGINTs and only the final display
    * division is floating point. Efficiency (Σφ = v(all) − v(∅)) is
    * spec-pinned, and the share column normalizes by exactly that
    * difference. Scale: the corpus-sized work is one per-user hash agg
    * (channel bitmask OR + conversion flag) down to ≤ 2^n mask rows;
    * the 16-coalition sweep runs driver-side on that collected
    * handful, the q250 bounded-collect pattern. */
  def shapleyAttribution(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    val n = MarkovChannels.length
    val bitCase = MarkovChannels.zipWithIndex
      .map { case (c, i) => s"WHEN '$c' THEN ${1 << i}" }
      .mkString("CASE event_type ", " ", " ELSE 0 END")
    // loud vocabulary guard on the RAW journey event types (q250's
    // discipline): the bitCase below maps any undeclared channel to 0
    // BEFORE bit_or, so a post-CASE mask check can never fire — an
    // undeclared channel would silently vanish from Shapley credit
    val rogue = spark.sql(s"""
      WITH ${markovTransCtes("unix_millis(ts)")}
      SELECT DISTINCT event_type FROM j""").collect().map(_.getString(0))
      .filterNot(MarkovChannels.contains)
    require(rogue.isEmpty,
      s"undeclared channels ${rogue.toSeq} — extend MarkovChannels or " +
        "the coalition sweep is incomplete")
    val mrows = spark.sql(s"""
      WITH ${markovTransCtes("unix_millis(ts)")},
      um AS (
        SELECT user_id, CAST(bit_or($bitCase) AS INT) AS mask
        FROM j GROUP BY user_id),
      au AS (
        SELECT u.user_id, coalesce(um.mask, 0) AS mask,
          fp.pk IS NOT NULL AS conv
        FROM (SELECT DISTINCT user_id FROM events) u
        LEFT JOIN um ON u.user_id = um.user_id
        LEFT JOIN fp ON u.user_id = fp.user_id)
      SELECT mask, CAST(count(1) AS BIGINT) AS n_conv
      FROM au WHERE conv GROUP BY mask""").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    require(mrows.keys.forall(m => m >= 0 && m < (1 << n)),
      s"touched-set mask outside the declared channel space: " +
        s"${mrows.keys.filter(m => m < 0 || m >= (1 << n))} — extend " +
        "MarkovChannels or the coalition sweep is incomplete")
    val phi24 = shapleyPhi24(mrows)
    val sumPhi = phi24.map(_._2).sum // = 24·(v(all) − v(∅)), efficiency
    def d6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val rows = phi24.map { case (c, p) =>
      (c, d6(p.toDouble / 24.0),
        if (sumPhi == 0) 0.0 else d6(p.toDouble / sumPhi.toDouble))
    }
    spark.createDataFrame(rows)
      .toDF("channel", "shapley_conv", "share")
      .orderBy("channel")
  }

  /** Exact 24·φ per channel from (touched-mask → conversions) — the
    * spec entry point for the coalition arithmetic. */
  private[graft] def shapleyPhi24(mrows: Map[Int, Long]): Seq[(String, Long)] = {
    val n = MarkovChannels.length
    def v(s: Int): Long =
      mrows.collect { case (m, c) if (m & ~s) == 0 => c }.sum
    val fact = Array(1, 1, 2, 6, 24)
    def w24(k: Int): Long = (fact(k) * fact(n - 1 - k)).toLong // ×24/n!
    MarkovChannels.zipWithIndex.map { case (c, i) =>
      val b = 1 << i
      c -> (0 until (1 << n)).filter(s => (s & b) == 0)
        .map(s => w24(java.lang.Integer.bitCount(s)) * (v(s | b) - v(s)))
        .sum
    }
  }

  private[operators] def shapleyAttributionSql: String = {
    val n = MarkovChannels.length
    val bitCase = MarkovChannels.zipWithIndex
      .map { case (c, i) => s"WHEN '$c' THEN ${1 << i}" }
      .mkString("CASE event_type ", " ", " ELSE 0 END")
    val chanVals = MarkovChannels.zipWithIndex
      .map { case (c, i) => s"('$c', ${1 << i})" }.mkString(", ")
    s"""
    WITH ${markovTransCtes("epoch_ms(ts)")},
    um AS (
      SELECT user_id, CAST(bit_or($bitCase) AS INT) AS mask
      FROM j GROUP BY user_id),
    au AS (
      SELECT u.user_id, coalesce(um.mask, 0) AS mask,
        fp.pk IS NOT NULL AS conv
      FROM (SELECT DISTINCT user_id FROM events) u
      LEFT JOIN um ON u.user_id = um.user_id
      LEFT JOIN fp ON u.user_id = fp.user_id),
    cm AS (SELECT mask, count(*)::BIGINT AS n_conv
           FROM au WHERE conv GROUP BY mask),
    coal AS (SELECT unnest(range(0, ${1 << n})) AS s),
    v AS (
      SELECT coal.s, coalesce(sum(cm.n_conv), 0)::BIGINT AS v
      FROM coal LEFT JOIN cm ON (cm.mask & ~coal.s) = 0
      GROUP BY coal.s),
    ch(channel, b) AS (VALUES $chanVals),
    -- weights ×24: |S|!·(n−1−|S|)! for n = $n
    w(k, w24) AS (VALUES (0, 6), (1, 2), (2, 2), (3, 6)),
    phi AS (
      SELECT ch.channel,
        CAST(sum(w.w24 * (vb.v - vs.v)) AS BIGINT) AS phi24
      FROM ch JOIN coal ON (coal.s & ch.b) = 0
      JOIN w ON w.k = bit_count(coal.s::BIGINT)
      JOIN v vs ON vs.s = coal.s
      JOIN v vb ON vb.s = (coal.s | ch.b)
      GROUP BY ch.channel),
    tot AS (SELECT CAST(sum(phi24) AS BIGINT) AS sp FROM phi)
    SELECT channel,
      floor(phi24::DOUBLE / 24.0 * 1e6 + 0.5) / 1e6 AS shapley_conv,
      CASE WHEN tot.sp = 0 THEN 0.0
           ELSE floor(phi24::DOUBLE / tot.sp::DOUBLE * 1e6 + 0.5) / 1e6
      END AS share
    FROM phi CROSS JOIN tot ORDER BY channel"""
  }

  // ---------------------------------------------------------------- q107
  /** PQ ADC (asymmetric distance computation) top-k search — the query
    * side of IVF-PQ: probes keep their exact subvectors; the corpus is
    * represented ONLY by its PqM codes. Per probe, a PqM×PqK distance
    * table is computed once (it is `d` restricted to probe rows — tiny,
    * broadcastable); each corpus vector's approximate distance is then
    * PqM integer table lookups summed — no float math per corpus row at
    * all, which is exactly why ADC scans billions of codes fast. The
    * tail (codes ⋈ dtab → sum → rank) is dialect-neutral; only the PQ
    * base differs per engine. Integer d6 partials make the sum
    * order-independent; ties rank by vec_id. */
  private[operators] def pqAdcCtes: String = s""",
    codes AS (SELECT vec_id, m, cid AS code FROM r WHERE rn = 1),
    dtab AS (
      SELECT vec_id AS probe_id, m, cid, d6
      FROM d WHERE vec_id % $PqProbeMod = 0),
    adc AS (
      SELECT t.probe_id, c.vec_id, CAST(sum(t.d6) AS BIGINT) AS ad6
      FROM codes c JOIN dtab t ON c.m = t.m AND c.code = t.cid
      GROUP BY t.probe_id, c.vec_id),
    ranked AS (
      SELECT probe_id, vec_id, ad6,
        CAST(row_number() OVER (PARTITION BY probe_id
          ORDER BY ad6, vec_id) AS INT) AS rk
      FROM adc)"""

  private[operators] def pqAdcTail: String = s"""$pqAdcCtes
    SELECT probe_id, rk, vec_id, CAST(ad6 AS DOUBLE) / 1e6 AS adist
    FROM ranked WHERE rk <= $PqTopK
    ORDER BY probe_id, rk"""

  def pqAdcSearch(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("embeddings")
    spark.sql(s"WITH ${pqFlatBase(spark, dir)} $pqAdcTail")
  }

  // ---------------------------------------------------------------- q169
  /** ANN recall audit — q159's blocking-audit discipline applied to the
    * similarity leg: each approximate path is scored for recall@k
    * against ITS OWN exact metric on the same probes, so the number
    * isolates exactly what the approximation loses.
    *
    *  - `ivf_cell` (q40's blocking): cell-restricted cosine top-k vs
    *    unblocked brute-force cosine — measures the INVERTED-FILE loss
    *    (neighbors living in other cells), plus the scanned fraction
    *    ((cell−1)/(N−1) per probe) that blocking buys.
    *  - `pq_adc` (q107's compression): ADC ranking over PQ codes vs
    *    exact squared-L2 ranking (probe included, q107's convention) —
    *    measures the QUANTIZATION loss alone; scanned_frac is 1.0 (ADC
    *    reads every code, just 8 bytes instead of 256).
    *
    * recall@k = |approx ∩ exact| / (n_probes·k) on exact integers; the
    * exact-L2 d6 grid is q107's own bridge, so rank ties cannot split
    * across engines. This is the measurement that picks cell counts /
    * code budgets before anyone trusts an ANN index at 10⁹ vectors —
    * and on this fixture it does its job: class labels are a lousy
    * geometric cell (recall@3 ≈ 0.08 for ~10% of the scan), the
    * `ivf_kmeans` leg PROVES the fix — q84's learned Lloyd cells lift
    * recall to ≈ 0.40 at a comparable ≈ 0.13 scan fraction — the
    * `ivf_multiprobe` leg prices the production knob on top (nprobe=2:
    * recall ≈ 0.57 at ≈ 2× the scan, q179) — and the
    * deliberately tiny 4×8 code budget keeps only ≈ 0.26 of the exact
    * top-10 (PqK is sized for oracle replayability, not fidelity; the
    * audit is what would justify 256 centroids in production). */
  def annRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.llm.Similarity
    val vecs = Tables.load(spark, dir, "embeddings")
    val k1 = LlmQueries.IvfK
    val tid = Thread.currentThread().getId
    vecs.createOrReplaceTempView(s"graft_ara_vecs_t$tid")
    // r13: the temp views are LAZY plan aliases, and the assembly SQL
    // references the brute-force truth leg FIVE times (its own hit
    // count + the query count + the hit joins of the learned-cell,
    // multiprobe, and rerank legs) — unpersisted, the audit priced the
    // brute-force corpus scan 5x (round-start plan: 122 parquet scans).
    // The truth legs persist; they are O(|probes|·k) rows.
    graft.core.EngineCache.persisted(
      Similarity.bruteForceTopK(vecs, col("vec_id") < 50, k1)
        .select(col("query_id"), col("cand_id")))
      .createOrReplaceTempView(s"graft_ara_t1_t$tid")
    Similarity.ivfTopK(vecs, "label", col("vec_id") < 50, k1)
      .select(col("query_id"), col("cand_id"))
      .createOrReplaceTempView(s"graft_ara_i1_t$tid")
    // learned-cell leg: q84's Lloyd assignments as the inverted file
    val vk = vecs.select(col("vec_id"), col("embedding"))
      .join(Similarity.kmeansLloyd(vecs, LlmQueries.KmK, LlmQueries.KmRounds)
        .select(col("vec_id"), col("cell")), "vec_id")
      .transform(graft.core.EngineCache.persisted)
    vk.createOrReplaceTempView(s"graft_ara_vk_t$tid")
    Similarity.ivfTopK(vk, "cell", col("vec_id") < 50, k1)
      .select(col("query_id"), col("cand_id"))
      .createOrReplaceTempView(s"graft_ara_i3_t$tid")
    // nprobe>1 leg: q179's probed cells + results, same probes and k
    val (_, pcells, mpResults) = LlmQueries.annMultiprobeParts(spark, dir)
    pcells.createOrReplaceTempView(s"graft_ara_pc_t$tid")
    mpResults.select(col("query_id"), col("cand_id"))
      .createOrReplaceTempView(s"graft_ara_i4_t$tid")
    // exact-L2 truth for the ADC probes (self included, as ADC ranks it)
    val probes2 = vecs.filter(col("vec_id") % PqProbeMod === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("qv"))
    val corpus2 = vecs
      .select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    graft.core.EngineCache.persisted(
      broadcast(probes2).join(corpus2)
        .withColumn("nd6",
          expr("-CAST(floor(l2_sq(qv, cv) * 1e6 + 0.5) AS BIGINT)"))
        .transform(graft.functions.VectorAggregates
          .topKPerGroup(_, "probe_id", PqTopK, "nd6", "cand_id"))
        .select(col("probe_id").as("query_id"), col("cand_id")))
      .createOrReplaceTempView(s"graft_ara_t2_t$tid")
    pqAdcSearch(spark, dir)
      .select(col("probe_id").as("query_id"), col("vec_id").as("cand_id"))
      .createOrReplaceTempView(s"graft_ara_i2_t$tid")
    // two-stage leg: q193's retrieve-then-rerank results vs the same
    // brute-force truth — the row that shows the rerank composition
    // closing the quantization gap at a reported exact-scan fraction
    annRerank(spark, dir)
      .select(col("query_id"), col("cand_id"))
      .createOrReplaceTempView(s"graft_ara_i5_t$tid")
    spark.sql(annRecallAssembleSql(
      s"graft_ara_vecs_t$tid", s"graft_ara_t1_t$tid", s"graft_ara_i1_t$tid",
      s"graft_ara_t2_t$tid", s"graft_ara_i2_t$tid",
      s"graft_ara_vk_t$tid", s"graft_ara_i3_t$tid",
      s"graft_ara_pc_t$tid", s"graft_ara_i4_t$tid",
      s"graft_ara_i5_t$tid", k1))
  }

  /** The dialect-neutral audit assembly over seven relations;
    * `extraCtes` lets the oracle prepend the relation definitions. */
  private[operators] def annRecallAssembleSql(vecs: String, t1: String, i1: String,
                                   t2: String, i2: String,
                                   vk: String, i3: String,
                                   pc: String, i4: String,
                                   i5: String, k1: Int,
                                   extraCtes: String = ""): String = {
    def hits(t: String, i: String, name: String) = s"""
      $name AS (
        SELECT CAST(count(1) AS BIGINT) AS h
        FROM $t t JOIN $i i
          ON t.query_id = i.query_id AND t.cand_id = i.cand_id)"""
    def ivfRow(label: String, h: String, sc: String) = s"""
        SELECT '$label' AS method, n1.n AS n_probes, $k1 AS k,
          ${droundSql(
            s"CAST($h.h AS DOUBLE) / (CAST(n1.n AS DOUBLE) * $k1)", 6)}
            AS recall_at_k,
          ${droundSql(
            s"CAST($sc.s AS DOUBLE) / (CAST(n1.n AS DOUBLE) * " +
              "CAST(nv.nn - 1 AS DOUBLE))", 6)} AS scanned_frac
        FROM $h CROSS JOIN n1 CROSS JOIN $sc CROSS JOIN nv"""
    s"""
      WITH $extraCtes ${hits(t1, i1, "h1")},
      n1 AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n FROM $t1),
      cs AS (SELECT label, count(1) AS csz FROM $vecs GROUP BY label),
      sc1 AS (
        SELECT CAST(sum(csz - 1) AS BIGINT) AS s
        FROM (SELECT label FROM $vecs WHERE vec_id < 50) p
        JOIN cs ON p.label = cs.label),
      csk AS (SELECT cell, count(1) AS csz FROM $vk GROUP BY cell),
      sc3 AS (
        SELECT CAST(sum(csz - 1) AS BIGINT) AS s
        FROM (SELECT cell FROM $vk WHERE vec_id < 50) p
        JOIN csk ON p.cell = csk.cell),
      nv AS (SELECT CAST(count(1) AS BIGINT) AS nn FROM $vecs),
      ${hits(t2, i2, "h2").trim},
      n2 AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n FROM $t2),
      ${hits(t1, i3, "h3").trim},
      ${hits(t1, i4, "h4").trim},
      ${hits(t1, i5, "h5").trim},
      csk4 AS (SELECT cell, count(1) AS csz FROM $vk GROUP BY cell),
      sc4 AS (
        SELECT CAST(sum(k.csz) -
          sum(CASE WHEN o.cell IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS s
        FROM $pc p
        JOIN csk4 k ON p.cell = k.cell
        LEFT JOIN (SELECT vec_id, cell FROM $vk) o
          ON o.vec_id = p.query_id AND o.cell = p.cell)
      SELECT method, n_probes, k, recall_at_k, scanned_frac FROM (
        ${ivfRow("ivf_cell", "h1", "sc1")}
        UNION ALL
        ${ivfRow("ivf_kmeans", "h3", "sc3")}
        UNION ALL
        ${ivfRow("ivf_multiprobe", "h4", "sc4")}
        UNION ALL
        SELECT 'pq_adc' AS method, n2.n AS n_probes, $PqTopK AS k,
          ${droundSql(
            s"CAST(h2.h AS DOUBLE) / (CAST(n2.n AS DOUBLE) * $PqTopK)", 6)}
            AS recall_at_k,
          CAST(1.0 AS DOUBLE) AS scanned_frac
        FROM h2 CROSS JOIN n2
        UNION ALL
        -- scanned_frac here prices the FULL-PRECISION rows the rerank
        -- touches (the pool / corpus); the compressed-domain retrieve
        -- reads every 8-byte code, which the pq_adc row already prices
        SELECT 'rerank' AS method, n1.n AS n_probes, $k1 AS k,
          ${droundSql(
            s"CAST(h5.h AS DOUBLE) / (CAST(n1.n AS DOUBLE) * $k1)", 6)}
            AS recall_at_k,
          ${droundSql(
            s"CAST($RerankPool AS DOUBLE) / CAST(nv.nn - 1 AS DOUBLE)", 6)}
            AS scanned_frac
        FROM h5 CROSS JOIN n1 CROSS JOIN nv) u
      ORDER BY method"""
  }

  def annRecallAuditOracleSql: String = {
    import graft.llm.Similarity
    val k1 = LlmQueries.IvfK
    val l2full =
      """CAST(floor(list_sum(list_transform(range(1, len(qv) + 1),
         i -> (qv[i]::DOUBLE - cv[i]::DOUBLE) *
              (qv[i]::DOUBLE - cv[i]::DOUBLE))) * 1e6 + 0.5) AS BIGINT)"""
    val rel = s"""
      ara_vecs AS (SELECT vec_id, embedding, label FROM embeddings),
      ara_t1 AS (SELECT query_id, cand_id FROM
        (${Similarity.bruteForceTopKSql("embeddings", "vec_id < 50", k1)}) q),
      ara_i1 AS (SELECT query_id, cand_id FROM
        (${Similarity.ivfTopKSql("embeddings", "label", "vec_id < 50", k1)}) q),
      ara_p2 AS (
        SELECT vec_id AS probe_id, embedding AS qv FROM embeddings
        WHERE vec_id % $PqProbeMod = 0),
      ara_s2 AS (
        SELECT probe_id, e.vec_id AS cand_id, $l2full AS d6
        FROM ara_p2 CROSS JOIN
          (SELECT vec_id, embedding AS cv FROM embeddings) e),
      ara_t2 AS (
        SELECT probe_id AS query_id, cand_id FROM (
          SELECT probe_id, cand_id,
            row_number() OVER (PARTITION BY probe_id
              ORDER BY d6, cand_id) AS rk
          FROM ara_s2) r WHERE rk <= $PqTopK),
      ara_i2 AS (
        SELECT probe_id AS query_id, vec_id AS cand_id FROM
          (WITH $pqBaseOracle $pqAdcCtes
           SELECT probe_id, vec_id FROM ranked WHERE rk <= $PqTopK) q),
      ara_km AS (SELECT vec_id, cell FROM
        (${Similarity.kmeansLloydSql("embeddings", LlmQueries.KmK,
          LlmQueries.KmRounds)}) q),
      ara_vk AS (
        SELECT e.vec_id, e.embedding, k.cell
        FROM embeddings e JOIN ara_km k ON e.vec_id = k.vec_id),
      ara_i3 AS (SELECT query_id, cand_id FROM
        (${Similarity.ivfTopKSql("ara_vk", "cell", "vec_id < 50", k1)}) q),
      ara_pc AS (SELECT query_id, cell FROM
        (WITH ${LlmQueries.annMultiprobeCtes}
         SELECT query_id, cell FROM pc) q),
      ara_i4 AS (SELECT query_id, cand_id FROM
        (${LlmQueries.annMultiprobeSql}) q),
      ara_i5 AS (SELECT query_id, cand_id FROM
        ($annRerankOracleSql) q)"""
    annRecallAssembleSql(
      "ara_vecs", "ara_t1", "ara_i1", "ara_t2", "ara_i2",
      "ara_vk", "ara_i3", "ara_pc", "ara_i4", "ara_i5", k1, s"$rel,")
  }

  // ---------------------------------------------------------------- q170
  /** Dominant principal component of the embedding corpus by POWER
    * ITERATION — the spectral readout behind embedding-drift and
    * anisotropy monitoring (a collapsing embedding model concentrates
    * variance in one direction; `explained_frac` is that alarm):
    * center (exact-decimal per-dim means), then [[PcaRounds]] rounds of
    * v ← normalize(X'ᵀ(X'v)), Rayleigh quotient at the end. Engineered
    * like q163's GD for bit-identical cross-engine replay: the corpus
    * lives as an exploded (vec_id, dim, x) frame so every step is a
    * join + hash agg (no lambdas, ONE dialect for both engines); every
    * corpus-sized sum bridges per-term to a decimal grid (1e12 for the
    * per-vector projections, 1e9 for the per-dim gradient), so Spark's
    * partition-merge order cannot flake a bit. Per round: two hash
    * aggs over the persisted exploded frame with a broadcast 64-row v —
    * at 10⁹ vectors that is the distributed matvec, no dense matrix
    * anywhere. Output: per dim, the centered mean, the unit loading,
    * and the (repeated) component variance + explained fraction. */
  val PcaRounds = 3
  private[operators] def pcaBridge(e: String, grid: String): String =
    s"CAST(sum(CAST(floor(($e) * $grid + 0.5) AS DECIMAL(38,0))) AS DOUBLE)" +
      s" / $grid"

  /** Portable mean + centering CTEs over an exploded `xd(vec_id, dim,
    * x)`; the oracle inlines them, the Spark side materializes the same
    * strings as PERSISTED views (every iteration scans `xc` — persist
    * once, not once per stage). */
  private[operators] def pcaMuSql(xd: String): String = s"""
      SELECT dim,
        floor((CAST(sum(CAST(x AS DECIMAL(30,8))) AS DOUBLE) / count(x))
          * 1e8 + 0.5) / 1e8 AS mu
      FROM $xd GROUP BY dim"""
  private[operators] def pcaXcSql(xd: String, mu: String): String = s"""
      SELECT $xd.vec_id, $xd.dim, $xd.x - $mu.mu AS xc
      FROM $xd JOIN $mu ON $xd.dim = $mu.dim"""

  /** The PCA chain body; expects `xc(vec_id, dim, xc)` and `mu(dim,
    * mu)` relations in scope (engine-common given that). `prefixCtes`
    * lets the oracle inline xd/mu/xc; Spark passes "" and registers
    * views instead. */
  /** One power-iteration round's CTEs over centered relation `xcRel`;
    * `sfx` namespaces the CTE chain so two chains (q181's deflation)
    * can share a WITH. */
  private[operators] def pcaIterSql(xcRel: String, sfx: String, mat: String = "")
                        (t: Int): String = {
    val vp = s"v_$sfx${t - 1}"
    s"""
      s_$sfx$t AS $mat(
        SELECT c.vec_id, ${pcaBridge("c.xc * v.v", "1e12")} AS s
        FROM $xcRel c JOIN $vp v ON c.dim = v.dim
        GROUP BY c.vec_id),
      g_$sfx$t AS $mat(
        SELECT c.dim, ${pcaBridge("s.s * c.xc", "1e9")} AS g
        FROM $xcRel c JOIN s_$sfx$t s ON c.vec_id = s.vec_id
        GROUP BY c.dim),
      nrm_$sfx$t AS $mat(
        SELECT sqrt(${pcaBridge("g * g", "1e12")}) AS nrm FROM g_$sfx$t),
      v_$sfx$t AS $mat(
        SELECT dim, g / nrm AS v FROM g_$sfx$t CROSS JOIN nrm_$sfx$t)"""
  }

  /** v_{sfx}0 start + the [[PcaRounds]] iteration chain. `mat` is ""
    * (Spark, q170's inline chain) or "MATERIALIZED " (q181's DuckDB
    * oracle: without the hint DuckDB re-inlines each stage per
    * reference and the nested deflation chain re-executes
    * exponentially — observed >240 s at sf0.01 vs 0.5 s for q170). */
  private[operators] def pcaRoundsSql(xcRel: String, muR: String, sfx: String,
                           mat: String = ""): String = s"""
      v_$sfx${0} AS $mat(
        SELECT dim, 1.0 / sqrt(nd) AS v FROM $muR CROSS JOIN dims),
      ${(1 to PcaRounds).map(pcaIterSql(xcRel, sfx, mat)).mkString(",")}"""

  private[operators] def pcaChainSql(prefix: String, xcR: String, muR: String): String = {
    s"""
      WITH ${if (prefix.nonEmpty) s"$prefix," else ""}
      nn AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n FROM $xcR),
      dims AS (SELECT CAST(count(1) AS DOUBLE) AS nd FROM $muR),
      ${pcaRoundsSql(xcR, muR, "").trim},
      lam AS (
        SELECT ${pcaBridge("v.v * g.g", "1e9")} AS lam_raw
        FROM v_$PcaRounds v JOIN g_$PcaRounds g ON v.dim = g.dim),
      tv AS (
        SELECT ${pcaBridge("xc * xc", "1e9")} AS tvn FROM $xcR)
      SELECT v.dim, m.mu,
        ${droundSql("v.v", 6)} AS loading,
        ${droundSql("lam.lam_raw / CAST(nn.n AS DOUBLE)", 6)} AS pc_var,
        ${droundSql(
          "(lam.lam_raw / CAST(nn.n AS DOUBLE)) / (tv.tvn / CAST(nn.n AS DOUBLE))",
          6)} AS explained_frac
      FROM v_$PcaRounds v JOIN $muR m ON v.dim = m.dim
      CROSS JOIN lam CROSS JOIN tv CROSS JOIN nn
      ORDER BY v.dim"""
  }

  def embPca(spark: SparkSession, dir: String): DataFrame =
    embPcaOf(Tables.load(spark, dir, "embeddings"))

  /** [[embPca]] over an arbitrary (vec_id, embedding) frame — the spec
    * entry point (a planted dominant direction must be recovered).
    * Runs the power iteration through [[pcaChainRun]]'s driver-barrier
    * rounds (q181's shape): Spark inlines multiply-referenced CTEs, so
    * the single-WITH spelling re-executed each stage per reference —
    * measured 9 s at sf0.1 vs ~3 s barriered, same bits (the oracle
    * keeps the WITH; DuckDB materializes it fine at this depth). */
  def embPcaOf(vecs: DataFrame): DataFrame = {
    val (spark, xp, muV, _) = pcaViews(vecs, "pca")
    val (v, g) = pcaChainRun(spark, xp, muV, "pca", "a")
    spark.sql(s"""
      SELECT v.dim, m.mu,
        ${droundSql("v.v", 6)} AS loading,
        ${droundSql("lam.lam_raw / CAST(nn.n AS DOUBLE)", 6)} AS pc_var,
        ${droundSql(
          "(lam.lam_raw / CAST(nn.n AS DOUBLE)) / (tv.tvn / CAST(nn.n AS DOUBLE))",
          6)} AS explained_frac
      FROM $v v JOIN $muV m ON v.dim = m.dim
      CROSS JOIN (SELECT ${pcaBridge("v.v * g.g", "1e9")} AS lam_raw
                  FROM $v v JOIN $g g ON v.dim = g.dim) lam
      CROSS JOIN (SELECT ${packedTvSql(xp, "1e9")} AS tvn FROM $xp) tv
      CROSS JOIN (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n
                  FROM $xp) nn
      ORDER BY v.dim""")
  }

  // ------------- packed power-iteration plumbing (q170/q172/q181) ----
  // The centered frame stays ONE ROW PER VECTOR (vec_id, xc:
  // array<double>) instead of the exploded (vec_id, dim, x): with the
  // per-round direction v a 64-value ARRAY LITERAL, every bridged
  // reduction (projection s, gradient g, total variance, ‖xc‖²)
  // becomes an in-scan array expression over the packed cache — each
  // power-iteration round is ONE cache scan whose only exchange is the
  // 64-row final gradient aggregate, where the exploded spelling
  // shuffled the corpus twice per round (s's GROUP BY vec_id, then the
  // xc ⋈ s join) before the same 64-row aggregate (guide §2.1/§2.4:
  // the data never needed to move — a vector's projection derives from
  // its own row). Exactness: pcaBridge sums exact DECIMAL(38,0)
  // integers, so per-element floors summed in array order equal the
  // exploded sums bit-for-bit; the oracle keeps the exploded WITH and
  // the hash gate proves it. Precondition (unchanged from the exploded
  // spelling's GROUP BY semantics on real inputs): vec_id is a key.

  /** Exact double → SQL literal (Double.toString round-trips through
    * Double.parseDouble, which is what CAST(string AS DOUBLE) runs). */
  private def dlit(d: Double): String =
    s"CAST('${java.lang.Double.toString(d)}' AS DOUBLE)"

  /** (dim, value) rows → array literal indexed by dim (0-based).
    * Rows with a null dim/value are skipped (a dim whose mean is NULL
    * because every element was null) and an empty input yields the
    * empty literal — the exploded spelling returned an empty frame
    * gracefully in both cases, and the packed frame is empty too (its
    * filter drops null/empty embeddings), so the literal is never
    * evaluated against a row. */
  private def dimArrayLit(rows: Array[org.apache.spark.sql.Row]): String = {
    val vals = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    if (vals.isEmpty) "array()"
    else {
      val arr = new Array[Double](vals.map(_.getInt(0)).max + 1)
      vals.foreach(r => arr(r.getInt(0)) = r.getDouble(1))
      s"array(${arr.map(dlit).mkString(", ")})"
    }
  }

  /** Σ_i floor((xc[i] · w[i]) · grid + 0.5) as DECIMAL(38,0), cast to
    * DOUBLE and de-gridded — the packed spelling of
    * `pcaBridge(xc * w, grid) ... GROUP BY vec_id`. */
  private def packedDotSql(xcCol: String, wLit: String, grid: String): String =
    s"CAST(aggregate(transform($xcCol, (cx, i) -> " +
      s"coalesce(CAST(floor((cx * element_at($wLit, i + 1)) * $grid + 0.5) " +
      s"AS DECIMAL(38,0)), CAST(0 AS DECIMAL(38,0)))), " +
      s"CAST(0 AS DECIMAL(38,0)), " +
      s"(acc, e) -> acc + e) AS DOUBLE) / $grid"

  /** Per-row Σ_i floor((xc[i]²) · grid + 0.5) as DECIMAL(38,0) (NOT yet
    * de-gridded — callers sum across rows first where needed).
    * Null elements coalesce to 0, matching the exploded spelling where
    * SQL sum() skips null terms instead of nulling the whole row. */
  private def packedSqDecSql(xcCol: String, grid: String): String =
    s"aggregate(transform($xcCol, cx -> " +
      s"coalesce(CAST(floor((cx * cx) * $grid + 0.5) AS DECIMAL(38,0)), " +
      s"CAST(0 AS DECIMAL(38,0)))), " +
      s"CAST(0 AS DECIMAL(38,0)), (acc, e) -> acc + e)"

  /** Whole-corpus bridged Σ xc² (the `tv` leg) over the packed view. */
  private def packedTvSql(xp: String, grid: String): String =
    s"CAST(sum(${packedSqDecSql("xc", grid)}) AS DOUBLE) / $grid"

  /** Register the mean view + the PACKED centered frame for `vecs`
    * (prefix distinguishes q170/q172/q181 so concurrent Verify workers
    * cannot race on view names); the packed `xc` persists — every
    * chain stage scans it. Null/empty embeddings are filtered exactly
    * as the exploded spelling dropped them (a generator yields no rows
    * for them). Returns (session, packedView, muView, muArrayLit). */
  private[operators] def pcaViews(vecs: DataFrame,
                       prefix: String): (SparkSession, String, String, String) = {
    val spark = vecs.sparkSession
    val tid = Thread.currentThread().getId
    val xd = s"graft_${prefix}_xd_t$tid"
    val mu = s"graft_${prefix}_mu_t$tid"
    val xp = s"graft_${prefix}_xp_t$tid"
    vecs
      .selectExpr("vec_id", "posexplode(embedding) AS (dim, xf)")
      .selectExpr("vec_id", "CAST(dim AS INT) AS dim",
        "CAST(xf AS DOUBLE) AS x")
      .createOrReplaceTempView(xd)
    val muDf = spark.sql(pcaMuSql(xd))
      .transform(graft.core.EngineCache.persisted)
    muDf.createOrReplaceTempView(mu)
    // 64-row barrier: the per-dim means inline into the centering
    // projection so xc packs in ONE scan with no join
    val muLit = dimArrayLit(muDf.collect())
    vecs
      .filter("embedding IS NOT NULL AND size(embedding) > 0")
      .selectExpr("vec_id",
        s"transform(embedding, (xf, i) -> CAST(xf AS DOUBLE) - " +
          s"element_at($muLit, i + 1)) AS xc")
      .transform(graft.core.EngineCache.persisted)
      .createOrReplaceTempView(xp)
    (spark, xp, mu, muLit)
  }

  private[operators] def pcaOracleXd: String = s"""xd AS (
        SELECT vec_id, (unnest(range(1, len(embedding) + 1)) - 1)::INT AS dim,
          unnest(embedding)::DOUBLE AS x
        FROM embeddings)"""
  private[operators] def pcaOraclePrefix: String =
    s"$pcaOracleXd, mu AS (${pcaMuSql("xd")}), xc AS (${pcaXcSql("xd", "mu")})"
  /** q181's prefix: xc is scanned by every stage of BOTH chains plus
    * tv/nn — materialize it once. */
  private[operators] def pcaOraclePrefixMat: String =
    s"$pcaOracleXd, mu AS MATERIALIZED (${pcaMuSql("xd")}), " +
      s"xc AS MATERIALIZED (${pcaXcSql("xd", "mu")})"

  def embPcaOracleSql: String = pcaChainSql(pcaOraclePrefix, "xc", "mu")

  // ---------------------------------------------------------------- q181
  /** Top-2 principal components by DEFLATION — q170's chain run twice:
    * after the first component v₁ converges, each centered vector
    * sheds its projection (xc₂ = xc − s·v₁ — the Hotelling deflation,
    * one join per (vec, dim)) and the same power iteration runs on the
    * residual, yielding the orthogonal second direction. Both
    * components report explained fractions against the ORIGINAL total
    * variance, so the two rows-per-dim output reads as a scree table.
    * Everything rides the namespaced iteration CTEs (suffix a/b in one
    * WITH), same decimal bridges, same persisted centered frame — cost
    * is exactly 2× q170, and k components cost k× (each deflation is
    * one extra join-project over the exploded frame). */
  private[operators] def pca2Sql(prefix: String, xcR: String, muR: String): String = s"""
      WITH ${if (prefix.nonEmpty) s"$prefix," else ""}
      nn AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n FROM $xcR),
      dims AS (SELECT CAST(count(1) AS DOUBLE) AS nd FROM $muR),
      ${pcaRoundsSql(xcR, muR, "a", "MATERIALIZED ").trim},
      sfa AS MATERIALIZED (
        SELECT c.vec_id, ${pcaBridge("c.xc * v.v", "1e12")} AS s
        FROM $xcR c JOIN v_a$PcaRounds v ON c.dim = v.dim
        GROUP BY c.vec_id),
      xcb AS MATERIALIZED (
        SELECT c.vec_id, c.dim, c.xc - s.s * v.v AS xc
        FROM $xcR c
        JOIN sfa s ON c.vec_id = s.vec_id
        JOIN v_a$PcaRounds v ON c.dim = v.dim),
      ${pcaRoundsSql("xcb", muR, "b", "MATERIALIZED ").trim},
      lam_a AS (
        SELECT ${pcaBridge("v.v * g.g", "1e9")} AS lam_raw
        FROM v_a$PcaRounds v JOIN g_a$PcaRounds g ON v.dim = g.dim),
      lam_b AS (
        SELECT ${pcaBridge("v.v * g.g", "1e9")} AS lam_raw
        FROM v_b$PcaRounds v JOIN g_b$PcaRounds g ON v.dim = g.dim),
      tv AS (
        SELECT ${pcaBridge("xc * xc", "1e9")} AS tvn FROM $xcR)
      SELECT component, dim, loading, pc_var, explained_frac FROM (
        SELECT 1 AS component, v.dim,
          ${droundSql("v.v", 6)} AS loading,
          ${droundSql("lam_a.lam_raw / CAST(nn.n AS DOUBLE)", 6)} AS pc_var,
          ${droundSql("lam_a.lam_raw / tv.tvn", 6)} AS explained_frac
        FROM v_a$PcaRounds v CROSS JOIN lam_a CROSS JOIN tv CROSS JOIN nn
        UNION ALL
        SELECT 2 AS component, v.dim,
          ${droundSql("v.v", 6)} AS loading,
          ${droundSql("lam_b.lam_raw / CAST(nn.n AS DOUBLE)", 6)} AS pc_var,
          ${droundSql("lam_b.lam_raw / tv.tvn", 6)} AS explained_frac
        FROM v_b$PcaRounds v CROSS JOIN lam_b CROSS JOIN tv CROSS JOIN nn) u
      ORDER BY component, dim"""

  def embPca2(spark: SparkSession, dir: String): DataFrame =
    embPca2Of(Tables.load(spark, dir, "embeddings"))

  /** Run [[PcaRounds]] barriered power-iteration rounds over the
    * PACKED centered view `xpV`: each round is ONE scan of the packed
    * cache — the direction v inlines as a 64-value array literal, the
    * per-vector projection s is an in-scan array reduction, and the
    * only exchange is the 64-row gradient aggregate (the exploded
    * spelling shuffled the corpus twice per round: s's GROUP BY vec_id
    * and the xc ⋈ s join — same-JVM A/B `SCRATCH_WHAT=pca2`: rounds
    * 1.58/0.63/0.54 s → 0.72/0.31/0.31 s, g bit-equal). The 64-row
    * gradient COLLECTS and re-registers as a local relation — the
    * q84/PQ-codebook materialization barrier; normalize then runs over
    * that local frame with the exact oracle expressions, so every
    * value is the same bits while plan depth
    * stays CONSTANT in rounds. Lazily chained views instead re-inline
    * each stage's subtree per reference, and with q181's two nested
    * 3-round chains that expansion compounds until planning itself
    * dominates (observed: the analyzed tree wedged
    * `ExplainUtils.generateOperatorIDs` for minutes — the HITS
    * crossJoin lineage lesson, q149, at the planner level). The
    * barrier collect is 64 rows per round, never corpus-sized; the
    * corpus-sized frames (xc, q181's deflated xcb) persist once and
    * every round scans the cache. Statements stay CTE-free: a temp
    * view whose stored plan carries a WITH, referenced from a later
    * statement that also has one, crashes Spark 4.1's
    * PushdownPredicatesAndPruneColumnsForCTEDef ("key not found:
    * <cte id>"). Returns the final (v, g) view names — both 64-row
    * local relations. View names carry `prefix`/`sfx` and the thread
    * id (Verify's workers are concurrent). */
  private[operators] def pcaChainRun(spark: SparkSession, xpV: String, muV: String,
                          prefix: String, sfx: String): (String, String) = {
    import org.apache.spark.sql.types._
    val tid = Thread.currentThread().getId
    def local(name: String, schema: StructType,
              rows: Array[org.apache.spark.sql.Row]): String = {
      val v = s"graft_${prefix}_${name}_t$tid"
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
        .createOrReplaceTempView(v)
      v
    }
    val vSchema = StructType(Seq(StructField("dim", IntegerType),
      StructField("v", DoubleType)))
    val gSchema = StructType(Seq(StructField("dim", IntegerType),
      StructField("g", DoubleType)))
    var vRows = spark.sql(s"""
      SELECT dim, 1.0 / sqrt(nd) AS v FROM $muV CROSS JOIN
        (SELECT CAST(count(1) AS DOUBLE) AS nd FROM $muV)""").collect()
    var v = local(s"v${sfx}0", vSchema, vRows)
    var g = ""
    for (t <- 1 to PcaRounds) {
      // one packed-cache scan: s per vector in the projection, the
      // per-element gradient contributions exploded in-stage, 64-row agg
      val vLit = dimArrayLit(vRows)
      val gRows = spark.sql(s"""
        SELECT dim, ${pcaBridge("t1.s * t1.x", "1e9")} AS g
        FROM (SELECT s, posexplode(xc) AS (dim, x)
              FROM (SELECT ${packedDotSql("xc", vLit, "1e12")} AS s, xc
                    FROM $xpV) t0) t1
        GROUP BY dim""").collect()
      g = local(s"g$sfx$t", gSchema, gRows)
      vRows = spark.sql(s"""
        SELECT dim, g / nrm AS v FROM $g CROSS JOIN
          (SELECT sqrt(${pcaBridge("g * g", "1e12")}) AS nrm FROM $g)""")
        .collect()
      v = local(s"v$sfx$t", vSchema, vRows)
    }
    (v, g)
  }

  def embPca2Of(vecs: DataFrame): DataFrame = {
    val (spark, xp, muV, _) = pcaViews(vecs, "pca2")
    val tid = Thread.currentThread().getId
    val (vA, gA) = pcaChainRun(spark, xp, muV, "pca2", "a")
    // Hotelling deflation: xc2 = xc − (xc·v1)·v1, packed — one in-scan
    // projection over the cached frame (the exploded spelling joined the
    // corpus twice), persisted once so the second chain's rounds scan
    // the deflated cache
    val vALit = dimArrayLit(
      spark.table(vA).selectExpr("dim", "v").collect())
    val xcB = s"graft_pca2_xcb_t$tid"
    // The projection s MUST materialize before the deflation transform
    // reads it: left as one statement, CollapseProject inlines the
    // aliased 64-element decimal reduction into the transform lambda
    // (one syntactic use), and the lambda then re-evaluates the whole
    // dot PER OUTPUT ELEMENT — a 64× per-row blowup measured at 17.8 s
    // of q181's 24 s sf1 wall (SCRATCH_WHAT=pca5). The persist boundary
    // computes s once per row while cache-filling; the optimizer does
    // not collapse across an InMemoryRelation. Same expressions, same
    // bits — only the evaluation count changes.
    val sB = spark.sql(
      s"SELECT vec_id, xc, ${packedDotSql("xc", vALit, "1e12")} AS s " +
        s"FROM $xp")
      .transform(graft.core.EngineCache.persisted)
    val sBV = s"graft_pca2_xcs_t$tid"
    sB.createOrReplaceTempView(sBV)
    spark.sql(s"""
      SELECT vec_id, transform(xc, (cx, i) ->
          cx - s * element_at($vALit, i + 1)) AS xc
      FROM $sBV""")
      .transform(graft.core.EngineCache.persisted)
      .createOrReplaceTempView(xcB)
    val (vB, gB) = pcaChainRun(spark, xcB, muV, "pca2", "b")
    // tv/nn: one corpus scan each, collected and inlined as exact
    // literals (Double.toString round-trips) — the report previously
    // recomputed both under each component's CROSS JOIN.
    val tvRow = spark.sql(
      s"SELECT ${packedTvSql(xp, "1e9")} AS tvn, " +
        s"CAST(count(DISTINCT vec_id) AS BIGINT) AS n FROM $xp").first()
    val tvLit = dlit(tvRow.getDouble(0))
    val nnLit = s"CAST(${tvRow.getLong(1)} AS BIGINT)"
    def rep(comp: Int, v: String, g: String): String = s"""
      SELECT $comp AS component, v.dim,
        ${droundSql("v.v", 6)} AS loading,
        ${droundSql(s"lam.lam_raw / CAST($nnLit AS DOUBLE)", 6)} AS pc_var,
        ${droundSql(s"lam.lam_raw / $tvLit", 6)} AS explained_frac
      FROM $v v
      CROSS JOIN (SELECT ${pcaBridge("v.v * g.g", "1e9")} AS lam_raw
                  FROM $v v JOIN $g g ON v.dim = g.dim) lam"""
    spark.sql(s"""
      SELECT component, dim, loading, pc_var, explained_frac FROM (
        ${rep(1, vA, gA)}
        UNION ALL
        ${rep(2, vB, gB)}) u
      ORDER BY component, dim""")
  }

  def embPca2OracleSql: String = pca2Sql(pcaOraclePrefixMat, "xc", "mu")

  // ---------------------------------------------------------------- q172
  /** All-but-the-top embedding correction (Mu & Viswanath 2018) — the
    * standard isotropy fix applied as a query: center every vector and
    * remove its projection onto q170's dominant component. Rides the
    * same power-iteration CTE chain, then needs NO second pass over
    * dims for the result: with v unit, ‖xc − s·v‖² = ‖xc‖² − s², so
    * one more per-vector agg (the bridged projection s and the bridged
    * ‖xc‖²) yields the corrected norm algebraically. Output per vector:
    * the projection coefficient (how much of the doc rode the common
    * direction — the outlier signal) and the residual norm (what a
    * downstream cosine actually sees after correction). O(corpus·dims)
    * total, no dense algebra, same bit-determinism story as q170. */
  private[operators] def abttTailSql(xcR: String): String = s""",
      sfin AS (
        SELECT c.vec_id, ${pcaBridge("c.xc * v.v", "1e12")} AS s
        FROM $xcR c JOIN v_$PcaRounds v ON c.dim = v.dim
        GROUP BY c.vec_id),
      n2 AS (
        SELECT vec_id, ${pcaBridge("xc * xc", "1e12")} AS nsq
        FROM $xcR GROUP BY vec_id)
      SELECT s.vec_id,
        ${droundSql("s.s", 6)} AS proj,
        ${droundSql(
          "sqrt(CASE WHEN n2.nsq - s.s * s.s < 0.0 THEN 0.0 " +
            "ELSE n2.nsq - s.s * s.s END)", 6)} AS resid_norm
      FROM sfin s JOIN n2 ON s.vec_id = n2.vec_id
      ORDER BY s.vec_id"""

  /** Splice: the PCA chain up to v_N, with the ABTT projection tail in
    * place of the loading report. */
  private[operators] def abttSql(prefix: String, xcR: String, muR: String): String = {
    val chain = pcaChainSql(prefix, xcR, muR)
    val cut = chain.indexOf(",\n      lam AS (")
    require(cut > 0, "pca chain shape changed under abtt")
    chain.substring(0, cut) + abttTailSql(xcR)
  }

  def embAbtt(spark: SparkSession, dir: String): DataFrame =
    embAbttOf(Tables.load(spark, dir, "embeddings"))

  /** Runs the power iteration through [[pcaChainRun]]'s driver-barrier
    * rounds (same bits as the oracle's inline chain, constant plan
    * depth), then ONE packed-cache scan computes projection + residual
    * norm per vector — the exploded spelling ran two grouped aggs over
    * the corpus and joined them back on vec_id. */
  def embAbttOf(vecs: DataFrame): DataFrame = {
    val (spark, xp, muV, _) = pcaViews(vecs, "abtt")
    val (v, _) = pcaChainRun(spark, xp, muV, "abtt", "a")
    val vLit = dimArrayLit(spark.table(v).selectExpr("dim", "v").collect())
    spark.sql(s"""
      SELECT vec_id,
        ${droundSql("s", 6)} AS proj,
        ${droundSql(
          "sqrt(CASE WHEN nsq - s * s < 0.0 THEN 0.0 " +
            "ELSE nsq - s * s END)", 6)} AS resid_norm
      FROM (SELECT vec_id, ${packedDotSql("xc", vLit, "1e12")} AS s,
              CAST(${packedSqDecSql("xc", "1e12")} AS DOUBLE) / 1e12 AS nsq
            FROM $xp) t0
      ORDER BY vec_id""")
  }

  def embAbttOracleSql: String = abttSql(pcaOraclePrefix, "xc", "mu")

  // ---------------------------------------------------------------- q119
  /** IVF-PQ search — the production ANN shape, combining q40's inverted
    * file with q107's ADC: a probe scores ONLY vectors in its own
    * coarse cell (here the fixture's `label`, q40's convention), and
    * those vectors are represented only by their PQ codes. Per probe
    * the work is |cell|·PqM integer lookups instead of |corpus|·dim
    * float ops — the two multiplicative cuts (cell pruning × code
    * compression) that make billion-vector search tractable. Cell
    * membership is one broadcast-sized (vec_id, cell) frame joined on
    * both sides of the ADC. Dialect-neutral tail over the per-engine
    * PQ base. */
  private[operators] def pqIvfAdcTail: String = pqIvfAdcTailWhere("")

  /** [[pqIvfAdcTail]] with an extra candidate-side predicate — the
    * q219 delete oracle filters tombstoned vec_ids out of the codes
    * before ranking, everything else identical. */
  private[operators] def pqIvfAdcTailWhere(candExtra: String): String = s""",
    cells AS (SELECT vec_id, label AS cell FROM embeddings),
    codes AS (SELECT vec_id, m, cid AS code FROM r WHERE rn = 1 $candExtra),
    dtab AS (
      SELECT vec_id AS probe_id, m, cid, d6
      FROM d WHERE vec_id % $PqProbeMod = 0),
    adc AS (
      SELECT t.probe_id, c.vec_id, cv.cell, CAST(sum(t.d6) AS BIGINT) AS ad6
      FROM codes c
      JOIN cells cv ON c.vec_id = cv.vec_id
      JOIN dtab t ON c.m = t.m AND c.code = t.cid
      JOIN cells cp ON t.probe_id = cp.vec_id AND cp.cell = cv.cell
      GROUP BY t.probe_id, c.vec_id, cv.cell),
    ranked AS (
      SELECT probe_id, vec_id, cell, ad6,
        CAST(row_number() OVER (PARTITION BY probe_id
          ORDER BY ad6, vec_id) AS INT) AS rk
      FROM adc)
    SELECT probe_id, rk, vec_id, CAST(cell AS INT) AS cell,
      CAST(ad6 AS DOUBLE) / 1e6 AS adist
    FROM ranked WHERE rk <= $PqTopK
    ORDER BY probe_id, rk"""

  def ivfPqSearch(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("embeddings")
    spark.sql(s"WITH ${pqFlatBase(spark, dir)} $pqIvfAdcTail")
  }

  // ---------------------------------------------------------------- q146
  /** IVF-PQ SERVING from an index at rest — the query-time half of the
    * ANN story q105/q119 build: the (vec_id, m, code, cell) PQ-code index
    * is persisted ONCE to the warehouse (Hive `cell=N` layout via
    * [[graft.core.Warehouse.tableOnce]]) and every search after that
    * touches ONLY the index table plus the probes' own rows — the corpus
    * embedding column is never re-read, let alone re-encoded. This is the
    * billion-vector serving shape: the index is PqM bytes-ish per vector
    * at rest, cell partitioning prunes candidate I/O, and the per-probe
    * work is a PqM×PqK distance table plus integer lookups. The oracle is
    * q119's full-recompute pipeline — a hash match proves the at-rest
    * index reproduces the live computation exactly. */
  /** The q146 at-rest (vec_id, m, code, cell) PQ-code table, built once
    * per fixture dir through the partitioned warehouse and registered
    * under a thread-scoped view — q146 serves from it and q193's
    * retrieve stage scans it. */
  private[operators] def atRestCodesView(spark: SparkSession, dir: String): String =
    atRestCodesView(spark, dir, "ivfpq_codes_")

  /** The at-rest code table under a caller-chosen name prefix — q225's
    * purge MUTATES its table (new version + gc), so it must not share
    * the q146/q193 table other queries serve from concurrently. */
  private[operators] def atRestCodesView(spark: SparkSession, dir: String,
                                         prefix: String): String = {
    val table = prefix +
      dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val codesView = s"graft_${prefix}t${Thread.currentThread().getId}"
    graft.core.Warehouse.tableOnce(spark, table, "cell") {
      spark.sql(s"""WITH ${pqFlatBase(spark, dir)}
        SELECT r.vec_id, r.m, r.cid AS code, e.label AS cell
        FROM r JOIN embeddings e ON r.vec_id = e.vec_id WHERE r.rn = 1""")
    }.createOrReplaceTempView(codesView)
    codesView
  }

  def ivfPqServe(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("embeddings")
    val codesView = atRestCodesView(spark, dir)
    // d is restricted to probe rows before the join (predicate pushdown
    // into sub's scan) — the corpus side of the search is the index scan
    spark.sql(s"""
      WITH ${pqFlatBase(spark, dir)},
      codes AS (SELECT vec_id, m, code, cell FROM $codesView),
      dtab AS (
        SELECT vec_id AS probe_id, m, cid, d6
        FROM d WHERE vec_id % $PqProbeMod = 0),
      pcell AS (SELECT vec_id, label AS cell FROM embeddings),
      adc AS (
        SELECT t.probe_id, c.vec_id, c.cell, CAST(sum(t.d6) AS BIGINT) AS ad6
        FROM codes c
        JOIN dtab t ON c.m = t.m AND c.code = t.cid
        JOIN pcell cp ON t.probe_id = cp.vec_id AND cp.cell = c.cell
        GROUP BY t.probe_id, c.vec_id, c.cell),
      ranked AS (
        SELECT probe_id, vec_id, cell, ad6,
          CAST(row_number() OVER (PARTITION BY probe_id
            ORDER BY ad6, vec_id) AS INT) AS rk
        FROM adc)
      SELECT probe_id, rk, vec_id, CAST(cell AS INT) AS cell,
        CAST(ad6 AS DOUBLE) / 1e6 AS adist
      FROM ranked WHERE rk <= $PqTopK
      ORDER BY probe_id, rk""")
  }

  // ---------------------------------------------------------------- q219
  /** Targeted DELETE from the at-rest IVF-PQ index — q218's tombstone
    * discipline applied to the ANN family, completing ITS lifecycle
    * after serve (q146) and append (q151): vec_id ≡ [[AnnDelRem]] mod
    * [[AnnDelMod]] are removed from the CANDIDATE side by a broadcast
    * anti-join on the code table; probes still query (a takedown
    * removes an indexed vector, not the queries against the index).
    * Unlike BM25, ANN deletion shifts NO corpus statistics — codes and
    * centroids are frozen artifacts — so the anti-join is the entire
    * operation; rankings re-flow only where a tombstone vacated a
    * top-k slot. The oracle replays the live PQ pipeline with the
    * same candidate filter, so the hash match proves tombstoned serve
    * ≡ recompute-minus-deleted. Physical purge is, as in q218, a
    * compaction-time rewrite of the affected `cell=N` partitions. */
  val AnnDelMod = 13
  val AnnDelRem = 5

  def ivfPqDelete(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("embeddings")
    val codesView = atRestCodesView(spark, dir)
    val tombView = s"graft_ann_tomb_t${Thread.currentThread().getId}"
    spark.sql(s"""SELECT vec_id FROM embeddings
      WHERE vec_id % $AnnDelMod = $AnnDelRem""").createOrReplaceTempView(tombView)
    spark.sql(s"""
      WITH ${pqFlatBase(spark, dir)},
      codes AS (
        SELECT /*+ BROADCAST(t) */ c.vec_id, c.m, c.code, c.cell
        FROM $codesView c LEFT ANTI JOIN $tombView t ON c.vec_id = t.vec_id),
      dtab AS (
        SELECT vec_id AS probe_id, m, cid, d6
        FROM d WHERE vec_id % $PqProbeMod = 0),
      pcell AS (SELECT vec_id, label AS cell FROM embeddings),
      adc AS (
        SELECT t.probe_id, c.vec_id, c.cell, CAST(sum(t.d6) AS BIGINT) AS ad6
        FROM codes c
        JOIN dtab t ON c.m = t.m AND c.code = t.cid
        JOIN pcell cp ON t.probe_id = cp.vec_id AND cp.cell = c.cell
        GROUP BY t.probe_id, c.vec_id, c.cell),
      ranked AS (
        SELECT probe_id, vec_id, cell, ad6,
          CAST(row_number() OVER (PARTITION BY probe_id
            ORDER BY ad6, vec_id) AS INT) AS rk
        FROM adc)
      SELECT probe_id, rk, vec_id, CAST(cell AS INT) AS cell,
        CAST(ad6 AS DOUBLE) / 1e6 AS adist
      FROM ranked WHERE rk <= $PqTopK
      ORDER BY probe_id, rk""")
  }

  // ---------------------------------------------------------------- q225
  /** Physical PURGE of tombstoned vectors — the compaction q219's
    * scaladoc defers to, completing the index lifecycle: build →
    * serve (q146) → append (q151) → tombstone (q219) → PURGE. The
    * purge reads the current published code table, anti-joins the
    * tombstones, PUBLISHES the rewrite as the next crash-safe version
    * of the same warehouse table ([[graft.core.Warehouse.publish]]:
    * readers see old-complete or new-complete, never a partial tree),
    * and retires the superseded version via [[graft.core.Warehouse.gc]].
    * Serving then needs NO anti-join — the tombstones are physically
    * gone — and the ORACLE IS q219's: a hash match proves
    * purge ∘ publish ≡ tombstone-view ≡ recompute-minus-deleted. The
    * purge runs against its OWN table (not the q146/q193 serving
    * table): compaction of a live index is a publish-then-flip, and
    * concurrent queries of this harness hold the old table, exactly
    * the versioned-reader contract the Warehouse scaladoc spells. Cost:
    * one scan + rewrite of the code table (bytes ≈ PqM per vector),
    * never the embedding corpus. */
  def ivfPqPurge(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("embeddings")
    val prefix = "ivfpq_purge_"
    val codesView = atRestCodesView(spark, dir, prefix)
    val table = prefix +
      dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    // purge iff the CURRENT published table still carries tombstoned
    // codes — version-number gates break under a persistent
    // graft.warehouse.dir (a fresh JVM's tableOnce republishes the
    // unpurged table as v=N+1); presence-testing the live table is
    // idempotent under any version history and costs one scan of the
    // tiny code table (bytes ≈ PqM per vector, never the corpus)
    val hasTombstoned = !graft.core.Warehouse.readTable(spark, table)
      .filter(s"vec_id % $AnnDelMod = $AnnDelRem").isEmpty
    if (hasTombstoned) {
      import org.apache.spark.sql.functions.{broadcast, col}
      val tomb = spark.sql(s"""SELECT vec_id FROM embeddings
        WHERE vec_id % $AnnDelMod = $AnnDelRem""")
      val purged = graft.core.Warehouse.readTable(spark, table)
        .join(broadcast(tomb), Seq("vec_id"), "left_anti")
      graft.core.Warehouse.publish(purged, table, Seq("cell"))
      graft.core.Warehouse.gc(spark, table) // retire the pre-purge tree
    }
    graft.core.Warehouse.readTable(spark, table)
      .createOrReplaceTempView(codesView)
    spark.sql(s"""
      WITH ${pqFlatBase(spark, dir)},
      codes AS (SELECT vec_id, m, code, cell FROM $codesView),
      dtab AS (
        SELECT vec_id AS probe_id, m, cid, d6
        FROM d WHERE vec_id % $PqProbeMod = 0),
      pcell AS (SELECT vec_id, label AS cell FROM embeddings),
      adc AS (
        SELECT t.probe_id, c.vec_id, c.cell, CAST(sum(t.d6) AS BIGINT) AS ad6
        FROM codes c
        JOIN dtab t ON c.m = t.m AND c.code = t.cid
        JOIN pcell cp ON t.probe_id = cp.vec_id AND cp.cell = c.cell
        GROUP BY t.probe_id, c.vec_id, c.cell),
      ranked AS (
        SELECT probe_id, vec_id, cell, ad6,
          CAST(row_number() OVER (PARTITION BY probe_id
            ORDER BY ad6, vec_id) AS INT) AS rk
        FROM adc)
      SELECT probe_id, rk, vec_id, CAST(cell AS INT) AS cell,
        CAST(ad6 AS DOUBLE) / 1e6 AS adist
      FROM ranked WHERE rk <= $PqTopK
      ORDER BY probe_id, rk""")
  }

  /** Purge an at-rest PQ code table by an EXPLICIT tombstone id feed —
    * q225's anti-join purge keyed by the composed takedown's `ids/`
    * artifact instead of a batch-side predicate (the one-feed story
    * reaching the quantization family). Codes are per-vector pure
    * under the frozen codebook, so the purged table must equal the
    * survivor re-encode verbatim — the rebuild-equality gate
    * StreamingAnalyticsSpec pins, restart-replay included; feed ids
    * absent from the store no-op through the anti-join. Cost: one
    * scan of the code table (bytes ≈ [[PqM]] per vector), never the
    * embedding corpus. */
  def pqCodesPurgeByIds(codes: DataFrame, tombIds: DataFrame): DataFrame =
    codes.join(broadcast(tombIds.toDF("vec_id")), Seq("vec_id"), "left_anti")

  // ---------------------------------------------------------------- q193
  /** Two-stage retrieve-then-rerank ANN serving — the composition that
    * closes the recall gap q169's audit prices: production indexes
    * don't serve the quantized ranking (pq_adc keeps ≈0.26 of the exact
    * top-k here), they use it as a CANDIDATE GENERATOR and re-rank a
    * bounded pool with exact distances.
    *
    *  - Stage 1 (retrieve, compressed domain): ADC over an AT-REST
    *    code table encoded with a RETRIEVAL-GRADE codebook —
    *    [[RerankM]]×[[RerankK]] (16 subspaces × 32 centroids, built by
    *    the same parameterized Lloyd machinery as q105's audit-sized
    *    4×8 book) — top-[[RerankPool]] per probe by quantized
    *    distance. The full-precision corpus is untouched; the scan
    *    reads 16-byte codes, which is why a billion-vector compressed
    *    sweep is cheap. Measured on this fixture, the code-budget knob
    *    is exactly what the q169 audit says it is: the 4×8 book's pool
    *    keeps only 0.50 of the exact top-3 at R=50, the 16×32 book
    *    ≈0.94. (Cell structure is priced separately by the audit —
    *    label cells keep 0.08, learned cells 0.40/0.57 — so the
    *    retrieve stage sweeps ALL cells in the compressed domain
    *    rather than paying cell-miss recall; at 10⁹ vectors the same
    *    composition runs with nprobe-restricted cells feeding a
    *    larger pool.)
    *  - Stage 2 (rerank, exact): the pool — [[RerankPool]] ids per
    *    probe, nothing else — joins back to the embedding table for
    *    exact cosine; top-[[graft.operators.LlmQueries.IvfK]] of the
    *    re-scored pool is served. Full-precision rows touched per
    *    probe: RerankPool/(N−1) of the corpus (≈10% at this fixture's
    *    N=500; a FIXED R, so a few % at 2k vectors and vanishing at
    *    production N — the q169 `rerank` row reports it).
    *
    * Both stages are deterministic (integer ad6 ties by cand_id; 6dp
    * half-up cosine ties by cand_id). The oracle recomputes the PQ
    * pipeline live — fine codebook included — and replays both stages;
    * a hash match proves the at-rest index retrieves, and the rerank
    * serves, exactly what the live computation would. */
  val RerankPool = 50
  val RerankM = 16   // retrieval-codebook subspaces (× 4 dims each)
  val RerankSub = 4
  val RerankK = 32   // centroids per subspace

  /** The dialect-neutral two-stage tail: expects PQ CTEs (`d` — probe
    * distance tables) in scope; `codesRel` is the stage-1 code source
    * (engine: the at-rest table; oracle: the live `r` encode), `cos`
    * the per-dialect exact-cosine spelling. Self-matches are excluded
    * to mirror the brute-force truth's convention. */
  private[operators] def annRerankTail(codesRel: String, probeWhere: String,
                            cos: (String, String) => String): String = s""",
    codes2 AS (SELECT vec_id, m, code FROM $codesRel),
    dtab2 AS (
      SELECT vec_id AS query_id, m, cid, d6 FROM d WHERE $probeWhere),
    adc2 AS (
      SELECT t.query_id, c.vec_id AS cand_id, CAST(sum(t.d6) AS BIGINT) AS ad6
      FROM codes2 c JOIN dtab2 t ON c.m = t.m AND c.code = t.cid
      WHERE c.vec_id <> t.query_id
      GROUP BY t.query_id, c.vec_id),
    pool AS (
      SELECT query_id, cand_id FROM (
        SELECT query_id, cand_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY ad6, cand_id) AS prk
        FROM adc2) zp WHERE prk <= $RerankPool),
    rr AS (
      SELECT p.query_id, p.cand_id, ${cos("q.embedding", "e.embedding")} AS cos
      FROM pool p
      JOIN embeddings q ON q.vec_id = p.query_id
      JOIN embeddings e ON e.vec_id = p.cand_id)
    SELECT query_id, rnk, cand_id, cos FROM (
      SELECT query_id, cand_id, cos,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, cand_id) AS INT) AS rnk
      FROM rr) zr
    WHERE rnk <= ${LlmQueries.IvfK}
    ORDER BY query_id, rnk"""

  /** The retrieval-grade at-rest code table (16×32 geometry), same
    * warehouse discipline as [[atRestCodesView]] — built once per
    * fixture dir, cell-partitioned, served thereafter. */
  private[operators] def rerankCodesView(spark: SparkSession, dir: String): String = {
    val table = "rerank_codes_" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val v = s"graft_rerank_codes_t${Thread.currentThread().getId}"
    graft.core.Warehouse.tableOnce(spark, table, "cell") {
      spark.sql(s"""WITH ${pqFlatBase(spark, dir, PqRounds,
          RerankM, RerankSub, RerankK)}
        SELECT r.vec_id, r.m, r.cid AS code, e.label AS cell
        FROM r JOIN embeddings e ON r.vec_id = e.vec_id WHERE r.rn = 1""")
    }.createOrReplaceTempView(v)
    v
  }

  def annRerank(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("embeddings")
    val codesView = rerankCodesView(spark, dir)
    // the PQ base is restricted to PROBE rows: only their subvectors
    // meet the codebook (the probes' RerankM×RerankK distance tables);
    // the corpus side of stage 1 is the at-rest code scan, stage 2 an
    // id-equi join into the embedding table for the pool alone
    spark.sql(s"""
      WITH ${pqFlatBaseWhere(spark, dir, "vec_id < 50", PqRounds,
        RerankM, RerankSub, RerankK)}
      ${annRerankTail(s"(SELECT vec_id, m, code FROM $codesView)",
        "vec_id < 50", graft.llm.Similarity.cosineExpr)}""")
  }

  def annRerankOracleSql: String =
    s"""WITH ${pqBaseOracleP(RerankM, RerankSub, RerankK, PqRounds)}
      ${annRerankTail("(SELECT vec_id, m, cid AS code FROM r WHERE rn = 1)",
        "vec_id < 50", graft.llm.Similarity.cosineSql)}"""

  // ---------------------------------------------------------------- q151
  /** Incremental IVF-PQ index APPEND — the maintenance half of the q146
    * serving story: the corpus's PQ-code index sits at rest partitioned
    * by cell; when a batch of new vectors arrives (here vec_id ≡
    * [[PqBatchMod]] (mod 10), ~10% of the corpus), ONLY the batch is
    * encoded — the filter is pushed into the embedding scan, the frozen
    * memoized codebook broadcasts, and the base index is read back, not
    * rebuilt. Searches then run over stored-base ∪ fresh-batch codes.
    * The oracle is q119's FULL recompute over the whole corpus, so the
    * hash match proves the incremental path is lossless: append ∘ store
    * ≡ rebuild. At 100 TB this is the difference between re-encoding a
    * corpus per ingest batch and an O(batch) increment — the same
    * contract q145 establishes for the dedup signature table. */
  val PqBatchMod = 7 // batch = vec_id ≡ 7 (mod 10); probes (≡0 mod 100) stay in the base
  def ivfPqAppend(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("embeddings")
    val batchWhere = s"vec_id % 10 = $PqBatchMod"
    val tid = Thread.currentThread().getId
    val baseView = s"graft_ivfpq_base_t$tid"
    val batchView = s"graft_ivfpq_batch_t$tid"
    val baseTable = "ivfpq_base_" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    def encode(where: String) = spark.sql(
      s"""WITH ${pqFlatBaseWhere(spark, dir, where)}
      SELECT r.vec_id, r.m, r.cid AS code, e.label AS cell
      FROM r JOIN embeddings e ON r.vec_id = e.vec_id WHERE r.rn = 1""")
    graft.core.Warehouse.tableOnce(spark, baseTable, "cell") {
      encode(s"NOT ($batchWhere)")
    }.createOrReplaceTempView(baseView)
    encode(batchWhere).createOrReplaceTempView(batchView)
    // the probe leg's distance tables: `d` restricted to probe rows at
    // the scan — the corpus side of the search is the (stored ∪ fresh)
    // index, never the embedding column
    spark.sql(s"""
      WITH ${pqFlatBaseWhere(spark, dir, s"vec_id % $PqProbeMod = 0")},
      codes AS (SELECT vec_id, m, code, cell FROM $baseView
                UNION ALL SELECT vec_id, m, code, cell FROM $batchView),
      dtab AS (SELECT vec_id AS probe_id, m, cid, d6 FROM d),
      pcell AS (SELECT vec_id, label AS cell FROM embeddings),
      adc AS (
        SELECT t.probe_id, c.vec_id, c.cell, CAST(sum(t.d6) AS BIGINT) AS ad6
        FROM codes c
        JOIN dtab t ON c.m = t.m AND c.code = t.cid
        JOIN pcell cp ON t.probe_id = cp.vec_id AND cp.cell = c.cell
        GROUP BY t.probe_id, c.vec_id, c.cell),
      ranked AS (
        SELECT probe_id, vec_id, cell, ad6,
          CAST(row_number() OVER (PARTITION BY probe_id
            ORDER BY ad6, vec_id) AS INT) AS rk
        FROM adc)
      SELECT probe_id, rk, vec_id, CAST(cell AS INT) AS cell,
        CAST(ad6 AS DOUBLE) / 1e6 AS adist
      FROM ranked WHERE rk <= $PqTopK
      ORDER BY probe_id, rk""")
  }

  // ---------------------------------------------------------------- q236
  /** IVF-PQ vector UPDATE (upsert) — the composed lifecycle verb the
    * delete (q219) and append (q151) halves exist for: a cohort of
    * vectors (vec_id ≡ [[AnnUpdRem]] mod [[AnnUpdMod]]) is REPLACED —
    * here by a deterministic sign flip, the stand-in for a re-embedded
    * document — and the index must serve the new values without
    * touching anything else. Update = anti-join the cohort's stored
    * codes out of the immutable at-rest base (q219's move) ∪ re-encode
    * ONLY the cohort's new vectors with the FROZEN memoized codebook
    * (q151's move): O(updates) encode work, the codebook never shifts,
    * base codes never rewrite — a compaction (q225) folds the overlay
    * in later. Probes (vec_id ≡ 0 mod [[PqProbeMod]]) are disjoint
    * from the cohort by construction, so query vectors are unchanged
    * and every ranking shift the serve shows comes from the updated
    * CANDIDATES — the takedown-and-replace shape of a re-embedding
    * pipeline. The ORACLE re-runs the full pipeline with the updated
    * corpus encoded against the ORIGINAL corpus's codebook
    * ([[pqBaseOracleP]]'s encSrc split), so the hash match proves
    * update ∘ store ≡ rebuild-with-new-values under the frozen
    * codebook. */
  val AnnUpdMod = 10
  val AnnUpdRem = 9 // disjoint from probes (0 mod 100) and q151's batch

  def ivfPqUpdate(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("embeddings")
    val codesView = atRestCodesView(spark, dir, "ivfpq_updbase_")
    val pred = s"vec_id % $AnnUpdMod = $AnnUpdRem"
    val tid = Thread.currentThread().getId
    val updView = s"graft_ivfpq_upd_t$tid"
    spark.sql(s"""SELECT vec_id, transform(embedding, x -> -x) AS embedding
      FROM embeddings WHERE $pred""").createOrReplaceTempView(updView)
    val freshView = s"graft_ivfpq_updfresh_t$tid"
    spark.sql(s"""WITH ${pqFlatBaseOver(spark, dir, updView, "true")}
      SELECT r.vec_id, r.m, r.cid AS code, e.label AS cell
      FROM r JOIN embeddings e ON r.vec_id = e.vec_id WHERE r.rn = 1""")
      .createOrReplaceTempView(freshView)
    spark.sql(s"""
      WITH ${pqFlatBase(spark, dir)},
      codes AS (
        SELECT vec_id, m, code, cell FROM $codesView WHERE NOT ($pred)
        UNION ALL SELECT vec_id, m, code, cell FROM $freshView),
      dtab AS (
        SELECT vec_id AS probe_id, m, cid, d6
        FROM d WHERE vec_id % $PqProbeMod = 0),
      pcell AS (SELECT vec_id, label AS cell FROM embeddings),
      adc AS (
        SELECT t.probe_id, c.vec_id, c.cell, CAST(sum(t.d6) AS BIGINT) AS ad6
        FROM codes c
        JOIN dtab t ON c.m = t.m AND c.code = t.cid
        JOIN pcell cp ON t.probe_id = cp.vec_id AND cp.cell = c.cell
        GROUP BY t.probe_id, c.vec_id, c.cell),
      ranked AS (
        SELECT probe_id, vec_id, cell, ad6,
          CAST(row_number() OVER (PARTITION BY probe_id
            ORDER BY ad6, vec_id) AS INT) AS rk
        FROM adc)
      SELECT probe_id, rk, vec_id, CAST(cell AS INT) AS cell,
        CAST(ad6 AS DOUBLE) / 1e6 AS adist
      FROM ranked WHERE rk <= $PqTopK
      ORDER BY probe_id, rk""")
  }

  /** Encode an arriving batch FRAME with the frozen memoized codebook —
    * the entry point streaming/incremental ingest uses: the batch is its
    * own relation (thread-scoped view), only its rows are scanned, and
    * the codebook never shifts. Same arithmetic as q105's encode, so
    * appended codes are bit-compatible with the stored index. */
  def encodeWithFrozenCodebook(spark: SparkSession, dir: String,
                               batch: DataFrame): DataFrame = {
    // codebook builds lazily off the corpus table on first use
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("embeddings")
    val view = s"graft_pq_ingest_t${Thread.currentThread().getId}"
    batch.createOrReplaceTempView(view)
    spark.sql(s"""WITH ${pqFlatBaseOver(spark, dir, view, "true")}
      SELECT vec_id, m, cid AS code FROM r WHERE rn = 1""")
  }

  // ---------------------------------------------------------------- q153
  /** Johnson–Lindenstrauss random-projection audit: project the 64-dim
    * embeddings to [[JlDims]] dims with the deterministic ±1 hyperplane
    * matrix ([[graft.functions.HashKernels.srpSigns]] — the same public
    * md5-parity source the SRP signatures use, so both engines carry the
    * matrix as literals) scaled by 1/√[[JlDims]] = 0.25 (exact binary),
    * then report per-pair L2² distortion `proj/orig` on the
    * deterministic (even id, id+1) pair sample. This is the
    * dimensionality-reduction leg of the ANN story: JL says distances
    * survive a 4× dim cut within (1±ε), and this query MEASURES it
    * instead of assuming it. One scan computes the projections; the
    * pair join is id+1 equi (no fan-out); distances bridge to a 1e6
    * grid before the ratio, ties impossible. */
  val JlDims = 16 // 64 → 16: scale 1/√16 = 0.25 is exact in binary fp
  private[operators] def jlProjections: (String, String) = {
    val signs = graft.functions.HashKernels.srpSigns(JlDims, PqM * PqSub)
    val spark = (0 until JlDims).map { j =>
      val lits = signs(j).map(s => if (s > 0) "1.0D" else "-1.0D").mkString(",")
      s"(aggregate(zip_with(embedding, array($lits), " +
        "(x, s) -> CAST(x AS DOUBLE) * s), CAST(0.0 AS DOUBLE), " +
        "(acc, v) -> acc + v) * 0.25D)"
    }.mkString("array(", ", ", ")")
    // list_dot_product: same sequential IEEE multiply-add as the lambda
    // spelling (bit-equality probed exhaustively for the cosineSql swap)
    // without 16×64 interpreted lambda frames per row.
    val duck = (0 until JlDims).map { j =>
      val lits = signs(j).map(s => if (s > 0) "1.0" else "-1.0").mkString(",")
      s"(list_dot_product((embedding)::DOUBLE[], ([$lits])::DOUBLE[]) * 0.25)"
    }.mkString("[", ", ", "]")
    (spark, duck)
  }

  def jlDistortion(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("embeddings")
    val (projSpark, _) = jlProjections
    spark.sql(s"""
      WITH p AS (
        SELECT vec_id, embedding, $projSpark AS pv FROM embeddings),
      pr AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          CAST(floor(l2_sq(a.embedding, b.embedding) * 1e6 + 0.5) AS BIGINT)
            AS do6,
          CAST(floor(aggregate(zip_with(a.pv, b.pv,
              (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE),
              (acc, v) -> acc + v) * 1e6 + 0.5) AS BIGINT) AS dp6
        FROM p a JOIN p b ON b.vec_id = a.vec_id + 1 AND a.vec_id % 2 = 0)
      SELECT id_a, id_b, CAST(do6 AS DOUBLE) / 1e6 AS d_orig,
        CAST(dp6 AS DOUBLE) / 1e6 AS d_proj,
        ${droundSql("CAST(dp6 AS DOUBLE) / CAST(do6 AS DOUBLE)", 6)} AS ratio
      FROM pr WHERE do6 > 0
      ORDER BY id_a""")
  }

  def jlDistortionSql: String = {
    val (_, projDuck) = jlProjections
    val l2Orig = s"""list_sum(list_transform(range(1, len(a.embedding) + 1),
        i -> (a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE) *
             (a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE)))"""
    val l2Proj = s"""list_sum(list_transform(range(1, $JlDims + 1),
        i -> (a.pv[i] - b.pv[i]) * (a.pv[i] - b.pv[i])))"""
    s"""
      WITH p AS MATERIALIZED (
        SELECT vec_id, embedding, $projDuck AS pv FROM embeddings),
      pr AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          CAST(floor($l2Orig * 1e6 + 0.5) AS BIGINT) AS do6,
          CAST(floor($l2Proj * 1e6 + 0.5) AS BIGINT) AS dp6
        FROM p a JOIN p b ON b.vec_id = a.vec_id + 1 AND a.vec_id % 2 = 0)
      SELECT id_a, id_b, do6::DOUBLE / 1e6 AS d_orig,
        dp6::DOUBLE / 1e6 AS d_proj,
        ${droundSql("dp6::DOUBLE / do6::DOUBLE", 6)} AS ratio
      FROM pr WHERE do6 > 0
      ORDER BY id_a"""
  }

  // ---------------------------------------------------------------- q154
  /** Embedding cohesion/drift matrix: mean pairwise cosine between every
    * pair of label groups (and within each group on the diagonal,
    * self-pairs included) — the embedding-space mirror of q93's KL drift
    * matrix, the signal that says two sources' embedding distributions
    * are converging or drifting. The trick that makes it scale: since
    * cos(a,b) = â·b̂, the mean over A×B factorizes as
    * (Σ_A â)·(Σ_B b̂) / (|A||B|) — so ONE corpus scan computes per-group
    * per-dim sums of normalized vectors (each component floor-bridged to
    * a 1e8 grid, so the sums are exact integers), and the "all pairs"
    * answer is a G²·D-sized join over those tiny sums. No pair join
    * over the corpus, ever. Products bridge through DECIMAL(38,0)
    * (s_a·s_b can exceed int64), division happens once per cell. */
  def embDriftSparkSql: String = {
    val norm = "sqrt(aggregate(transform(embedding, " +
      "p -> CAST(p AS DOUBLE) * CAST(p AS DOUBLE)), CAST(0.0 AS DOUBLE), " +
      "(acc, v) -> acc + v))"
    s"""
      WITH e AS (
        SELECT label, posexplode(embedding) AS (dim, v), $norm AS nrm
        FROM embeddings),
      s AS (
        SELECT label, dim,
          CAST(sum(CAST(floor(CAST(v AS DOUBLE) / nrm * 1e8 + 0.5) AS BIGINT))
            AS BIGINT) AS sb
        FROM e GROUP BY label, dim),
      cnt AS (SELECT label, count(1) AS n FROM embeddings GROUP BY label),
      dots AS (
        SELECT a.label AS label_a, b.label AS label_b,
          CAST(sum(CAST(a.sb AS DECIMAL(19,0)) * CAST(b.sb AS DECIMAL(19,0)))
            AS DECIMAL(38,0)) AS dot16
        FROM s a JOIN s b ON a.dim = b.dim AND a.label <= b.label
        GROUP BY a.label, b.label)
      SELECT label_a, label_b,
        ${droundSql("CAST(dot16 AS DOUBLE) / 1e16 / " +
          "(CAST(ca.n AS DOUBLE) * CAST(cb.n AS DOUBLE))", 6)} AS mean_cos
      FROM dots
      JOIN cnt ca ON dots.label_a = ca.label
      JOIN cnt cb ON dots.label_b = cb.label
      ORDER BY label_a, label_b"""
  }

  def embDrift(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("embeddings")
    spark.sql(embDriftSparkSql)
  }

  def embDriftSql: String = {
    val norm = "sqrt(list_sum(list_transform(embedding, " +
      "p -> p::DOUBLE * p::DOUBLE)))"
    s"""
      WITH e AS (
        SELECT label,
          (unnest(range(1, len(embedding) + 1)) - 1)::INT AS dim,
          unnest(embedding) AS v, $norm AS nrm
        FROM embeddings),
      s AS (
        SELECT label, dim,
          CAST(sum(CAST(floor(v::DOUBLE / nrm * 1e8 + 0.5) AS BIGINT))
            AS BIGINT) AS sb
        FROM e GROUP BY label, dim),
      cnt AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
      dots AS (
        SELECT a.label AS label_a, b.label AS label_b,
          CAST(sum(a.sb::DECIMAL(19,0) * b.sb::DECIMAL(19,0))
            AS DECIMAL(38,0)) AS dot16
        FROM s a JOIN s b ON a.dim = b.dim AND a.label <= b.label
        GROUP BY a.label, b.label)
      SELECT label_a, label_b,
        ${droundSql("dot16::DOUBLE / 1e16 / (ca.n::DOUBLE * cb.n::DOUBLE)", 6)}
          AS mean_cos
      FROM dots
      JOIN cnt ca ON dots.label_a = ca.label
      JOIN cnt cb ON dots.label_b = cb.label
      ORDER BY label_a, label_b"""
  }

  // ---------------------------------------------------------------- q203
  /** Truncate-then-RERANK serving — q193's two-stage composition with
    * q202's prefix slice as the coarse stage: stage 1 ranks the corpus
    * on only the first [[TruncRerankDims]] dims (no projection, no
    * codebook — the cheapest coarse scorer there is) and keeps the
    * top-[[RerankPool]] per probe; stage 2 re-scores ONLY that bounded
    * pool with full-dimension exact cosine and serves top-k. The
    * measurement q202 motivates: naive 16-dim truncation retrieves at
    * 0.10 recall, but as a CANDIDATE GENERATOR ahead of an exact
    * rerank the same slice becomes serviceable — the audit row prices
    * exactly how much, with the full-precision scan bounded at
    * pool/(N−1) like q193. Stage 1 is one corpus scan through the
    * bounded top-k Aggregator; stage 2 touches O(probes·pool) rows;
    * the rerank ranking runs in a probe-keyed window over ≤ pool rows
    * per key. Output: one row — dims, pool, probes, hits, recall@k,
    * scanned fraction. */
  val TruncRerankDims = 16

  def truncRerank(spark: SparkSession, dir: String): DataFrame =
    truncRerankOf(
      Tables.load(spark, dir, "embeddings").select("vec_id", "embedding"))

  def truncRerankOf(vecs0: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = vecs0.sparkSession
    val k = LlmQueries.BruteK
    val vecs = vecs0.transform(graft.core.EngineCache.persisted)
    val n = vecs.count()
    val exact = graft.llm.Similarity
      .bruteForceTopK(vecs, expr(TruncProbes), k)
      .select("query_id", "cand_id")
      .transform(graft.core.EngineCache.persisted)
    val nProbes = exact.select("query_id").distinct().count()
    val tv = vecs.selectExpr("vec_id",
        s"slice(embedding, 1, $TruncRerankDims) AS embedding")
      .filter("exists(embedding, p -> p <> CAST(0 AS FLOAT))") // q202's guard
    val pool = graft.llm.Similarity
      .bruteForceTopK(tv, expr(TruncProbes), RerankPool)
      .select("query_id", "cand_id")
    val served = pool
      .join(vecs.selectExpr("vec_id AS cand_id", "embedding AS cv"), "cand_id")
      .join(broadcast(vecs.filter(expr(TruncProbes))
        .selectExpr("vec_id AS query_id", "embedding AS qv")), "query_id")
      .withColumn("cos", expr(graft.llm.Similarity.cosineExpr("qv", "cv")))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("cand_id"))))
      .filter(col("rnk") <= k)
      .select("query_id", "cand_id")
    val hits = served.join(exact, Seq("query_id", "cand_id"), "left_semi")
      .count()
    import spark.implicits._
    Seq((TruncRerankDims.toLong, RerankPool.toLong, nProbes, hits,
      math.floor(hits.toDouble / (nProbes * k) * 1e6 + 0.5) / 1e6,
      math.floor(RerankPool.toDouble / (n - 1) * 1e6 + 0.5) / 1e6))
      .toDF("dims", "pool", "n_probes", "hits", "recall", "scanned_frac")
  }

  def truncRerankSql: String = {
    import graft.llm.Similarity.cosineSql
    val k = LlmQueries.BruteK
    def sliced(e: String) = s"list_slice($e, 1, $TruncRerankDims)"
    s"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    nv (nn) AS (SELECT CAST(count(*) AS BIGINT) FROM v),
    ex AS (
      SELECT query_id, cand_id FROM (
        SELECT p.vec_id AS query_id, c.vec_id AS cand_id,
          row_number() OVER (PARTITION BY p.vec_id
            ORDER BY ${cosineSql("p.embedding", "c.embedding")}
              DESC, c.vec_id) AS rnk
        FROM v p JOIN v c ON p.vec_id <> c.vec_id
        WHERE p.$TruncProbes) z
      WHERE rnk <= $k),
    np AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n FROM ex),
    sv AS (
      SELECT vec_id, ${sliced("embedding")} AS embedding FROM v
      WHERE len(list_filter(${sliced("embedding")}, x -> x <> 0)) > 0),
    pool AS (
      SELECT query_id, cand_id FROM (
        SELECT p.vec_id AS query_id, c.vec_id AS cand_id,
          row_number() OVER (PARTITION BY p.vec_id
            ORDER BY ${cosineSql("p.embedding", "c.embedding")}
              DESC, c.vec_id) AS rnk
        FROM sv p JOIN sv c ON p.vec_id <> c.vec_id
        WHERE p.$TruncProbes) z
      WHERE rnk <= $RerankPool),
    served AS (
      SELECT query_id, cand_id FROM (
        SELECT pool.query_id, pool.cand_id,
          row_number() OVER (PARTITION BY pool.query_id
            ORDER BY ${cosineSql("q.embedding", "c.embedding")}
              DESC, pool.cand_id) AS rnk
        FROM pool
        JOIN v q ON pool.query_id = q.vec_id
        JOIN v c ON pool.cand_id = c.vec_id) z
      WHERE rnk <= $k),
    h AS (
      SELECT CAST(count(*) AS BIGINT) AS hits
      FROM served JOIN ex ON served.query_id = ex.query_id
                         AND served.cand_id = ex.cand_id)
    SELECT CAST($TruncRerankDims AS BIGINT) AS dims,
      CAST($RerankPool AS BIGINT) AS pool, np.n AS n_probes, h.hits,
      ${droundSql(s"h.hits::DOUBLE / (np.n * $k)", 6)} AS recall,
      ${droundSql(s"CAST($RerankPool AS DOUBLE) / (nv.nn - 1)", 6)}
        AS scanned_frac
    FROM np CROSS JOIN h CROSS JOIN nv"""
  }

  // ---------------------------------------------------------------- q202
  /** Dimension-TRUNCATION retrieval audit — q169's score-the-path
    * discipline for the matryoshka question: if retrieval ranked on
    * only the first D dimensions of the embedding (the
    * nested-prefix-training trick that lets one model serve several
    * precision/cost points, and the cheapest possible coarse stage —
    * a prefix SLICE costs no projection at all, vs q153's JL matrix
    * multiply), how much of the full-dimension exact top-k survives?
    * For each D in [[TruncDims]]: truncated-cosine top-k per probe vs
    * the full-dim exact top-k, exact integer hit counts, recall@k.
    * On embeddings NOT trained matryoshka-style (this fixture), the
    * audit prices what naive truncation costs — the measurement that
    * says whether a prefix-dim coarse stage is serviceable BEFORE
    * anyone ships it. Same bounded top-k Aggregator as q39; one
    * corpus scan per D over the persisted vectors; O(probes·k) state.
    * The oracle replays every leg with list-sliced vectors. */
  val TruncDims = Seq(8, 16, 32)
  val TruncProbes = "vec_id < 20"

  def dimTruncationAudit(spark: SparkSession, dir: String): DataFrame =
    dimTruncationAuditOf(
      Tables.load(spark, dir, "embeddings").select("vec_id", "embedding"))

  /** The audit over an arbitrary (vec_id, embedding) frame — the spec
    * entry point. */
  def dimTruncationAuditOf(vecs0: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = vecs0.sparkSession
    val k = LlmQueries.BruteK
    val vecs = vecs0.transform(graft.core.EngineCache.persisted)
    val exact = graft.llm.Similarity
      .bruteForceTopK(vecs, expr(TruncProbes), k)
      .select("query_id", "cand_id")
      .transform(graft.core.EngineCache.persisted)
    val nProbes = exact.select("query_id").distinct().count()
    val rows = TruncDims.map { d =>
      // zero-norm guard: an all-zero prefix has no cosine (NaN sorts
      // ABOVE every double in DESC order — it would float to the top
      // of every truncated top-k, with different NULL semantics in the
      // oracle); such rows simply leave the sliced leg, costing the
      // probe its hits rather than corrupting the ranking
      val tv = vecs.selectExpr("vec_id",
          s"slice(embedding, 1, $d) AS embedding")
        .filter("exists(embedding, p -> p <> CAST(0 AS FLOAT))")
      val hits = graft.llm.Similarity
        .bruteForceTopK(tv, expr(TruncProbes), k)
        .select("query_id", "cand_id")
        .join(exact, Seq("query_id", "cand_id"), "left_semi")
        .count()
      (d.toLong, nProbes, hits,
        math.floor(hits.toDouble / (nProbes * k) * 1e6 + 0.5) / 1e6)
    }
    import spark.implicits._
    rows.toDF("dims", "n_probes", "hits", "recall").orderBy("dims")
  }

  def dimTruncationAuditSql: String = {
    import graft.llm.Similarity.cosineSql
    val k = LlmQueries.BruteK
    def topk(name: String, src: String): String = s"""
    $name AS (
      SELECT query_id, cand_id FROM (
        SELECT p.vec_id AS query_id, c.vec_id AS cand_id,
          row_number() OVER (PARTITION BY p.vec_id
            ORDER BY ${cosineSql("p.embedding", "c.embedding")}
              DESC, c.vec_id) AS rnk
        FROM $src p JOIN $src c ON p.vec_id <> c.vec_id
        WHERE p.$TruncProbes) z
      WHERE rnk <= $k)"""
    // sv$d: the sliced frame with q202's zero-norm guard mirrored
    val sliced = TruncDims.map { d =>
      s"""
    sv$d AS (
      SELECT vec_id, list_slice(embedding, 1, $d) AS embedding FROM v
      WHERE len(list_filter(list_slice(embedding, 1, $d),
        x -> x <> 0)) > 0)"""
    }.mkString(",")
    val legs = TruncDims.map(d => topk(s"a$d", s"sv$d")).mkString(",")
    val rows = TruncDims.map { d =>
      s"""
      SELECT CAST($d AS BIGINT) AS dims, np.n AS n_probes,
        (SELECT CAST(count(*) AS BIGINT) FROM a$d
         JOIN ex ON a$d.query_id = ex.query_id
               AND a$d.cand_id = ex.cand_id) AS hits,
        ${droundSql(
          s"(SELECT count(*) FROM a$d JOIN ex ON a$d.query_id = ex.query_id " +
            s"AND a$d.cand_id = ex.cand_id)::DOUBLE / (np.n * $k)", 6)}
          AS recall
      FROM np"""
    }.mkString("\n      UNION ALL")
    s"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    ${topk("ex", "v")},
    np AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n FROM ex),
    $sliced,
    $legs
    $rows
    ORDER BY dims"""
  }

  // ---------------------------------------------------------------- q209
  /** Simplified-silhouette cluster-quality audit (Rousseeuw 1987; the
    * centroid-distance simplification of Hruschka et al. 2004): for each
    * vector, a = distance to its OWN cell centroid, b = min distance to
    * any OTHER cell centroid, s = (b−a)/max(a,b); report per-cell mean s
    * and size. This is the health gauge for every cell-partitioned path
    * the engine serves (IVF cells q40/q52, k-means cells q166, semantic
    * dedup q92): a cell whose mean s collapses toward 0 is one whose
    * members sit as close to a neighbor centroid as their own — exactly
    * where the q169 recall audit finds its losses.
    *
    * Determinism: centroids are decimal-bridged means (q84's fold);
    * distances are sqrt of the codegen'd [[graft.functions.L2Sq]] kernel
    * quantized to a 1e-6 grid; each s lands on a 1e-8 integer grid
    * before the per-cell sum, so no fp aggregation order exists.
    *
    * Scale: centroids are k tiny rows → broadcast; ONE corpus scan
    * computes all k distances per vector (per-row state O(k)); the only
    * shuffles are the centroid aggregation (map-side combined to
    * k × dims rows) and the k-row final mean. */
  def silhouette(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    silhouetteOf(Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding")))
  }

  /** Core of q209 over any (vec_id, label, embedding) frame. */
  private[graft] def silhouetteOf(vecs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val v = vecs.transform(graft.core.EngineCache.persisted)
    val cents = v
      .select(col("label").as("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("cell", "dim").agg(davg(col("x").cast("double"), 8).as("c"))
      .groupBy("cell").agg(expr("transform(array_sort(collect_list(struct(dim, c))), " +
        "s -> CAST(s.c AS FLOAT))").as("cv"))
    val d = v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("cell"),
        expr("CAST(floor(sqrt(CAST(l2_sq(embedding, cv) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)")
          .as("d6"))
    val ab = d.groupBy("vec_id", "label")
      .agg(min(when(col("cell") === col("label"), col("d6"))).as("a6"),
        min(when(col("cell") =!= col("label"), col("d6"))).as("b6"))
    ab.select(col("label"),
        expr("CASE WHEN greatest(a6, b6) = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE CAST(floor((CAST(b6 - a6 AS DOUBLE) / CAST(greatest(a6, b6) AS DOUBLE)) " +
          "* 1e8 + 0.5) AS BIGINT) END").as("s8"))
      .groupBy("label")
      .agg(count(lit(1)).cast("int").as("n"), sum("s8").as("t8"))
      .select(col("label").as("cluster"), col("n"),
        dround(col("t8").cast("double") / lit(1e8) / col("n"), 6).as("mean_sil"))
      .orderBy("cluster")
  }

  private[operators] def silhouetteSql: String = {
    def sq(i: String) =
      s"(v.embedding[$i]::DOUBLE - cent.cv[$i]::DOUBLE) * (v.embedding[$i]::DOUBLE - cent.cv[$i]::DOUBLE)"
    s"""
    WITH v AS (SELECT vec_id, label, embedding FROM embeddings),
    e AS (SELECT label AS cell, (unnest(range(1, len(embedding) + 1)) - 1)::INT AS dim,
          unnest(embedding) AS x FROM v),
    cd AS (SELECT cell, dim, ${avgSql("x::DOUBLE", 8)} AS c FROM e GROUP BY 1, 2),
    cent AS (SELECT cell, list_transform(list(c ORDER BY dim), y -> y::FLOAT) AS cv
             FROM cd GROUP BY cell),
    d AS (SELECT v.vec_id, v.label, cent.cell,
      CAST(floor(sqrt(list_sum(list_transform(range(1, len(v.embedding) + 1),
        i -> ${sq("i")}))) * 1e6 + 0.5) AS BIGINT) AS d6
      FROM v, cent),
    ab AS (SELECT vec_id, label,
      min(CASE WHEN cell = label THEN d6 END) AS a6,
      min(CASE WHEN cell <> label THEN d6 END) AS b6
      FROM d GROUP BY 1, 2),
    s AS (SELECT label, CASE WHEN greatest(a6, b6) = 0 THEN 0
      ELSE CAST(floor(((b6 - a6)::DOUBLE / greatest(a6, b6)::DOUBLE) * 1e8 + 0.5) AS BIGINT)
      END AS s8 FROM ab)
    SELECT label AS cluster, count(*)::INT AS n,
      ${droundSql("sum(s8)::BIGINT::DOUBLE / 1e8 / count(*)", 6)} AS mean_sil
    FROM s GROUP BY label ORDER BY cluster"""
  }

  // ---------------------------------------------------------------- q220
  /** Margin-based MUTUAL-kNN pair mining (Artetxe & Schwenk 2019 — the
    * CCMatrix/LASER bitext-mining criterion): split the embedding table
    * into two sides (even/odd vec_id, standing in for two languages or
    * two snapshots), score candidates by cosine, and keep pairs that
    * are (a) in each other's top-[[MineK]] lists — mutuality kills the
    * hub vectors that dominate raw-cosine mining — and (b) above the
    * RATIO margin cos(x,y) / mean(top-k cos of x, top-k cos of y) ≥
    * [[MineTau]], which normalizes away each vector's own similarity
    * scale. Alignment-pair mining is the retrieval family's missing
    * SYMMETRIC op: q39/q146 rank candidates for one probe; this emits
    * the globally consistent pair set two corpora agree on.
    *
    * Blocking: candidates must share a cell (`label` — the IVF
    * quantizer stands in), exactly CCMatrix's FAISS-bucketed
    * architecture, so the score join is an equi-join on the cell key —
    * never a cartesian — and per-cell work is |X_c|·|Y_c|. The scored
    * frame is the one quadratic-within-cell intermediate; it persists
    * because BOTH direction's top-k aggregations consume it, and each
    * aggregation is [[graft.functions.VectorAggregates.topKPerGroup]]
    * (map-side k-bounded — the exchange carries O(n·k), the
    * window form would shuffle every scored row).
    *
    * Determinism: c6 = floor(cos·1e6 + 0.5) as BIGINT the moment it
    * leaves fp; top-k sums and counts are exact ints; the margin's one
    * division runs on identical doubles in both engines and lands on a
    * 1e-6 grid. Ties everywhere break on the partner id. */
  val MineK = 4
  val MineTau = "1.03" // margin threshold, spelled once for both engines

  def marginMine(spark: SparkSession, dir: String): DataFrame =
    marginMineOf(Tables.load(spark, dir, "embeddings"))

  /** Core of q220 over any (vec_id, label, embedding) frame. */
  private[graft] def marginMineOf(vecs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val e = vecs.select(col("vec_id"), col("label"), col("embedding"))
    val xs = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("xid"), col("label"), col("embedding").as("xv"))
    val ys = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("yid"), col("label"), col("embedding").as("yv"))
    val scored = xs.join(ys, "label")
      .select(col("xid"), col("yid"),
        expr("CAST(floor(cosine_sim(xv, yv) * 1e6 + 0.5) AS BIGINT)").as("c6"))
      .transform(graft.core.EngineCache.persisted)
    def side(idCol: String, otherCol: String) = graft.functions.VectorAggregates
      .topKPerGroup(scored, idCol, MineK, "c6", otherCol)
      .select(col(idCol), col(otherCol), col("c6").cast("long").as("c6"),
        col("rnk").as("rk"))
    val tx = side("xid", "yid").transform(graft.core.EngineCache.persisted)
    val ty = side("yid", "xid").transform(graft.core.EngineCache.persisted)
    val ax = tx.groupBy("xid").agg(sum("c6").as("sx6"), count(lit(1)).as("kx"))
    val ay = ty.groupBy("yid").agg(sum("c6").as("sy6"), count(lit(1)).as("ky"))
    tx.select(col("xid"), col("yid"), col("c6"))
      .join(ty.select(col("xid"), col("yid")), Seq("xid", "yid"))
      .join(ax, "xid").join(ay, "yid")
      .select(col("xid"), col("yid"),
        expr("CAST(c6 AS DOUBLE) / 1e6").as("cos"),
        expr("floor((CAST(c6 * (kx + ky) AS DOUBLE) / " +
          "CAST(sx6 + sy6 AS DOUBLE)) * 1e6 + 0.5) / 1e6").as("margin"))
      .filter(expr(s"margin >= $MineTau"))
      .orderBy("xid", "yid")
  }

  private[operators] def marginMineSql: String = {
    // cosineSql's kernel with the half-up bridge kept in INTEGER form —
    // re-multiplying the /1e6 double by 1e6 would re-enter fp at the
    // exact grid boundary the bridge exists to avoid
    def dot(x: String, y: String) =
      s"list_sum(list_transform(range(1, len($x) + 1), " +
        s"i -> ($x)[i]::DOUBLE * ($y)[i]::DOUBLE))"
    def nrm(x: String) =
      s"sqrt(list_sum(list_transform($x, p -> p::DOUBLE * p::DOUBLE)))"
    val c6 = s"CAST(floor((${dot("x.embedding", "y.embedding")} / " +
      s"(${nrm("x.embedding")} * ${nrm("y.embedding")})) * 1e6 + 0.5) AS BIGINT)"
    s"""
    WITH xs AS (SELECT vec_id, label, embedding FROM embeddings
                WHERE vec_id % 2 = 0),
    ys AS (SELECT vec_id, label, embedding FROM embeddings
           WHERE vec_id % 2 = 1),
    c AS (SELECT x.vec_id AS xid, y.vec_id AS yid, $c6 AS c6
          FROM xs x JOIN ys y ON x.label = y.label),
    rx AS (SELECT xid, yid, c6, row_number() OVER (PARTITION BY xid
             ORDER BY c6 DESC, yid) AS rk FROM c),
    ry AS (SELECT xid, yid, c6, row_number() OVER (PARTITION BY yid
             ORDER BY c6 DESC, xid) AS rk FROM c),
    ax AS (SELECT xid, sum(c6)::BIGINT AS sx6, count(*) AS kx FROM rx
           WHERE rk <= $MineK GROUP BY xid),
    ay AS (SELECT yid, sum(c6)::BIGINT AS sy6, count(*) AS ky FROM ry
           WHERE rk <= $MineK GROUP BY yid),
    mutual AS (
      SELECT rx.xid, rx.yid, rx.c6
      FROM rx JOIN ry ON rx.xid = ry.xid AND rx.yid = ry.yid
      WHERE rx.rk <= $MineK AND ry.rk <= $MineK),
    m AS (
      SELECT mu.xid, mu.yid, CAST(mu.c6 AS DOUBLE) / 1e6 AS cos,
        floor((CAST(mu.c6 * (ax.kx + ay.ky) AS DOUBLE) /
          CAST(ax.sx6 + ay.sy6 AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS margin
      FROM mutual mu JOIN ax ON mu.xid = ax.xid JOIN ay ON mu.yid = ay.yid)
    SELECT xid, yid, cos, margin FROM m
    WHERE margin >= $MineTau ORDER BY xid, yid"""
  }

  // ---------------------------------------------------------------- q227
  /** MMR diversity re-ranking (Carbonell & Goldstein 1998 — maximal
    * marginal relevance): the serving verb pure similarity ranking
    * lacks — a top-k of near-duplicates wastes its slots, so each pick
    * maximizes λ·rel(c) − (1−λ)·max_{s∈picked} sim(c, s): relevance
    * traded against redundancy with what is already shown. Greedy over
    * a BOUNDED pool (the q193 rerank discipline: [[MmrPool]] exact-
    * cosine candidates per probe from the bounded top-k aggregator),
    * with pool-internal pairwise sims computed once — per-probe work is
    * Pool² ints, corpus size never enters after the pool is cut. The
    * greedy is [[MmrK]] unrolled rounds over O(probes × Pool) frames;
    * λ = 0.7 is spelled as the integer pair 7/3 on the 1e-6 cosine
    * grid (score10 = 7·rel6 − 3·maxsim6), so every pick is exact
    * integer arithmetic with cand_id ties — bit-identical in both
    * engines. Pick 1 is the plain relevance argmax (no redundancy term
    * exists yet); its mmr column is NULL by definition. */
  val MmrPool = 20
  val MmrK = 5
  val MmrProbeWhere = "vec_id < 10"

  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    mmrRerankOf(Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")))
  }

  /** Core of q227 over any (vec_id, embedding) frame.
    *
    * The pool and its pairwise sims compute DISTRIBUTED (that is where
    * corpus size lives); the greedy itself runs on the DRIVER over the
    * collected O(probes × Pool²) integers — bounded by construction,
    * independent of corpus size, and exactly where production rerankers
    * run it (per-query, in memory). The distributed spelling was
    * measured first: [[MmrK]] unrolled rounds of joins + windows over
    * sub-kilobyte frames cost 9-14 s of pure planning/scheduling at ANY
    * scale factor — the per-round job overhead IS the cost, the q181
    * lesson in miniature — while the collected greedy is milliseconds.
    * Every pick is exact integer arithmetic ((7·rel6 − 3·sim6) with
    * cand_id ties), identical to the oracle's unrolled-CTE rounds. */
  private[graft] def mmrRerankOf(vecs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.llm.Similarity
    val spark = vecs.sparkSession
    val v = vecs.transform(graft.core.EngineCache.persisted)
    val pool = Similarity.bruteForceTopK(v, expr(MmrProbeWhere), MmrPool)
      .select(col("query_id"), col("cand_id"),
        expr("CAST(round(cos * 1e6) AS BIGINT)").as("rel6"))
      .transform(graft.core.EngineCache.persisted)
    val pv = v.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    val withVec = pool.join(pv, "cand_id")
      .select(col("query_id"), col("cand_id"), col("rel6"), col("cv"))
      .transform(graft.core.EngineCache.persisted)
    // O(probes × Pool) relevance rows + O(probes × Pool²) sim ints —
    // the bounded per-query working set every reranker holds in memory
    val rel = withVec.select("query_id", "cand_id", "rel6").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val simRows = withVec.alias("a")
      .join(withVec.alias("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.cand_id") =!= col("b.cand_id"))
      .select(col("a.query_id"), col("a.cand_id"), col("b.cand_id"),
        expr("CAST(round(" +
          Similarity.cosineExpr("a.cv", "b.cv") + " * 1e6) AS BIGINT)"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val out = rel.keys.map(_._1).toSeq.distinct.sorted.flatMap { q =>
      val cands = rel.keys.filter(_._1 == q).map(_._2).toSeq.sorted
      var picked = Vector.empty[(Long, Option[Long])] // (cand, mmr10)
      while (picked.size < MmrK && picked.size < cands.size) {
        val rest = cands.filterNot(c => picked.exists(_._1 == c))
        if (picked.isEmpty) {
          // pick 1: pure relevance argmax, cand_id ties ascending
          val c = rest.maxBy(c => (rel((q, c)), -c))
          picked :+= (c, None)
        } else {
          val best = rest.maxBy { c =>
            val ms = picked.map(p => simRows((q, c, p._1))).max
            (7L * rel((q, c)) - 3L * ms, -c)
          }
          val ms = picked.map(p => simRows((q, best, p._1))).max
          picked :+= (best, Some(7L * rel((q, best)) - 3L * ms))
        }
      }
      picked.zipWithIndex.map { case ((c, mmr10), i) =>
        (q, i + 1, c, rel((q, c)).toDouble / 1e6,
          mmr10.map(_.toDouble / 1e7))
      }
    }
    import spark.implicits._
    out.toDF("query_id", "pick", "cand_id", "rel", "mmr")
      .select(col("query_id"), col("pick"), col("cand_id"), col("rel"),
        col("mmr").cast("double").as("mmr"))
      .orderBy("query_id", "pick")
  }

  private[operators] def mmrRerankSql: String = {
    // list_dot_product: DuckDB's fused sequential loop — identical
    // element order and IEEE ops to the lambda spelling (bit-equality
    // probed exhaustively in Similarity.cosineSql's swap), minus the
    // per-element lambda frames.
    def dot(x: String, y: String) =
      s"list_dot_product(($x)::DOUBLE[], ($y)::DOUBLE[])"
    def nrm(x: String) =
      s"sqrt(list_dot_product(($x)::DOUBLE[], ($x)::DOUBLE[]))"
    def cos6(x: String, y: String) =
      s"CAST(round((floor((${dot(x, y)} / (${nrm(x)} * ${nrm(y)})) " +
        s"* 1e6 + 0.5) / 1e6) * 1e6) AS BIGINT)"
    val rounds = (2 to MmrK).map { i =>
      s"""ms$i AS (
      SELECT s.query_id, s.ca AS cand_id, max(s.sim6) AS ms6
      FROM sims s JOIN sel${i - 1} p
        ON s.query_id = p.query_id AND s.cb = p.cand_id
      GROUP BY s.query_id, s.ca),
    pick$i AS (
      SELECT query_id, cand_id, rel6, $i AS pick,
        (rel6 * 7 - ms6 * 3) AS mmr10
      FROM (
        SELECT r.query_id, r.cand_id, r.rel6, m.ms6,
          row_number() OVER (PARTITION BY r.query_id
            ORDER BY (r.rel6 * 7 - m.ms6 * 3) DESC, r.cand_id) AS rn
        FROM pool r
        JOIN ms$i m ON r.query_id = m.query_id AND r.cand_id = m.cand_id
        LEFT JOIN sel${i - 1} d
          ON r.query_id = d.query_id AND r.cand_id = d.cand_id
        WHERE d.cand_id IS NULL) z
      WHERE rn = 1),
    sel$i AS (SELECT query_id, cand_id FROM sel${i - 1}
              UNION ALL SELECT query_id, cand_id FROM pick$i)"""
    }.mkString(",\n    ")
    // v/pool/sims MATERIALIZED: sims (pool² cosines over embeddings) is
    // referenced by every one of the MmrK-1 ms_i rounds and pool by
    // every pick_i — inlined, the candidate scoring re-ran per round.
    s"""
    WITH v AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
    p AS (SELECT vec_id AS query_id, embedding AS qv FROM v
          WHERE $MmrProbeWhere),
    scored AS (
      SELECT query_id, vec_id AS cand_id,
        ${cos6("qv", "embedding")} AS rel6
      FROM p JOIN v ON query_id <> vec_id),
    pool AS MATERIALIZED (
      SELECT query_id, cand_id, rel6 FROM (
        SELECT query_id, cand_id, rel6,
          row_number() OVER (PARTITION BY query_id
            ORDER BY rel6 DESC, cand_id) AS rnk
        FROM scored) z WHERE rnk <= $MmrPool),
    sims AS MATERIALIZED (
      SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
        ${cos6("va.embedding", "vb.embedding")} AS sim6
      FROM pool a
      JOIN pool b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
      JOIN v va ON a.cand_id = va.vec_id
      JOIN v vb ON b.cand_id = vb.vec_id),
    pick1 AS (
      SELECT query_id, cand_id, rel6, 1 AS pick,
        CAST(NULL AS BIGINT) AS mmr10
      FROM (
        SELECT query_id, cand_id, rel6,
          row_number() OVER (PARTITION BY query_id
            ORDER BY rel6 DESC, cand_id) AS rn
        FROM pool) z WHERE rn = 1),
    sel1 AS (SELECT query_id, cand_id FROM pick1),
    $rounds
    SELECT query_id, pick, cand_id,
      CAST(rel6 AS DOUBLE) / 1e6 AS rel,
      CAST(mmr10 AS DOUBLE) / 1e7 AS mmr
    FROM (${(1 to MmrK).map(i => s"SELECT * FROM pick$i")
      .mkString(" UNION ALL ")}) u
    ORDER BY query_id, pick"""
  }

  // ---------------------------------------------------------------- q261
  /** GRAPH-REFINED ANN serve — the graph-based search family
    * (NSW/DiskANN's serving shape) beside the quantization family the
    * suite already carries: a degree-[[NswG]] neighbor GRAPH persists
    * at rest, its edges the per-node best of the SRP-LSH candidate
    * pairs (the q54 hyperplane machinery — GEOMETRIC and cell-free;
    * the fixture's `label` column is provably uncorrelated with
    * embedding geometry, so a label-blocked graph recalls ~15% where
    * this one reaches ~65%), and a corpus-probe query serves by
    * BOUNDED GREEDY REFINEMENT: seed the walk at the query's own
    * node, score the [[NswBeam]]-wide beam's out-neighbors, keep the
    * best, repeat [[NswHops]] times (an external query would seed by
    * the same SRP bucket lookup that built the edges). Serving cost is
    * O(queries · hops · beam · degree) scored rows REGARDLESS of
    * corpus size — the economics that let a graph index serve from
    * disk at billions of vectors — and the walk genuinely refines:
    * on this corpus recall@5 grows 17→19→23→26 (of 40) over hops
    * 1→4, +53% over the pure LSH shortlist the edges came from,
    * because neighbors-of-neighbors recover what banding missed.
    * Determinism: 1e-6-grid cosine with (cos DESC, id) ties
    * everywhere — edges, beam, final top-k — so both engines walk the
    * identical path; the seed node is excluded only from the final
    * ranking (spelled in both dialects). Maintenance rides the
    * frozen-artifact discipline: append = sign + band + edge-select
    * the batch against stored signatures (O(batch) — the q145 shape),
    * delete = drop node rows + rebuild only edges whose src or dst
    * died. The ORACLE replays signatures, banding, edge selection,
    * and the unrolled four-hop walk as chained CTEs. q262 is the
    * HONESTY leg: recall of the walk against the exact brute-force
    * top-[[NswK]], the number a rollout reads before trusting the
    * graph. */
  val NswG = 8
  val NswBeam = 16
  val NswHops = 4
  val NswK = 5
  private val NswProbeWhere = "vec_id < 8"

  /** Degree-G SRP-candidate adjacency (src, dst, cos) for an arbitrary
    * (vec_id, embedding) frame: band-join candidates, exact cosine,
    * top-G per node. */
  private[graft] def nswGraphOf(vectors: DataFrame,
      geom: NswGeometry = NswGeometry.frozen): DataFrame =
    nswTopG(graft.llm.Similarity.srpCandidatePairs(
      vectors, geom.bits, geom.bands), None)

  /** Edge selection, shared by the build and every repair: both
    * directions of each scored candidate pair (id_a, id_b, cos), then
    * the top-[[NswG]] per src by (cos DESC, dst). `srcs` (a vec_id
    * frame) restricts it to the sources being repaired, by a broadcast
    * semi-join ahead of the window. */
  private def nswTopG(pairs: DataFrame, srcs: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val directed = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"), col("cos"))
      .unionByName(pairs
        .select(col("id_b").as("src"), col("id_a").as("dst"), col("cos")))
    srcs.fold(directed)(s => directed.join(
        broadcast(s.select(col("vec_id").as("src"))), Seq("src"), "left_semi"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("src"))
        .orderBy(col("cos").desc, col("dst"))))
      .filter(col("rk") <= NswG)
      .select("src", "dst", "cos")
  }

  private[operators] def nswGraphAtRest(spark: SparkSession,
                                        dir: String): DataFrame = {
    val table = "nswgraph_" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    graft.core.Warehouse.tableOnce(spark, table) {
      nswGraphOf(Tables.load(spark, dir, "embeddings"))
    }
  }

  /** The bounded walk over an arbitrary (vectors, graph) pair — the
    * spec entry. Probes are `probeWhere` rows of `vectors`.
    *
    * r13 optimization: the walk's per-hop state, the probes and the
    * graph side are cuts ([[graft.core.EngineCache.cut]]), not plain
    * persists. When the graph argument is a maintenance verb's
    * un-materialized repair DAG (q264/q265/q279), every hop's plan used
    * to re-embed that whole tree, and each hop references `visited`
    * twice: the walk alone measured 39.6 s at sf0.1, and 6.0 s with the
    * lineage cut, output identical (mismatches 0). */
  private[graft] def nswSearchOf(vectors: DataFrame, graph: DataFrame,
                                 probeWhere: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def P(df: DataFrame): DataFrame = graft.core.EngineCache.persisted(df)
    def B(df: DataFrame): DataFrame = graft.core.EngineCache.cut(df)._1
    val v = P(vectors.select(col("vec_id"), col("embedding")))
    val probes = B(v.filter(probeWhere)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
    val g = B(graph.select("src", "dst"))
    def score(cands: DataFrame): DataFrame = cands
      .join(v.select(col("vec_id").as("cand_id"),
        col("embedding").as("cv")), "cand_id")
      .join(broadcast(probes), "query_id")
      .withColumn("cos", expr(graft.llm.Similarity.cosineExpr("qv", "cv")))
      .select("query_id", "cand_id", "cos")
    // seed at the query's own node (corpus probes; an external query
    // seeds by the same SRP bucket lookup that built the edges)
    var visited = B(probes.select(col("query_id"),
      col("query_id").as("cand_id"), lit(1.0).as("cos")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    for (_ <- 1 to NswHops) {
      val beam = visited.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= NswBeam)
        .select(col("query_id"), col("cand_id").as("src"))
      val expanded = score(beam.join(g, "src")
        .select(col("query_id"), col("dst").as("cand_id")))
      visited = B(visited.unionByName(expanded)
        .groupBy("query_id", "cand_id").agg(max("cos").as("cos")))
    }
    visited.filter(col("cand_id") =!= col("query_id"))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= NswK)
      .select("query_id", "rnk", "cand_id", "cos")
      .orderBy("query_id", "rnk")
  }

  def nswSearch(spark: SparkSession, dir: String): DataFrame =
    nswSearchOf(Tables.load(spark, dir, "embeddings"),
      nswGraphAtRest(spark, dir), NswProbeWhere)

  /** The walk's oracle CTE chain from a `v(vec_id, embedding, cell)`
    * CTE, ending in a `walked(query_id, rnk, cand_id, cos)` CTE —
    * shared by q261 and the q262 recall audit. */
  private def nswWalkCtes: String = {
    def cos(a: String, b: String) = graft.llm.Similarity.cosineSql(a, b)
    val bits = LlmQueries.SrpBits
    val bands = LlmQueries.SrpBands
    val rows = bits / bands
    val mask = (1L << rows) - 1
    val bandCases = (0 until bands).map { b =>
      s"WHEN $b THEN 'p$b:' || ((sig >> ${b * rows}) & $mask)::VARCHAR"
    }.mkString(" ")
    val bandVals = (0 until bands).map(b => s"($b)").mkString(",")
    val hops = (1 to NswHops).map { h =>
      s"""beam$h AS (
        SELECT query_id, cand_id FROM (
          SELECT query_id, cand_id, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rk
          FROM vis${h - 1}) z WHERE rk <= $NswBeam),
      exp$h AS (
        SELECT b.query_id, g.dst AS cand_id,
          ${cos("p.qv", "cv.embedding")} AS cos
        FROM beam$h b
        JOIN g ON g.src = b.cand_id
        JOIN v cv ON cv.vec_id = g.dst
        JOIN p ON p.query_id = b.query_id),
      vis$h AS MATERIALIZED (
        SELECT DISTINCT query_id, cand_id, cos FROM (
          SELECT * FROM vis${h - 1} UNION ALL SELECT * FROM exp$h) u)"""
    }.mkString(",\n")
    // MATERIALIZED (DuckDB): each vis_h is referenced by BOTH beam_{h+1}
    // and vis_{h+1}, so inlined CTEs re-expand the whole walk 2^hops
    // times — the DuckDB twin of the Spark lineage blowup the r13
    // lineage cuts removed. Pinning sv/cand/g/vis_h cuts the
    // q264 oracle 137 s → seconds with row-identical output (verified).
    s"""sv AS MATERIALIZED (
      SELECT vec_id, embedding, ${graft.llm.Similarity.srpSigSql(
        "embedding", bits, LlmQueries.EmbDims)} AS sig
      FROM v),
    banded AS MATERIALIZED (
      SELECT vec_id, embedding, CASE blk.band_id $bandCases END AS bk
      FROM sv, (VALUES $bandVals) blk(band_id)),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
        ${cos("a.embedding", "b.embedding")} AS cos
      FROM banded a JOIN banded b ON a.bk = b.bk AND a.vec_id <> b.vec_id),
    g AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT src, dst, row_number() OVER (
          PARTITION BY src ORDER BY cos DESC, dst) AS rk
        FROM cand) z WHERE rk <= $NswG),
    p AS (SELECT vec_id AS query_id, embedding AS qv FROM v
          WHERE $NswProbeWhere),
    vis0 AS (
      SELECT query_id, query_id AS cand_id, 1.0::DOUBLE AS cos FROM p),
    $hops,
    walked AS (
      SELECT query_id, rnk, cand_id, cos FROM (
        SELECT query_id, cand_id, cos, (row_number() OVER (
          PARTITION BY query_id ORDER BY cos DESC, cand_id))::INT AS rnk
        FROM vis$NswHops WHERE cand_id <> query_id) z
      WHERE rnk <= $NswK)"""
  }

  def nswSearchSql(table: String): String = nswSearchSqlWhere(table, "1=1")

  // ---------------------------------------------------------------- q262
  /** The graph walk's HONESTY leg (the q169 discipline for q261):
    * recall of the bounded walk against the exact brute-force
    * top-[[NswK]], per query, as exact integers — the number a
    * rollout reads before trusting the graph index. One broadcast
    * probes × corpus scan for the truth set; the walk itself reuses
    * the at-rest graph. */
  def nswRecall(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = Tables.load(spark, dir, "embeddings")
    val walk = nswSearchOf(vecs, nswGraphAtRest(spark, dir), NswProbeWhere)
    val truth = graft.llm.Similarity.bruteForceTopK(
      vecs, expr(NswProbeWhere), NswK)
    walk.join(truth.select(col("query_id"),
        col("cand_id"), lit(1L).as("hit")),
      Seq("query_id", "cand_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k_served"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("query_id"), col("k_served"),
        col("n_hits"), lit(NswK.toLong).as("k"))
      .orderBy("query_id")
  }

  // ---------------------------------------------------------------- q264
  /** NSW graph APPEND — the q243/q256 maintenance discipline for the
    * q261 adjacency, with the strongest proof shape available:
    * maintain ∘ store ≡ REBUILD, verbatim. The base corpus (the q200
    * arrival event: vec_id ≢ [[NswBatchMod]] mod 10) signs, bands,
    * and edge-selects ONCE, publishing its (vec_id, sig) signature
    * table and its adjacency; an arriving batch is the ONLY data
    * signed (64-dim dot products), its band keys join against band
    * keys DERIVED from the stored signatures by shift arithmetic —
    * the base is never re-signed. Edge selection is a deterministic
    * top-[[NswG]] over band candidates, so the only base nodes whose
    * adjacency can change are those sharing ≥ 1 band bucket with a
    * batch node — the AFFECTED set; their rows (plus the batch's)
    * recompute against the full candidate sets while every other
    * stored row passes through verbatim. Because candidate sets of
    * unaffected nodes are untouched by construction, the merged
    * adjacency EQUALS the full-corpus rebuild — and the oracle says
    * exactly that: it is q261's rebuild-walk replay, so the hash
    * match proves append ∘ store ≡ rebuild through the walk's
    * four-hop dynamics, not just row counts. Append cost: signing is
    * O(batch); candidate generation rides the SAME halved skeleton as
    * the rebuild (id_a < id_b, id-only dedup before the 64-float
    * payload joins) over stored ∪ batch signatures, then a broadcast
    * semi-join restricts the top-[[NswG]] window to affected ∪ batch
    * srcs — so the verb's worst case (dense buckets, every base node
    * affected) degrades to rebuild cost, never past it, and sparse
    * arrivals pay only their shared buckets. The spec additionally
    * pins adjacency-level equality with the rebuild and version
    * stability of both stored artifacts. */
  val NswBatchMod = 3

  private def srpBandKeys(sigCol: String,
      geom: NswGeometry = NswGeometry.frozen): Seq[String] = {
    val rows = geom.bitsPerBand
    val mask = (1L << rows) - 1
    (0 until geom.bands).map { b =>
      s"concat('p$b:', CAST(shiftright($sigCol, ${b * rows}) & $mask AS STRING))"
    }
  }

  /** (vec_id, sig) for an arbitrary embedding frame. Exposed to the
    * geometry tooling (`graft.ProfileNsw`, since deleted; its source is at
    * commit `7acfc0a`) so at-rest artifacts and verbs sign under the SAME
    * geometry word. */
  private[graft] def nswSigsOf(vectors: DataFrame,
      geom: NswGeometry = NswGeometry.frozen): DataFrame = {
    vectors.selectExpr("vec_id",
      s"srp_sig(embedding, ${geom.bits}) AS sig")
  }

  /** Candidate pairs touching `keep`, the skeleton STRATEGY chosen by
    * keep density: a sparse keep rides the keep-side generation
    * ([[graft.llm.Dedup.lshCandidatePairsTouching]] — work
    * proportional to the keep set's bucket populations, the
    * fixed-batch economics the round-12 soak demonstrates: delete
    * near-flat at 10× data); past half the store the halved
    * corpus-wide skeleton is cheaper (keep-side generation doubles
    * pre-dedup join rows as keep → everyone — measured 1.1–1.3× on
    * the dense 10%-cohort in-suite verbs) and is EXACTLY the
    * rebuild's cost bound, so the dense worst case never exceeds one
    * rebuild. Both strategies feed the same downstream
    * payload-join → cosine → direct → src-semi-join, whose output the
    * semi-join makes identical. The density read is two O(1) counts
    * of already-persisted frames. */
  private def candidatePairsAdaptive(sigP: DataFrame, bandKeysStr: String,
                                     keep: DataFrame): DataFrame =
    if (keep.count() * 2 >= sigP.count())
      graft.llm.Dedup.lshCandidatePairs(sigP, bandKeysStr)
    else
      graft.llm.Dedup.lshCandidatePairsTouching(sigP, bandKeysStr, keep)

  /** The bounded top-G repair all three maintenance verbs run, over
    * `sigP` (id, sig, embedding) — the signatures of the store being
    * maintained with their current payloads: candidate pairs touching
    * `srcs` (a vec_id frame), their payload cosine, the top-G of each
    * source in `srcs`, and the stored rows minus those of every source
    * in `replaced`, unioned with the fresh rows. A stored row outside
    * `replaced` passes through verbatim. */
  private def nswRepair(sigP: DataFrame, srcs: DataFrame, baseAdj: DataFrame,
                        replaced: Seq[DataFrame], geom: NswGeometry): DataFrame = {
    val bandKeysStr = srpBandKeys("sig", geom).mkString(", ")
    val pairs = graft.llm.Dedup.joinBackPayload(
        candidatePairsAdaptive(sigP, bandKeysStr, srcs.select("vec_id")),
        sigP, "embedding")
      .withColumn("cos",
        expr(graft.llm.Similarity.cosineExpr("embedding_a", "embedding_b")))
      .select(col("id_a"), col("id_b"), col("cos"))
    replaced.foldLeft(baseAdj)((adj, r) => adj.join(
        broadcast(r.select(col("vec_id").as("src"))), Seq("src"), "left_anti"))
      .select("src", "dst", "cos")
      .unionByName(nswTopG(pairs, Some(srcs)))
  }

  /** Band-mate trigger: the base nodes sharing ≥ 1 band bucket with a
    * batch arrival — the ONLY base nodes whose deterministic top-G can
    * change when the batch joins the candidate pool (edge selection
    * reads band candidates; a node gaining no band-mate gains no
    * candidate). Exposed so the spec can pin the maintenance verbs'
    * affected set against an independently spelled bound. */
  private[graft] def nswAppendAffectedOf(baseSigs: DataFrame,
                                         batchSigs: DataFrame,
      geom: NswGeometry = NswGeometry.frozen): DataFrame = {
    val bandKeysStr = srpBandKeys("sig", geom).mkString(", ")
    def banded(sigs: DataFrame): DataFrame =
      sigs.selectExpr("vec_id", s"explode(array($bandKeysStr)) AS bk")
    banded(baseSigs)
      .join(banded(batchSigs).select("bk").distinct(), "bk")
      .select("vec_id").distinct()
  }

  /** Edge-to-tombstone trigger: the survivors with a stored out-edge
    * into the cohort — the ONLY survivors whose top-G can change when
    * the cohort leaves (deletion only removes candidates; a node that
    * lost no stored edge lost no top-G member). Read off the at-rest
    * adjacency by an O(deleted)-keyed semi-join, never by re-banding. */
  private[graft] def nswDeleteAffectedOf(baseAdj: DataFrame,
                                         tombs: DataFrame): DataFrame =
    baseAdj
      .join(broadcast(tombs.select(col("vec_id").as("dst"))),
        Seq("dst"), "left_semi")
      .select(col("src").as("vec_id")).distinct()
      .join(broadcast(tombs), Seq("vec_id"), "left_anti")

  /** The append core over (all vectors, stored base sigs, stored base
    * adjacency, batch predicate) — returns the maintained adjacency;
    * shared by q264 and the spec. */
  private[graft] def nswGraphAppendOf(vectors: DataFrame, baseSigs: DataFrame,
                                      baseAdj: DataFrame,
                                      batchPred: String,
      geom: NswGeometry = NswGeometry.frozen): DataFrame =
    nswGraphAppendBySigs(vectors, baseSigs, baseAdj,
      nswSigsOf(vectors.filter(batchPred), geom), geom)

  /** The same append core over PRE-SIGNED batch signatures — the shape
    * the stream-time twin drives: signatures are per-row pure, so the
    * micro-batch sink lands them split-invariantly
    * ([[graft.streaming.EventAnalytics.startStreamingNswSigAppend]])
    * and the serve side folds base ∪ landed signatures through this
    * one bounded repair; StreamingAnalyticsSpec proves the streamed
    * path's adjacency equals the batch verb's, restart included. */
  private[graft] def nswGraphAppendBySigs(vectors: DataFrame,
                                          baseSigs: DataFrame,
                                          baseAdj: DataFrame,
                                          batchSigsIn: DataFrame,
      geom: NswGeometry = NswGeometry.frozen): DataFrame = {
    def P(df: DataFrame): DataFrame = graft.core.EngineCache.persisted(df)
    val batchSigs = P(batchSigsIn.select("vec_id", "sig"))
    // affected base nodes: share >= 1 bucket with a batch arrival
    val affected = P(nswAppendAffectedOf(baseSigs, batchSigs, geom))
    val srcs = P(affected.unionByName(batchSigs.select("vec_id")).distinct())
    // candidate pairs through the SAME halved skeleton shape the
    // rebuild uses (id_a < id_b, dedup on ids before the 64-float
    // payload joins) — over STORED base signatures ∪ batch signatures
    // (the base corpus is never re-signed) and RESTRICTED to the band
    // buckets the affected ∪ batch set touches: a fixed-size batch in
    // a sparse-bucket corpus pays O(its buckets' populations), not the
    // corpus-wide skeleton; dense buckets degrade to rebuild cost,
    // never past it
    val sigP = P(baseSigs.unionByName(batchSigs)
      .select(col("vec_id").as("id"), col("sig"))
      .join(vectors.select(col("vec_id").as("id"), col("embedding")), "id"))
    // untouched stored rows pass through verbatim — the at-rest scan
    nswRepair(sigP, srcs, baseAdj, Seq(affected), geom)
  }

  def nswAppendServe(spark: SparkSession, dir: String): DataFrame = {
    val suffix = dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val vecs = Tables.load(spark, dir, "embeddings")
    val baseV = vecs.filter(s"vec_id % 10 != $NswBatchMod")
    val baseSigs = graft.core.Warehouse.tableOnce(spark, s"nswsig_$suffix") {
      nswSigsOf(baseV)
    }
    val baseAdj = graft.core.Warehouse.tableOnce(spark, s"nswbase_$suffix") {
      nswGraphOf(baseV)
    }
    nswSearchOf(vecs,
      nswGraphAppendOf(vecs, baseSigs, baseAdj,
        s"vec_id % 10 = $NswBatchMod"),
      NswProbeWhere)
  }

  // ---------------------------------------------------------------- q265
  /** NSW graph DELETE — the tombstone verb that completes the q261
    * family's lifecycle (build q261 → append q264 → delete), with the
    * same rebuild-equality proof shape as the append: the at-rest
    * artifacts are the FULL-corpus adjacency q261 already published
    * plus a full-corpus signature table, a tombstone cohort
    * (vec_id ≡ [[NswDelRem]] mod [[NswDelMod]] — the re-embedding /
    * takedown event) leaves, and the maintained adjacency must equal
    * `nswGraphOf(survivors)` verbatim. The repair is BOUNDED by the
    * structure of the index: deletion only REMOVES candidates, so a
    * surviving node's top-[[NswG]] can change only if one of its
    * stored out-edges points at a dead node — the AFFECTED set, read
    * off the stored adjacency by a broadcast semi-join on the
    * O(deleted) tombstone list, never by re-banding. Affected rows
    * (only) recompute their top-G over survivor candidates through
    * the SAME halved LSH skeleton as the rebuild — stored signatures,
    * nothing re-signed — while every other surviving row passes
    * through verbatim and dead srcs drop by anti-join. The ORACLE is
    * q261's rebuild-walk replay over the tombstone-filtered corpus,
    * so the hash match proves delete ∘ store ≡ rebuild through the
    * walk's four-hop dynamics; the spec additionally pins
    * adjacency-level set equality with the survivor rebuild, serve
    * determinism, version stability of both stored artifacts, and
    * that no tombstoned id survives as src, dst, or served
    * candidate. Physical purge of the dropped rows rides the q225
    * compaction discipline (the adjacency is a plain keyed table —
    * the anti-join IS the purge plan). */
  val NswDelMod = 10
  val NswDelRem = 9 // disjoint from the probe set (vec_id < 8)

  /** The delete core over (stored full-corpus sigs, stored full-corpus
    * adjacency, full vectors frame, tombstone predicate) — returns the
    * maintained survivor adjacency; shared by q265 and the spec. */
  private[graft] def nswGraphDeleteOf(baseSigs: DataFrame, baseAdj: DataFrame,
                                      vectors: DataFrame,
                                      delPred: String,
      geom: NswGeometry = NswGeometry.frozen): DataFrame =
    nswGraphDeleteByIds(baseSigs, baseAdj, vectors,
      baseSigs.filter(delPred).select("vec_id"), geom)

  /** The same delete core keyed by an EXPLICIT tombstone id frame —
    * the shape the composed takedown feed drives: the
    * [[graft.streaming.TakedownPipeline]] `ids/` artifact (doc keys
    * doubling as vector keys in a doc-embedding store) anti-joins and
    * repairs exactly as the predicate spelling does; ids absent from
    * the store no-op through every join. StreamingAnalyticsSpec proves
    * the feed-driven store serves rebuild-equal, restart included. */
  private[graft] def nswGraphDeleteByIds(baseSigs: DataFrame,
                                         baseAdj: DataFrame,
                                         vectors: DataFrame,
                                         tombIds: DataFrame,
      geom: NswGeometry = NswGeometry.frozen): DataFrame = {
    def P(df: DataFrame): DataFrame = graft.core.EngineCache.persisted(df)
    val tombs = P(tombIds.toDF("vec_id"))
    // affected survivors: a stored out-edge points at a dead node —
    // O(deleted)-keyed semi-join on the at-rest adjacency, no re-banding
    val affected = P(nswDeleteAffectedOf(baseAdj, tombs))
    // survivor candidate regen rides the SAME halved skeleton shape as
    // the rebuild, over STORED signatures (nothing re-signed) and
    // RESTRICTED to the band buckets the affected set touches — a
    // sparse takedown pays O(the affected nodes' bucket populations),
    // and the dense worst case (every survivor affected) degrades to
    // rebuild cost, never past it
    val survSigs = baseSigs.join(broadcast(tombs), Seq("vec_id"), "left_anti")
    val sigP = P(survSigs
      .select(col("vec_id").as("id"), col("sig"))
      .join(vectors.select(col("vec_id").as("id"), col("embedding")), "id"))
    // unaffected survivors pass through verbatim (by construction none
    // of their stored dsts died); dead srcs leave by anti-join
    nswRepair(sigP, affected, baseAdj, Seq(tombs, affected), geom)
  }

  def nswDeleteServe(spark: SparkSession, dir: String): DataFrame = {
    val suffix = dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val vecs = Tables.load(spark, dir, "embeddings")
    val fullSigs = graft.core.Warehouse.tableOnce(spark, s"nswfsig_$suffix") {
      nswSigsOf(vecs)
    }
    val fullAdj = nswGraphAtRest(spark, dir) // the SAME artifact q261 serves
    val pred = s"vec_id % $NswDelMod = $NswDelRem"
    nswSearchOf(vecs.filter(s"NOT ($pred)"),
      nswGraphDeleteOf(fullSigs, fullAdj, vecs, pred),
      NswProbeWhere)
  }

  def nswSearchSqlWhere(table: String, where: String): String =
    nswSearchSqlV(s"SELECT vec_id, embedding FROM $table WHERE $where")

  /** The rebuild-walk oracle over an arbitrary `v` SELECT body — the
    * general form q261/q264/q265/q279 all instantiate. */
  def nswSearchSqlV(vSelect: String): String = s"""
    WITH v AS ($vSelect),
    $nswWalkCtes
    SELECT query_id, rnk, cand_id, cos FROM walked
    ORDER BY query_id, rnk"""

  // ---------------------------------------------------------------- q279
  /** NSW graph UPDATE — the composed upsert verb that completes the
    * family's lifecycle (build q261 → append q264 → delete q265 →
    * UPDATE): a cohort of vectors is RE-EMBEDDED (vec_id ≡
    * [[NswUpdRem]] mod [[NswUpdMod]], deterministic sign flip — q236's
    * event for the graph family), and the maintained adjacency FUSES
    * the delete and append triggers into ONE bounded repair over the
    * SAME at-rest artifacts q261 published ([[nswGraphUpdateOf]]):
    * affected = survivors whose stored edge points at a cohort id
    * (q265's trigger) ∪ survivors sharing a band bucket with a
    * re-embedded arrival (q264's trigger), recomputed in a single
    * candidate-skeleton pass — only the cohort's new vectors sign, the
    * stored artifacts never rewrite, and worst case degrades to ONE
    * rebuild cost, never past it (the naive delete∘append chaining
    * measurably paid the skeleton twice). The
    * ORACLE is the rebuild walk over the sign-flipped corpus
    * ([[nswSearchSqlV]]), so the hash match proves
    * update ∘ store ≡ rebuild-with-new-values through the walk's
    * four-hop dynamics; the spec pins adjacency set-equality with the
    * updated-corpus rebuild, serve determinism, and version stability
    * of both stored artifacts. */
  val NswUpdMod = 10
  val NswUpdRem = 5

  /** The FUSED update core: one candidate-skeleton pass instead of the
    * naive delete-then-append chaining. The affected set is the UNION
    * of both halves' — survivors whose stored edge points at a cohort
    * id (the delete trigger) and survivors sharing a band bucket with
    * a re-embedded arrival (the append trigger) — and the top-G
    * recompute runs ONCE over survivor sigs ∪ the cohort's new sigs.
    * Measured: the chained form paid the LSH skeleton twice and blew
    * the 60 s per-query watchdog at the 10× dense-bucket soak (~2×
    * rebuild); the fused form is bounded by ONE rebuild, like the
    * single verbs. Equality: an unaffected survivor lost no top-G
    * member (not delete-affected) and gained no band-mate (not
    * append-affected), so its stored row IS the rebuild's. */
  private[graft] def nswGraphUpdateOf(updated: DataFrame, baseSigs: DataFrame,
                                      baseAdj: DataFrame,
                                      pred: String,
      geom: NswGeometry = NswGeometry.frozen): DataFrame = {
    def P(df: DataFrame): DataFrame = graft.core.EngineCache.persisted(df)
    val tombs = P(baseSigs.filter(pred).select("vec_id"))
    val survSigs = P(baseSigs.filter(s"NOT ($pred)"))
    val batchSigs = P(nswSigsOf(updated.filter(pred), geom))
    // the two triggers, spelled as the single verbs spell them
    // ([[nswDeleteAffectedOf]] already excludes the cohort; the append
    // trigger runs over survivor signatures, which cannot contain it)
    val affected = P(nswDeleteAffectedOf(baseAdj, tombs)
      .unionByName(nswAppendAffectedOf(survSigs, batchSigs, geom))
      .distinct())
    val srcs = P(affected.unionByName(batchSigs.select("vec_id")).distinct())
    // ONE candidate pass over survivor ∪ new-batch signatures, with the
    // cohort's NEW embeddings on the payload side — restricted to the
    // band buckets the affected ∪ cohort set touches (the q264/q265
    // cost story: sparse cohorts pay their buckets, dense buckets
    // degrade to ONE rebuild, never past it)
    val sigP = P(survSigs.unionByName(batchSigs)
      .select(col("vec_id").as("id"), col("sig"))
      .join(updated.select(col("vec_id").as("id"), col("embedding")), "id"))
    nswRepair(sigP, srcs, baseAdj, Seq(tombs, affected), geom)
  }

  def nswUpdateServe(spark: SparkSession, dir: String): DataFrame = {
    val suffix = dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val vecs = Tables.load(spark, dir, "embeddings")
    val pred = s"vec_id % $NswUpdMod = $NswUpdRem"
    val updated = vecs.selectExpr("vec_id",
      s"CASE WHEN $pred THEN transform(embedding, x -> -x) " +
        "ELSE embedding END AS embedding")
    val fullSigs = graft.core.Warehouse.tableOnce(spark, s"nswfsig_$suffix") {
      nswSigsOf(vecs)
    }
    val fullAdj = nswGraphAtRest(spark, dir) // the SAME artifact q261 serves
    nswSearchOf(updated,
      nswGraphUpdateOf(updated, fullSigs, fullAdj, pred),
      NswProbeWhere)
  }

  // ---------------------------------------------------------------- q280
  /** RECIPROCAL-RANK-FUSION hybrid retrieval (Cormack, Clarke &
    * Büttcher 2009) — the fusion layer every modern retrieval stack
    * puts between its rankers and its consumer: the DENSE leg (exact
    * grid-cosine top-[[RrfTopK]] over the embedding store, q39's
    * broadcast probes × corpus scan) and the SPARSE leg (distinct-word
    * Jaccard top-[[RrfTopK]] over the document store) each rank the
    * probe's neighbors independently, and the fused score is
    * Σ 1/([[RrfK]] + rank) over the lists that contain the candidate —
    * rank-only fusion, so the two legs' incomparable score scales
    * (cosine vs Jaccard) never meet. The store is a doc-embedding
    * store: the document key IS the vector key, and a candidate
    * present in only one index still fuses on its single term (the
    * realistic partial-coverage case — a dense index that lags the
    * corpus). Scale: each leg is O(probes · corpus) brute-force by
    * design (this is the HONESTY-grade fusion baseline; the blocked
    * legs are q40/q123's machinery), the fusion itself is a full-outer
    * join of two O(probes · k) ranked lists. Determinism: the dense
    * leg rides the 1e-6 cosine grid; Jaccard and 1/(k+rank) are single
    * exactly-rounded IEEE divisions on identical integers, bit-equal
    * across engines; every rank and the fused order tie-break on
    * cand_id. */
  val RrfK = 60
  val RrfTopK = 10

  private def rrfSqlSkeleton(cosE: String, wsCol: String,
                             sizeFn: String, interE: String): String = s"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    p AS (SELECT vec_id AS query_id, embedding AS qv FROM v
          WHERE vec_id < 8),
    dscored AS (
      SELECT query_id, vec_id AS cand_id, $cosE AS cos
      FROM p JOIN v ON query_id <> vec_id),
    dense AS (
      SELECT query_id, cand_id, rd FROM (
        SELECT query_id, cand_id, CAST(row_number() OVER (
          PARTITION BY query_id ORDER BY cos DESC, cand_id) AS INT) AS rd
        FROM dscored) z WHERE rd <= $RrfTopK),
    dw AS (SELECT doc_id, $wsCol AS ws FROM documents),
    pw AS (SELECT doc_id AS query_id, ws AS qws FROM dw WHERE doc_id < 8),
    sscored AS (
      SELECT query_id, doc_id AS cand_id,
        CAST($interE AS DOUBLE) /
          ($sizeFn(qws) + $sizeFn(ws) - $interE) AS jac
      FROM pw JOIN dw ON query_id <> doc_id),
    sparse AS (
      SELECT query_id, cand_id, rs FROM (
        SELECT query_id, cand_id, CAST(row_number() OVER (
          PARTITION BY query_id ORDER BY jac DESC, cand_id) AS INT) AS rs
        FROM sscored) z WHERE rs <= $RrfTopK),
    fused AS (
      SELECT COALESCE(d.query_id, s.query_id) AS query_id,
        COALESCE(d.cand_id, s.cand_id) AS cand_id,
        COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + d.rd), CAST(0.0 AS DOUBLE)) +
          COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + s.rs), CAST(0.0 AS DOUBLE))
          AS rrf
      FROM dense d FULL OUTER JOIN sparse s
        ON d.query_id = s.query_id AND d.cand_id = s.cand_id)
    SELECT query_id, rnk, cand_id, rrf_score FROM (
      SELECT query_id, cand_id, CAST(row_number() OVER (
          PARTITION BY query_id ORDER BY rrf DESC, cand_id) AS INT) AS rnk,
        rrf AS rrf_score
      FROM fused) z
    WHERE rnk <= $RrfTopK
    ORDER BY query_id, rnk"""

  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("embeddings")
    Tables.load(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(rrfSqlSkeleton(
      graft.llm.Similarity.cosineExpr("qv", "embedding"),
      s"array_distinct(${graft.functions.TextFunctions.wordsExpr("text")})",
      "size", "size(array_intersect(qws, ws))"))
  }

  def rrfFusionOracleSql: String = rrfSqlSkeleton(
    graft.llm.Similarity.cosineSql("qv", "embedding"),
    s"list_distinct(${graft.functions.TextFunctions.wordsSql("text")})",
    "len", "len(list_intersect(qws, ws))")

  // ---------------------------------------------------------------- q283
  /** SQ8 SCALAR-QUANTIZATION audit — the scalar member of the
    * quantization family beside PQ (q105/q146): symmetric max-abs
    * int8 quantization (code_i = round(x_i / s), s = max|x| / 127) is
    * what production vector stores ship as their cheap 4× compression
    * tier, and this query emits the per-vector audit a rollout reads
    * before trusting it: the quantization scale and the EXACT
    * reconstruction error (max and sum of |x − code·s| per vector) on
    * a 1e-6 grid. Everything is one projection over the embedding
    * store — no shuffle, no state — and every arithmetic step
    * (float→double cast, divide, floor, multiply, subtract, abs) is
    * an IEEE exactly-rounded op on identical inputs, so both engines
    * land bit-equal doubles and identical grid integers; max-abs
    * symmetric scaling means |x/s| ≤ 127 by construction, so no code
    * ever clips. The zero vector quantizes to scale 0 with zero error
    * by the spelled CASE, not a silent NaN. */
  private def sq8SqlSkeleton(tf: String, lmax: String,
                             lsum: String => String): String = {
    val D = "CAST(%s AS DOUBLE)"
    s"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    m AS (
      SELECT vec_id, embedding,
        $lmax($tf(embedding, x -> abs(${D.format("x")}))) AS maxabs
      FROM v),
    s AS (
      SELECT vec_id, embedding, maxabs,
        maxabs / ${D.format("127")} AS scale
      FROM m),
    e AS (
      SELECT vec_id, scale,
        $tf(embedding, x -> CASE
          WHEN scale = ${D.format("0")} THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(abs(${D.format("x")} -
            floor(${D.format("x")} / scale + 0.5) * scale) * 1e6 + 0.5)
            AS BIGINT) END) AS err6
      FROM s)
    SELECT vec_id,
      CAST(floor(scale * 1e9 + 0.5) AS BIGINT) AS scale9,
      CAST($lmax(err6) AS BIGINT) AS max_err6,
      CAST(${lsum("err6")} AS BIGINT) AS sum_err6
    FROM e ORDER BY vec_id"""
  }

  def sq8Audit(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("embeddings")
    spark.sql(sq8SqlSkeleton("transform", "array_max",
      c => s"aggregate($c, CAST(0 AS BIGINT), (a, x) -> a + x)"))
  }

  def sq8AuditOracleSql: String =
    sq8SqlSkeleton("list_transform", "list_max", c => s"list_sum($c)")

  // ---------------------------------------------------------------- q284
  /** SQ8 serving RECALL — the honesty leg that makes q283's scalar
    * tier deployable (the q262/q169 discipline): serve the probe set
    * ASYMMETRICALLY (query at full precision, corpus reconstructed
    * from its int8 codes — the standard SQ deployment) by grid-cosine
    * top-[[Sq8K]], score against the exact full-precision top-[[Sq8K]],
    * and emit per-probe hit counts — the number a rollout reads before
    * flipping the 4×-cheaper tier on. Reconstruction is inlined
    * per-row (floor(x/s + ½)·s, all exactly-rounded ops, identical
    * doubles both engines) so the audit needs no materialized code
    * table; cost is q39's broadcast probes × corpus scan twice. Zero
    * vectors cannot rank under full-precision cosine either and are
    * excluded from BOTH legs, stated rather than hidden. */
  val Sq8K = 10
  private val Sq8ProbeWhere = "vec_id < 8"

  private def sq8RecallSkeleton(tf: String, lmax: String,
                                cosRecon: String, cosFull: String): String = {
    val D = "CAST(%s AS DOUBLE)"
    s"""
    WITH v0 AS (SELECT vec_id, embedding FROM embeddings),
    m AS (
      SELECT vec_id, embedding,
        $lmax($tf(embedding, x -> abs(${D.format("x")}))) AS maxabs
      FROM v0),
    v AS (SELECT vec_id, embedding, maxabs / ${D.format("127")} AS scale
          FROM m WHERE maxabs > ${D.format("0")}),
    r AS (
      SELECT vec_id,
        $tf(embedding, x -> floor(${D.format("x")} / scale + 0.5) * scale)
          AS recon
      FROM v),
    p AS (SELECT vec_id AS query_id, embedding AS qv FROM v
          WHERE $Sq8ProbeWhere),
    qs AS (
      SELECT query_id, cand_id, rq FROM (
        SELECT p.query_id, r.vec_id AS cand_id,
          CAST(row_number() OVER (PARTITION BY p.query_id
            ORDER BY $cosRecon DESC, r.vec_id) AS INT) AS rq
        FROM p JOIN r ON p.query_id <> r.vec_id) z WHERE rq <= $Sq8K),
    ts AS (
      SELECT query_id, cand_id FROM (
        SELECT p.query_id, v.vec_id AS cand_id,
          CAST(row_number() OVER (PARTITION BY p.query_id
            ORDER BY $cosFull DESC, v.vec_id) AS INT) AS rt
        FROM p JOIN v ON p.query_id <> v.vec_id) z WHERE rt <= $Sq8K)
    SELECT q.query_id, CAST(count(1) AS BIGINT) AS k_served,
      CAST(sum(CASE WHEN t.cand_id IS NOT NULL THEN 1 ELSE 0 END)
        AS BIGINT) AS n_hits,
      CAST($Sq8K AS BIGINT) AS k
    FROM qs q LEFT JOIN ts t
      ON t.query_id = q.query_id AND t.cand_id = q.cand_id
    GROUP BY q.query_id ORDER BY q.query_id"""
  }

  def sq8Recall(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("embeddings")
    spark.sql(sq8RecallSkeleton("transform", "array_max",
      graft.llm.Similarity.cosineExprComposable("p.qv", "r.recon"),
      graft.llm.Similarity.cosineExprComposable("p.qv", "v.embedding")))
  }

  def sq8RecallOracleSql: String =
    sq8RecallSkeleton("list_transform", "list_max",
      graft.llm.Similarity.cosineSql("p.qv", "r.recon"),
      graft.llm.Similarity.cosineSql("p.qv", "v.embedding"))

  // ---------------------------------------------------------------- q292
  /** Rank-quality metrics for the SQ8 asymmetric tier — MRR and
    * nDCG@[[Sq8K]] against the exact full-precision ranking: recall
    * (q284) counts WHICH true neighbors a tier returns; these score
    * WHERE it puts them, which is what a retrieval consumer actually
    * experiences (a tier that returns all ten true neighbors
    * reversed has recall 1.0 and visibly degraded nDCG; a tier that
    * buries the true nearest neighbor at rank 8 has MRR 0.125
    * whatever its recall). Gains are graded by the TRUE rank
    * (11 − rt for the exact top-10, 0 outside), discounts are the
    * standard 1/log₂(rank+1) (Järvelin & Kekäläinen 2002), and the
    * whole computation stays order-independent cross-engine: each
    * DCG term lands on the 1e-9 grid BEFORE summing (integer-valued
    * doubles < 2⁵³, so the sum is exact in any order), the ideal DCG
    * is the SAME gridded sum over the true ranking itself (both
    * engines' log₂ on identical small integers — never a Scala-side
    * constant that could drift from the engines' libm), and nDCG
    * ships as the exactly-rounded 1e-6 ratio of the two BIGINTs.
    * MRR's ingredient is per-probe: nn_rank = the served position of
    * the TRUE nearest neighbor (0 = missed), rr6 = the gridded
    * reciprocal. Costs exactly q284's two broadcast-probe scans; the
    * metric stage runs on the O(probes × k) joined frame. */
  private def rankMetricsSkeleton(tf: String, lmax: String,
                                  cosRecon: String, cosFull: String): String = {
    val D = "CAST(%s AS DOUBLE)"
    s"""
    WITH v0 AS (SELECT vec_id, embedding FROM embeddings),
    m AS (
      SELECT vec_id, embedding,
        $lmax($tf(embedding, x -> abs(${D.format("x")}))) AS maxabs
      FROM v0),
    v AS (SELECT vec_id, embedding, maxabs / ${D.format("127")} AS scale
          FROM m WHERE maxabs > ${D.format("0")}),
    r AS (
      SELECT vec_id,
        $tf(embedding, x -> floor(${D.format("x")} / scale + 0.5) * scale)
          AS recon
      FROM v),
    p AS (SELECT vec_id AS query_id, embedding AS qv FROM v
          WHERE $Sq8ProbeWhere),
    qs AS (
      SELECT query_id, cand_id, rq FROM (
        SELECT p.query_id, r.vec_id AS cand_id,
          CAST(row_number() OVER (PARTITION BY p.query_id
            ORDER BY $cosRecon DESC, r.vec_id) AS INT) AS rq
        FROM p JOIN r ON p.query_id <> r.vec_id) z WHERE rq <= $Sq8K),
    ts AS (
      SELECT query_id, cand_id, rt FROM (
        SELECT p.query_id, v.vec_id AS cand_id,
          CAST(row_number() OVER (PARTITION BY p.query_id
            ORDER BY $cosFull DESC, v.vec_id) AS INT) AS rt
        FROM p JOIN v ON p.query_id <> v.vec_id) z WHERE rt <= $Sq8K),
    j AS (
      SELECT q.query_id, q.rq, t.rt
      FROM qs q LEFT JOIN ts t
        ON t.query_id = q.query_id AND t.cand_id = q.cand_id),
    dcg AS (
      SELECT query_id,
        CAST(sum(CASE WHEN rt IS NOT NULL
          THEN floor(($Sq8K + 1 - rt) / log2(rq + 1) * 1e9 + 0.5)
          ELSE 0 END) AS BIGINT) AS dcg9,
        CAST(max(CASE WHEN rt = 1 THEN rq ELSE 0 END) AS BIGINT) AS nn_rank
      FROM j GROUP BY query_id),
    idcg AS (
      SELECT query_id,
        CAST(sum(floor(($Sq8K + 1 - rt) / log2(rt + 1) * 1e9 + 0.5))
          AS BIGINT) AS idcg9
      FROM ts GROUP BY query_id)
    SELECT d.query_id, d.nn_rank,
      CASE WHEN d.nn_rank = 0 THEN CAST(0 AS BIGINT)
        ELSE CAST(floor(1e6 / d.nn_rank + 0.5) AS BIGINT) END AS rr6,
      CAST(floor(CAST(d.dcg9 AS DOUBLE) / CAST(i.idcg9 AS DOUBLE) * 1e6
        + 0.5) AS BIGINT) AS ndcg6
    FROM dcg d JOIN idcg i ON d.query_id = i.query_id
    ORDER BY d.query_id"""
  }

  def rankMetrics(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("embeddings")
    spark.sql(rankMetricsSkeleton("transform", "array_max",
      graft.llm.Similarity.cosineExprComposable("p.qv", "r.recon"),
      graft.llm.Similarity.cosineExprComposable("p.qv", "v.embedding")))
  }

  def rankMetricsOracleSql: String =
    rankMetricsSkeleton("list_transform", "list_max",
      graft.llm.Similarity.cosineSql("p.qv", "r.recon"),
      graft.llm.Similarity.cosineSql("p.qv", "v.embedding"))

  // ---------------------------------------------------------------- q285
  /** IVF + SQ8 composed serving recall — the SCALE PATH the q284
    * scaladoc points at, measured instead of promised: candidates
    * restrict to the probe's LEARNED Lloyd cell (q84's k-means
    * machinery — a real coarse quantizer, not the fixture's
    * deliberately geometry-blind `label` column, which q261's design
    * notes prove recalls ~15% when used as a blocker) and score by
    * the ASYMMETRIC SQ8 cosine, so a probe touches O(cell)
    * reconstructed vectors instead of the corpus — the composition
    * every production tier ships (coarse quantizer →
    * scalar-quantized scan). The recall readout is against the
    * GLOBAL exact top-[[Sq8K]], so the number prices BOTH losses at
    * once: the single-probe cell restriction (a true neighbor living
    * in another cell is unreachable — multiprobe is the q150 family's
    * answer) and the int8 reconstruction; k_served < k when the cell
    * itself is small — honest, not padded. Same exactly-rounded
    * arithmetic as q283/q284; one cell-keyed equi-join replaces
    * q284's probe × corpus scan. */
  private def ivfSq8Skeleton(tf: String, lmax: String, cellsRel: String,
                             cosRecon: String, cosFull: String): String = {
    val D = "CAST(%s AS DOUBLE)"
    s"""
    WITH v0 AS (SELECT vec_id, embedding FROM embeddings),
    cells AS (SELECT vec_id, cell FROM $cellsRel),
    m AS (
      SELECT vec_id, embedding,
        $lmax($tf(embedding, x -> abs(${D.format("x")}))) AS maxabs
      FROM v0),
    v AS (SELECT vec_id, embedding,
        maxabs / ${D.format("127")} AS scale
      FROM m WHERE maxabs > ${D.format("0")}),
    r AS (
      SELECT v.vec_id, c.cell,
        $tf(embedding, x -> floor(${D.format("x")} / scale + 0.5) * scale)
          AS recon
      FROM v JOIN cells c ON c.vec_id = v.vec_id),
    p AS (SELECT v.vec_id AS query_id, embedding AS qv, c.cell AS qcell
          FROM v JOIN cells c ON c.vec_id = v.vec_id
          WHERE v.vec_id < 8),
    qs AS (
      SELECT query_id, cand_id, rq FROM (
        SELECT p.query_id, r.vec_id AS cand_id,
          CAST(row_number() OVER (PARTITION BY p.query_id
            ORDER BY $cosRecon DESC, r.vec_id) AS INT) AS rq
        FROM p JOIN r ON p.qcell = r.cell AND p.query_id <> r.vec_id)
      z WHERE rq <= $Sq8K),
    ts AS (
      SELECT query_id, cand_id FROM (
        SELECT p.query_id, v.vec_id AS cand_id,
          CAST(row_number() OVER (PARTITION BY p.query_id
            ORDER BY $cosFull DESC, v.vec_id) AS INT) AS rt
        FROM p JOIN v ON p.query_id <> v.vec_id) z WHERE rt <= $Sq8K)
    SELECT q.query_id, CAST(count(1) AS BIGINT) AS k_served,
      CAST(sum(CASE WHEN t.cand_id IS NOT NULL THEN 1 ELSE 0 END)
        AS BIGINT) AS n_hits,
      CAST($Sq8K AS BIGINT) AS k
    FROM qs q LEFT JOIN ts t
      ON t.query_id = q.query_id AND t.cand_id = q.cand_id
    GROUP BY q.query_id ORDER BY q.query_id"""
  }

  def ivfSq8Recall(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.load(spark, dir, "embeddings")
    vecs.createOrReplaceTempView("embeddings")
    val cellsView = s"graft_sq8_cells_t${Thread.currentThread().getId}"
    graft.llm.Similarity
      .kmeansLloyd(vecs, LlmQueries.KmK, LlmQueries.KmRounds)
      .select(col("vec_id"), col("cell"))
      .createOrReplaceTempView(cellsView)
    spark.sql(ivfSq8Skeleton("transform", "array_max", cellsView,
      graft.llm.Similarity.cosineExprComposable("p.qv", "r.recon"),
      graft.llm.Similarity.cosineExprComposable("p.qv", "v.embedding")))
  }

  def ivfSq8RecallOracleSql: String =
    ivfSq8Skeleton("list_transform", "list_max",
      s"""(${graft.llm.Similarity.kmeansLloydSql("embeddings",
        LlmQueries.KmK, LlmQueries.KmRounds)}) kz""",
      graft.llm.Similarity.cosineSql("p.qv", "r.recon"),
      graft.llm.Similarity.cosineSql("p.qv", "v.embedding"))

  def nswRecallSql(table: String): String = s"""
    WITH v AS (SELECT vec_id, embedding FROM $table),
    $nswWalkCtes,
    truth AS (
      SELECT query_id, cand_id FROM (
        SELECT p.query_id, b.vec_id AS cand_id, row_number() OVER (
          PARTITION BY p.query_id
          ORDER BY ${graft.llm.Similarity.cosineSql("p.qv", "b.embedding")}
            DESC, b.vec_id) AS rk
        FROM p JOIN v b ON p.query_id <> b.vec_id) z
      WHERE rk <= $NswK)
    SELECT w.query_id, count(*)::BIGINT AS k_served,
      coalesce(sum(CASE WHEN t.cand_id IS NOT NULL THEN 1 ELSE 0 END), 0)::BIGINT
        AS n_hits,
      CAST($NswK AS BIGINT) AS k
    FROM walked w
    LEFT JOIN truth t ON t.query_id = w.query_id AND t.cand_id = w.cand_id
    GROUP BY w.query_id ORDER BY w.query_id"""

}
