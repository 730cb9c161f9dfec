package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Determinism._
import graft.core.Tables

/** Round-5 statistics / pipeline-diagnostics surface: one-pass pairwise
  * correlation matrix, winsorized & trimmed robust means, interval-union
  * session coverage, model-eval lift/gains deciles, entity-resolution
  * survivorship (golden record), revenue coverage-k, mergeable HLL
  * cardinality sketches as columns, and recency-decayed revenue.
  *
  * Contract is the same as every other query group: one `queries` entry
  * + one DuckDB oracle per operator; every fp-critical expression is
  * integer- or decimal-bridged (power sums exact, half-up rounds on
  * bit-identical doubles) so the two engines cannot drift; every
  * rank/limit carries a deterministic total order.
  */
object StatsOps {

  // Shared tuning constants (Spark plan ⟷ oracle SQL)
  val SessionGapMs = 1800000L // q129: interval half-width (30 min)
  val LiftDeciles = 10        // q130
  val DecayCapDays = 45L      // q134: weight 2^-days truncates to 0 here
                              //   (keeps the 1e6-grid term representable)
  val CmsTopK = 10            // q137 heavy hitters point-queried

  // ---------------------------------------------------------------- q127
  /** Pairwise Pearson correlation matrix over the four lineitem measures
    * in ONE scan + ONE 1-row aggregate: every value bridges to an
    * integer grid (quantity/price → cents, discount/tax → basis points),
    * all 4 sums + 10 second-order power sums accumulate exactly (products
    * bridged per-row to DECIMAL before summing — q116's overflow rule:
    * cents² ~ 1e14 per row × 6e8 rows at sf100 wraps int64), and the six
    * pairwise r values come from the closed form on bit-identical
    * integers. The UNION ALL unpivot runs on the single aggregated row —
    * downstream sees 6 rows at any data size. Dialect-neutral: this one
    * string is both the Spark plan and the oracle. */
  def corrMatrixSql(table: String): String = {
    // (pair label, x-column, y-column) over the bridged names
    val pairs = Seq(
      ("disc~tax", "db", "tb"), ("price~disc", "pc", "db"),
      ("price~tax", "pc", "tb"), ("qty~disc", "qc", "db"),
      ("qty~price", "qc", "pc"), ("qty~tax", "qc", "tb"))
    def sq(x: String) =
      s"CAST(sum(CAST($x AS DECIMAL(19,0)) * $x) AS DECIMAL(38,0)) AS s_$x$x"
    def cross(x: String, y: String) =
      s"CAST(sum(CAST($x AS DECIMAL(19,0)) * $y) AS DECIMAL(38,0)) AS s_$x$y"
    // unpivot via a literal pair table + CASE column picks: the power-sum
    // CTE `s` is referenced exactly ONCE, so no engine can re-execute the
    // corpus scan per pair (a 6-way UNION ALL over `s` is 6 scans unless
    // exchange reuse happens to fire)
    def pick(alias: String, f: (String, String) => String) =
      pairs.map { case (lbl, x, y) => s"WHEN '$lbl' THEN ${f(x, y)}" }
        .mkString("CASE pr.pair ", " ", s" END AS $alias")
    val cases = Seq(
      pick("sx", (x, _) => s"CAST(s_$x AS DOUBLE)"),
      pick("sy", (_, y) => s"CAST(s_$y AS DOUBLE)"),
      pick("sxx", (x, _) => s"CAST(s_$x$x AS DOUBLE)"),
      pick("syy", (_, y) => s"CAST(s_$y$y AS DOUBLE)"),
      pick("sxy", (x, y) => s"CAST(s_$x$y AS DOUBLE)")
    ).mkString(",\n        ")
    val pairRows = pairs.map { case (lbl, _, _) => s"('$lbl')" }.mkString(", ")
    val unpivot = s"""SELECT pr.pair, s.n,
        $cases
      FROM s CROSS JOIN (VALUES $pairRows) AS pr(pair)"""
    s"""
    WITH b AS (
      SELECT
        CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qc,
        CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS pc,
        CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS db,
        CAST(floor(l_tax * 10000 + 0.5) AS BIGINT) AS tb
      FROM $table),
    s AS (
      SELECT CAST(count(1) AS BIGINT) AS n,
        CAST(sum(qc) AS BIGINT) AS s_qc, CAST(sum(pc) AS BIGINT) AS s_pc,
        CAST(sum(db) AS BIGINT) AS s_db, CAST(sum(tb) AS BIGINT) AS s_tb,
        ${sq("qc")}, ${sq("pc")}, ${sq("db")}, ${sq("tb")},
        ${cross("qc", "pc")}, ${cross("qc", "db")}, ${cross("qc", "tb")},
        ${cross("pc", "db")}, ${cross("pc", "tb")}, ${cross("db", "tb")}
      FROM b),
    p AS (
      ${unpivot})
    SELECT pair, n,
      ${droundSql(
        // degenerate-group guard: a constant column zeroes its variance
        // term — Spark yields NULL for x/0 where DuckDB yields Inf/NaN,
        // so agree on NULL explicitly before the hash compare
        "CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0 THEN NULL " +
          "ELSE (n * sxy - sx * sy) / " +
          "sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END",
        6)} AS r
    FROM p ORDER BY pair"""
  }

  def corrMatrix(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(corrMatrixSql("lineitem"))
  }

  // ---------------------------------------------------------------- q128
  /** Winsorized + trimmed means per group at [p10, p90]: the robust
    * location estimates an outlier-laden 100 TB corpus actually needs
    * (a single fat-fingered value moves a plain mean arbitrarily; it
    * moves these not at all). Spark side feeds `percentile(v, p, freq)`
    * from the (group, value) histogram — the sort-agg sees
    * ~|groups|·|distinct| rows, never the corpus (q46's move) — then
    * clips/filters against the half-up-integerized bounds so every
    * subsequent sum is exact int64. The oracle computes the same bounds
    * with `quantile_cont` over raw rows (same linear interpolation on
    * identical integer inputs). */
  def winsorOracle: String = s"""
    WITH r0 AS (
      SELECT l_returnflag AS flag,
        CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
      FROM lineitem),
    h AS (SELECT flag, c, count(1) AS cnt FROM r0 GROUP BY flag, c),
    q AS (
      SELECT flag,
        CAST(floor(quantile_cont(c, 0.1) + 0.5) AS BIGINT) AS lo,
        CAST(floor(quantile_cont(c, 0.9) + 0.5) AS BIGINT) AS hi
      FROM r0 GROUP BY flag),
    ${winsorTail}"""

  /** Shared tail: clip (winsorize) / filter (trim) on the integer
    * bounds, exact integer sums, one final half-up divide. */
  private def winsorTail: String = s"""
    w AS (
      SELECT h.flag,
        CAST(sum(CASE WHEN h.c < q.lo THEN q.lo * h.cnt
                      WHEN h.c > q.hi THEN q.hi * h.cnt
                      ELSE h.c * h.cnt END) AS BIGINT) AS wsum,
        CAST(sum(h.cnt) AS BIGINT) AS n,
        CAST(sum(CASE WHEN h.c BETWEEN q.lo AND q.hi
                      THEN h.c * h.cnt ELSE 0 END) AS BIGINT) AS tsum,
        CAST(sum(CASE WHEN h.c BETWEEN q.lo AND q.hi
                      THEN h.cnt ELSE 0 END) AS BIGINT) AS tn
      FROM h JOIN q ON h.flag = q.flag
      GROUP BY h.flag)
    SELECT flag, n,
      ${droundSql("CAST(wsum AS DOUBLE) / (100.0 * n)", 4)} AS winsor_mean,
      ${droundSql("CAST(tsum AS DOUBLE) / (100.0 * tn)", 4)} AS trim_mean
    FROM w ORDER BY flag"""

  /** r13: the `h` histogram CTE is referenced by BOTH the percentile
    * branch (`q`) and the clip/trim branch (`w`); Spark inlines CTEs,
    * so an inline `h` scans lineitem and rebuilds the (flag, c) hash
    * aggregate TWICE (plan-verified: two parquet scans + two
    * Exchange/HashAggregate pairs). Materialize `h` once behind a
    * per-call temp view and run the identical `q`/`w`/tail arithmetic
    * against the cache — same expressions, one scan (guide §1.2).
    * The oracle ([[winsorOracle]]) is untouched. */
  def winsorMeans(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    val h = graft.core.EngineCache.persisted(spark.sql(s"""
      SELECT l_returnflag AS flag,
        CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c,
        count(1) AS cnt
      FROM lineitem GROUP BY l_returnflag, floor(l_extendedprice * 100 + 0.5)"""))
    val v = s"graft_winsor_h${Thread.currentThread().getId}"
    h.createOrReplaceTempView(v)
    spark.sql(s"""
      WITH h AS (SELECT flag, c, cnt FROM $v),
      q AS (
        SELECT flag,
          CAST(floor(percentile(c, 0.1, cnt) + 0.5) AS BIGINT) AS lo,
          CAST(floor(percentile(c, 0.9, cnt) + 0.5) AS BIGINT) AS hi
        FROM h GROUP BY flag),
      ${winsorTail}""")
  }

  // ---------------------------------------------------------------- q129
  /** Interval-union session coverage per user: each event claims
    * [ts, ts + 30 min); overlapping claims merge (gaps-and-islands:
    * a row opens a new island iff its start exceeds the running max end
    * of all PRIOR intervals), and the answer is per-user islands, total
    * covered time, and the longest stretch — "how much wall-clock was
    * this user active", which a naive sum-of-durations double-counts.
    * One user-partitioned sort serves both window passes; integer
    * epoch-ms arithmetic end to end. Equal (start,end) ties cannot
    * perturb the island labeling: a duplicate's prior-max-end is ≥ its
    * own start either way. */
  private def intervalUnionSql(table: String, em: String => String): String = s"""
    WITH iv AS (
      SELECT user_id, CAST(${em("ts")} AS BIGINT) AS s,
        CAST(${em("ts")} AS BIGINT) + $SessionGapMs AS e
      FROM $table),
    w AS (
      SELECT user_id, s, e,
        max(e) OVER (PARTITION BY user_id ORDER BY s, e
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      FROM iv),
    g AS (
      SELECT user_id, s, e,
        CAST(sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS island
      FROM w),
    m AS (
      SELECT user_id, island,
        CAST(min(s) AS BIGINT) AS i_start, CAST(max(e) AS BIGINT) AS i_end
      FROM g GROUP BY user_id, island)
    SELECT user_id,
      CAST(count(1) AS BIGINT) AS n_islands,
      CAST(sum(i_end - i_start) AS BIGINT) AS covered_ms,
      CAST(max(i_end - i_start) AS BIGINT) AS longest_ms
    FROM m GROUP BY user_id ORDER BY user_id"""

  def sparkIntervalUnionSql(table: String): String =
    intervalUnionSql(table, c => s"unix_millis($c)")

  def intervalUnion(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    spark.sql(sparkIntervalUnionSql("events"))
  }

  def intervalUnionOracleSql: String =
    intervalUnionSql("events", c => s"epoch_ms($c)")

  // ---------------------------------------------------------------- q130
  /** Decile lift / gains table — the standard model-eval readout (does
    * ranking by this score concentrate the positives?): orders ranked
    * by totalprice (integer cents, full tiebreak on key), decile
    * assignment, per-decile positives ('F' status) vs base rate → lift,
    * plus the cumulative capture ("top-k deciles hold x% of all
    * positives"). Ratios are 6dp-bridged on exact integers.
    *
    * The ORACLE uses `ntile(10) OVER (ORDER BY ...)`; the Spark plan
    * must NOT — an empty-partition window is a single-partition sort
    * (every order through one task). [[liftTable]] instead assigns
    * deciles from [[DistributedRank]]'s range-partitioned global rank
    * (bit-identical ntile semantics, PlanSpec-asserted window-free) and
    * computes the 10-row cumulative with a decile<=decile self-join. */
  def liftBaseSql(table: String): String = s"""
    SELECT o_orderkey,
      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
    FROM $table"""

  def liftTableSql(table: String): String = s"""
    WITH b AS (${liftBaseSql(table)}),
    d AS (
      SELECT CAST(ntile($LiftDeciles)
          OVER (ORDER BY cents DESC, o_orderkey) AS INT) AS decile, pos
      FROM b),
    a AS (
      SELECT decile, CAST(count(1) AS BIGINT) AS n,
        CAST(sum(pos) AS BIGINT) AS pos_n
      FROM d GROUP BY decile),
    c AS (
      SELECT decile, n, pos_n,
        CAST(sum(pos_n) OVER (ORDER BY decile
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_pos,
        CAST(sum(pos_n) OVER () AS BIGINT) AS tot_pos,
        CAST(sum(n) OVER () AS BIGINT) AS tot_n
      FROM a)
    SELECT decile, n, pos_n,
      ${droundSql("CAST(cum_pos AS DOUBLE) / tot_pos", 6)} AS capture,
      ${droundSql(
        "(CAST(pos_n AS DOUBLE) / n) / (CAST(tot_pos AS DOUBLE) / tot_n)",
        6)} AS lift
    FROM c ORDER BY decile"""

  def liftTable(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    val b = graft.core.EngineCache.persisted(spark.sql(liftBaseSql("orders")))
    val st = b.agg(count(lit(1)),
      min("cents").cast("double"), max("cents").cast("double")).first()
    val n = st.getLong(0)
    val ranked = DistributedRank.rankOnlyBounded(
      b, "rk", "cents", desc = true, st.getDouble(1), st.getDouble(2),
      col("cents").desc, col("o_orderkey"))
    val d = ranked.withColumn(
      "decile", DistributedRank.ntileFromRank("rk", n, LiftDeciles))
    // 10-row decile aggregate, persisted: it feeds the cumulative
    // self-join AND the totals cross-join, and without the persist the
    // full rank pipeline would recompute per consumer
    val a = graft.core.EngineCache.persisted(
      d.groupBy("decile").agg(
        count(lit(1)).as("n"), sum("pos").cast("long").as("pos_n")))
    val y = a.select(col("decile").as("yd"), col("pos_n").as("yp"))
    val cum = a.join(y, col("yd") <= col("decile"))
      .groupBy("decile", "n", "pos_n")
      .agg(sum("yp").cast("long").as("cum_pos"))
    val tot = a.agg(
      sum("pos_n").cast("long").as("tot_pos"),
      sum("n").cast("long").as("tot_n"))
    cum.crossJoin(broadcast(tot))
      .select(col("decile"), col("n"), col("pos_n"),
        dround(col("cum_pos").cast("double") / col("tot_pos"), 6).as("capture"),
        dround((col("pos_n").cast("double") / col("n")) /
          (col("tot_pos").cast("double") / col("tot_n")), 6).as("lift"))
      .orderBy("decile")
  }

  // ---------------------------------------------------------------- q131
  /** Entity-resolution survivorship (golden record): duplicate groups
    * keyed by the fingerprint of the normalized HEAD (first
    * $SurvivorHeadWords words, lowercased, whitespace-collapsed — the
    * re-crawl/boilerplate-variant signature: families share their
    * lead even when tails diverge), canonical record chosen by
    * richness-then-stability (longest n_chars, doc_id as the
    * total-order tiebreak), output the duplicate→canonical mapping.
    * One fingerprint hash agg + one group-partitioned window; the
    * mapping is O(duplicates), not O(corpus). The survivorship RULE is
    * the operator; the mapping feeds the same exchange-free anti-join
    * q34's exact dedup uses. */
  val SurvivorHeadWords = 5
  private def survivorshipSql(normExpr: String): String = s"""
    WITH f AS (
      SELECT doc_id, n_chars, $normExpr AS fp FROM documents),
    r AS (
      SELECT doc_id, fp, n_chars,
        row_number() OVER (PARTITION BY fp
          ORDER BY n_chars DESC, doc_id) AS rk,
        CAST(count(1) OVER (PARTITION BY fp) AS BIGINT) AS grp_n
      FROM f),
    c AS (SELECT fp, doc_id AS canon_id FROM r WHERE rk = 1)
    SELECT r.doc_id, c.canon_id, r.grp_n AS group_size
    FROM r JOIN c ON r.fp = c.fp
    WHERE r.grp_n > 1 AND r.doc_id <> c.canon_id
    ORDER BY r.doc_id"""

  def sparkSurvivorshipSql: String = survivorshipSql(
    xhashExpr("array_join(slice(split(" +
      "trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' '), " +
      s"1, $SurvivorHeadWords), ' ')"))

  def survivorship(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(sparkSurvivorshipSql)
  }

  def survivorshipOracleSql: String = survivorshipSql(
    xhashSql("array_to_string(list_slice(string_split(" +
      "trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '), " +
      s"1, $SurvivorHeadWords), ' ')"))

  // ---------------------------------------------------------------- q132
  /** Revenue coverage-k per brand: the smallest prefix of parts (by
    * descending revenue, key tiebreak) covering ≥ half the brand's
    * revenue — "how concentrated is this brand" as an actionable part
    * count (q121's Gini gives the same story as an index; this names
    * the parts). Part-grain rollup first, so the window sorts
    * |parts-per-brand| rows, never line items; threshold compare is
    * integer-exact (2·cum ≥ total). Dialect-neutral. */
  def coverageKSql: String = s"""
    WITH b AS (
      SELECT p.p_brand AS brand, l.l_partkey AS part,
        CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
          AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, l.l_partkey),
    w AS (
      SELECT brand, part, cents,
        CAST(sum(cents) OVER (PARTITION BY brand
          ORDER BY cents DESC, part
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        CAST(sum(cents) OVER (PARTITION BY brand) AS BIGINT) AS tot,
        CAST(row_number() OVER (PARTITION BY brand
          ORDER BY cents DESC, part) AS BIGINT) AS rk
      FROM b)
    SELECT brand, CAST(min(rk) AS BIGINT) AS k_parts,
      CAST(max(tot) AS BIGINT) AS total_cents,
      ${droundSql(
        "CASE WHEN max(tot) = 0 THEN NULL " +
          "ELSE CAST(min(cum) AS DOUBLE) / max(tot) END", 6)} AS share
    FROM w WHERE 2 * cum >= tot
    GROUP BY brand ORDER BY brand"""

  def coverageK(spark: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "part")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(coverageKSql)
  }

  // ---------------------------------------------------------------- q133
  /** Mergeable cardinality sketches ([[graft.functions.HllSketch]]):
    * per-event-type HLL sketches of distinct users built in one pass,
    * PLUS the all-types row computed by MERGING THE SKETCHES (register
    * max — O(types·4096) bytes), not by rescanning events. Distincts
    * don't add (Σ per-type > union); the merged sketch gets the union
    * right anyway — that is the property the oracle gates: exact
    * distinct counts hash-compared, estimates gated through within-5%
    * booleans (the sketch's 1.6% standard error at p=12 keeps 5% safe).
    * At 100 TB the sketch column persists next to each shard and any
    * later union query costs O(shards), never a rescan. */
  def hllCardinality(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    spark.sql(s"""
      WITH per AS (
        SELECT event_type AS grp,
          CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
          hll_build(user_id) AS sk
        FROM events GROUP BY event_type),
      per_est AS (
        SELECT grp, n_exact, hll_est(sk) AS est FROM per),
      tot AS (
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events),
      all_est AS (
        SELECT '__all__' AS grp, max(t.n_exact) AS n_exact,
          hll_merge_est(p.sk) AS est
        FROM per p CROSS JOIN tot t),
      u AS (
        SELECT grp, n_exact, est FROM per_est
        UNION ALL SELECT grp, n_exact, est FROM all_est)
      SELECT grp, n_exact,
        (abs(est - n_exact) <= 0.05 * n_exact) AS within_5pct
      FROM u ORDER BY grp""")
  }

  def hllCardinalitySql: String = s"""
    SELECT event_type AS grp,
      CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
      TRUE AS within_5pct
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__all__' AS grp,
      CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
      TRUE AS within_5pct
    FROM events
    ORDER BY grp"""

  // ---------------------------------------------------------------- q135
  /** HLL sketch PERSISTENCE lifecycle — the archive-then-analyze shape
    * the reference exists for (bifrost stores raw segments so later
    * metadata queries need not re-read them): q133 proves sketches
    * merge; this proves they survive AT REST.
    *
    *   1. ingest: per (event_type, shard) user sketches — `hll_build` —
    *      WRITTEN TO PARQUET (BINARY sketch column next to the shard
    *      keys, exactly "store the sketch beside the partition");
    *   2. later analysis: RE-READ only the sketch table (the events
    *      scan is gone), `hll_merge` shard sketches into one storable
    *      per-type sketch (bytes, not an estimate — the rollup you'd
    *      write back), `hll_est` it, and `hll_merge_est` the per-type
    *      sketches again for the all-types union — two merge LEVELS over
    *      re-hydrated bytes.
    *
    * Oracle gates exact distincts (hash-compared) + within-5% booleans,
    * same contract as q133; byte-identity of merged vs direct-built
    * sketches is asserted in FunctionsSpec. */
  def hllPersist(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    // stage 1: ingest-time shard sketches, persisted as a WAREHOUSE table
    // (Hive shard=N layout, not scratch tmp — the sketch table is the
    // durable artifact later jobs re-read; Warehouse scaladoc)
    graft.core.Warehouse.writeTable(
      spark.sql(s"""
        SELECT event_type, CAST(user_id % 8 AS INT) AS shard,
          hll_build(user_id) AS sk
        FROM events GROUP BY event_type, CAST(user_id % 8 AS INT)"""),
      "hll_user_shards", "shard")
    // stage 2: analysis from the sketch table alone
    graft.core.Warehouse.readTable(spark, "hll_user_shards")
      .createOrReplaceTempView("hll_shards")
    spark.sql(s"""
      WITH m AS (
        SELECT event_type AS grp, hll_merge(sk) AS msk
        FROM hll_shards GROUP BY event_type),
      per AS (SELECT grp, hll_est(msk) AS est FROM m),
      allx AS (SELECT '__all__' AS grp, hll_merge_est(msk) AS est FROM m),
      u AS (SELECT grp, est FROM per UNION ALL SELECT grp, est FROM allx),
      ex AS (
        SELECT event_type AS grp,
          CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events GROUP BY event_type
        UNION ALL
        SELECT '__all__' AS grp,
          CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events)
      SELECT u.grp, ex.n_exact,
        (abs(u.est - ex.n_exact) <= 0.05 * ex.n_exact) AS within_5pct
      FROM u JOIN ex ON u.grp = ex.grp
      ORDER BY u.grp""")
  }

  def hllPersistSql: String = s"""
    SELECT event_type AS grp,
      CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
      TRUE AS within_5pct
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__all__' AS grp,
      CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
      TRUE AS within_5pct
    FROM events
    ORDER BY grp"""

  // ---------------------------------------------------------------- q267
  /** SET-EXPRESSION cardinality from KMV/theta sketches at rest
    * ([[graft.functions.KmvSketch]]) — the audience-overlap question
    * the HLL family (q133/q135) structurally cannot answer: HLL
    * registers destroy sample identity, so |A ∩ B| only falls out of
    * inclusion–exclusion, whose error scales with |A ∪ B| rather than
    * the (possibly tiny) intersection. One pass builds a per-event-type
    * KMV sketch of distinct users; every DISTINCT / INTERSECT / DIFF /
    * UNION answer then evaluates on the retained hash samples below the
    * common θ — O(types²·K) work on KB-sized columns, never a rescan,
    * which is the whole point at 100 TB (the sketch column persists
    * beside each shard; q135's lifecycle argument). The oracle gates
    * EXACT counts for every expression (hash-compared) plus within-5%
    * booleans; at this SF the sketches hold every value (150 < K), so
    * the booleans are exactly true by construction — estimate-mode
    * error (σ ≈ 1/√(K−2)) and the θ-scaling estimators are pinned by
    * seeded large-domain tests in FunctionsSpec, the q136/q137
    * discipline. Exact legs are one hash agg each over the distinct
    * (type, user) projection; |A \ B| = |A| − |A ∩ B| keeps the
    * difference leg O(pairs). */
  def kmvSetExpr(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    spark.sql(s"""
      WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
      sk AS (
        SELECT event_type AS grp, kmv_build(user_id) AS sk,
          CAST(count(1) AS BIGINT) AS n FROM tu GROUP BY event_type),
      ex_pair AS (
        SELECT a.event_type AS grp_a, b.event_type AS grp_b,
          CAST(count(1) AS BIGINT) AS n_inter
        FROM tu a JOIN tu b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type),
      dist AS (
        SELECT 'distinct' AS op, grp AS grp_a, grp AS grp_b, n AS n_exact,
          (abs(kmv_est(sk) - n) <= 0.05 * n) AS within_5pct
        FROM sk),
      inter AS (
        SELECT 'intersect' AS op, e.grp_a, e.grp_b, e.n_inter AS n_exact,
          (abs(kmv_intersect_est(a.sk, b.sk) - e.n_inter)
            <= 0.05 * greatest(e.n_inter, 1)) AS within_5pct
        FROM ex_pair e
        JOIN sk a ON a.grp = e.grp_a JOIN sk b ON b.grp = e.grp_b),
      diffd AS (
        SELECT 'diff' AS op, e.grp_a, e.grp_b,
          a.n - e.n_inter AS n_exact,
          (abs(kmv_diff_est(a.sk, b.sk) - (a.n - e.n_inter))
            <= 0.05 * greatest(a.n - e.n_inter, 1)) AS within_5pct
        FROM ex_pair e
        JOIN sk a ON a.grp = e.grp_a JOIN sk b ON b.grp = e.grp_b),
      uni AS (
        SELECT '__union__' AS op, '__all__' AS grp_a, '__all__' AS grp_b,
          (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
            AS n_exact,
          (abs(kmv_merge_est(sk) -
            (SELECT count(DISTINCT user_id) FROM events))
            <= 0.05 * (SELECT count(DISTINCT user_id) FROM events))
            AS within_5pct
        FROM sk),
      u AS (
        SELECT * FROM dist UNION ALL SELECT * FROM inter
        UNION ALL SELECT * FROM diffd UNION ALL SELECT * FROM uni)
      SELECT op, grp_a, grp_b, n_exact, within_5pct FROM u
      ORDER BY op, grp_a, grp_b""")
  }

  def kmvSetExprSql: String = s"""
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
    n1 AS (
      SELECT event_type AS grp, CAST(count(1) AS BIGINT) AS n
      FROM tu GROUP BY event_type),
    ex_pair AS (
      SELECT a.event_type AS grp_a, b.event_type AS grp_b,
        CAST(count(1) AS BIGINT) AS n_inter
      FROM tu a JOIN tu b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type),
    u AS (
      SELECT 'distinct' AS op, grp AS grp_a, grp AS grp_b, n AS n_exact
      FROM n1
      UNION ALL
      SELECT 'intersect' AS op, grp_a, grp_b, n_inter AS n_exact
      FROM ex_pair
      UNION ALL
      SELECT 'diff' AS op, e.grp_a, e.grp_b, a.n - e.n_inter AS n_exact
      FROM ex_pair e JOIN n1 a ON a.grp = e.grp_a
      UNION ALL
      SELECT '__union__' AS op, '__all__' AS grp_a, '__all__' AS grp_b,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events)
    SELECT op, grp_a, grp_b, n_exact, TRUE AS within_5pct FROM u
    ORDER BY op, grp_a, grp_b"""

  // ---------------------------------------------------------------- q136
  /** Mergeable QUANTILE sketches at rest ([[graft.functions.DdSketch]]) —
    * the quantile twin of q135's HLL lifecycle: per-(priority, shard)
    * DDSketches of order cents built at "ingest" and WRITTEN TO PARQUET;
    * the analysis re-reads ONLY the sketch table, `ddq_merge`s shards
    * into one storable sketch per priority, reads p50/p99 off the
    * re-hydrated bytes, and merges AGAIN for the all-priorities row —
    * two rollup levels, no re-scan. Gates: exact counts (hash-compared),
    * sketch count == exact count (bucket sums are exact longs), and
    * p50/p99 within 3% relative of the exact percentiles (α = 1% sketch
    * + interpolation discretization; the exact side here is Spark's
    * sort-based `percentile`, which is the GATE, not the capability —
    * the sketch exists precisely so the 100 TB run never pays it). */
  def ddqPersist(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    graft.core.Warehouse.writeTable(
      spark.sql(s"""
        SELECT o_orderpriority AS grp, CAST(o_custkey % 8 AS INT) AS shard,
          ddq_build(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS sk
        FROM orders GROUP BY o_orderpriority, CAST(o_custkey % 8 AS INT)"""),
      "ddq_price_shards", "shard")
    graft.core.Warehouse.readTable(spark, "ddq_price_shards")
      .createOrReplaceTempView("ddq_shards")
    spark.sql(s"""
      WITH m AS (
        SELECT grp, ddq_merge(sk) AS msk FROM ddq_shards GROUP BY grp),
      est AS (
        SELECT grp, ddq_quantile(msk, 0.5D) AS e50,
          ddq_quantile(msk, 0.99D) AS e99, ddq_count(msk) AS sk_n
        FROM m),
      allm AS (SELECT ddq_merge(msk) AS gsk FROM m),
      alle AS (
        SELECT '__all__' AS grp, ddq_quantile(gsk, 0.5D) AS e50,
          ddq_quantile(gsk, 0.99D) AS e99, ddq_count(gsk) AS sk_n
        FROM allm),
      u AS (
        SELECT grp, e50, e99, sk_n FROM est
        UNION ALL SELECT grp, e50, e99, sk_n FROM alle),
      b AS (
        SELECT o_orderpriority AS grp,
          CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders),
      ex AS (
        SELECT grp, CAST(count(1) AS BIGINT) AS n,
          percentile(cents, 0.5D) AS x50, percentile(cents, 0.99D) AS x99
        FROM b GROUP BY grp
        UNION ALL
        SELECT '__all__' AS grp, CAST(count(1) AS BIGINT) AS n,
          percentile(cents, 0.5D) AS x50, percentile(cents, 0.99D) AS x99
        FROM b)
      SELECT u.grp, ex.n,
        (u.sk_n = ex.n) AS count_exact,
        (abs(u.e50 - ex.x50) <= 0.03 * ex.x50) AS p50_within_3pct,
        (abs(u.e99 - ex.x99) <= 0.03 * ex.x99) AS p99_within_3pct
      FROM u JOIN ex ON u.grp = ex.grp
      ORDER BY u.grp""")
  }

  def ddqPersistSql: String = s"""
    SELECT o_orderpriority AS grp, CAST(count(1) AS BIGINT) AS n,
      TRUE AS count_exact, TRUE AS p50_within_3pct, TRUE AS p99_within_3pct
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT '__all__' AS grp, CAST(count(1) AS BIGINT) AS n,
      TRUE AS count_exact, TRUE AS p50_within_3pct, TRUE AS p99_within_3pct
    FROM orders
    ORDER BY grp"""

  // ---------------------------------------------------------------- q137
  /** Mergeable FREQUENCY sketches at rest ([[graft.functions.CmSketch]])
    * — heavy-hitter point queries from stored sketches, completing the
    * sketch trio (q135 cardinality, q136 quantiles): per-shard count-min
    * sketches of the lineitem part-key stream WRITTEN TO PARQUET; the
    * analysis re-reads only the sketch table, `cms_merge`s the shards
    * (counter-wise add — exact), and point-queries the top-k keys off
    * the re-hydrated bytes. Gates: exact top-k counts (hash-compared,
    * deterministic tiebreak), `cms_count` == stream length (row sums are
    * exact), est ≥ exact (structural: counters only over-count), and
    * est ≤ exact + ⌈2N/width⌉ (the CM error bound — deterministic here
    * because the hash family is fixed). */
  def cmsPersist(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    graft.core.Warehouse.writeTable(
      spark.sql(s"""
        SELECT CAST(l_orderkey % 8 AS INT) AS shard, cms_build(l_partkey) AS sk
        FROM lineitem GROUP BY CAST(l_orderkey % 8 AS INT)"""),
      "cms_partkey_shards", "shard")
    graft.core.Warehouse.readTable(spark, "cms_partkey_shards")
      .createOrReplaceTempView("cms_shards")
    spark.sql(s"""
      WITH m AS (SELECT cms_merge(sk) AS msk FROM cms_shards),
      n AS (SELECT CAST(count(1) AS BIGINT) AS n FROM lineitem),
      top AS (
        SELECT l_partkey AS k, CAST(count(1) AS BIGINT) AS exact
        FROM lineitem GROUP BY l_partkey
        ORDER BY exact DESC, k LIMIT $CmsTopK)
      SELECT t.k, t.exact,
        (cms_count(m.msk) = n.n) AS stream_len_exact,
        (cms_est(m.msk, t.k) >= t.exact) AS lower_ok,
        (cms_est(m.msk, t.k) <= t.exact +
          CAST(ceil(2.0 * n.n / ${graft.functions.CmSketch.Width}) AS BIGINT))
          AS upper_ok
      FROM top t CROSS JOIN m CROSS JOIN n
      ORDER BY t.exact DESC, t.k""")
  }

  def cmsPersistSql: String = s"""
    SELECT l_partkey AS k, CAST(count(1) AS BIGINT) AS exact,
      TRUE AS stream_len_exact, TRUE AS lower_ok, TRUE AS upper_ok
    FROM lineitem GROUP BY l_partkey
    ORDER BY exact DESC, k LIMIT $CmsTopK"""

  // ---------------------------------------------------------------- q247
  /** CMS DELETE by linear-sketch subtraction — the q239 counting-bloom
    * discipline for the FREQUENCY sketch, closing the sketch-at-rest
    * family's delete story: count-min counters are a LINEAR map of the
    * inserted key multiset, so a deletion cohort (the SAME lineitem
    * event the bitmap family honors: l_orderkey ≡ [[ScaleOps.BitmapDelRem]]
    * mod [[ScaleOps.BitmapDelMod]]) is retracted by building an
    * O(deletes) decrement sketch from ONLY the tombstoned rows' slice
    * and `cms_diff`-ing it from the merged at-rest shards —
    * BYTE-identical to a rebuild on the survivors (ScalaCheck-pinned),
    * with every CMS guarantee (est ≥ true; est ≤ true + 2N/width at
    * the SHRUNKEN post-delete N) holding on the subtracted sketch as
    * if built fresh, and a loud underflow guard refusing to subtract
    * never-inserted keys. Contrast the monotone sketches (q224's
    * min/max/HLL profile): retraction there is impossible and honestly
    * flagged; the linear family (counting bloom, CMS) retracts
    * exactly — knowing WHICH sketches can delete is the design
    * knowledge this pair of queries encodes. The oracle is q137's
    * top-k over the tombstone-filtered rows with the invariant booleans
    * spelled TRUE — the hash match proves the post-delete estimates
    * bracket the post-delete exact counts. */
  def cmsDelete(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    val suffix = dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val tid = Thread.currentThread().getId
    val v = s"graft_cmsdel_t$tid"
    graft.core.Warehouse.tableOnce(spark, s"cms_del_shards_$suffix",
      "shard") {
      spark.sql("""
        SELECT CAST(l_orderkey % 8 AS INT) AS shard,
          cms_build(l_partkey) AS sk
        FROM lineitem GROUP BY CAST(l_orderkey % 8 AS INT)""")
    }.createOrReplaceTempView(v)
    val tomb = s"l_orderkey % ${ScaleOps.BitmapDelMod} = ${ScaleOps.BitmapDelRem}"
    spark.sql(s"""
      WITH m AS (SELECT cms_merge(sk) AS msk FROM $v),
      d AS (SELECT cms_build(l_partkey) AS dsk FROM lineitem
            WHERE $tomb),
      live AS (SELECT cms_diff(m.msk, d.dsk) AS lsk
               FROM m CROSS JOIN d),
      ln AS (SELECT CAST(count(1) AS BIGINT) AS n FROM lineitem
             WHERE NOT ($tomb)),
      top AS (
        SELECT l_partkey AS k, CAST(count(1) AS BIGINT) AS exact
        FROM lineitem WHERE NOT ($tomb)
        GROUP BY l_partkey ORDER BY exact DESC, k LIMIT $CmsTopK)
      SELECT t.k, t.exact,
        (cms_count(live.lsk) = ln.n) AS stream_len_exact,
        (cms_est(live.lsk, t.k) >= t.exact) AS lower_ok,
        (cms_est(live.lsk, t.k) <= t.exact +
          CAST(ceil(2.0 * ln.n / ${graft.functions.CmSketch.Width}) AS BIGINT))
          AS upper_ok
      FROM top t CROSS JOIN live CROSS JOIN ln
      ORDER BY t.exact DESC, t.k""")
  }

  def cmsDeleteSql: String = s"""
    SELECT l_partkey AS k, CAST(count(1) AS BIGINT) AS exact,
      TRUE AS stream_len_exact, TRUE AS lower_ok, TRUE AS upper_ok
    FROM lineitem
    WHERE NOT (l_orderkey % ${ScaleOps.BitmapDelMod} = ${ScaleOps.BitmapDelRem})
    GROUP BY l_partkey
    ORDER BY exact DESC, k LIMIT $CmsTopK"""

  // ---------------------------------------------------------------- q248
  /** DDSketch DELETE by linear subtraction — the third member of the
    * linear-sketch delete trio (counting bloom q239 for membership,
    * CMS q247 for frequencies, quantiles here), and the one that
    * completes the design taxonomy the q224 profile opened: LINEAR
    * sketches (plain counters per slot/bucket) retract exactly by
    * subtraction; MONOTONE sketches (HLL register-max, min/max bounds)
    * cannot retract at all and must flag staleness or rebuild. The
    * SAME orders deletion event the lineitem artifacts honor
    * (o_orderkey ≡ [[ScaleOps.BitmapDelRem]] mod
    * [[ScaleOps.BitmapDelMod]] — one takedown, every store) builds a
    * per-group decrement sketch from ONLY the tombstoned rows and
    * `ddq_diff`s it from the merged at-rest shards; groups the cohort
    * never touched subtract nothing and pass through. Post-delete
    * quantile estimates carry the α relative-error guarantee as if
    * built fresh (byte-identical by linearity, ScalaCheck-pinned),
    * gated q136-style against exact percentiles over the
    * tombstone-filtered rows. */
  def ddqDelete(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    val suffix = dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val tid = Thread.currentThread().getId
    val v = s"graft_ddqdel_t$tid"
    graft.core.Warehouse.tableOnce(spark, s"ddq_del_shards_$suffix",
      "shard") {
      spark.sql(s"""
        SELECT o_orderpriority AS grp, CAST(o_custkey % 8 AS INT) AS shard,
          ddq_build(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS sk
        FROM orders GROUP BY o_orderpriority, CAST(o_custkey % 8 AS INT)""")
    }.createOrReplaceTempView(v)
    val tomb = s"o_orderkey % ${ScaleOps.BitmapDelMod} = ${ScaleOps.BitmapDelRem}"
    spark.sql(s"""
      WITH m AS (SELECT grp, ddq_merge(sk) AS msk FROM $v GROUP BY grp),
      d AS (
        SELECT o_orderpriority AS grp,
          ddq_build(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS dsk
        FROM orders WHERE $tomb GROUP BY o_orderpriority),
      live AS (
        SELECT m.grp,
          CASE WHEN d.dsk IS NULL THEN m.msk
               ELSE ddq_diff(m.msk, d.dsk) END AS lsk
        FROM m LEFT JOIN d ON m.grp = d.grp),
      est AS (
        SELECT grp, ddq_quantile(lsk, 0.5D) AS e50,
          ddq_quantile(lsk, 0.99D) AS e99, ddq_count(lsk) AS sk_n
        FROM live),
      b AS (
        SELECT o_orderpriority AS grp,
          CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders WHERE NOT ($tomb)),
      ex AS (
        SELECT grp, CAST(count(1) AS BIGINT) AS n,
          percentile(cents, 0.5D) AS x50, percentile(cents, 0.99D) AS x99
        FROM b GROUP BY grp)
      SELECT est.grp, ex.n,
        (est.sk_n = ex.n) AS count_exact,
        (abs(est.e50 - ex.x50) <= 0.03 * ex.x50) AS p50_within_3pct,
        (abs(est.e99 - ex.x99) <= 0.03 * ex.x99) AS p99_within_3pct
      FROM est JOIN ex ON est.grp = ex.grp
      ORDER BY est.grp""")
  }

  def ddqDeleteSql: String = s"""
    SELECT o_orderpriority AS grp, CAST(count(1) AS BIGINT) AS n,
      TRUE AS count_exact, TRUE AS p50_within_3pct, TRUE AS p99_within_3pct
    FROM orders
    WHERE NOT (o_orderkey % ${ScaleOps.BitmapDelMod} = ${ScaleOps.BitmapDelRem})
    GROUP BY o_orderpriority
    ORDER BY grp"""

  // ---------------------------------------------------------------- q252
  /** Nelson–Aalen cumulative-hazard churn curve — survival analysis
    * over the event stream, the retention readout product teams read
    * as "how fast do users die": each user enters at their first
    * event's day and exits at their last; an exit more than
    * [[ChurnHorizonHours]] before the observation end is a CHURN event,
    * later exits are right-CENSORED (the user may still be alive — the
    * distinction naive churn rates ignore and survival estimators
    * exist for). The Nelson–Aalen estimator Ĥ(t) = Σ_{s ≤ t} d_s/n_s
    * is chosen over Kaplan–Meier deliberately: every term is a ratio
    * of EXACT INTEGERS (churns over at-risk count), bridged once to a
    * 1e-9 grid and summed as BIGINTs — no product, no ln, no exp, so
    * both engines agree bit-for-bit where KM's running product would
    * need the whole ln-bridge machinery for the same information
    * (H = −ln S). Left-truncated risk sets come from two cumulative
    * counts (entries ≤ s minus exits < s), never a user×bucket join.
    * Buckets are HOURS: the fixture's users are active to within ~a
    * day of the window end, so an hour axis is what exposes a curve —
    * a production run would pick days/weeks the same way.
    *
    * Scale: the corpus-sized work is ONE per-user hash agg; everything
    * after runs on O(distinct days) rows, so the ordered cumulative
    * sums are windows over the TIME-BUCKET aggregate, not the corpus —
    * at 100 TB the day axis is still a few thousand rows. */
  val ChurnHorizonHours = 18L

  def nelsonAalen(spark: SparkSession, dir: String): DataFrame =
    nelsonAalenOf(Tables.load(spark, dir, "events"))

  /** Core of q252 over any (user_id, ts) frame — the spec entry. */
  private[graft] def nelsonAalenOf(events: DataFrame): DataFrame = {
    val tid = Thread.currentThread().getId
    val v = s"graft_na_events_t$tid"
    events.createOrReplaceTempView(v)
    events.sparkSession.sql(s"""
      WITH b AS (
        SELECT user_id,
          CAST(min(unix_millis(ts)) AS BIGINT) AS t0,
          CAST(max(unix_millis(ts)) AS BIGINT) AS t1
        FROM $v GROUP BY user_id),
      g AS (SELECT CAST(min(t0) AS BIGINT) AS gmin,
                   CAST(max(t1) AS BIGINT) AS gmax FROM b),
      u AS (
        SELECT (b.t0 - g.gmin) div 3600000 AS entry_day,
          (b.t1 - g.gmin) div 3600000 AS exit_day,
          (b.t1 <= g.gmax - $ChurnHorizonHours * 3600000) AS churned
        FROM b CROSS JOIN g),
      days AS (
        SELECT exit_day AS day FROM u UNION SELECT entry_day FROM u),
      ent AS (SELECT entry_day AS day, CAST(count(1) AS BIGINT) AS n_in
              FROM u GROUP BY entry_day),
      ext AS (SELECT exit_day AS day, CAST(count(1) AS BIGINT) AS n_out,
                CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
                  AS d
              FROM u GROUP BY exit_day),
      grid AS (
        SELECT days.day, coalesce(ent.n_in, 0) AS n_in,
          coalesce(ext.n_out, 0) AS n_out, coalesce(ext.d, 0) AS d
        FROM days LEFT JOIN ent ON days.day = ent.day
        LEFT JOIN ext ON days.day = ext.day),
      risk AS (
        SELECT day, d,
          sum(n_in) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - coalesce(sum(n_out) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS n_risk
        FROM grid),
      haz AS (
        SELECT day, n_risk, d,
          CAST(floor(1e9 * CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
            + 0.5) AS BIGINT) AS h9
        FROM risk),
      cum AS (
        SELECT day, n_risk, d,
          sum(h9) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c9
        FROM haz)
      SELECT CAST(day AS INT) AS hour, n_risk, d,
        floor(CAST(c9 AS DOUBLE) / 1e3 + 0.5) / 1e6 AS cum_hazard
      FROM cum WHERE d > 0
      ORDER BY day""")
  }

  def nelsonAalenSql: String = s"""
    WITH b AS (
      SELECT user_id,
        CAST(min(epoch_ms(ts)) AS BIGINT) AS t0,
        CAST(max(epoch_ms(ts)) AS BIGINT) AS t1
      FROM events GROUP BY user_id),
    g AS (SELECT CAST(min(t0) AS BIGINT) AS gmin,
                 CAST(max(t1) AS BIGINT) AS gmax FROM b),
    u AS (
      SELECT (b.t0 - g.gmin) // 3600000 AS entry_day,
        (b.t1 - g.gmin) // 3600000 AS exit_day,
        (b.t1 <= g.gmax - $ChurnHorizonHours * 3600000) AS churned
      FROM b CROSS JOIN g),
    days AS (
      SELECT exit_day AS day FROM u UNION SELECT entry_day FROM u),
    ent AS (SELECT entry_day AS day, count(*)::BIGINT AS n_in
            FROM u GROUP BY entry_day),
    ext AS (SELECT exit_day AS day, count(*)::BIGINT AS n_out,
              CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d
            FROM u GROUP BY exit_day),
    grid AS (
      SELECT days.day, coalesce(ent.n_in, 0) AS n_in,
        coalesce(ext.n_out, 0) AS n_out, coalesce(ext.d, 0) AS d
      FROM days LEFT JOIN ent ON days.day = ent.day
      LEFT JOIN ext ON days.day = ext.day),
    risk AS (
      SELECT day, d,
        sum(n_in) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        - coalesce(sum(n_out) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS n_risk
      FROM grid),
    haz AS (
      SELECT day, n_risk, d,
        CAST(floor(1e9 * d::DOUBLE / n_risk::DOUBLE + 0.5) AS BIGINT) AS h9
      FROM risk),
    cum AS (
      SELECT day, n_risk, d,
        sum(h9) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c9
      FROM haz)
    SELECT day::INT AS hour, n_risk::BIGINT AS n_risk, d::BIGINT AS d,
      floor(c9::DOUBLE / 1e3 + 0.5) / 1e6 AS cum_hazard
    FROM cum WHERE d > 0
    ORDER BY day"""

  // ---------------------------------------------------------------- q134
  /** Recency-decayed revenue per customer (half-life = 1 day, zero past
    * $DecayCapDays): the freshness-weighted spend feature every churn /
    * LTV model starts from. Exactness without trusting `exp` to agree
    * across engines: age is INTEGER days; 2^-days is an exact IEEE
    * double (pure exponent); cents·2^-days is an exact product (24-bit
    * mantissa × power of two); each term half-up bridges to a 1e6 grid
    * and sums in decimal — order-independent, so the one hash agg can
    * combine partials in any order AQE picks. */
  private def decaySql(em: String => String): String = s"""
    WITH mx AS (
      SELECT max(CAST(${em("o_orderdate")} AS BIGINT)) AS tmax FROM orders),
    b AS (
      SELECT o.o_custkey,
        CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        CAST(floor((mx.tmax - CAST(${em("o.o_orderdate")} AS BIGINT))
          / 86400000.0) AS BIGINT) AS days
      FROM orders o CROSS JOIN mx),
    t AS (
      SELECT o_custkey,
        CASE WHEN days >= $DecayCapDays THEN CAST(0 AS BIGINT)
             ELSE CAST(floor(CAST(cents AS DOUBLE) * 1e6
                    / power(2.0, CAST(days AS DOUBLE)) + 0.5) AS BIGINT)
        END AS term
      FROM b),
    s AS (
      SELECT o_custkey,
        CAST(sum(CAST(term AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s6,
        CAST(count(1) AS BIGINT) AS n_orders
      FROM t GROUP BY o_custkey)
    SELECT o_custkey, n_orders,
      ${droundSql("CAST(s6 AS DOUBLE) / 1e8", 2)} AS decayed_dollars
    FROM s ORDER BY o_custkey"""

  // o_orderdate is TIMESTAMP_NTZ in the parquet; the session pins UTC, so
  // the cast makes unix_millis agree bit-for-bit with DuckDB's epoch_ms
  // over the same naive timestamps
  def sparkDecaySql: String =
    decaySql(c => s"unix_millis(CAST($c AS TIMESTAMP))")

  def decayRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(sparkDecaySql)
  }

  def decayOracleSql: String = decaySql(c => s"epoch_ms($c)")

  // ---------------------------------------------------------------- q163
  /** In-engine quality-classifier training + scoring — the CCNet/fastText
    * move (score every doc by a linear classifier trained to recognize a
    * trusted slice; here the language-ID label stands in for the trusted
    * side) as a fixed-iteration batch-gradient-descent plan that BOTH
    * engines replay bit-identically:
    *
    *  - Features are exact by construction: integer counts (tokens,
    *    punctuation, chars) divided by powers of two — binary-exact
    *    doubles, no standardization pass to drift.
    *  - The link is the rational sigmoid σ̃(z) = 0.5 + z/(2(1+|z|)) —
    *    same shape/range as logistic but pure {+,-,*,/,abs}, so its
    *    bits are IEEE-identical across engines, where exp()'s last ulp
    *    is libm-dependent (production would swap in MLlib's logistic;
    *    the operator here is the deterministic pipeline shape).
    *  - Each iteration's gradient is a per-row contribution rounded on a
    *    1e-9 grid and summed as exact DECIMAL — order-independent, so
    *    Spark's nondeterministic partition-merge order cannot flake the
    *    hash — then one 1-row weight frame cross-joins into the next
    *    pass. T scans of a persisted skinny feature frame + T 1-row
    *    aggs: exactly distributed full-batch GD at 100 TB (weights
    *    broadcast, gradients map-side-combined).
    *
    * Output: per-doc label + final score — the filter a data pipeline
    * thresholds. The oracle replays all [[ClsIters]] iterations in SQL
    * (q84's Lloyd-replay pattern). */
  val ClsIters = 3
  val ClsLr = "0.5"
  private def bridge9(e: String): String =
    s"CAST(sum(CAST(floor(($e) * 1e9 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1e9"

  private def clsFeatsSql(tokExpr: String, punctExpr: String): String = s"""
      SELECT doc_id,
        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS yi,
        CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
        CAST($tokExpr AS DOUBLE) / 256.0 AS f1,
        CAST($punctExpr AS DOUBLE) / 64.0 AS f2,
        CAST(n_chars AS DOUBLE) / 4096.0 AS f3
      FROM documents"""

  /** GD chain from a feature relation named `feats` (engine-common). */
  private def clsChainSql(withFeats: Option[String]): String =
    clsCtes(withFeats) + s"""
      SELECT doc_id, yi AS label,
        ${droundSql("0.5 + z / (2.0 * (1.0 + abs(z)))", 6)} AS score
      FROM (SELECT f.doc_id, f.yi, w0 + w1 * f1 + w2 * f2 + w3 * f3 AS z
            FROM feats f CROSS JOIN w_$ClsIters) fin
      ORDER BY doc_id"""

  private def clsCtes(withFeats: Option[String]): String = {
    def iter(t: Int): String = {
      val wp = s"w_${t - 1}"
      s"""
      g_$t AS (
        SELECT count(1) AS n,
          ${bridge9("r")} AS g0, ${bridge9("r * f1")} AS g1,
          ${bridge9("r * f2")} AS g2, ${bridge9("r * f3")} AS g3
        FROM (
          SELECT y, f1, f2, f3,
            (0.5 + z / (2.0 * (1.0 + abs(z)))) - y AS r
          FROM (SELECT f.*, w0 + w1 * f1 + w2 * f2 + w3 * f3 AS z
                FROM feats f CROSS JOIN $wp) zz) rr),
      w_$t AS (
        SELECT w0 - $ClsLr * (g0 / CAST(n AS DOUBLE)) AS w0,
               w1 - $ClsLr * (g1 / CAST(n AS DOUBLE)) AS w1,
               w2 - $ClsLr * (g2 / CAST(n AS DOUBLE)) AS w2,
               w3 - $ClsLr * (g3 / CAST(n AS DOUBLE)) AS w3
        FROM $wp CROSS JOIN g_$t)"""
    }
    val featsCte = withFeats.map(f => s"feats AS ($f),").getOrElse("")
    s"""
      WITH $featsCte
      w_0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
                     CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3),
      ${(1 to ClsIters).map(iter).mkString(",")}"""
  }

  /** [[qualityClassifier]] over an arbitrary (doc_id, text, lang,
    * n_chars) frame — the spec entry point (separable planted labels →
    * scores must order positives above negatives). */
  /** Register the persisted feature frame for `docsDf`; returns its view
    * name. Persisted once: every GD iteration scans it, and the regex
    * token/punct extraction should run exactly one corpus pass. */
  private def clsFeatsView(docsDf: DataFrame): String = {
    import graft.functions.TextFunctions
    val spark = docsDf.sparkSession
    val view = s"graft_qcls_docs_t${Thread.currentThread().getId}"
    docsDf.createOrReplaceTempView(view)
    spark.sql(clsFeatsSql(
      s"size(${TextFunctions.wordsExpr("text")})",
      s"(length(text) - length(regexp_replace(text, '[\\\\p{Punct}]', '')))")
      .replace("FROM documents", s"FROM $view"))
      .transform(graft.core.EngineCache.persisted)
      .createOrReplaceTempView(s"${view}_feats")
    s"${view}_feats"
  }

  def qualityClassifierOf(docsDf: DataFrame): DataFrame = {
    val feats = clsFeatsView(docsDf)
    docsDf.sparkSession.sql(
      clsChainSql(None).replace("FROM feats", s"FROM $feats"))
  }

  /** The trained weights alone — the FROZEN model artifact a serving or
    * stream tier applies ([[scoreWithWeights]]): same GD chain, weights
    * projection instead of the scoring join. */
  def trainedClsWeights(docsDf: DataFrame): Array[Double] = {
    val feats = clsFeatsView(docsDf)
    val r = docsDf.sparkSession.sql(
      (clsCtes(None) + s" SELECT w0, w1, w2, w3 FROM w_$ClsIters")
        .replace("FROM feats", s"FROM $feats")).first()
    Array(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
  }

  /** Score a (doc_id, text, lang, n_chars) batch with frozen weights —
    * the serving stage of the classifier, bit-identical to the scores
    * [[qualityClassifierOf]] emits when `w` came from the same corpus
    * (weight literals round-trip through Double.toString, which is
    * exact). Only the batch is scanned; the model is four doubles. Rows
    * are unordered (callers treat them as a set): a persisted sorted frame
    * fails Spark 4.1 canonicalization once a view re-instantiates it, as
    * InMemoryRelation.newInstance keeps its old output ordering. */
  def scoreWithWeights(batch: DataFrame, w: Array[Double]): DataFrame = {
    require(w.length == 4)
    val feats = clsFeatsView(batch)
    val Array(w0, w1, w2, w3) = w.map(d => s"CAST('${d.toString}' AS DOUBLE)")
    batch.sparkSession.sql(s"""
      SELECT doc_id, yi AS label,
        ${droundSql("0.5 + z / (2.0 * (1.0 + abs(z)))", 6)} AS score
      FROM (SELECT f.doc_id, f.yi,
              $w0 + $w1 * f1 + $w2 * f2 + $w3 * f3 AS z
            FROM $feats f) fin""")
  }

  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    qualityClassifierOf(Tables.load(spark, dir, "documents"))

  def qualityClassifierOracleSql: String = {
    import graft.functions.TextFunctions
    clsChainSql(Some(clsFeatsSql(
      TextFunctions.tokenCountSql("text"),
      TextFunctions.punctCountSql("text"))))
  }

  // ---------------------------------------------------------------- q174
  /** Calibration (reliability) table for the q163 classifier — the
    * model-eval readout that decides whether scores can gate data at a
    * threshold: score DECILES (rank-based, because an undertrained
    * linear model concentrates scores — fixed-width bins would collapse
    * to one row and hide exactly the miscalibration being measured),
    * each reporting volume, the exact-decimal mean score, and the
    * observed positive rate; mean score tracking positive rate decile
    * by decile is what "calibrated" means. The decile comes from
    * [[DistributedRank]] + exact SQL-ntile arithmetic (never a
    * single-task window); scores bridge to 1e6-grid integers so the
    * rank order and the means are bit-identical cross-engine. O(10)
    * output at any corpus size. The oracle wraps the full q163 replay,
    * gating training AND evaluation end to end. */
  private def calibrationAggSql(rel: String): String = s"""
      SELECT decile, CAST(count(1) AS BIGINT) AS n,
        CAST(sum(label) AS BIGINT) AS n_pos,
        ${droundSql(
          "CAST(sum(CAST(s6 AS DECIMAL(38,0))) AS DOUBLE) / (1e6 * count(1))",
          6)} AS mean_score,
        ${droundSql("CAST(sum(label) AS DOUBLE) / CAST(count(1) AS DOUBLE)",
          6)} AS pos_rate
      FROM $rel
      GROUP BY decile ORDER BY decile"""

  def qualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val scored = graft.core.EngineCache.persisted(
      qualityClassifier(spark, dir).select(col("doc_id"), col("label"),
        expr("CAST(floor(score * 1e6 + 0.5) AS BIGINT)").as("s6")))
    val st = scored.agg(count(lit(1)),
      min("s6").cast("double"), max("s6").cast("double")).first()
    val n = st.getLong(0)
    val ranked = DistributedRank.rankOnlyBounded(
      scored, "rk", "s6", desc = false, st.getDouble(1), st.getDouble(2),
      col("s6"), col("doc_id"))
    val d = ranked.withColumn(
      "decile", DistributedRank.ntileFromRank("rk", n, LiftDeciles))
    val v = s"graft_qcal_t${Thread.currentThread().getId}"
    d.createOrReplaceTempView(v)
    spark.sql(calibrationAggSql(v))
  }

  def qualityCalibrationOracleSql: String = s"""
      WITH scored AS ($qualityClassifierOracleSql),
      b AS (
        SELECT doc_id, label,
          CAST(floor(score * 1e6 + 0.5) AS BIGINT) AS s6
        FROM scored),
      d AS (
        SELECT label, s6,
          CAST(ntile($LiftDeciles) OVER (ORDER BY s6, doc_id) AS INT)
            AS decile
        FROM b)
      ${calibrationAggSql("d")}"""

  // ---------------------------------------------------------------- q271
  /** ISOTONIC calibration of the q163 classifier — pool-adjacent-
    * violators (Ayer et al. 1955; Zadrozny & Elkan 2002's calibration
    * use) over the q174 reliability deciles: the monotone-regression
    * fit Platt scaling can't give you without a parametric form, and
    * the standard production calibrator. PAV is sequential, but over
    * BINS it has the exact closed MINIMAX form fit_k = max_{i≤k}
    * min_{j≥k} (Σ_{i..j} pos / Σ_{i..j} n), so the whole fit is three
    * joins over the O(deciles²) segment grid — ≤ 550 rows whatever the
    * corpus size, after the same one corpus pass q174 prices. Segment
    * means land on a 1e-9 grid from identical exactly-rounded IEEE
    * division on exact integers (q263's argument), so min/max ordering
    * cannot drift cross-engine; the fitted rate ships as the exact
    * grid integer. The oracle replays the full q163→q174 chain and
    * the same minimax tail. Spec pins the classic pooling example by
    * hand (violating middle bins pool to their weighted mean),
    * monotonicity, and total-mass preservation. */
  private[graft] def isotonicTailSql(rel: String): String = s"""
    c AS (SELECT decile, n, n_pos FROM $rel),
    pre AS (
      SELECT a.decile, CAST(sum(b.n) AS BIGINT) AS cn,
        CAST(sum(b.n_pos) AS BIGINT) AS cp
      FROM c a JOIN c b ON b.decile <= a.decile GROUP BY a.decile),
    seg AS (
      SELECT i.decile AS i, j.decile AS j,
        CAST(floor(CAST(j.cp - coalesce(ip.cp, 0) AS DOUBLE)
          / CAST(j.cn - coalesce(ip.cn, 0) AS DOUBLE) * 1e9 + 0.5)
          AS BIGINT) AS m9
      FROM pre j
      JOIN c i ON i.decile <= j.decile
      LEFT JOIN pre ip ON ip.decile = i.decile - 1),
    mins AS (
      SELECT s.i, k.decile AS k, min(s.m9) AS mn
      FROM seg s JOIN c k ON s.j >= k.decile AND s.i <= k.decile
      GROUP BY s.i, k.decile),
    fit AS (SELECT k AS decile, CAST(max(mn) AS BIGINT) AS iso9
            FROM mins GROUP BY k)
    SELECT c.decile, c.n, c.n_pos,
      ${droundSql("CAST(c.n_pos AS DOUBLE) / CAST(c.n AS DOUBLE)", 6)}
        AS raw_rate,
      f.iso9
    FROM c JOIN fit f ON f.decile = c.decile
    ORDER BY c.decile"""

  def isotonicCalibration(spark: SparkSession, dir: String): DataFrame = {
    val v = s"graft_iso_t${Thread.currentThread().getId}"
    // O(deciles) collect — the q181/q227 materialization barrier: the
    // PAV tail's pairwise inequality joins run over a LocalRelation
    // whose known tiny size broadcasts, where the lazily-chained decile
    // view carries corpus-sized stats and plans a CartesianProduct
    // (the plan sweep rejects that shape, and rightly: this is a
    // 10-row problem by construction)
    val deciles = qualityCalibration(spark, dir)
      .select("decile", "n", "n_pos")
    spark.createDataFrame(
        java.util.Arrays.asList(deciles.collect(): _*), deciles.schema)
      .createOrReplaceTempView(v)
    spark.sql("WITH " + isotonicTailSql(v))
  }

  def isotonicCalibrationOracleSql: String = {
    val cal = qualityCalibrationOracleSql
    s"""WITH calib AS ($cal),
    ${isotonicTailSql("calib")}"""
  }

  // ---------------------------------------------------------------- q175
  /** Exact AUC for the q163 classifier — the Mann-Whitney rank-sum
    * form with full tie handling, computed from the SCORE HISTOGRAM:
    * group by the 1e6-bridged score (hash agg over the corpus), then
    * one window over the |distinct scores| histogram rows (the q128
    * histogram discipline — the corpus itself is never sorted) gives
    * each tie-group's average-rank contribution as pure integers:
    * Σ mp·(2c+m+1) doubles the positive rank-sum, so
    * AUC = (R2 − np(np+1)) / (2·np·nn) divides exact int64s once at
    * the end. One row out; the oracle wraps the full training replay.
    * AUC ≈ 0.5 on this fixture is the honest readout q174 already
    * shows decile-wise — the metric exists to prove it exactly. */
  private def aucAggSql(scored: String): String = s"""
      WITH b AS (
        SELECT label, CAST(floor(score * 1e6 + 0.5) AS BIGINT) AS s6
        FROM $scored),
      h AS (
        SELECT s6, CAST(count(1) AS BIGINT) AS m,
          CAST(sum(label) AS BIGINT) AS mp
        FROM b GROUP BY s6),
      w AS (
        SELECT s6, m, mp,
          CAST(coalesce(sum(m) OVER (ORDER BY s6
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS c
        FROM h),
      agg AS (
        SELECT CAST(sum(mp * (2 * c + m + 1)) AS BIGINT) AS r2,
          CAST(sum(mp) AS BIGINT) AS np, CAST(sum(m) AS BIGINT) AS nt
        FROM w)
      SELECT np AS n_pos, CAST(nt - np AS BIGINT) AS n_neg,
        ${droundSql(
          "CAST(r2 - np * (np + 1) AS DOUBLE) / " +
            "(2.0 * CAST(np AS DOUBLE) * CAST(nt - np AS DOUBLE))",
          6)} AS auc
      FROM agg"""

  def classifierAuc(spark: SparkSession, dir: String): DataFrame = {
    val v = s"graft_auc_t${Thread.currentThread().getId}"
    qualityClassifier(spark, dir).createOrReplaceTempView(v)
    spark.sql(aucAggSql(v))
  }

  /** [[classifierAuc]] over an arbitrary docs frame — the spec entry
    * point (separable planted labels must score AUC ≈ 1). */
  def classifierAucOf(docsDf: DataFrame): DataFrame = {
    val v = s"graft_auc_of_t${Thread.currentThread().getId}"
    qualityClassifierOf(docsDf).createOrReplaceTempView(v)
    docsDf.sparkSession.sql(aucAggSql(v))
  }

  def classifierAucOracleSql: String =
    aucAggSql(s"($qualityClassifierOracleSql) scored")

  // ---------------------------------------------------------------- q201
  /** Sketch-based JOIN-SIZE estimation audit — the optimizer's
    * cardinality question ("how big is A ⋈ B going to be?") answered
    * from two count-min sketches instead of a scan: the AMS/CMS inner
    * product Σ_j cA[r][j]·cB[r][j], minimized over rows, estimates
    * Σ_k n_A(k)·n_B(k) with a GUARANTEED overestimate (collisions only
    * add mass) and expected excess ≤ ‖A‖₁·‖B‖₁/Width per row. At
    * 100 TB this is the production shape: per-partition key sketches
    * already persist (q137's shard discipline), they MERGE, and a
    * planner reads two KB-sized sketches to size a join — choose
    * broadcast vs shuffle, pre-provision spill — without touching
    * either relation. Audited the q137 way: the exact join size is an
    * integer both engines compute from group-by counts, and the two
    * CMS guarantees ship as checked booleans (the estimate itself is
    * sketch-internal, deterministic under the fixed seed family, and
    * spec-checked for tightness). Three joins: an FK join, a skewed
    * self-join (the quadratic-in-frequency case that breaks naive
    * |A|·|B|/distinct estimators), and a dimension join. */
  def joinSizeEst(spark: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "part", "orders", "customer").foreach(t =>
      Tables.load(spark, dir, t).createOrReplaceTempView(t))
    val w = graft.functions.CmSketch.Width
    def leg(name: String, ta: String, ka: String,
            tb: String, kb: String): String = s"""
      SELECT '$name' AS join_name, a.n AS n_left, b.n AS n_right, ex.v
          AS exact_join_rows,
        cms_join_est(a.sk, b.sk) >= ex.v AS est_ge_exact,
        cms_join_est(a.sk, b.sk) <= ex.v +
          CAST(ceil(4.0 * a.n * b.n / $w) AS BIGINT) AS est_within_bound
      FROM (SELECT cms_build($ka) AS sk, CAST(count(1) AS BIGINT) AS n
            FROM $ta) a
      CROSS JOIN (SELECT cms_build($kb) AS sk,
            CAST(count(1) AS BIGINT) AS n FROM $tb) b
      CROSS JOIN (
        SELECT CAST(sum(ca.c * cb.c) AS BIGINT) AS v
        FROM (SELECT $ka AS k, count(1) AS c FROM $ta GROUP BY $ka) ca
        JOIN (SELECT $kb AS k, count(1) AS c FROM $tb GROUP BY $kb) cb
          ON ca.k = cb.k) ex"""
    spark.sql(
      Seq(leg("li_part_fk", "lineitem", "l_partkey", "part", "p_partkey"),
        leg("li_self", "lineitem", "l_partkey", "lineitem", "l_partkey"),
        leg("ord_cust_fk", "orders", "o_custkey", "customer", "c_custkey"))
        .mkString("", "\n      UNION ALL\n", "\n      ORDER BY join_name"))
  }

  def joinSizeEstSql: String = {
    def leg(name: String, ta: String, ka: String,
            tb: String, kb: String): String = s"""
      SELECT '$name' AS join_name,
        (SELECT CAST(count(1) AS BIGINT) FROM $ta) AS n_left,
        (SELECT CAST(count(1) AS BIGINT) FROM $tb) AS n_right,
        (SELECT CAST(sum(ca.c * cb.c) AS BIGINT)
         FROM (SELECT $ka AS k, count(1) AS c FROM $ta GROUP BY $ka) ca
         JOIN (SELECT $kb AS k, count(1) AS c FROM $tb GROUP BY $kb) cb
           ON ca.k = cb.k) AS exact_join_rows,
        TRUE AS est_ge_exact, TRUE AS est_within_bound"""
    Seq(leg("li_part_fk", "lineitem", "l_partkey", "part", "p_partkey"),
      leg("li_self", "lineitem", "l_partkey", "lineitem", "l_partkey"),
      leg("ord_cust_fk", "orders", "o_custkey", "customer", "c_custkey"))
      .mkString("", "\n      UNION ALL\n", "\n      ORDER BY join_name")
  }

  // ---------------------------------------------------------------- q211
  /** One-sided CUSUM changepoint scan (Page 1954) over each event
    * type's hourly mean-value series: with d_t = v_t − μ (deviation
    * from the series mean), the classic recursion S_t = max(0,
    * S_{t−1} + d_t) flags a sustained upward shift when S peaks. The
    * recursion LOOKS inherently sequential, but the prefix identity
    * S_t = P_t − min(0, min_{j≤t} P_j) (P = running sum of d) turns it
    * into two plain running windows — so the whole detector is one
    * hash agg + two per-series window passes, no recursion, no
    * per-row driver loop. Reported per type: the series length, the
    * peak CUSUM value, and the hour it peaks (ties → earliest), i.e.
    * where the shift has accumulated the most evidence.
    *
    * Determinism: hourly means and the series mean ride the decimal
    * bridge ([[graft.core.Determinism]]); deviations are exact 1e-6
    * integers from there on, so prefix sums, mins, and the argmax
    * tiebreak are integer arithmetic in both engines.
    *
    * Scale: the raw scan reduces to |types|×|hours| rows before any
    * window runs; each window sorts ONE series (state = that type's
    * hours, bounded by the time range, not the corpus); the hourly
    * frame is persisted Spark-side because the mean agg and the
    * deviation join both consume it. */
  private[operators] def cusumTailSql(hourly: String): String = s"""
    m AS (SELECT event_type, ${avgSql("v", 6)} AS mu FROM $hourly
          GROUP BY event_type),
    d AS (
      SELECT h.event_type, h.hour,
        CAST(floor((h.v - m.mu) * 1e6 + 0.5) AS BIGINT) AS d6
      FROM $hourly h JOIN m ON h.event_type = m.event_type),
    p AS (
      SELECT event_type, hour,
        sum(d6) OVER (PARTITION BY event_type ORDER BY hour
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p6
      FROM d),
    s AS (
      SELECT event_type, hour,
        p6 - least(CAST(0 AS BIGINT),
          min(p6) OVER (PARTITION BY event_type ORDER BY hour
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s6
      FROM p),
    r AS (
      SELECT event_type, hour, s6,
        count(1) OVER (PARTITION BY event_type) AS n_hours,
        row_number() OVER (PARTITION BY event_type
          ORDER BY s6 DESC, hour) AS rn
      FROM s)
    SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
      hour AS peak_hour, ${droundSql("CAST(s6 AS DOUBLE) / 1e6", 6)} AS s_max
    FROM r WHERE rn = 1 ORDER BY event_type"""

  private[graft] def cusumHourlySql(table: String): String = s"""
    SELECT event_type, date_trunc('hour', ts) AS hour,
      ${avgSql("value", 6)} AS v
    FROM $table GROUP BY 1, 2"""

  def cusum(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    cusumOn(spark, "events")
  }

  /** Core of q211 over any registered (event_type, ts, value) view. */
  private[graft] def cusumOn(spark: SparkSession, table: String): DataFrame = {
    // split at the hourly frame: the mean CTE and the deviation join
    // both reference it, and Spark inlines CTEs — unsplit, the raw
    // events scan (the only corpus-sized piece) would run twice
    spark.sql(cusumHourlySql(table))
      .transform(graft.core.EngineCache.persisted)
      .createOrReplaceTempView("graft_cusum_hourly")
    spark.sql("WITH " + cusumTailSql("graft_cusum_hourly"))
  }

  def cusumOracleSql: String =
    s"WITH hourly AS (${cusumHourlySql("events")}),${cusumTailSql("hourly")}"

  /** Read-side monitor over the streaming twin's at-rest hourly
    * partials: re-combine the exact decimal sums/counts (additive, so
    * any batch split — mid-hour included — lands on the same totals),
    * rebuild the 1e-6-grid hourly means with davg's exact spelling,
    * and run the same prefix-identity tail as q211. */
  private[graft] def cusumFromShards(spark: SparkSession,
                                     hourlyPath: String): DataFrame = {
    spark.read.parquet(hourlyPath)
      .groupBy("event_type", "hour")
      .agg(org.apache.spark.sql.functions.sum("vsum").as("s"),
        org.apache.spark.sql.functions.sum("vn").as("n"))
      .selectExpr("event_type", "hour",
        "floor((CAST(s AS DOUBLE) / n) * 1e6 + 0.5) / 1e6 AS v")
      .createOrReplaceTempView("graft_cusum_shards")
    spark.sql("WITH " + cusumTailSql("graft_cusum_shards"))
  }

  // ---------------------------------------------------------------- q228
  /** Hourly point-anomaly flags — the POINT complement of q211's CUSUM
    * level-shift detector: per event type, an hour is anomalous when
    * its mean deviates from the series MEDIAN by more than 3 MADs (the
    * robust z-score monitors use where mean/stddev would let the
    * anomalies poison their own baseline). Median and MAD ride q96's
    * histogram-fed percentile (the hourly frame is |types|×|hours|, so
    * the weighted percentile sees bounded rows); the 3-MAD compare and
    * the reported robust z both run on 2e6-scaled INTEGERS rounded
    * once from the medians, so an interpolation ulp between engines
    * can never flip a flag or a grid boundary. A degenerate MAD=0
    * series (≥ half the hours exactly at the median) still FLAGS every
    * deviating hour — |v−med| > 0 is the correct reading of "more than
    * 3 × nothing" — but reports NULL robust z in both spellings, so
    * the engines' differing x/0 semantics (NULL vs ±inf) can never
    * split the hash gate. One events scan, two tiny percentile aggs,
    * O(anomalies) output. */
  private[graft] def anomalyTailSql(
      hourly: String, medCte: String, madCte: String): String = s"""
    med AS ($medCte),
    mad AS ($madCte),
    sc AS (
      SELECT h.event_type, h.hour, h.v,
        CAST(round(h.v * 2e6) AS BIGINT) AS v2,
        CAST(round(m.med * 2e6) AS BIGINT) AS m2,
        CAST(round(d.mad * 2e6) AS BIGINT) AS d2
      FROM $hourly h
      JOIN med m ON h.event_type = m.event_type
      JOIN mad d ON h.event_type = d.event_type)
    SELECT event_type, hour, v AS hourly_mean,
      CASE WHEN d2 = 0 THEN CAST(NULL AS DOUBLE) ELSE
        ${droundSql("CAST(v2 - m2 AS DOUBLE) / CAST(d2 AS DOUBLE)", 4)}
      END AS robust_z
    FROM sc WHERE abs(v2 - m2) > 3 * d2
    ORDER BY event_type, hour"""

  def hourlyAnomaly(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    spark.sql(cusumHourlySql("events"))
      .transform(graft.core.EngineCache.persisted)
      .createOrReplaceTempView("graft_anom_hourly")
    // the engine quantiles the WEIGHTED (event_type, v) histogram —
    // q96's percentile(v, p, freq) form; the oracle quantiles the raw
    // hourly rows (DuckDB's quantile_cont is unweighted, and over the
    // deduped histogram it would mis-weight repeated grid values)
    spark.sql("WITH hist AS (SELECT event_type, v, count(1) AS cnt " +
      "FROM graft_anom_hourly GROUP BY event_type, v),\n" +
      anomalyTailSql("graft_anom_hourly",
        "SELECT event_type, percentile(v, 0.5, cnt) AS med " +
          "FROM hist GROUP BY event_type",
        "SELECT h.event_type, percentile(abs(h.v - m.med), 0.5, h.cnt) " +
          "AS mad FROM hist h JOIN med m ON h.event_type = m.event_type " +
          "GROUP BY h.event_type"))
  }

  def hourlyAnomalyOracleSql: String =
    s"""WITH hourly AS (${cusumHourlySql("events")}),
    ${anomalyTailSql("hourly",
      "SELECT event_type, quantile_cont(v, 0.5) AS med FROM hourly " +
        "GROUP BY event_type",
      "SELECT h.event_type, quantile_cont(abs(h.v - m.med), 0.5) AS mad " +
        "FROM hourly h JOIN med m ON h.event_type = m.event_type " +
        "GROUP BY h.event_type")}"""

  // ---------------------------------------------------------------- q289
  /** POISSON BOOTSTRAP confidence interval for the mean purchase value
    * (Efron 1979 resampling; the Poisson(1)-weight form is the one
    * that DISTRIBUTES: per-replica multinomial counts need the total n
    * upfront and a shared RNG, while independent per-(row, replica)
    * Poisson(1) weights need neither — each row computes its 64
    * weights from its own key alone, so the whole resample is ONE
    * corpus scan feeding 2·B conditional aggregates, no shuffle wider
    * than the final 1-row agg, no data movement at any corpus size;
    * the classic trade that made bootstrap viable on MapReduce-scale
    * data). RNG-free and cross-engine: replica b's weight is the exact
    * Poisson(1) inverse CDF evaluated at u = xhash('bs<b>:'||event_id)
    * mod 1e6 — eight frozen integer thresholds (the 1e-6-gridded
    * cumulative e⁻¹/k! table, capped at 8 where the residual mass is
    * < 1e-5), so weights are BIGINTs decided by integer compares, the
    * same seeded-hash-family trick the MinHash signatures use (B md5s
    * per row — the priced precedent). Replica means divide exact
    * BIGINT pairs onto the 1e-4 cents grid; the CI is the q46-bridged
    * percentile/quantile_cont over the B=64 gridded means (a window
    * over an aggregate-bounded 64-row frame), gridded again before
    * shipping. Replicas with zero total weight (P ≈ e⁻ⁿ, extinct for
    * any real n) are excluded LOUDLY: b_replicas counts survivors and
    * the spec pins it at 64. OVERFLOW BOUND (q274's honesty note):
    * Σ w·cents ≤ 8·n·max_cents wraps int64 past ~10¹² purchase rows at
    * 10⁵ max cents; DECIMAL(38,0) is the escape. */
  val BootReplicas = 64
  private val PoissonCum6 = // floor(1e6 · Σ_{i≤k} e⁻¹/i! + 0.5), k = 0..7
    Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L, 999917L,
      999990L)

  private def poissonW(u: String): String =
    PoissonCum6.zipWithIndex
      .map { case (t, k) => s"WHEN $u < $t THEN $k" }
      .mkString("CASE ", " ", s" ELSE ${PoissonCum6.size} END")

  /** Shared SQL body; `seeded(b)` is the engine's BIGINT hash of
    * 'bs<b>:' ++ event_id, `quant(x, tau)` its interpolated quantile. */
  private def bootstrapCiBody(seeded: Int => String): String = {
    // weights materialize in their own projection so each md5 + CASE
    // runs ONCE per (row, replica); referencing the CASE inside both
    // sum(w·cents) and sum(w) would double the per-row hash work.
    // THREE replicas share one md5: a digest is 128 bits and a replica
    // only needs a uniform 1e6 draw, so u_b reads a disjoint 10-hex
    // (40-bit) slice of digest ⌊b/3⌋ — 22 hashes per row instead of
    // 64 (the full-suite bench measured the 1-md5-per-replica spelling
    // as the suite's slowest query at 16 s; this is the fix, not a
    // guess). 2⁴⁰ mod 1e6 leaves ~1e-6 non-uniformity — below the
    // 1e-6 threshold grid itself.
    // The suite stays inside whole-stage codegen by SPLITTING the
    // replicas into two half-width passes: one 129-expression
    // aggregate blows spark.sql.codegen.maxFields (100) and the whole
    // stage silently falls back to interpreted row processing — the
    // full-suite bench measured that spelling as the slowest query in
    // the engine. Two 66-field halves codegen; the join of two 1-row
    // aggs is free.
    // ...and the uniform draws materialize BEFORE the weight CASEs:
    // inlining u into poissonW would re-evaluate the md5 inside every
    // one of the 8 WHEN branches (up to 8 digests per replica per row
    // where one suffices).
    def ucols(r: Range) = r.map { b =>
      s"((${seeded(b)}) % 1000000) AS u$b"
    }.mkString(",\n        ")
    def wcols(r: Range) = r.map { b =>
      s"(${poissonW(s"u$b")}) AS w$b"
    }.mkString(",\n        ")
    def ws(r: Range) = r.map { b =>
      s"""CAST(sum(w$b * cents) AS BIGINT) AS swx$b,
        CAST(sum(w$b) AS BIGINT) AS sw$b"""
    }.mkString(",\n        ")
    val half = BootReplicas / 2
    s"""
    p AS (
      SELECT event_id,
        CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    pu1 AS (
      SELECT cents,
        ${ucols(0 until half)}
      FROM p),
    pu2 AS (
      SELECT cents,
        ${ucols(half until BootReplicas)}
      FROM p),
    pw1 AS (
      SELECT cents,
        ${wcols(0 until half)}
      FROM pu1),
    pw2 AS (
      SELECT cents,
        ${wcols(half until BootReplicas)}
      FROM pu2),
    agg1 AS (
      SELECT CAST(count(1) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s,
        ${ws(0 until half)}
      FROM pw1),
    agg2 AS (
      SELECT
        ${ws(half until BootReplicas)}
      FROM pw2),
    agg AS (SELECT * FROM agg1 CROSS JOIN agg2)
    SELECT * FROM agg"""
  }

  /** Readout over the materialized 1-row aggregate `aggRef`. Split
    * from the corpus pass because it references the aggregate 65
    * times (64 replica unpivots + the point estimate) and Spark
    * INLINES deterministic CTEs — unsplit, the whole corpus aggregate
    * re-ran per reference (measured: the suite's slowest query at
    * 16-44 s; split + persisted it is milliseconds). The oracle keeps
    * the one-string CTE form — DuckDB materializes multiply-referenced
    * CTEs. */
  private def bootstrapCiTail(aggRef: String,
      quant: (String, String) => String): String = {
    val reps = (0 until BootReplicas).map(b =>
      s"SELECT swx$b AS swx, sw$b AS sw FROM $aggRef").mkString(" UNION ALL ")
    s"""
    reps AS ($reps),
    means AS (
      SELECT CAST(floor(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) * 1e4
        + 0.5) AS BIGINT) AS m4
      FROM reps WHERE sw > 0),
    ci AS (
      SELECT CAST(count(1) AS BIGINT) AS b_replicas,
        CAST(floor(${quant("m4", "0.025")} + 0.5) AS BIGINT) AS boot_lo4,
        CAST(floor(${quant("m4", "0.5")} + 0.5) AS BIGINT) AS boot_med4,
        CAST(floor(${quant("m4", "0.975")} + 0.5) AS BIGINT) AS boot_hi4
      FROM means)
    SELECT a.n AS n_purchases, c.b_replicas,
      CAST(floor(CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE) * 1e4 + 0.5)
        AS BIGINT) AS point_mean4,
      c.boot_lo4, c.boot_med4, c.boot_hi4
    FROM $aggRef a CROSS JOIN ci c"""
  }

  private def bootstrapSparkSeeded(b: Int): String =
    s"CAST(conv(substr(md5(concat('bs${b / 3}:', " +
      s"CAST(event_id AS STRING))), ${(b % 3) * 10 + 1}, 10), 16, 10) " +
      "AS BIGINT)"

  def bootstrapCiOracleSql: String =
    s"""WITH aggv AS (WITH ${bootstrapCiBody(
      b => s"(('0x' || substr(md5('bs${b / 3}:' || event_id::VARCHAR), " +
        s"${(b % 3) * 10 + 1}, 10))::BIGINT)")}),
    ${bootstrapCiTail("aggv", (x, t) => s"quantile_cont($x, $t)")}"""

  def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    // the 1-row aggregate materializes to a LocalRelation (a bounded
    // driver collect, the O(files)-manifest precedent): the tail
    // references it 65 times, and neither CTE inlining nor cache
    // substitution reliably prevents 65 re-aggregations of the corpus
    // through a temp-view reference (measured: 16-44 s vs milliseconds)
    val agg = spark.sql("WITH" + bootstrapCiBody(bootstrapSparkSeeded))
    spark.createDataFrame(
      java.util.Arrays.asList(agg.collect(): _*), agg.schema)
      .createOrReplaceTempView("graft_boot_agg")
    spark.sql("WITH " +
      bootstrapCiTail("graft_boot_agg", (x, t) => s"percentile($x, $t)"))
  }

  // ---------------------------------------------------------------- q290
  /** SPLIT-CONFORMAL prediction interval (Papadopoulos 2002; Vovk's
    * inductive conformal form) — the distribution-free guarantee the
    * q174/q271 calibration family cannot give: those ask whether
    * predicted PROBABILITIES are honest; this wraps ANY point
    * predictor in an interval with finite-sample marginal coverage
    * ≥ 1 − α under exchangeability alone, no model or distribution
    * assumption. Setup on orders: the predictor is the per-priority
    * calibration-half mean (any model works; the guarantee never
    * looks inside it), the split is the deterministic xhash gate
    * (q49's coin), and q̂ is the k = ⌈(n_cal + 1)(1 − α)⌉-th smallest
    * absolute calibration residual — the EXACT order statistic, NOT an
    * interpolated quantile: interpolation breaks the finite-sample
    * proof, so k comes from integer arithmetic and q̂ from the residual
    * HISTOGRAM (one hash agg to |distinct residuals| rows, a running
    * sum over that aggregated frame, smallest value whose cumulative
    * count reaches k — q274's corpus-safe ECDF shape, never a corpus
    * sort). The readout ships exact integers only: (n_cal, n_test,
    * k_rank, q_hat2 in centi-cents, cover_num) — the reader divides
    * cover_num/n_test and checks it against 1 − α, with the
    * denominator covering EVERY test row: a test row whose priority
    * never appeared in the calibration half falls back to the global
    * calibration mean (LEFT join + coalesce), never a silent drop
    * from n_test; the spec replays
    * the whole construction independently on the JVM's md5 and pins
    * coverage on a planted exchangeable fixture. Alpha is spelled once
    * as [[ConformalKeep10]]/10. Residuals are |100·cents − ŷ2| with ŷ2
    * the 1e-2-gridded calib mean — integers end to end, so the two
    * engines cannot drift. */
  val ConformalKeep10 = 9 // keep 9/10 -> alpha = 0.1

  def conformalSql(hashKey: String): String = s"""
    WITH b AS (
      SELECT o_orderpriority AS prio,
        CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
        CASE WHEN ($hashKey) % 2 = 0 THEN 'cal' ELSE 'tst' END AS half
      FROM orders),
    mdl AS (
      SELECT prio, CAST(floor(CAST(sum(cents) AS DOUBLE)
        / CAST(count(1) AS DOUBLE) * 100 + 0.5) AS BIGINT) AS yhat2
      FROM b WHERE half = 'cal' GROUP BY prio),
    gmdl AS (
      SELECT CAST(floor(CAST(sum(cents) AS DOUBLE)
        / CAST(count(1) AS DOUBLE) * 100 + 0.5) AS BIGINT) AS yhat2
      FROM b WHERE half = 'cal'),
    res AS (
      SELECT b.half, abs(100 * b.cents - coalesce(m.yhat2, g.yhat2)) AS r
      FROM b LEFT JOIN mdl m ON b.prio = m.prio CROSS JOIN gmdl g),
    hist AS (
      SELECT r, CAST(count(1) AS BIGINT) AS c
      FROM res WHERE half = 'cal' GROUP BY r),
    ncal AS (SELECT CAST(sum(c) AS BIGINT) AS n_cal FROM hist),
    k AS (
      SELECT n_cal, CAST(floor(($ConformalKeep10 * (n_cal + 1) + 9)
        / 10.0) AS BIGINT) AS k_rank
      FROM ncal),
    cum AS (
      SELECT r, CAST(sum(c) OVER (ORDER BY r) AS BIGINT) AS cc
      FROM hist),
    qhat AS (
      SELECT k.n_cal, k.k_rank, CAST(min(cum.r) AS BIGINT) AS q_hat2
      FROM cum CROSS JOIN k WHERE cum.cc >= k.k_rank
      GROUP BY k.n_cal, k.k_rank),
    tst AS (
      SELECT CAST(count(1) AS BIGINT) AS n_test,
        CAST(sum(CASE WHEN res.r <= q.q_hat2 THEN 1 ELSE 0 END)
          AS BIGINT) AS cover_num
      FROM res CROSS JOIN qhat q WHERE res.half = 'tst')
    SELECT q.n_cal, t.n_test, q.k_rank, q.q_hat2, t.cover_num
    FROM qhat q CROSS JOIN tst t"""

  def conformal(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(conformalSql(
      xhashExpr("concat('cf:', CAST(o_orderkey AS STRING))")))
  }

  // ---------------------------------------------------------------- q294
  /** Strict-order CONVERSION FUNNEL view → click → signup → purchase —
    * the sequential-match semantics (each step's event must occur
    * STRICTLY AFTER the user's previous step, earliest match wins),
    * not the presence-count a naive 4-way GROUP BY would give: a user
    * who purchased BEFORE ever viewing converts step 1 only. Shape:
    * step k is one hash agg over events equi-joined to step k−1's
    * per-user frame (min(ms) with ms > t_{k−1}) — aggs and joins all
    * keyed on user_id, each stage O(|users|) rows; the Spark path
    * PERSISTS each stage frame (the q211 split discipline: every
    * stage feeds both its successor and the readout, and Spark
    * inlines CTEs — unpersisted, the corpus scan would run twice per
    * stage), while the oracle spells the same chain as plain CTEs.
    * Readout: per step, surviving users and the exact BIGINT sum of
    * inter-step latencies (reader divides for the mean; medians are
    * q46's histogram machinery if wanted). Timestamps bridge to epoch
    * ms via the engine-appropriate spelling (q112's twap precedent).
    * Spec plants an out-of-order user (purchase before view), a
    * same-millisecond tie (strict > excludes it), and a full clean
    * path. */
  private def funnelStageSql(eView: String, prev: String, step: String,
                             tPrev: String, tNew: String): String = s"""
    SELECT e.user_id, p.$tPrev, min(e.ms) AS $tNew
    FROM $eView e JOIN $prev p ON e.user_id = p.user_id
    WHERE e.event_type = '$step' AND e.ms > p.$tPrev
    GROUP BY e.user_id, p.$tPrev"""

  private def funnelReadoutSql(st: Int => String): String = s"""
    SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
      CAST(count(1) AS BIGINT) AS n_users, CAST(0 AS BIGINT) AS sum_lat_ms
    FROM ${st(1)}
    UNION ALL
    SELECT 2, 'click', CAST(count(1) AS BIGINT),
      CAST(sum(t2 - t1) AS BIGINT) FROM ${st(2)}
    UNION ALL
    SELECT 3, 'signup', CAST(count(1) AS BIGINT),
      CAST(sum(t3 - t2) AS BIGINT) FROM ${st(3)}
    UNION ALL
    SELECT 4, 'purchase', CAST(count(1) AS BIGINT),
      CAST(sum(t4 - t3) AS BIGINT) FROM ${st(4)}
    ORDER BY step"""

  /** Funnel evaluations on one SparkSession must not clobber each
    * other's stage views (two concurrent/back-to-back calls under
    * fixed names would) — every call suffixes its views with a fresh
    * process-wide token. */
  private val funnelCallSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Core of q294 over any registered (user_id, event_type, ts) view;
    * `msExpr` is the engine's epoch-ms spelling. */
  private[graft] def funnelOn(spark: SparkSession, table: String,
                              msExpr: String): DataFrame = {
    val tok = funnelCallSeq.incrementAndGet()
    val eView = s"funnel_e_$tok"
    def st(i: Int) = s"funnel_s${i}_$tok"
    def persistView(name: String, sql: String): Unit =
      spark.sql(sql).transform(graft.core.EngineCache.persisted)
        .createOrReplaceTempView(name)
    persistView(eView,
      s"SELECT user_id, event_type, $msExpr AS ms FROM $table")
    persistView(st(1), s"""
      SELECT user_id, min(ms) AS t1 FROM $eView
      WHERE event_type = 'view' GROUP BY user_id""")
    persistView(st(2), funnelStageSql(eView, st(1), "click", "t1", "t2"))
    persistView(st(3), funnelStageSql(eView, st(2), "signup", "t2", "t3"))
    persistView(st(4), funnelStageSql(eView, st(3), "purchase", "t3", "t4"))
    spark.sql(funnelReadoutSql(st))
  }

  def funnel(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    funnelOn(spark, "events", "unix_millis(ts)")
  }

  def funnelOracleSql: String = {
    def st(i: Int) = s"funnel_s$i"
    s"""
    WITH funnel_e AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
    funnel_s1 AS (
      SELECT user_id, min(ms) AS t1 FROM funnel_e
      WHERE event_type = 'view' GROUP BY user_id),
    funnel_s2 AS (${funnelStageSql("funnel_e", st(1), "click", "t1", "t2")}),
    funnel_s3 AS (${funnelStageSql("funnel_e", st(2), "signup", "t2", "t3")}),
    funnel_s4 AS (${funnelStageSql("funnel_e", st(3), "purchase", "t3", "t4")})
    ${funnelReadoutSql(st)}"""
  }

  // ------------------------------------------------------------ wiring

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q127_corr_matrix"    -> corrMatrix _,
    "q128_winsor_mean"    -> winsorMeans _,
    "q129_interval_union" -> intervalUnion _,
    "q130_lift_table"     -> liftTable _,
    "q131_survivorship"   -> survivorship _,
    "q132_coverage_k"     -> coverageK _,
    "q133_hll_sketch"     -> hllCardinality _,
    "q134_decay_revenue"  -> decayRevenue _,
    "q135_hll_persist"    -> hllPersist _,
    "q136_quantile_sketch" -> ddqPersist _,
    "q137_heavy_hitters"  -> cmsPersist _,
    "q247_cms_delete"     -> cmsDelete _,
    "q267_kmv_set_expr"   -> kmvSetExpr _,
    "q248_ddq_delete"     -> ddqDelete _,
    "q252_nelson_aalen"   -> nelsonAalen _,
    "q163_quality_classifier" -> qualityClassifier _,
    "q174_quality_calibration" -> qualityCalibration _,
    "q271_isotonic_calibration" -> isotonicCalibration _,
    "q175_classifier_auc" -> classifierAuc _,
    "q201_join_size_est"  -> joinSizeEst _,
    "q211_cusum"          -> cusum _,
    "q228_hourly_anomaly" -> hourlyAnomaly _,
    "q289_bootstrap_ci"   -> bootstrapCi _,
    "q290_conformal"      -> conformal _,
    "q294_funnel"         -> funnel _
  )

  val oracles: Map[String, String] = Map(
    "q127_corr_matrix"    -> corrMatrixSql("lineitem"),
    "q128_winsor_mean"    -> winsorOracle,
    "q129_interval_union" -> intervalUnionOracleSql,
    "q130_lift_table"     -> liftTableSql("orders"),
    "q131_survivorship"   -> survivorshipOracleSql,
    "q132_coverage_k"     -> coverageKSql,
    "q133_hll_sketch"     -> hllCardinalitySql,
    "q134_decay_revenue"  -> decayOracleSql,
    "q135_hll_persist"    -> hllPersistSql,
    "q136_quantile_sketch" -> ddqPersistSql,
    "q137_heavy_hitters"  -> cmsPersistSql,
    // delete = linear-sketch subtraction; post-delete estimates must
    // bracket the tombstone-filtered exact counts
    "q247_cms_delete"     -> cmsDeleteSql,
    // exact counts for every set expression hash-compared; the KMV
    // estimates ride the within-5% booleans (exact mode at this SF)
    "q267_kmv_set_expr"   -> kmvSetExprSql,
    // same discipline for quantiles: post-delete estimates stay within
    // alpha of the tombstone-filtered exact percentiles
    "q248_ddq_delete"     -> ddqDeleteSql,
    // no product, no ln: every hazard term is a 1e-9-grid integer
    "q252_nelson_aalen"   -> nelsonAalenSql,
    "q163_quality_classifier" -> qualityClassifierOracleSql,
    "q174_quality_calibration" -> qualityCalibrationOracleSql,
    // the oracle replays the q163->q174 chain and the same exact
    // minimax PAV tail over the decile bins
    "q271_isotonic_calibration" -> isotonicCalibrationOracleSql,
    "q175_classifier_auc" -> classifierAucOracleSql,
    "q201_join_size_est"  -> joinSizeEstSql,
    "q211_cusum"          -> cusumOracleSql,
    "q228_hourly_anomaly" -> hourlyAnomalyOracleSql,
    // frozen Poisson(1) inverse-CDF thresholds on the shared hash;
    // quantile interpolation equality is q46's percentile bridge
    "q289_bootstrap_ci"   -> bootstrapCiOracleSql,
    // exact order statistic (never interpolated -- the finite-sample
    // guarantee's requirement); integers end to end
    "q290_conformal"      -> conformalSql(
      xhashSql("'cf:' || o_orderkey::VARCHAR")),
    // identical stage chain; the oracle spells it as plain CTEs where
    // the engine persists each per-user stage frame
    "q294_funnel"         -> funnelOracleSql
  )
}
