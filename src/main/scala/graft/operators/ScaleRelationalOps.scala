package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Determinism._
import graft.core.Tables
import graft.functions.TextFunctions._

/** The relational/statistical block, split from [[ScaleOps]]: CDC
  * merge (q108), star flatten (q109), quality audit (q110), mutual
  * information (q111), TWAP (q112), association rules (q113), skyline
  * (q114), triangles (q115), A/B test (q116), RFM (q117), event paths
  * (q118), chi-square (q120), Gini (q121), seasonality (q122). */
private[graft] trait ScaleRelationalOps { this: ScaleOps.type =>

  // ---------------------------------------------------------------- q108
  /** CDC merge-upsert (MERGE INTO semantics without a table format):
    * apply a changeset of updates / deletes / inserts to a keyed target
    * in one pass — target LEFT JOIN changes resolves update-vs-keep,
    * an anti-filter drops deletes, inserts union on. At 100 TB the
    * target is bucketed by key so the join is exchange-free on the big
    * side, and the changeset (typically ≪ target) broadcasts. The
    * changeset here is derived deterministically from the target itself
    * (keys ≡1 mod 10 update, ≡2 delete, MergeInserts fresh keys past
    * max insert), so both engines construct the identical fixture.
    * Dialect-neutral: one string. Balances are exact integer cents. */
  def mergeUpsertSql(table: String): String = s"""
    WITH tgt AS (
      SELECT c_custkey AS k,
        CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM $table),
    upd AS (
      SELECT k, bal_cents + 10000 AS bal_cents, 'U' AS op
      FROM tgt WHERE k % 10 = 1),
    del AS (SELECT k FROM tgt WHERE k % 10 = 2),
    mx AS (SELECT max(k) AS mx FROM tgt),
    ins AS (
      SELECT mx.mx + CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS k,
        CAST(0 AS BIGINT) AS bal_cents, 'I' AS op
      FROM (SELECT k FROM tgt ORDER BY k LIMIT $MergeInserts) seed
      CROSS JOIN mx)
    SELECT t.k, coalesce(u.bal_cents, t.bal_cents) AS bal_cents,
      CASE WHEN u.k IS NOT NULL THEN 'U' ELSE 'K' END AS op
    FROM tgt t
    LEFT JOIN upd u ON t.k = u.k
    LEFT JOIN del d ON t.k = d.k
    WHERE d.k IS NULL
    UNION ALL
    SELECT k, bal_cents, op FROM ins
    ORDER BY k"""

  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "customer").createOrReplaceTempView("customer")
    spark.sql(mergeUpsertSql("customer"))
  }

  // ---------------------------------------------------------------- q109
  /** Star-schema flatten — the feature-denormalization step that turns
    * the normalized warehouse into one wide training table: fact
    * lineitem joined to orders, customer, supplier, part, and nation
    * twice (customer's and supplier's). The true dimensions (customer,
    * supplier, part, nation ×2) are broadcast-sized relative to the
    * fact at any scale, so they cost zero shuffles over ONE fact scan;
    * lineitem⋈orders is the lone fact-to-fact edge and shuffles on the
    * order key (or is exchange-free when both are bucketed on it at
    * rest — BucketingSpec shows that layout). Money lands as exact
    * integer cents. */
  def starFlattenSql(dialectRound: String => String): String = s"""
    SELECT l.l_orderkey, l.l_linenumber,
      o.o_orderstatus, cn.n_name AS cust_nation, sn.n_name AS supp_nation,
      p.p_type,
      ${dialectRound("l.l_extendedprice")} AS price_cents,
      CAST(l.l_quantity AS BIGINT) AS qty
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    ORDER BY l.l_orderkey, l.l_linenumber"""

  private[operators] val centsRound: String => String =
    e => s"CAST(round($e * 100) AS BIGINT)"

  def starFlatten(spark: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(starFlattenSql(centsRound))
  }

  // ---------------------------------------------------------------- q110
  /** Declarative data-quality audit (the Deequ-style constraint pass a
    * pipeline runs before training): uniqueness, composite-key
    * uniqueness, referential integrity, range, accepted-values, and
    * not-null checks, each one aggregate over one scan of its table —
    * violations count, never example rows, so the output is O(checks)
    * regardless of data size. The FK check is a left-anti count, the
    * shape that broadcasts the dimension at scale. Dialect-neutral. */
  def dataQualitySql: String = s"""
    SELECT check_name, violations, violations = 0 AS passed FROM (
      SELECT 'customer.c_custkey unique' AS check_name,
        count(1) - count(DISTINCT c_custkey) AS violations FROM customer
      UNION ALL
      SELECT 'lineitem.(l_orderkey,l_linenumber) unique',
        count(1) - count(DISTINCT CAST(l_orderkey AS STRING) || ':' ||
          CAST(l_linenumber AS STRING)) FROM lineitem
      UNION ALL
      SELECT 'orders.o_custkey references customer', count(1)
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_custkey IS NULL
      UNION ALL
      SELECT 'lineitem.l_quantity in [1,50]', count(1) FROM lineitem
      WHERE l_quantity < 1 OR l_quantity > 50
      UNION ALL
      SELECT 'orders.o_orderstatus accepted', count(1) FROM orders
      WHERE o_orderstatus NOT IN ('F', 'O', 'P')
      UNION ALL
      SELECT 'customer.c_name not null', count(1) FROM customer
      WHERE c_name IS NULL) checks
    ORDER BY check_name"""

  def dataQuality(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(dataQualitySql)
  }

  // ---------------------------------------------------------------- q111
  /** Pointwise mutual information between two categorical columns —
    * the feature-selection / association signal. One hash agg builds
    * the joint histogram; marginals reduce it; every cell gets
    * pmi_bits plus its contribution p(x,y)·pmi to total MI (so the MI
    * sum is checkable from the output). The histogram is O(|X|·|Y|)
    * after one corpus pass — nothing downstream sees row counts.
    * `ln` runs on identical doubles in both engines (q88/q93
    * precedent); outputs are half-up rounded at 6dp. Dialect-neutral. */
  def mutualInfoSql(table: String): String = s"""
    WITH j AS (
      SELECT l_returnflag AS x, l_linestatus AS y, count(1) AS c
      FROM $table GROUP BY l_returnflag, l_linestatus),
    n AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM j),
    mx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM j GROUP BY x),
    my AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM j GROUP BY y)
    SELECT j.x, j.y, CAST(j.c AS BIGINT) AS c,
      ${droundSql("ln((CAST(j.c AS DOUBLE) * n.n) / " +
        "(CAST(mx.cx AS DOUBLE) * CAST(my.cy AS DOUBLE))) / ln(2.0)", 6)}
        AS pmi_bits,
      ${droundSql("(CAST(j.c AS DOUBLE) / n.n) * " +
        "(ln((CAST(j.c AS DOUBLE) * n.n) / " +
        "(CAST(mx.cx AS DOUBLE) * CAST(my.cy AS DOUBLE))) / ln(2.0))", 6)}
        AS mi_contrib_bits
    FROM j JOIN mx ON j.x = mx.x JOIN my ON j.y = my.y CROSS JOIN n
    ORDER BY j.x, j.y"""

  def mutualInfo(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(mutualInfoSql("lineitem"))
  }

  // ---------------------------------------------------------------- q112
  /** Time-weighted average of a sampled signal per user (TWAP): each
    * observation holds until the next one, so its weight is the
    * interval length — the correct average for irregularly-sampled
    * series where arithmetic mean over-weights bursts. One lead()
    * window per user partition, then one hash agg. Exactness: value is
    * bridged to integer cents per row, interval is integer millis, and
    * the cents×millis products (≤ ~1e15, inside int64) accumulate as
    * DECIMAL — the only fp is the final divide on identical integers. */
  private[operators] def twapSql(epochMs: String): String = s"""
    WITH t AS (
      SELECT user_id, value,
        lead($epochMs) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          - $epochMs AS dt_ms
      FROM events),
    w AS (
      SELECT user_id,
        CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents, dt_ms
      FROM t WHERE dt_ms IS NOT NULL)
    SELECT user_id, count(1) AS n_intervals,
      CAST(sum(dt_ms) AS BIGINT) AS span_ms,
      ${droundSql("(CAST(sum(CAST(cents AS DECIMAL(19,0)) * dt_ms) AS DOUBLE) /" +
        " CAST(sum(dt_ms) AS DOUBLE)) / 100.0", 6)} AS twap
    FROM w GROUP BY user_id
    ORDER BY user_id"""

  def twap(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    spark.sql(twapSql("unix_millis(ts)"))
  }

  // ---------------------------------------------------------------- q113
  /** Association rules over co-purchases (market-basket): for part
    * pairs in the same order, support / confidence / lift, top rules
    * by lift. Pair supports come from one self-join + hash agg (the
    * q104 edge shape); item supports and the order count broadcast.
    * A minimum-support prune cuts the pair space BEFORE any division,
    * and all scores are ratios of exact integers half-up-bridged at
    * 6dp, ranked on the rounded value with (antecedent, consequent)
    * tiebreak — near-ties cannot reorder across engines. */
  val MinSupport = 3
  val RulesTopK = 100
  def assocRulesSql(table: String): String = s"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM $table),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
    item AS (SELECT l_partkey, count(1) AS sup FROM li GROUP BY l_partkey),
    pair AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(1) AS sup_ab
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING count(1) >= $MinSupport),
    scored AS (
      SELECT pa, pb, sup_ab,
        ${droundSql("CAST(sup_ab AS DOUBLE) / CAST(ia.sup AS DOUBLE)", 6)}
          AS conf,
        ${droundSql("(CAST(sup_ab AS DOUBLE) * CAST(n.n_orders AS DOUBLE)) / " +
          "(CAST(ia.sup AS DOUBLE) * CAST(ib.sup AS DOUBLE))", 6)} AS lift
      FROM pair
      JOIN item ia ON pair.pa = ia.l_partkey
      JOIN item ib ON pair.pb = ib.l_partkey
      CROSS JOIN n)
    SELECT pa, pb, CAST(sup_ab AS BIGINT) AS sup_ab, conf, lift FROM scored
    ORDER BY lift DESC, pa, pb LIMIT $RulesTopK"""

  /** Spark side persists one per-order basket frame (r14, the
    * [[supportedEdgesOf]] basket-pack, guide §2.3): collect_set
    * collapses lineitem to per-order part SETS behind a single
    * corpus-keyed exchange — the old spelling's repartition+distinct
    * cache, order-count distinct, and pair self-join all derive from
    * it without further corpus movement. nOrders is the basket count
    * (same distinct-orderkey set), item supports explode the baskets
    * (a part appears once per order either way), and pair supports
    * generate the ordered pairs IN-ROW (each order contributes each
    * unordered pair at most once in both spellings, so count(1) per
    * (pa, pb) is the co-occurring-order count unchanged). Scoring tail
    * identical to [[assocRulesSql]], so the oracle hash holds. */
  def assocRules(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val baskets = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .transform(graft.core.EngineCache.persisted)
    val nOrders = baskets.count()
    val item = baskets.select(explode(col("ps")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("sup"))
    val pair = baskets
      .select(explode(col("ps")).as("pa"), col("ps"))
      .select(col("pa"), explode(col("ps")).as("pb"))
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("sup_ab"))
      .filter(col("sup_ab") >= MinSupport)
    pair
      .join(item.select(col("l_partkey").as("pa"), col("sup").as("sup_a")), "pa")
      .join(item.select(col("l_partkey").as("pb"), col("sup").as("sup_b")), "pb")
      .select(col("pa"), col("pb"),
        col("sup_ab").cast("long").as("sup_ab"),
        expr(droundSql("CAST(sup_ab AS DOUBLE) / CAST(sup_a AS DOUBLE)", 6))
          .as("conf"),
        expr(droundSql(s"(CAST(sup_ab AS DOUBLE) * CAST($nOrders AS DOUBLE)) / " +
          "(CAST(sup_a AS DOUBLE) * CAST(sup_b AS DOUBLE))", 6)).as("lift"))
      .orderBy(col("lift").desc, col("pa"), col("pb"))
      .limit(RulesTopK)
  }

  // ---------------------------------------------------------------- q114
  /** Pareto/skyline filter over (minimize n_chars, maximize n_tokens) —
    * the token-density frontier: documents packing the most tokens into
    * the fewest characters, the multi-objective version of "take the
    * best docs" that a single score cannot express. Distributed form:
    * phase 1 computes a LOCAL skyline per hash bucket (a point
    * dominated within its bucket is dominated globally, so the union of
    * local skylines is a guaranteed superset of the answer — the bucket
    * hash can be engine-specific because it only affects pruning);
    * phase 2 runs the exact same dominance predicate globally over the
    * few survivors. Each phase is two window functions over the negated
    * char count: max-tokens within equal x, and max-tokens over
    * STRICTLY greater x via a DESC RANGE frame ending at 1 PRECEDING.
    * The oracle is the O(n²) NOT EXISTS ground truth, so a hash match
    * proves the window rewrite, not just agreement. */
  private[operators] def skylinePhase(src: String, bucketed: Boolean): String = {
    val sameX = if (bucketed) "PARTITION BY bkt, neg_chars"
                else "PARTITION BY neg_chars"
    val gtX = if (bucketed) "PARTITION BY bkt ORDER BY neg_chars DESC"
              else "ORDER BY neg_chars DESC"
    s"""SELECT doc_id, n_chars, neg_chars, n_tokens, bkt FROM (
      SELECT doc_id, n_chars, neg_chars, n_tokens, bkt,
        max(n_tokens) OVER ($sameX) AS mx,
        max(n_tokens) OVER ($gtX
          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mg
      FROM $src) ph
    WHERE n_tokens = mx AND (mg IS NULL OR n_tokens > mg)"""
  }

  def skyline(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(s"""
      WITH m AS (
        SELECT doc_id, n_chars, -n_chars AS neg_chars,
          CAST(size(${wordsExpr("text")}) AS BIGINT) AS n_tokens,
          pmod(hash(doc_id), 32) AS bkt
        FROM documents),
      l AS (${skylinePhase("m", bucketed = true)})
      SELECT doc_id, n_chars, n_tokens
      FROM (${skylinePhase("l", bucketed = false)}) fin
      ORDER BY doc_id""")
  }

  def skylineOracleSql: String = s"""
    WITH m AS (
      SELECT doc_id, n_chars, ${tokenCountSql("text")}::BIGINT AS n_tokens
      FROM documents)
    SELECT doc_id, n_chars, n_tokens FROM m m1
    WHERE NOT EXISTS (
      SELECT 1 FROM m m2
      WHERE m2.n_chars <= m1.n_chars AND m2.n_tokens >= m1.n_tokens
        AND (m2.n_chars < m1.n_chars OR m2.n_tokens > m1.n_tokens))
    ORDER BY doc_id"""

  // ---------------------------------------------------------------- q115
  /** Triangle counting on the co-purchase graph (min-support 2): the
    * local-clustering / community-density signal. Edges are canonical
    * u < v, so each triangle a<b<c is found exactly once by the
    * two-hop join e(a,b)⋈e(b,c)⋈e(a,c) — the standard distributed
    * formulation (at billion-edge scale you additionally orient edges
    * low-degree→high so the e1⋈e2 wedge join is bounded by Σ deg_out²
    * with deg_out ≤ √m; the canonical orientation here is the same
    * join shape). Per-node counts come from exploding each triangle's
    * three corners into one hash agg. Dialect-neutral. */
  val TriMinSup = 2
  def trianglesSql(table: String): String = s"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM $table),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING count(1) >= $TriMinSup),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e1.v = e2.u
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    corners AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri)
    SELECT node, count(1) AS triangles
    FROM corners GROUP BY node
    ORDER BY node"""

  /** Shared support-filtered canonical edge list (u < v, ≥
    * [[TriMinSup]] co-occurring orders) — built basket-packed (r14,
    * guide §2.3 "shuffle keys, not payloads": the coPurchaseEdges
    * precedent from the unweighted graph family): one hash agg
    * collapses lineitem to per-order part SETS (collect_set dedups
    * within the order, so the old global distinct is subsumed;
    * |lineitem| keys cross the only corpus-keyed exchange with
    * map-side partial aggregation), ordered pairs generate IN-ROW
    * from each basket (two Generates, no join), and the support
    * count's own (u, v) exchange — map-side combinable — is the only
    * other movement. The old spelling shuffled the distinct, both
    * self-join inputs, and the join fan-out. Counts are identical:
    * each order contributes each unordered pair at most once either
    * way, so count(1) per (u, v) is the number of orders containing
    * both parts in both spellings. */
  private[operators] def supportedEdgesOf(li: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    li.groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(explode(col("ps")).as("u"), col("ps"))
      .select(col("u"), explode(col("ps")).as("v"))
      .filter(col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("c"))
      .filter(col("c") >= TriMinSup)
      .select("u", "v")
  }

  /** Spark side persists the pruned edge list once (three join branches
    * would otherwise each recompute the basket build), and explodes
    * each triangle's corners in one generator instead of a triple
    * union — one pass, one hash agg. Same semantics as
    * [[trianglesSql]]. */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val e = supportedEdgesOf(
        Tables.load(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")))
      .transform(graft.core.EngineCache.persisted)
    val tri = e.alias("e1")
      .join(e.alias("e2"), col("e1.v") === col("e2.u"))
      .join(e.alias("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
      .orderBy("node")
  }

  // ---------------------------------------------------------------- q194
  /** K-core decomposition of the co-purchase graph — the
    * density-periphery readout (graph-mining's standard "who is in the
    * dense center" question, the structural complement of q115's
    * triangle counts): iteratively peel nodes whose degree in the
    * surviving subgraph falls below [[KcoreK]], [[KcorePeels]] rounds.
    * The round count is a FIXED constant, not an until-fixpoint loop —
    * that keeps the operator a pure function both engines spell
    * identically (the oracle unrolls the same rounds with MATERIALIZED
    * hints); on every current fixture the peel reaches its fixpoint
    * well inside the budget (≤6 rounds at sf0.1), and extra rounds are
    * no-ops by construction, so the result IS the k-core there. Output:
    * each surviving node with its degree inside the final subgraph.
    *
    * Scale shape: peeling only shrinks frames; every shuffle is keyed
    * on node/edge ids (see [[kcorePeel]]). */
  val KcoreK = 2
  val KcorePeels = 8

  private[operators] def copurchaseEdges(spark: SparkSession,
                                         dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // r14: basket-packed, see [[supportedEdgesOf]]
    supportedEdgesOf(Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")))
  }

  /** The peel over an arbitrary (u, v) edge frame — the spec entry
    * point. Returns (node, core_degree), unordered. Up to
    * [[graft.core.DriverGraph.EdgeLimit]] edges the SAME round-based
    * simultaneous peel runs on the driver's index arrays — identical
    * round cap, identical fixpoint exit, so the result is bit-equal to
    * [[kcorePeel]]'s by construction (cross-validated in ScaleOpsSpec);
    * above it the distributed peel runs. */
  def kcoreOf(e0: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val edges = e0.select(col("u").cast("long"), col("v").cast("long"))
    graft.core.DriverGraph.load(edges) match {
      case None => kcorePeel(edges)
      case Some(g) =>
        val n = g.src.length
        val kept = Array.fill(n)(true)
        val deg = new Array[Long](g.ids.length)
        def degrees(): Unit = {
          java.util.Arrays.fill(deg, 0L)
          var e = 0
          while (e < n) {
            if (kept(e)) { deg(g.src(e)) += 1; deg(g.dst(e)) += 1 }
            e += 1
          }
        }
        var prev = -1L
        var alive = n.toLong
        var round = 0
        while (round < KcorePeels && alive != prev) {
          prev = alive
          degrees()
          alive = 0L
          var e = 0
          while (e < n) {
            if (kept(e) && (deg(g.src(e)) < KcoreK || deg(g.dst(e)) < KcoreK))
              kept(e) = false
            if (kept(e)) alive += 1
            e += 1
          }
          round += 1
        }
        degrees()
        g.frame(e0.sparkSession, deg, "node", "core_degree")
          .filter(col("core_degree") > 0)
    }
  }

  /** The distributed peel: per round one degree hash-agg plus two semi
    * joins, cut through [[graft.core.EngineCache.cut]], which also
    * reads the surviving edge count. Early exit at the fixpoint:
    * peeling only removes edges, so an unchanged edge count proves the
    * round was a no-op and every remaining round would be too — the
    * result equals the full [[KcorePeels]] unroll the oracle spells
    * (q125's frontier-empty rule). */
  private[graft] def kcorePeel(e0: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    def degrees(edges: DataFrame) =
      edges.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("d"))
    def cutCounted(df: DataFrame): (DataFrame, Long) = {
      val (c, r) = graft.core.EngineCache.cut(df, count(lit(1)))
      (c, r.getLong(0))
    }
    var (edges, cur) =
      cutCounted(e0.select(col("u").cast("long"), col("v").cast("long")))
    var prev = -1L
    var round = 0
    while (round < KcorePeels && cur != prev) {
      prev = cur
      val alive = degrees(edges).filter(col("d") >= KcoreK).select("node")
      val (next, n) = cutCounted(edges
        .join(alive.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(alive.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .select("u", "v"))
      edges = next
      cur = n
      round += 1
    }
    degrees(edges).select(col("node"), col("d").as("core_degree"))
  }

  def kcore(spark: SparkSession, dir: String): DataFrame =
    kcoreOf(copurchaseEdges(spark, dir)).orderBy("node")

  def kcoreSql(table: String): String = {
    def step(t: Int): String = {
      val p = s"e${t - 1}"
      s""",
    d$t AS MATERIALIZED (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM $p UNION ALL SELECT v FROM $p) z$t
      GROUP BY node),
    a$t AS MATERIALIZED (SELECT node FROM d$t WHERE d >= $KcoreK),
    e$t AS MATERIALIZED (
      SELECT x.u, x.v FROM $p x
      JOIN a$t p1 ON x.u = p1.node
      JOIN a$t p2 ON x.v = p2.node)"""
    }
    s"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM $table),
    e0 AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING count(*) >= $TriMinSup)${(1 to KcorePeels).map(step).mkString}
    SELECT node, CAST(count(*) AS BIGINT) AS core_degree FROM (
      SELECT u AS node FROM e$KcorePeels
      UNION ALL SELECT v FROM e$KcorePeels) zf
    GROUP BY node ORDER BY node"""
  }

  // ---------------------------------------------------------------- q116
  /** Deterministic A/B experiment analysis: users assign to arms by pure
    * hash (reproducible, no assignment table to join), purchase values
    * accumulate as exact integer cents power sums (S0/S1/S2) per arm in
    * ONE conditional-aggregation pass — no per-arm scans, no shuffle
    * beyond the final 1-row reduce — and mean/variance/Welch-z are
    * computed once on identical integers in both engines, then half-up
    * rounded. The single-row output is the whole experiment readout. */
  def abTestSql(hashArm: String): String = s"""
    WITH p AS (
      SELECT CASE WHEN ($hashArm) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
        CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    s AS (
      SELECT
        CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(sum(CASE WHEN arm = 'A' THEN cents ELSE 0 END) AS BIGINT) AS s1a,
        CAST(sum(CASE WHEN arm = 'B' THEN cents ELSE 0 END) AS BIGINT) AS s1b,
        CAST(sum(CASE WHEN arm = 'A'
          THEN CAST(cents AS DECIMAL(19,0)) * cents
          ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS s2a,
        CAST(sum(CASE WHEN arm = 'B'
          THEN CAST(cents AS DECIMAL(19,0)) * cents
          ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS s2b
      FROM p),
    m AS (
      SELECT n_a, n_b,
        CAST(s1a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
        CAST(s1b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
        (CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) /
          CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE) AS va,
        (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) /
          CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE) AS vb
      FROM s)
    SELECT n_a, n_b,
      ${droundSql("ma / 100.0", 6)} AS mean_a,
      ${droundSql("mb / 100.0", 6)} AS mean_b,
      ${droundSql("(ma - mb) / sqrt(va / CAST(n_a AS DOUBLE) + " +
        "vb / CAST(n_b AS DOUBLE))", 6)} AS welch_z
    FROM m"""

  def abTest(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    spark.sql(abTestSql(xhashExpr("concat('ab:', CAST(user_id AS STRING))")))
  }

  // ---------------------------------------------------------------- q274
  /** Kolmogorov–Smirnov two-sample test between the q116 arms — the
    * DISTRIBUTIONAL complement of the Welch readout: a treatment that
    * shifts the shape of purchase values (fatter tail, bimodality)
    * while leaving the mean alone is invisible to q116 and exactly
    * what KS exists to catch (and vice versa for q93's binned KL: KS
    * needs no binning choice and no smoothing). D = max_v |ECDF_A(v) −
    * ECDF_B(v)| computes EXACTLY: per distinct cents value one hash
    * agg emits per-arm counts, two running sums over the value
    * HISTOGRAM (an aggregated frame — q128/q175's sweep-compliant
    * window shape, |distinct values| rows regardless of corpus size)
    * give the cumulative counts, and the statistic is the exact
    * integer max |ca·n_b − cb·n_a| with denominator n_a·n_b — the
    * (num, den) rational plus the argmax value (smallest cents
    * achieving it) ship as BIGINTs, no float anywhere. At a value
    * grain too fine for the histogram the cents pre-round IS the
    * binning, stated rather than hidden. CARDINALITY BOUND, stated
    * honestly: the products are bounded by n_a·n_b, which exceeds
    * int64 once both arms pass ~3·10⁹ purchases (n_a·n_b > 2⁶³) —
    * past that this spelling THROWS under ANSI (loud, the Theil–Sen
    * precedent) rather than silently wrapping; the escape is the
    * DECIMAL(38,0) widening q277's contribution sums use, at ~2×
    * the agg width, not needed below billions of rows PER ARM. */
  def ksTestSql(hashArm: String): String = s"""
    WITH p AS (
      SELECT CASE WHEN ($hashArm) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
        CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    h AS (
      SELECT cents,
        CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS da,
        CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS db
      FROM p GROUP BY cents),
    tot AS (
      SELECT CAST(sum(da) AS BIGINT) AS na, CAST(sum(db) AS BIGINT) AS nb
      FROM h),
    c AS (
      SELECT cents,
        CAST(sum(da) OVER (ORDER BY cents) AS BIGINT) AS ca,
        CAST(sum(db) OVER (ORDER BY cents) AS BIGINT) AS cb
      FROM h),
    d AS (
      SELECT c.cents, abs(c.ca * t.nb - c.cb * t.na) AS num,
        t.na, t.nb
      FROM c CROSS JOIN tot t),
    mx AS (SELECT CAST(max(num) AS BIGINT) AS ks_num FROM d)
    SELECT d.na AS n_a, d.nb AS n_b, m.ks_num,
      CAST(d.na * d.nb AS BIGINT) AS ks_den,
      CAST(min(d.cents) AS BIGINT) AS arg_cents
    FROM d JOIN mx m ON d.num = m.ks_num
    GROUP BY d.na, d.nb, m.ks_num"""

  def ksTest(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    spark.sql(ksTestSql(xhashExpr("concat('ab:', CAST(user_id AS STRING))")))
  }

  // ---------------------------------------------------------------- q281
  /** MANN–WHITNEY U two-sample test (Mann & Whitney 1947) — the
    * rank-sum member completing the A/B readout family: q116's Welch z
    * asks about MEANS, q274's KS about the worst ECDF gap, q275's QTE
    * about fixed quantiles; U asks the stochastic-dominance question —
    * in what fraction of (a, b) pairs does arm A win — which is the
    * robust default when the payment distribution is skewed enough
    * that means mislead. Exact integers end to end via the SAME value
    * histogram q274 rides (|distinct cents| rows regardless of corpus
    * size): with ties counting half, DOUBLED U is the integer
    * 2·U_A = Σ_v da(v)·(2·cumb_<(v) + db(v)), and the emitted row
    * carries (n_a, n_b, u2_a, u2_b, tie_cubes) — u2_b by the exact
    * complement 2·n_a·n_b − u2_a, and tie_cubes = Σ_groups (t³ − t),
    * the tie-correction ingredient the normal-approximation variance
    * n_a·n_b·(N³−N−Σ(t³−t))/(12·N·(N−1)) needs — so a consumer
    * computes the z or the rank-biserial r = u2_a/(n_a·n_b) − 1 from
    * exact integers, no float ever crossing the engine boundary.
    * CARDINALITY BOUND (q274's honesty note): u2 ≤ 2·n_a·n_b and
    * tie_cubes ≤ N³ overflow int64 past ~2·10⁶ tied rows per value /
    * ~3·10⁹ rows per arm — ANSI throws loudly there; DECIMAL(38,0)
    * is the escape. One hash agg + one window over the aggregated
    * histogram + one row out; dialect-neutral one-string SQL. */
  def mwTestSql(hashArm: String): String = s"""
    WITH p AS (
      SELECT CASE WHEN ($hashArm) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
        CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    h AS (
      SELECT cents,
        CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS da,
        CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS db
      FROM p GROUP BY cents),
    c AS (
      SELECT cents, da, db,
        CAST(sum(db) OVER (ORDER BY cents) - db AS BIGINT) AS cumb_lt
      FROM h),
    agg AS (
      SELECT CAST(sum(da) AS BIGINT) AS n_a, CAST(sum(db) AS BIGINT) AS n_b,
        CAST(sum(da * (2 * cumb_lt + db)) AS BIGINT) AS u2_a,
        CAST(sum((da + db) * (da + db) * (da + db) - (da + db))
          AS BIGINT) AS tie_cubes
      FROM c)
    SELECT n_a, n_b, u2_a,
      CAST(2 * n_a * n_b - u2_a AS BIGINT) AS u2_b, tie_cubes
    FROM agg"""

  def mwTest(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    spark.sql(mwTestSql(xhashExpr("concat('ab:', CAST(user_id AS STRING))")))
  }

  // ---------------------------------------------------------------- q275
  /** Quantile treatment effects between the q116 arms — the readout
    * that says WHERE in the distribution a treatment acts: a mean
    * lift concentrated in the top decile and a uniform shift read
    * identically to q116's Welch z and differently to everyone who
    * pays the bill; QTE(τ) = Q_A(τ) − Q_B(τ) for τ = 0.1..0.9 makes
    * the shape of the effect a first-class column (Doksum 1974's
    * quantile shift function at fixed grid points). Per-arm quantiles
    * ride the q46/q96 HISTOGRAM-FED exact percentile — the sort-agg
    * sees |arm × distinct cents| rows, never the corpus — with the
    * cross-engine interpolation equality q46 already proves
    * (Spark `percentile(v, τ, freq)` ≡ DuckDB `quantile_cont`, type-7
    * on exact integers). Every output lands as a 1e-6-grid BIGINT and
    * the effect is the exact DIFFERENCE OF GRID INTEGERS — quantiles
    * are gridded BEFORE subtracting, so sub-grid ulp wiggle between
    * the engines' interpolations can never compound into the
    * difference. O(9) output rows at any scale. */
  private def qteGrid(e: String): String =
    s"CAST(floor(($e) * 1e6 + 0.5) AS BIGINT)"

  private def qteTailSql(qExprs: Int => String): String = {
    val u = (1 to 9).map(t =>
      s"SELECT arm, $t AS tau10, ${qteGrid(qExprs(t))} AS qv6 FROM q")
      .mkString(" UNION ALL ")
    s"""u AS ($u),
    a AS (SELECT tau10, qv6 AS qa6 FROM u WHERE arm = 'A'),
    b AS (SELECT tau10, qv6 AS qb6 FROM u WHERE arm = 'B')
    SELECT CAST(a.tau10 AS BIGINT) AS tau10, a.qa6, b.qb6,
      CAST(a.qa6 - b.qb6 AS BIGINT) AS qte6
    FROM a JOIN b ON a.tau10 = b.tau10
    ORDER BY tau10"""
  }

  def qteSparkSql(hashArm: String): String = s"""
    WITH p AS (
      SELECT CASE WHEN ($hashArm) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
        CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    h AS (SELECT arm, cents, count(1) AS freq FROM p GROUP BY arm, cents),
    q AS (SELECT arm,
      ${(1 to 9).map(t =>
        s"percentile(cents, 0.$t, freq) AS p$t").mkString(", ")}
      FROM h GROUP BY arm),
    ${qteTailSql(t => s"p$t")}"""

  def qteOracleSql(hashArm: String): String = s"""
    WITH p AS (
      SELECT CASE WHEN ($hashArm) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
        CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    q AS (SELECT arm,
      ${(1 to 9).map(t =>
        s"quantile_cont(cents, 0.$t) AS p$t").mkString(", ")}
      FROM p GROUP BY arm),
    ${qteTailSql(t => s"p$t")}"""

  def qte(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    spark.sql(qteSparkSql(xhashExpr("concat('ab:', CAST(user_id AS STRING))")))
  }

  // ---------------------------------------------------------------- q276
  /** Column ENCODING advisor — the physical-design decision the layout
    * family hasn't priced yet: z-order/bloom/bitmap choose how rows
    * LAND, this chooses how a column's BYTES land (the call a Parquet
    * writer makes per page): PLAIN (8·Σlen bits), DICTIONARY
    * (8·Σ distinct len + n·⌈log₂ ndv⌉) or dictionary-coded RLE
    * (runs·(⌈log₂ ndv⌉ + 32)) — stated-assumption estimators on EXACT
    * integers, with run counts measured under the table's REAL
    * clustered order ((l_orderkey, l_linenumber)), which is what makes
    * RLE an honest option rather than a best-case fantasy. The rank
    * comes from `DistributedRank`'s bucketed two-pass scheme — never a
    * global window — and adjacency is an equi-self-join on the dense
    * rank (rk = rk−1), so the whole audit is one ranked scan + one
    * keyed join + O(1) aggregates at any scale; ⌈log₂⌉ is a generated
    * integer CASE ladder, libm-free (the q268 discipline). The oracle
    * replays runs with a lag window over the same total order. Output:
    * one row per advised column with the three costs and the argmin
    * recommendation (tie order plain < dict < rle — the simpler
    * encoding wins ties). */
  private def ceilLog2Sql(e: String): String =
    (1 to 40).reverse.foldLeft("40") { (acc, b) =>
      s"CASE WHEN $e <= ${1L << b} THEN $b ELSE $acc END"
    } // ndv >= 1 -> at least 1 bit

  private[graft] def encodingTailSql(r: String, withRuns: (String, String)): String = {
    val (runsRf, runsLs) = withRuns
    def colRow(name: String, c: String, runs: String) = s"""
      SELECT '$name' AS col_name, st.n,
        d$c.ndv, $runs AS rle_runs,
        CAST(8 * st.len_$c AS BIGINT) AS plain_bits,
        CAST(8 * d$c.dlen + st.n * ${ceilLog2Sql(s"d$c.ndv")} AS BIGINT)
          AS dict_bits,
        CAST($runs * (${ceilLog2Sql(s"d$c.ndv")} + 32) AS BIGINT)
          AS rle_bits
      FROM st CROSS JOIN d$c CROSS JOIN ch"""
    s"""st AS (
      SELECT CAST(count(1) AS BIGINT) AS n,
        CAST(sum(length(rf)) AS BIGINT) AS len_rf,
        CAST(sum(length(ls)) AS BIGINT) AS len_ls
      FROM $r),
    drf AS (
      SELECT CAST(count(1) AS BIGINT) AS ndv,
        CAST(sum(length(rf)) AS BIGINT) AS dlen
      FROM (SELECT DISTINCT rf FROM $r) z),
    dls AS (
      SELECT CAST(count(1) AS BIGINT) AS ndv,
        CAST(sum(length(ls)) AS BIGINT) AS dlen
      FROM (SELECT DISTINCT ls FROM $r) z),
    u AS (${colRow("l_returnflag", "rf", runsRf)}
      UNION ALL ${colRow("l_linestatus", "ls", runsLs)})
    SELECT col_name, n, ndv, rle_runs, plain_bits, dict_bits, rle_bits,
      CASE WHEN plain_bits <= dict_bits AND plain_bits <= rle_bits
           THEN 'plain'
           WHEN dict_bits <= rle_bits THEN 'dict'
           ELSE 'rle' END AS best
    FROM u ORDER BY col_name"""
  }

  /** r13: run counting no longer materializes a global dense rank at
    * all. The old spelling ranked every row ([[DistributedRank]] pass:
    * sample + exact counts + keyed window + offset join) and then
    * self-joined the ranked frame on `rk = rk − 1` — a SortMergeJoin
    * that exchanged and sorted the whole table TWICE just to look at
    * each row's predecessor. But adjacency under the clustered total
    * order ((l_orderkey, l_linenumber)) decomposes exactly: bucket rows
    * by frozen quantile boundaries of l_orderkey (monotone, so every
    * bucket is a contiguous range of the order, and all rows of one
    * orderkey share a bucket), count within-bucket changes with ONE
    * bucket-keyed lag window, and stitch the ≤ |buckets| boundary pairs
    * (previous bucket's last row vs next bucket's first row) on the
    * driver from one O(buckets) aggregate — the same bounded-collect
    * budget DistributedRank itself spends on its offsets. Guide §2.4:
    * the SMJ's two exchanges + two sorts are gone; the lag window costs
    * exactly what the old rank window cost. Runs are bit-identical (the
    * pair set is identical); the oracle's lag-window spelling is
    * untouched, and the spec cross-checks engine vs oracle on the real
    * fixture. */
  def encodingAdvisor(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val li = graft.core.EngineCache.persisted(
      Tables.load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag").as("rf"), col("l_linestatus").as("ls")))
    val (bnds, nRows) = DistributedRank.sampledBoundaries(
      li, "l_orderkey", DistributedRank.numBuckets(li))
    val b = li.withColumn("__b",
      DistributedRank.bucketOf(col("l_orderkey").cast("double"), bnds))
    // (runs − 1) = adjacent-pair changes; within-bucket pairs via lag,
    // cross-bucket pairs stitched from each bucket's physically first
    // and last rows. CRITICAL tie discipline: (l_orderkey, l_linenumber)
    // is NOT unique in the fixtures (duplicate keys with mixed flag
    // values), so "first"/"last" must come from the SAME window sort
    // that the lag ran over — a value-keyed min/max would pick a
    // different tie representative than the sequence the lag walked and
    // drift the run count. rn/cnt ride the lag's own WindowExec (same
    // partitioning, zero extra exchanges), so the boundary rows are
    // exactly the rows the old global-rank spelling put at rk-run edges.
    val (runsRfSql, runsLsSql) =
      if (nRows == 0) ("CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)")
      else {
        val w = Window.partitionBy("__b")
          .orderBy(col("l_orderkey"), col("l_linenumber"))
        val wc = Window.partitionBy("__b")
        val lg = graft.core.EngineCache.persisted(
          b.select(col("__b"), col("rf"), col("ls"),
            lag("rf", 1).over(w).as("prf"), lag("ls", 1).over(w).as("pls"),
            row_number().over(w).as("rn"),
            count(lit(1)).over(wc).as("cnt")))
        val innerRow = lg
          .agg(
            sum(when(col("prf").isNotNull && col("rf") =!= col("prf"), 1L)
              .otherwise(0L)).as("crf"),
            sum(when(col("pls").isNotNull && col("ls") =!= col("pls"), 1L)
              .otherwise(0L)).as("cls"))
          .head
        // ≤ 2 rows per bucket (≤ 1024 total) — the same bounded-collect
        // budget DistributedRank spends on its offset counts
        val edgeRows = lg.filter(col("rn") === 1 || col("rn") === col("cnt"))
          .select(col("__b"), col("rn"), col("cnt"), col("rf"), col("ls"))
          .collect()
        edgeRows.foreach { r =>
          if (r.getLong(2) > 8000000L) throw new IllegalArgumentException(
            s"encodingAdvisor: a single l_orderkey bucket holds " +
              s"${r.getLong(2)} rows — quantile boundaries could not " +
              "split it; the lag window would degenerate to one task's sort")
        }
        def strAt(row: org.apache.spark.sql.Row, i: Int): String =
          if (row.isNullAt(i)) null else row.getString(i)
        val byBucket = edgeRows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        var brf = 0L
        var bls = 0L
        byBucket.sliding(2).foreach {
          case Seq((_, prevRows), (_, curRows)) =>
            val last = prevRows.maxBy(_.getInt(1)) // prev bucket: rn == cnt
            val first = curRows.minBy(_.getInt(1)) // next bucket: rn == 1
            val (prf, pls) = (strAt(last, 3), strAt(last, 4))
            val (rf, ls) = (strAt(first, 3), strAt(first, 4))
            if (prf != null && rf != null && rf != prf) brf += 1
            if (pls != null && ls != null && ls != pls) bls += 1
          case _ => () // single bucket: no boundaries
        }
        (s"CAST(${innerRow.getLong(0) + brf} + 1 AS BIGINT)",
          s"CAST(${innerRow.getLong(1) + bls} + 1 AS BIGINT)")
      }
    val v = s"graft_enc_t${Thread.currentThread().getId}"
    li.createOrReplaceTempView(v)
    spark.sql(s"""
      WITH ch AS (
        SELECT $runsRfSql AS runs_rf, $runsLsSql AS runs_ls),
      ${encodingTailSql(v, ("ch.runs_rf", "ch.runs_ls"))}""")
  }

  // ---------------------------------------------------------------- q278
  /** HEAPS-LAW vocabulary growth curve (Heaps 1978) — the corpus-health
    * readout that sizes tokenizer vocabularies and predicts dedup
    * yield before any training run: distinct-word count as a function
    * of tokens consumed, sampled at geometric checkpoints (powers of
    * two up to the corpus, plus the corpus itself). Exact integers end
    * to end — NO log-log fit at query time (the slope is the reader's
    * division; libm never runs): each token gets its global position
    * under the (doc_id, word-position) total order via
    * `DistributedRank`'s bucketed two-pass scheme (never a global
    * window), each WORD keeps its FIRST position (one hash agg), and
    * vocab(c) = |{words : first_pos ≤ c}| — an O(vocab × ~20
    * checkpoints) inequality join against a broadcast LocalRelation
    * checkpoint list (BroadcastNestedLoopJoin, not a cartesian; the
    * q271 lesson applied proactively). The oracle replays the total
    * order with a row_number window and derives the same checkpoint
    * set arithmetically. The curve flattening (vocab per token
    * falling) IS Heaps' law surfacing in the fixture. */
  def heapsGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tok = Tables.load(spark, dir, "documents")
      .selectExpr("doc_id",
        s"posexplode(${graft.functions.TextFunctions.wordsExpr("text")})" +
          " AS (pos, word)")
      .selectExpr("doc_id", "CAST(pos + 1 AS BIGINT) AS pos", "word")
    val ranked = graft.core.EngineCache.persisted(
      DistributedRank.rankOnly(tok.select("doc_id", "pos", "word"),
        "rk", "doc_id", desc = false, col("doc_id"), col("pos")))
    val n = ranked.count()
    val fp = ranked.groupBy("word").agg(min("rk").as("fp"))
    val cks = ((1 to 40).map(1L << _).filter(_ <= n) :+ n).distinct.sorted
    val sq = spark
    import sq.implicits._
    val ckDf = cks.toDF("n_tokens")
    broadcast(ckDf).join(fp, col("fp") <= col("n_tokens"))
      .groupBy("n_tokens")
      .agg(count(lit(1)).as("vocab"))
      .select(col("n_tokens"), col("vocab").cast("long").as("vocab"))
      .orderBy("n_tokens")
  }

  def heapsGrowthSql(table: String): String = s"""
    WITH w0 AS (
      SELECT doc_id, ${graft.functions.TextFunctions.wordsSql("text")} AS w
      FROM $table),
    tok AS (
      SELECT doc_id, pos, w[pos] AS word FROM (
        SELECT doc_id, w, unnest(range(1, len(w) + 1))::BIGINT AS pos
        FROM w0) z),
    rkd AS (
      SELECT word,
        row_number() OVER (ORDER BY doc_id, pos) AS rk
      FROM tok),
    fp AS (SELECT word, min(rk) AS fp FROM rkd GROUP BY word),
    nt AS (SELECT CAST(count(1) AS BIGINT) AS n FROM tok),
    cks AS (
      SELECT DISTINCT c AS n_tokens FROM (
        SELECT (CAST(1 AS BIGINT) << k) AS c
        FROM (SELECT unnest(range(1, 41))::INT AS k) kk
        CROSS JOIN nt WHERE (CAST(1 AS BIGINT) << k) <= nt.n
        UNION ALL SELECT n FROM nt) u)
    SELECT c.n_tokens, CAST(count(1) AS BIGINT) AS vocab
    FROM cks c JOIN fp ON fp.fp <= c.n_tokens
    GROUP BY c.n_tokens ORDER BY c.n_tokens"""

  // ---------------------------------------------------------------- q287
  /** ZIPF rank–frequency fit per language (Zipf 1949) — q278's Heaps
    * curve says how fast the vocabulary GROWS; this says how the mass
    * already collected is DISTRIBUTED: the log-log slope of frequency
    * against rank over each language's head vocabulary, which for
    * natural text sits near −1 and for boilerplate/spam/log spew does
    * not — making the slope a per-source corpus-health scalar (and the
    * sanity input to q196-style token-weighted sampling, whose value
    * depends on exactly this head-heaviness). The fit is q273's
    * THEIL–SEN median-of-pairwise-slopes, not OLS, for the same
    * breakdown reason: one tokenization artifact in the head (a stray
    * markup token at rank 2) provably bends least squares and provably
    * cannot move the pairwise median. Scale shape: one hash agg over
    * the exploded corpus emits per-(lang, term) counts (|lang × vocab|
    * rows, never the corpus), a window PARTITIONED BY lang over that
    * AGGREGATED frame picks the top-[[ZipfTopK]] ranks (sweep-
    * compliant: the window child is the Aggregate), and everything
    * quadratic — the ≤ K·(K−1)/2 pairwise slopes — happens on an
    * equi-keyed per-lang join of ≤ K rows per language. Determinism:
    * rank ties inside equal tf break by term (row_number, total
    * order); logs land on the 1e-6 grid BEFORE the slope divides them
    * (ln on identical BIGINT-cast doubles, the q205 backoff-LM
    * precedent), the slope is the exactly-rounded double division of
    * the two grid integers, and the median ships DOUBLED
    * (`zipf_slope2_6` = lower + upper median, an exact BIGINT) with
    * (ri, rj) tie keys — q273's spelling, no float ever crossing the
    * engine boundary. */
  val ZipfTopK = 60

  private def zipfTailSql: String = s"""
    topk AS (
      SELECT lang, term, tf,
        row_number() OVER (PARTITION BY lang ORDER BY tf DESC, term) AS r
      FROM tfreq),
    pts AS (
      SELECT lang, r,
        CAST(floor(ln(CAST(r AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS lr6,
        CAST(floor(ln(CAST(tf AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS lf6
      FROM topk WHERE r <= $ZipfTopK),
    pairs AS (
      SELECT a.lang, a.r AS ri, b.r AS rj,
        CAST(floor(CAST(b.lf6 - a.lf6 AS DOUBLE)
          / CAST(b.lr6 - a.lr6 AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS s6
      FROM pts a JOIN pts b ON a.lang = b.lang AND a.r < b.r),
    ranked AS (
      SELECT lang, s6,
        row_number() OVER (PARTITION BY lang ORDER BY s6, ri, rj) AS rn,
        count(1) OVER (PARTITION BY lang) AS np
      FROM pairs),
    med AS (
      SELECT lang, CAST(max(np) AS BIGINT) AS n_pairs,
        CAST(sum(CASE WHEN 2 * rn = np OR 2 * rn = np + 1
               THEN s6 ELSE 0 END)
          + sum(CASE WHEN 2 * rn = np + 2 OR 2 * rn = np + 1
               THEN s6 ELSE 0 END) AS BIGINT) AS zipf_slope2_6
      FROM ranked GROUP BY lang),
    nt AS (SELECT lang, CAST(count(1) AS BIGINT) AS n_terms
           FROM pts GROUP BY lang)
    SELECT m.lang, nt.n_terms, m.n_pairs, m.zipf_slope2_6
    FROM med m JOIN nt ON nt.lang = m.lang
    ORDER BY m.lang"""

  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(s"""
    WITH tok AS (
      SELECT lang, explode(${graft.functions.TextFunctions.wordsExpr("text")})
        AS term FROM documents),
    tfreq AS (
      SELECT lang, term, CAST(count(1) AS BIGINT) AS tf
      FROM tok GROUP BY lang, term),
    $zipfTailSql""")
  }

  def zipfFitSql(table: String): String = s"""
    WITH tok AS (
      SELECT lang, unnest(${graft.functions.TextFunctions.wordsSql("text")})
        AS term FROM $table),
    tfreq AS (
      SELECT lang, term, CAST(count(1) AS BIGINT) AS tf
      FROM tok GROUP BY lang, term),
    $zipfTailSql"""

  def encodingAdvisorSql(table: String): String = s"""
    WITH r AS (
      SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rk,
        l_returnflag AS rf, l_linestatus AS ls
      FROM $table),
    lagd AS (
      SELECT rf, ls,
        lag(rf) OVER (ORDER BY rk) AS prf,
        lag(ls) OVER (ORDER BY rk) AS pls
      FROM r),
    ch AS (
      SELECT CAST(sum(CASE WHEN prf IS NOT NULL AND rf <> prf
               THEN 1 ELSE 0 END) + 1 AS BIGINT) AS runs_rf,
        CAST(sum(CASE WHEN pls IS NOT NULL AND ls <> pls
               THEN 1 ELSE 0 END) + 1 AS BIGINT) AS runs_ls
      FROM lagd),
    ${encodingTailSql("r", ("ch.runs_rf", "ch.runs_ls"))}"""

  // ---------------------------------------------------------------- q230
  /** CUPED variance-reduced experiment analysis (Deng et al. 2013 —
    * "Improving the Sensitivity of Online Controlled Experiments") —
    * the depth move on q116's Welch readout every mature
    * experimentation platform runs: each user's PRE-period spend is
    * the control covariate, θ = cov(x, y)/var(x) fits pooled across
    * arms, and the adjusted metric y′ = y − θ(x − x̄) keeps the same
    * mean but sheds the variance the pre-period already explains —
    * the experiment reads smaller effects at the same traffic.
    * Everything reduces to exact integer power sums per arm
    * (Sx, Sy, Sxx, Sxy, Syy as decimal-widened cents products — the
    * q116/q127 overflow rule) in ONE conditional-agg pass over the
    * per-user frame; θ, the adjusted means, and the variance-reduction
    * ratio are closed forms evaluated once on identical doubles in
    * both engines. Periods split at the observed time-range midpoint
    * (integer floor, identical cross-engine); arms are q116's hash
    * assignment. Output: one row per arm — the whole CUPED readout. */
  def cupedSql(hashArm: String, ms: String => String): String = s"""
    WITH e AS (
      SELECT user_id, ${ms("ts")} AS ms,
        CASE WHEN event_type = 'purchase'
             THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS cents
      FROM events),
    mid AS (
      SELECT CAST(floor((CAST(min(ms) AS DOUBLE) + max(ms)) / 2.0) AS BIGINT)
        AS m FROM e),
    u AS (
      SELECT user_id,
        CASE WHEN ($hashArm) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
        CAST(sum(CASE WHEN ms <  mid.m THEN cents ELSE 0 END) AS BIGINT) AS x,
        CAST(sum(CASE WHEN ms >= mid.m THEN cents ELSE 0 END) AS BIGINT) AS y
      FROM e CROSS JOIN mid GROUP BY 1, 2),
    a AS (
      SELECT arm, CAST(count(1) AS BIGINT) AS n,
        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0)) AS sxx,
        CAST(sum(CAST(x AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS sxy,
        CAST(sum(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS syy
      FROM u GROUP BY arm),
    g AS (
      SELECT CAST(sum(n) AS DOUBLE) AS nn,
        CAST(sum(sx) AS DOUBLE) AS gsx, CAST(sum(sy) AS DOUBLE) AS gsy,
        CAST(sum(sxx) AS DOUBLE) AS gsxx, CAST(sum(sxy) AS DOUBLE) AS gsxy
      FROM a),
    th AS (
      SELECT (nn * gsxy - gsx * gsy) / (nn * gsxx - gsx * gsx) AS theta,
        gsx / nn AS xbar
      FROM g),
    r AS (
      SELECT a.arm, a.n,
        CAST(a.sy AS DOUBLE) / a.n AS my,
        (CAST(a.sy AS DOUBLE) - th.theta *
          (CAST(a.sx AS DOUBLE) - a.n * th.xbar)) / a.n AS myadj,
        CAST(a.syy AS DOUBLE) / a.n -
          (CAST(a.sy AS DOUBLE) / a.n) * (CAST(a.sy AS DOUBLE) / a.n)
          AS vy,
        (CAST(a.syy AS DOUBLE)
          - 2.0 * th.theta * (CAST(a.sxy AS DOUBLE)
              - th.xbar * CAST(a.sy AS DOUBLE))
          + th.theta * th.theta * (CAST(a.sxx AS DOUBLE)
              - 2.0 * th.xbar * CAST(a.sx AS DOUBLE)
              + a.n * th.xbar * th.xbar)) / a.n AS ey2
      FROM a CROSS JOIN th)
    SELECT arm, n AS n_users,
      ${droundSql("my / 100.0", 6)} AS mean_post,
      ${droundSql("myadj / 100.0", 6)} AS mean_cuped,
      ${droundSql("1.0 - (ey2 - myadj * myadj) / vy", 6)} AS var_reduction
    FROM r ORDER BY arm"""

  def cuped(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    spark.sql(cupedSql(xhashExpr("concat('ab:', CAST(user_id AS STRING))"),
      c => s"unix_millis($c)"))
  }

  // ---------------------------------------------------------------- q117
  /** RFM customer segmentation: recency (days since last order),
    * frequency (order count), monetary (lifetime cents) per customer
    * from one orders scan, then ntile(5) per dimension with full
    * deterministic tiebreaks (metric, custkey) — the classic marketing
    * segmentation that doubles as a mixture-weighting signal. One
    * shuffle on o_custkey to the customer-grain frame; the ORACLE then
    * scores with three global ntile(5) windows, but the Spark plan must
    * NOT (empty-partition window = single-task sort) — [[rfm]] ranks
    * each dimension with [[DistributedRank]]'s range-partitioned global
    * rank and assigns quintiles arithmetically, bit-identical to ntile
    * under the same (metric, custkey) total order. */
  def rfmBaseSql(daysBetween: (String, String) => String): String = s"""
    WITH cust AS (
      SELECT o_custkey,
        CAST(max(o_orderdate) AS DATE) AS last_order,
        count(1) AS frequency,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          AS monetary_cents
      FROM orders GROUP BY o_custkey),
    mx AS (SELECT max(last_order) AS ref_date FROM cust)
    SELECT o_custkey,
      CAST(${daysBetween("last_order", "ref_date")} AS BIGINT) AS recency_days,
      frequency, monetary_cents
    FROM cust CROSS JOIN mx"""

  def rfmSql(daysBetween: (String, String) => String): String = s"""
    WITH r AS (${rfmBaseSql(daysBetween)})
    SELECT o_custkey, recency_days, frequency, monetary_cents,
      CAST(ntile(5) OVER (ORDER BY recency_days, o_custkey) AS INT) AS r_score,
      CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS INT) AS f_score,
      CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS INT) AS m_score
    FROM r
    ORDER BY o_custkey"""

  def rfm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    // persist the customer-grain frame: the one count (for ntile's n) and
    // the three chained rank pipelines all start from the cache, not from
    // a re-aggregation of orders
    val r = graft.core.EngineCache.persisted(
      spark.sql(rfmBaseSql((from, to) => s"datediff($to, $from)")))
    // ONE stats pass serves n plus all three dimensions' bucket bounds
    val st = r.agg(
      count(lit(1)),
      min("recency_days").cast("double"), max("recency_days").cast("double"),
      min("frequency").cast("double"), max("frequency").cast("double"),
      min("monetary_cents").cast("double"), max("monetary_cents").cast("double")
    ).first()
    val n = st.getLong(0)
    if (n == 0) return r.selectExpr("o_custkey", "recency_days", "frequency",
      "monetary_cents", "CAST(1 AS INT) r_score", "CAST(1 AS INT) f_score",
      "CAST(1 AS INT) m_score")
    // r13: each rank stage is persisted before the next one starts —
    // rankOnlyBounded runs an EAGER per-bucket count job over its input,
    // and with s1/s2 lazy that job re-executed every earlier window
    // chain (window 1 ran 3x, window 2 twice: once per downstream count
    // job plus the final consume). The persist makes each window pass
    // execute exactly once (guide §1.2 "don't compute things twice");
    // the cached frames are customer-grain — O(|customers|) rows, the
    // same order as the rank state itself.
    val s1 = graft.core.EngineCache.persisted(
      DistributedRank.rankOnlyBounded(
        r, "rk", "recency_days", desc = false, st.getDouble(1), st.getDouble(2),
        col("recency_days"), col("o_custkey"))
      .withColumn("r_score", DistributedRank.ntileFromRank("rk", n, 5))
      .drop("rk"))
    val s2 = graft.core.EngineCache.persisted(
      DistributedRank.rankOnlyBounded(
        s1, "rk", "frequency", desc = true, st.getDouble(3), st.getDouble(4),
        col("frequency").desc, col("o_custkey"))
      .withColumn("f_score", DistributedRank.ntileFromRank("rk", n, 5))
      .drop("rk"))
    DistributedRank.rankOnlyBounded(
        s2, "rk", "monetary_cents", desc = true, st.getDouble(5), st.getDouble(6),
        col("monetary_cents").desc, col("o_custkey"))
      .withColumn("m_score", DistributedRank.ntileFromRank("rk", n, 5))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary_cents"), col("r_score"), col("f_score"), col("m_score"))
      .orderBy("o_custkey")
  }

  // ---------------------------------------------------------------- q118
  /** User-journey path mining: the most frequent 3-event sequences
    * (trigrams of event_type per user in time order) — funnel discovery
    * as opposed to q70's funnel measurement. Two lead() calls in ONE
    * window pass build the trigram, a hash agg counts paths, and the
    * top-k is rank-on-count with a full lexicographic tiebreak so equal
    * counts cannot reorder across engines. */
  val PathTopK = 20
  def eventPathsSql: String = s"""
    WITH t AS (
      SELECT event_type AS e1,
        lead(event_type, 1) OVER w AS e2,
        lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    paths AS (
      SELECT e1 || ' > ' || e2 || ' > ' || e3 AS path, count(1) AS n
      FROM t WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      GROUP BY e1 || ' > ' || e2 || ' > ' || e3)
    SELECT path, n FROM paths
    ORDER BY n DESC, path LIMIT $PathTopK"""

  def eventPaths(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    spark.sql(eventPathsSql)
  }

  // ---------------------------------------------------------------- q120
  /** χ² test of independence between two categoricals over the FULL
    * r×c grid (marginals cross-joined, observed counts left-joined so
    * zero cells contribute correctly) — the significance companion to
    * q111's PMI. Everything is reductions of one joint histogram;
    * expected counts and per-cell contributions are computed on
    * identical values in both engines and bridged at 1e-9 before the
    * order-nondeterministic total. Output is per-cell with the cell's
    * contribution, so the χ² statistic is the checkable column sum. */
  def chiSquareSql(table: String): String = s"""
    WITH j AS (
      SELECT o_orderpriority AS r, o_orderstatus AS c, count(1) AS o
      FROM $table GROUP BY o_orderpriority, o_orderstatus),
    rt AS (SELECT r, CAST(sum(o) AS BIGINT) AS nr FROM j GROUP BY r),
    ct AS (SELECT c, CAST(sum(o) AS BIGINT) AS nc FROM j GROUP BY c),
    n AS (SELECT CAST(sum(o) AS DOUBLE) AS n FROM j),
    grid AS (
      SELECT rt.r, ct.c, coalesce(j.o, 0) AS o,
        CAST(rt.nr AS DOUBLE) * CAST(ct.nc AS DOUBLE) / n.n AS e
      FROM rt CROSS JOIN ct CROSS JOIN n
      LEFT JOIN j ON j.r = rt.r AND j.c = ct.c)
    SELECT r, c, CAST(o AS BIGINT) AS observed,
      ${droundSql("e", 6)} AS expected,
      ${droundSql("(CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e", 9)}
        AS chi2_contrib
    FROM grid
    ORDER BY r, c"""

  def chiSquare(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(chiSquareSql("orders"))
  }

  // ---------------------------------------------------------------- q121
  /** Gini coefficient of customer revenue concentration — the "how
    * skewed is my corpus/revenue" scalar every mixture audit wants.
    * Computed from the rank formulation G = Σ(2i−n−1)·x₍ᵢ₎ / (n·Σx)
    * on EXACT integers: cents sums, a global rank with custkey
    * tiebreak, and a decimal numerator — the only fp is the final
    * division of identical integers. The ORACLE ranks with a global
    * `row_number()` window; the Spark plan must NOT (empty-partition
    * window = single-task sort) — [[gini]] gets the identical rank from
    * [[DistributedRank]]'s range-partitioned two-pass scheme, same
    * formula, same oracle. */
  def giniBaseSql(table: String): String = s"""
    SELECT o_custkey,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
    FROM $table GROUP BY o_custkey"""

  def giniSql(table: String): String = s"""
    WITH c AS (${giniBaseSql(table)}),
    rk AS (
      SELECT x, CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT) AS i
      FROM c),
    nn AS (
      SELECT CAST(count(1) AS BIGINT) AS n,
        CAST(sum(CAST(x AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sx
      FROM c),
    num AS (
      SELECT CAST(sum(CAST(2 * i - nn.n - 1 AS DECIMAL(19,0)) * x)
        AS DECIMAL(38,0)) AS g
      FROM rk CROSS JOIN nn)
    SELECT nn.n AS n_customers,
      CAST(nn.sx AS BIGINT) AS total_cents,
      ${droundSql("CAST(num.g AS DOUBLE) / " +
        "(CAST(nn.n AS DOUBLE) * CAST(nn.sx AS DOUBLE))", 9)} AS gini
    FROM num CROSS JOIN nn"""

  def gini(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    val c = graft.core.EngineCache.persisted(spark.sql(giniBaseSql("orders")))
    val st = c.agg(count(lit(1)),
      min("x").cast("double"), max("x").cast("double")).first()
    val n = st.getLong(0)
    val rk = DistributedRank.rankOnlyBounded(
      c, "i", "x", desc = false, st.getDouble(1), st.getDouble(2),
      col("x"), col("o_custkey"))
    rk.agg(
        sum((lit(2L) * col("i") - lit(n) - lit(1L)).cast(DecimalType(19, 0)) *
            col("x"))
          .cast(DecimalType(38, 0)).as("g"),
        sum(col("x").cast(DecimalType(19, 0)))
          .cast(DecimalType(38, 0)).as("sx"))
      .select(
        lit(n).as("n_customers"),
        col("sx").cast("long").as("total_cents"),
        dround(col("g").cast("double") /
          (lit(n).cast("double") * col("sx").cast("double")), 9).as("gini"))
  }

  // ---------------------------------------------------------------- q122
  /** Monthly seasonal index of revenue (month total ÷ mean month) — the
    * calendar-effects profile used to spot ingest gaps and demand
    * cycles. Integer cents throughout; one hash agg plus a 12-row
    * reduction. */
  def seasonalSql(table: String): String = s"""
    WITH m AS (
      SELECT CAST(month(o_orderdate) AS INT) AS month,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM $table GROUP BY month(o_orderdate)),
    t AS (SELECT CAST(sum(cents) AS BIGINT) AS total,
            CAST(count(1) AS BIGINT) AS nm FROM m)
    SELECT month, cents,
      ${droundSql("CAST(cents AS DOUBLE) / " +
        "(CAST(total AS DOUBLE) / CAST(nm AS DOUBLE))", 6)} AS seasonal_index
    FROM m CROSS JOIN t
    ORDER BY month"""

  def seasonal(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(seasonalSql("orders"))
  }

  // ---------------------------------------------------------------- q195
  /** Z-order (Morton-curve) data-layout planner + file-skipping audit —
    * the operator that decides how a 100 TB table should be WRITTEN.
    * At scale the scan cost of every future query is set by layout:
    * files carry min/max column stats (parquet row-group stats, the
    * format-level contract behind `PushedFilters`), and a range
    * predicate skips a file iff the file's [min,max] box misses it. A
    * single-column sort clusters only that column; interleaving the
    * bits of two keys (z = bit-interleave(p, s)) clusters BOTH, so
    * 2-dim predicates touch O(√files) boxes instead of all of them.
    *
    * The interleave runs on NORMALIZED coordinates: each dim is first
    * range-scaled to the full [0, 2^ZBits) domain from the table's own
    * exact min/max — raw-key interleave is a classic z-order bug (this
    * fixture exposes it: l_partkey spans ~4 more high bits than
    * l_suppkey, so the unscaled curve is partkey-dominated and skips
    * nothing on supplier predicates). Production z-order writers do
    * the same normalization with per-column range-partition ids.
    *
    * The query plans both layouts over the same rows — `zorder` (sort
    * by the Morton code) vs `partkey_sorted` (the single-dim
    * baseline) — splits each into [[ZFiles]] equal-row files by global
    * rank ([[DistributedRank]], never a single-partition window),
    * collects each file's min/max box for both dims (one hash agg: the
    * stats a writer would stamp into the footer), and then prices
    * three canonical predicates against the boxes: a 2-dim
    * quartile-window (`both_mid`), and each dim's quartile with the
    * other unconstrained (`part_only` / `supp_only`). Predicate
    * windows derive from the table's own exact min/max by integer
    * arithmetic, so the audit is scale-free and deterministic. Output:
    * one row per (layout, predicate) with files touched, the touched
    * fraction, and the predicate's true row count — the evidence that
    * says "z-order this table" (or not) BEFORE the rewrite pays for
    * itself. Everything is exact integers but the final fraction;
    * cost is two rank passes + two hash aggs over one persisted scan,
    * and the audit join is [files × 3] rows at any data size. */
  val ZBits = 16   // bits per dimension interleaved into the Morton code
  val ZFiles = 64  // equal-row output files per layout

  /** Bit-interleave `p` (odd bit lanes) with `s` (even lanes) — one
    * rendering per dialect from the same bit algebra. */
  private def zExpr(shl: (String, Int) => String,
                    shr: (String, Int) => String,
                    p: String, s: String): String =
    (0 until ZBits).flatMap { i =>
      Seq(shl(s"(${shr(p, i)} & 1)", 2 * i + 1),
        shl(s"(${shr(s, i)} & 1)", 2 * i))
    }.mkString("(", " + ", ")")
  private def zSpark(p: String, s: String): String =
    zExpr((e, n) => s"shiftleft($e, $n)",
      (e, n) => s"shiftright($e, $n)", p, s)
  private def zDuck(p: String, s: String): String =
    zExpr((e, n) => s"(($e) << $n)", (e, n) => s"(($e) >> $n)", p, s)

  def zorderLayout(spark: SparkSession, dir: String): DataFrame =
    zorderLayoutOf(Tables.load(spark, dir, "lineitem")
      .selectExpr("l_partkey AS p", "l_suppkey AS s",
        "l_orderkey AS o", "CAST(l_linenumber AS BIGINT) AS ln"))

  /** One collected row: (pmn, pmx, smn, smx, n) — the bounds the scaled
    * interleave freezes plus the row count the file split needs, one
    * job instead of three. */
  private def zBoundsAndCount(r0: DataFrame): (Long, Long, Long, Long, Long) = {
    import org.apache.spark.sql.functions._
    val b = r0.agg(min("p"), max("p"), min("s"), max("s"),
      count(lit(1))).head()
    (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3), b.getLong(4))
  }

  /** The scaled Morton column from LITERAL bounds — shared by the
    * planner, the at-rest build, and the append's frozen encode. */
  private def zScaled(r0: DataFrame, pmn: Long, pmx: Long,
                      smn: Long, smx: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    r0.withColumn("ps",
        expr(s"((p - $pmn) * ${1L << ZBits}) div ${pmx - pmn + 1}"))
      .withColumn("ss",
        expr(s"((s - $smn) * ${1L << ZBits}) div ${smx - smn + 1}"))
      .withColumn("z", expr(zSpark("ps", "ss")))
  }

  /** The planner over an arbitrary (p, s, o, ln) frame with unique
    * (o, ln) — the spec entry point. */
  def zorderLayoutOf(rows0: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = rows0.sparkSession
    val r0 = rows0.transform(graft.core.EngineCache.persisted)
    val (pmn, pmx, smn, smx, n) = zBoundsAndCount(r0)
    val rows = zScaled(r0, pmn, pmx, smn, smx)
      .transform(graft.core.EngineCache.persisted)
    // equal-width buckets from KNOWN bounds: the scaled Morton code is
    // ~uniform on [0, 2^(2·ZBits)) whenever (p, s) are (the scaling
    // maps each dim onto its full bit range), and p's exact bounds are
    // already in hand from the stats job — so neither rank pass pays
    // DistributedRank's per-call count + sample-collect jobs, and
    // exactness never depends on the balance anyway (the guard stays
    // armed against a point mass)
    def fileStats(name: String, primary: String,
                  lo: Double, hi: Double): DataFrame =
      DistributedRank.rankOnlyBounded(rows, "rk", primary, desc = false,
          lo, hi, col(primary), col("o"), col("ln"))
        .withColumn("file_id", expr(s"((rk - 1) * $ZFiles) div $n"))
        .groupBy("file_id")
        .agg(min("p").as("p_lo"), max("p").as("p_hi"),
          min("s").as("s_lo"), max("s").as("s_hi"))
        .withColumn("layout", lit(name))
    val stats = fileStats("zorder", "z", 0.0, (1L << (2 * ZBits)) - 1.0)
      .unionByName(
        fileStats("partkey_sorted", "p", pmn.toDouble, pmx.toDouble))
    val (pqLo, pqHi) = (pmn + (pmx - pmn + 1) * 1 / 4,
      pmn + (pmx - pmn + 1) * 2 / 4 - 1)
    val (sqLo, sqHi) = (smn + (smx - smn + 1) * 1 / 4,
      smn + (smx - smn + 1) * 2 / 4 - 1)
    import spark.implicits._
    val preds = Seq(
      ("both_mid", pqLo, pqHi, sqLo, sqHi),
      ("part_only", pqLo, pqHi, smn, smx),
      ("supp_only", pmn, pmx, sqLo, sqHi))
      .toDF("pred", "p_from", "p_to", "s_from", "s_to")
    val rowsMatch = rows.crossJoin(broadcast(preds))
      .filter(col("p").between(col("p_from"), col("p_to")) &&
        col("s").between(col("s_from"), col("s_to")))
      .groupBy("pred").agg(count(lit(1)).as("rows_match"))
    stats.join(broadcast(preds),
        col("p_lo") <= col("p_to") && col("p_hi") >= col("p_from") &&
          col("s_lo") <= col("s_to") && col("s_hi") >= col("s_from"))
      .groupBy("layout", "pred")
      .agg(count(lit(1)).as("files_touched"))
      .join(rowsMatch, "pred")
      .select(col("layout"), col("pred"),
        lit(ZFiles).cast("long").as("files_total"), col("files_touched"),
        dround(col("files_touched").cast("double") / ZFiles, 6)
          .as("frac_files"),
        col("rows_match"))
      .orderBy("layout", "pred")
  }

  // ---------------------------------------------------------------- q198
  /** Z-order SERVING from a layout at rest — q195's plan executed, the
    * q146-for-layout contract: the z-laid rows persist ONCE to the
    * warehouse Hive-partitioned by file_id (the "files" q195 priced),
    * a tiny per-file min/max MANIFEST persists beside them (built from
    * the published rows — the stats pass every table format runs at
    * write time), and a 2-dim range query is then served in the shape
    * a real lakehouse reader uses: read the O(files) manifest, prune
    * file ids against the predicate's box ON THE DRIVER (the manifest
    * prune Delta/Iceberg do at planning time), and scan ONLY the
    * surviving partitions — PlanSpec asserts `PartitionFilters:
    * [file_id IN (…)]` and that neither the raw table nor the pruned
    * partitions are touched. Because manifest boxes are true min/max,
    * pruning cannot lose rows, and the oracle proves it: it computes
    * the same aggregates from the RAW table plus the touched-file
    * count from a full layout replay, so the hash match certifies the
    * pruned serve is lossless. Output: one row — files total/touched
    * and the predicate rows' count and exact integer sums. */
  /** Shared z-layout publisher: scale, Morton-encode, rank, split into
    * [[ZFiles]] equal-row files, and persist Hive-partitioned — the ONE
    * spelling both the full-table layout (q198) and the append base
    * (q200) publish through. Clusters by file before the partitioned
    * write: each task holds a couple of file_ids, so the layout lands
    * as ~one parquet file per "file" instead of tasks × files tiny
    * splinters. */
  private[graft] def zLayoutTableOnce(spark: SparkSession, dir: String,
                               prefix: String, rowFilter: String): DataFrame = {
    val table = prefix +
      dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    graft.core.Warehouse.tableOnce(spark, table, "file_id") {
      import org.apache.spark.sql.functions._
      val r0 = Tables.load(spark, dir, "lineitem")
        .filter(rowFilter)
        .selectExpr("l_partkey AS p", "l_suppkey AS s",
          "l_orderkey AS o", "CAST(l_linenumber AS BIGINT) AS ln")
        .transform(graft.core.EngineCache.persisted)
      val (pmn, pmx, smn, smx, n) = zBoundsAndCount(r0)
      val rows = zScaled(r0, pmn, pmx, smn, smx)
        .transform(graft.core.EngineCache.persisted)
      // the scaled Morton code is ~uniform on its full bit range (see
      // zorderLayoutOf): equal-width buckets from the KNOWN [0, 2^32)
      // domain skip the per-call count + sample jobs
      DistributedRank.rankOnlyBounded(rows, "rk", "z", desc = false,
          0.0, (1L << (2 * ZBits)) - 1.0, col("z"), col("o"), col("ln"))
        .withColumn("file_id",
          expr(s"CAST(((rk - 1) * $ZFiles) div $n AS INT)"))
        .select("p", "s", "o", "ln", "file_id")
        .repartition(col("file_id"))
    }
  }

  /** Quartile-2 window of an integer dim — the canonical predicate
    * window (q195's formula), one spelling for every Scala call site. */
  private def quartileWindow(mn: Long, mx: Long): (Long, Long) =
    (mn + (mx - mn + 1) * 1 / 4, mn + (mx - mn + 1) * 2 / 4 - 1)

  /** Box-overlap prune: file ids whose [min,max] box intersects the
    * predicate windows. Boxes are (file_id, p_lo, p_hi, s_lo, s_hi). */
  private def boxesTouched(boxes: Array[org.apache.spark.sql.Row],
                           pFrom: Long, pTo: Long,
                           sFrom: Long, sTo: Long): Array[Int] =
    boxes.filter(r => r.getLong(1) <= pTo && r.getLong(2) >= pFrom &&
      r.getLong(3) <= sTo && r.getLong(4) >= sFrom).map(_.getInt(0))

  def zorderRowsAtRest(spark: SparkSession, dir: String): DataFrame =
    zLayoutTableOnce(spark, dir, "zlay_", "true")

  def zorderManifestAtRest(spark: SparkSession, dir: String): DataFrame = {
    val table = "zmanifest_" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    graft.core.Warehouse.tableOnce(spark, table) {
      import org.apache.spark.sql.functions._
      zorderRowsAtRest(spark, dir).groupBy("file_id")
        .agg(min("p").as("p_lo"), max("p").as("p_hi"),
          min("s").as("s_lo"), max("s").as("s_hi"))
    }
  }

  def zorderServe(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val man = zorderManifestAtRest(spark, dir).collect() // O(files) rows
    def long(r: org.apache.spark.sql.Row, i: Int): Long = r.getLong(i)
    val (pmn, pmx) = (man.map(long(_, 1)).min, man.map(long(_, 2)).max)
    val (smn, smx) = (man.map(long(_, 3)).min, man.map(long(_, 4)).max)
    // the both_mid predicate: quartile-2 window on each dim (q195)
    val (pFrom, pTo) = quartileWindow(pmn, pmx)
    val (sFrom, sTo) = quartileWindow(smn, smx)
    val keep = boxesTouched(man, pFrom, pTo, sFrom, sTo).sorted
    zorderRowsAtRest(spark, dir)
      .filter(col("file_id").isin(keep.map(Integer.valueOf): _*) &&
        col("p").between(pFrom, pTo) && col("s").between(sFrom, sTo))
      .agg(count(lit(1)).as("n_rows"), sum("p").as("sum_p"),
        sum("s").as("sum_s"))
      .select(lit(ZFiles).cast("long").as("files_total"),
        lit(keep.length.toLong).as("files_touched"),
        col("n_rows"), col("sum_p").cast("long").as("sum_p"),
        col("sum_s").cast("long").as("sum_s"))
  }

  def zorderServeSql(table: String): String = s"""
    WITH raw AS (
      SELECT l_partkey AS p, l_suppkey AS s, l_orderkey AS o,
        CAST(l_linenumber AS BIGINT) AS ln
      FROM $table),
    bb AS (
      SELECT min(p) AS pmn, max(p) AS pmx, min(s) AS smn, max(s) AS smx,
        min(p) + ((max(p) - min(p) + 1) * 1) // 4 AS p_from,
        min(p) + ((max(p) - min(p) + 1) * 2) // 4 - 1 AS p_to,
        min(s) + ((max(s) - min(s) + 1) * 1) // 4 AS s_from,
        min(s) + ((max(s) - min(s) + 1) * 2) // 4 - 1 AS s_to
      FROM raw),
    scaled AS (
      SELECT p, s, o, ln,
        ((p - pmn) * ${1L << ZBits}) // (pmx - pmn + 1) AS ps,
        ((s - smn) * ${1L << ZBits}) // (smx - smn + 1) AS ss
      FROM raw CROSS JOIN bb),
    r0 AS (
      SELECT p, s, o, ln, ${zDuck("ps", "ss")} AS z FROM scaled),
    nn AS (SELECT count(*) AS n FROM r0),
    fz AS (
      SELECT ((row_number() OVER (ORDER BY z, o, ln) - 1) * $ZFiles) // nn.n
          AS file_id, p, s
      FROM r0 CROSS JOIN nn),
    boxes AS (
      SELECT file_id, min(p) AS p_lo, max(p) AS p_hi,
        min(s) AS s_lo, max(s) AS s_hi
      FROM fz GROUP BY file_id),
    keep AS (
      SELECT file_id FROM boxes CROSS JOIN bb
      WHERE p_lo <= p_to AND p_hi >= p_from
        AND s_lo <= s_to AND s_hi >= s_from)
    SELECT CAST($ZFiles AS BIGINT) AS files_total,
      (SELECT CAST(count(*) AS BIGINT) FROM keep) AS files_touched,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(p) AS BIGINT) AS sum_p, CAST(sum(s) AS BIGINT) AS sum_s
    FROM raw CROSS JOIN bb
    WHERE p BETWEEN p_from AND p_to AND s BETWEEN s_from AND s_to"""

  // ---------------------------------------------------------------- q200
  /** Incremental z-order APPEND — the maintenance half of q198, q151's
    * frozen-parameter discipline applied to layout: the base corpus
    * (l_orderkey ≢ [[ZBatchMod]] mod 10) is z-laid and persisted ONCE;
    * an arriving batch (≡ [[ZBatchMod]], ~10% of rows — the filter
    * pushed into its scan) is the ONLY data ranked at append time,
    * encoded with the base's FROZEN normalization bounds (read from the
    * base manifest's true min/max, never recomputed from raw data) into
    * [[ZAppendFiles]] fresh file ids past the base's range — base files
    * are immutable, exactly how a lakehouse OPTIMIZE-then-append
    * behaves. Serving spans base ∪ fresh: one manifest (stored base
    * boxes + the batch's live boxes), one driver-side prune, one scan
    * of surviving partitions plus the filtered batch. The oracle
    * replays both layouts and computes the aggregates from ALL raw
    * rows, so the hash match proves the append lost nothing and the
    * frozen-bounds encode stayed consistent with the base curve.
    * Append cost is O(batch·log batch at worst); the base is never
    * re-ranked, re-scaled, or rewritten. */
  val ZBatchMod = 7     // l_orderkey % 10 = this -> the arriving batch
  val ZAppendFiles = 8  // fresh files per append

  def zorderBaseAtRest(spark: SparkSession, dir: String): DataFrame =
    zLayoutTableOnce(spark, dir, "zbase_",
      s"l_orderkey % 10 != $ZBatchMod")

  /** The at-rest base's per-file min/max boxes — the manifest rows a
    * serve or append reads instead of any raw data. */
  private[graft] def zorderBaseBoxes(spark: SparkSession,
                                     dir: String): Array[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions._
    zorderBaseAtRest(spark, dir).groupBy("file_id")
      .agg(min("p").as("p_lo"), max("p").as("p_hi"),
        min("s").as("s_lo"), max("s").as("s_hi"))
      .collect().sortBy(_.getInt(0))
  }

  /** Frozen-bounds Morton encode of arriving (p, s, o, ln) rows — the
    * per-row-pure half of the append, shared with the stream-time twin:
    * coordinates scale against the BASE's bounds (from its manifest,
    * clamped at the edges for out-of-range arrivals), so the same row
    * gets the same z whichever batch carries it. */
  def zorderEncodeFrozen(spark: SparkSession, dir: String,
                         rows0: DataFrame): DataFrame = {
    val b = zorderFrozenBounds(spark, dir)
    zorderEncodeWithBounds(rows0, b._1, b._2, b._3, b._4)
  }

  /** The base layout's global box = the frozen normalization bounds,
    * read once from the manifest. Stream-time callers hoist this
    * BEFORE the stream starts and close over the four constants —
    * re-deriving them per micro-batch would re-aggregate the whole
    * base table every trigger. */
  def zorderFrozenBounds(spark: SparkSession,
                         dir: String): (Long, Long, Long, Long) = {
    val boxes = zorderBaseBoxes(spark, dir)
    def long(r: org.apache.spark.sql.Row, i: Int): Long = r.getLong(i)
    (boxes.map(long(_, 1)).min, boxes.map(long(_, 2)).max,
      boxes.map(long(_, 3)).min, boxes.map(long(_, 4)).max)
  }

  private[graft] def zorderEncodeWithBounds(rows0: DataFrame,
                                            pmn: Long, pmx: Long,
                                            smn: Long, smx: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    rows0
      .withColumn("ps", expr(
        s"least(${(1L << ZBits) - 1}, greatest(0L, " +
          s"((p - $pmn) * ${1L << ZBits}) div ${pmx - pmn + 1}))"))
      .withColumn("ss", expr(
        s"least(${(1L << ZBits) - 1}, greatest(0L, " +
          s"((s - $smn) * ${1L << ZBits}) div ${smx - smn + 1}))"))
      .withColumn("z", expr(zSpark("ps", "ss")))
      .select("p", "s", "o", "ln", "z")
  }

  def zorderAppendServe(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = zorderBaseAtRest(spark, dir)
    val baseBoxes = zorderBaseBoxes(spark, dir)
    def long(r: org.apache.spark.sql.Row, i: Int): Long = r.getLong(i)
    // FROZEN normalization bounds = the base's global box
    val (pmn, pmx) = (baseBoxes.map(long(_, 1)).min,
      baseBoxes.map(long(_, 2)).max)
    val (smn, smx) = (baseBoxes.map(long(_, 3)).min,
      baseBoxes.map(long(_, 4)).max)
    // the arriving batch: the only rows ranked, frozen-bounds encode
    // (bounds passed through — the manifest was already read above)
    val batch = zorderEncodeWithBounds(
      Tables.load(spark, dir, "lineitem")
        .filter(s"l_orderkey % 10 = $ZBatchMod")
        .selectExpr("l_partkey AS p", "l_suppkey AS s",
          "l_orderkey AS o", "CAST(l_linenumber AS BIGINT) AS ln"),
      pmn, pmx, smn, smx)
      .transform(graft.core.EngineCache.persisted)
    val nb = batch.count()
    val fresh = DistributedRank.rankOnlyBounded(batch, "rk", "z",
        desc = false, 0.0, (1L << (2 * ZBits)) - 1.0,
        col("z"), col("o"), col("ln"))
      .withColumn("file_id",
        expr(s"CAST($ZFiles + ((rk - 1) * $ZAppendFiles) div $nb AS INT)"))
      .select("p", "s", "o", "ln", "file_id")
      .transform(graft.core.EngineCache.persisted)
    val freshBoxes = fresh.groupBy("file_id")
      .agg(min("p").as("p_lo"), max("p").as("p_hi"),
        min("s").as("s_lo"), max("s").as("s_hi"))
      .collect()
    // the both_mid predicate from the frozen base bounds (q195's window)
    val (pFrom, pTo) = quartileWindow(pmn, pmx)
    val (sFrom, sTo) = quartileWindow(smn, smx)
    val keepBase = boxesTouched(baseBoxes, pFrom, pTo, sFrom, sTo)
    val keepFresh = boxesTouched(freshBoxes, pFrom, pTo, sFrom, sTo)
    val served = base
      .filter(col("file_id").isin(keepBase.map(Integer.valueOf): _*))
      .unionByName(fresh
        .filter(col("file_id").isin(keepFresh.map(Integer.valueOf): _*)))
      .filter(col("p").between(pFrom, pTo) && col("s").between(sFrom, sTo))
    served.agg(count(lit(1)).as("n_rows"), sum("p").as("sum_p"),
        sum("s").as("sum_s"))
      .select(lit((ZFiles + ZAppendFiles).toLong).as("files_total"),
        lit((keepBase.length + keepFresh.length).toLong).as("files_touched"),
        col("n_rows"), col("sum_p").cast("long").as("sum_p"),
        col("sum_s").cast("long").as("sum_s"))
  }

  def zorderAppendServeSql(table: String): String = s"""
    WITH rawb AS (
      SELECT l_partkey AS p, l_suppkey AS s, l_orderkey AS o,
        CAST(l_linenumber AS BIGINT) AS ln
      FROM $table WHERE l_orderkey % 10 != $ZBatchMod),
    rawf AS (
      SELECT l_partkey AS p, l_suppkey AS s, l_orderkey AS o,
        CAST(l_linenumber AS BIGINT) AS ln
      FROM $table WHERE l_orderkey % 10 = $ZBatchMod),
    bb AS (
      SELECT min(p) AS pmn, max(p) AS pmx, min(s) AS smn, max(s) AS smx,
        min(p) + ((max(p) - min(p) + 1) * 1) // 4 AS p_from,
        min(p) + ((max(p) - min(p) + 1) * 2) // 4 - 1 AS p_to,
        min(s) + ((max(s) - min(s) + 1) * 1) // 4 AS s_from,
        min(s) + ((max(s) - min(s) + 1) * 2) // 4 - 1 AS s_to
      FROM rawb),
    zb AS (
      SELECT p, s, o, ln, ${zDuck("ps", "ss")} AS z FROM (
        SELECT p, s, o, ln,
          ((p - pmn) * ${1L << ZBits}) // (pmx - pmn + 1) AS ps,
          ((s - smn) * ${1L << ZBits}) // (smx - smn + 1) AS ss
        FROM rawb CROSS JOIN bb) t),
    nnb AS (SELECT count(*) AS n FROM zb),
    fb AS (
      SELECT ((row_number() OVER (ORDER BY z, o, ln) - 1) * $ZFiles) // nnb.n
          AS file_id, p, s
      FROM zb CROSS JOIN nnb),
    zf AS (
      SELECT p, s, o, ln, ${zDuck("ps", "ss")} AS z FROM (
        SELECT p, s, o, ln,
          least(${(1L << ZBits) - 1}, greatest(0,
            ((p - pmn) * ${1L << ZBits}) // (pmx - pmn + 1))) AS ps,
          least(${(1L << ZBits) - 1}, greatest(0,
            ((s - smn) * ${1L << ZBits}) // (smx - smn + 1))) AS ss
        FROM rawf CROSS JOIN bb) t),
    nnf AS (SELECT count(*) AS n FROM zf),
    ff AS (
      SELECT $ZFiles +
          ((row_number() OVER (ORDER BY z, o, ln) - 1) * $ZAppendFiles)
            // nnf.n AS file_id, p, s
      FROM zf CROSS JOIN nnf),
    boxes AS (
      SELECT file_id, min(p) AS p_lo, max(p) AS p_hi,
        min(s) AS s_lo, max(s) AS s_hi
      FROM (SELECT * FROM fb UNION ALL SELECT * FROM ff) u
      GROUP BY file_id),
    keep AS (
      SELECT file_id FROM boxes CROSS JOIN bb
      WHERE p_lo <= p_to AND p_hi >= p_from
        AND s_lo <= s_to AND s_hi >= s_from)
    SELECT CAST(${ZFiles + ZAppendFiles} AS BIGINT) AS files_total,
      (SELECT CAST(count(*) AS BIGINT) FROM keep) AS files_touched,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(p) AS BIGINT) AS sum_p, CAST(sum(s) AS BIGINT) AS sum_s
    FROM (SELECT p, s FROM rawb UNION ALL SELECT p, s FROM rawf) a
      CROSS JOIN bb
    WHERE p BETWEEN p_from AND p_to AND s BETWEEN s_from AND s_to"""

  // ---------------------------------------------------------------- q232
  /** Z-order DELETE + PURGE — the q225 compaction discipline for the
    * layout family, completing its lifecycle (plan q195 → serve q198 →
    * append q200 → PURGE): tombstoned rows (l_orderkey ≡ [[ZDelRem]]
    * mod 10) are physically rewritten out of ONLY the file_id
    * partitions that contain them — untouched partitions pass through
    * as an at-rest scan with no filter, recompute, or re-rank — and
    * the result publishes as the next crash-safe version of the SAME
    * warehouse table ([[graft.core.Warehouse.publish]] + [[graft.core.Warehouse.gc]]:
    * readers hold old-complete or new-complete, never a partial tree).
    * The manifest follows the same locality rule: rewritten files'
    * min/max boxes are recomputed from a PARTITION-PRUNED scan of just
    * those files; untouched files keep their stored boxes verbatim —
    * the affected-files-only stats maintenance every lakehouse
    * DELETE runs. (On an object store the untouched partitions'
    * "copy" is manifest re-pointing at the old immutable keys; the
    * local-FS whole-version write is that primitive's POSIX spelling,
    * exactly as the Warehouse scaladoc frames it.) File ids stay
    * FROZEN from the original build — a purge never re-ranks the
    * survivors — so serving is unchanged q198 machinery: driver-side
    * manifest prune, partition-pruned scan, NO tombstone anti-join
    * anywhere at serve time, because the deleted rows are physically
    * gone. The purge is gated on tombstone PRESENCE in the published
    * table (never a version number — q225's lesson), making it
    * idempotent under re-runs and persistent warehouse roots. The
    * ORACLE replays the ORIGINAL full-table layout, deletes the
    * tombstoned rows, recomputes per-file boxes and the predicate
    * window from the survivors, and serves the same counts — the hash
    * match proves purge ∘ publish ≡ tombstone-view, boxes shrunk
    * correctly, and no survivor was lost or moved. */
  val ZDelRem = 3 // l_orderkey % 10 = this -> tombstoned rows

  def zorderPurgeServe(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val suffix = dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val rowsTable = s"zpurge_$suffix"
    val manTable = s"zpurgeman_$suffix"
    def boxesOf(df: DataFrame): DataFrame = df.groupBy("file_id")
      .agg(min("p").as("p_lo"), max("p").as("p_hi"),
        min("s").as("s_lo"), max("s").as("s_hi"))
    // v1: the full-table layout + its manifest, built once at rest
    // (own table name — the purge mutates it, so it must not share
    // q198's serving table, the q225 isolation rule)
    val rows0 = zLayoutTableOnce(spark, dir, "zpurge_", "true")
    graft.core.Warehouse.tableOnce(spark, manTable)(boxesOf(rows0))
    val pred = s"o % 10 = $ZDelRem"
    val cur = graft.core.Warehouse.readTable(spark, rowsTable)
    if (!cur.filter(pred).isEmpty) {
      // affected files from one projection of the layout (at 100 TB a
      // deletion feed would name its keys and the manifest's key
      // ranges would prune this scan; the collect is <= ZFiles ints)
      val aff = cur.filter(pred).select("file_id").distinct()
        .collect().map(_.getInt(0)).sorted.map(Integer.valueOf)
      val untouched = cur.filter(!col("file_id").isin(aff: _*))
      val rewritten = cur.filter(col("file_id").isin(aff: _*))
        .filter(s"NOT ($pred)")
      graft.core.Warehouse.publish(untouched.unionByName(rewritten),
        rowsTable, Seq("file_id"))
      graft.core.Warehouse.gc(spark, rowsTable) // retire pre-purge tree
      // manifest maintenance: recompute boxes ONLY for rewritten
      // files (partition-pruned scan of the new version); untouched
      // files keep their stored boxes verbatim
      val oldMan = graft.core.Warehouse.readTable(spark, manTable)
      val freshBoxes = boxesOf(
        graft.core.Warehouse.readTable(spark, rowsTable)
          .filter(col("file_id").isin(aff: _*)))
      graft.core.Warehouse.publish(
        oldMan.filter(!col("file_id").isin(aff: _*))
          .select("file_id", "p_lo", "p_hi", "s_lo", "s_hi")
          .unionByName(freshBoxes), manTable)
      graft.core.Warehouse.gc(spark, manTable)
    }
    // q198's serve, window derived from the POST-purge manifest
    val man = graft.core.Warehouse.readTable(spark, manTable)
      .select("file_id", "p_lo", "p_hi", "s_lo", "s_hi")
      .collect().sortBy(_.getInt(0))
    def long(r: org.apache.spark.sql.Row, i: Int): Long = r.getLong(i)
    val (pmn, pmx) = (man.map(long(_, 1)).min, man.map(long(_, 2)).max)
    val (smn, smx) = (man.map(long(_, 3)).min, man.map(long(_, 4)).max)
    val (pFrom, pTo) = quartileWindow(pmn, pmx)
    val (sFrom, sTo) = quartileWindow(smn, smx)
    val keep = boxesTouched(man, pFrom, pTo, sFrom, sTo).sorted
    graft.core.Warehouse.readTable(spark, rowsTable)
      .filter(col("file_id").isin(keep.map(Integer.valueOf): _*) &&
        col("p").between(pFrom, pTo) && col("s").between(sFrom, sTo))
      .agg(count(lit(1)).as("n_rows"), sum("p").as("sum_p"),
        sum("s").as("sum_s"))
      .select(lit(ZFiles).cast("long").as("files_total"),
        lit(keep.length.toLong).as("files_touched"),
        col("n_rows"), col("sum_p").cast("long").as("sum_p"),
        col("sum_s").cast("long").as("sum_s"))
  }

  def zorderPurgeServeSql(table: String): String = s"""
    WITH raw AS (
      SELECT l_partkey AS p, l_suppkey AS s, l_orderkey AS o,
        CAST(l_linenumber AS BIGINT) AS ln
      FROM $table),
    bb AS (
      SELECT min(p) AS pmn, max(p) AS pmx, min(s) AS smn, max(s) AS smx
      FROM raw),
    scaled AS (
      SELECT p, s, o, ln,
        ((p - pmn) * ${1L << ZBits}) // (pmx - pmn + 1) AS ps,
        ((s - smn) * ${1L << ZBits}) // (smx - smn + 1) AS ss
      FROM raw CROSS JOIN bb),
    r0 AS (
      SELECT p, s, o, ln, ${zDuck("ps", "ss")} AS z FROM scaled),
    nn AS (SELECT count(*) AS n FROM r0),
    fz AS (
      SELECT ((row_number() OVER (ORDER BY z, o, ln) - 1) * $ZFiles) // nn.n
          AS file_id, p, s, o
      FROM r0 CROSS JOIN nn),
    kept AS (SELECT * FROM fz WHERE NOT (o % 10 = $ZDelRem)),
    boxes AS (
      SELECT file_id, min(p) AS p_lo, max(p) AS p_hi,
        min(s) AS s_lo, max(s) AS s_hi
      FROM kept GROUP BY file_id),
    bb2 AS (
      SELECT min(p_lo) AS pmn2, max(p_hi) AS pmx2,
        min(s_lo) AS smn2, max(s_hi) AS smx2,
        min(p_lo) + ((max(p_hi) - min(p_lo) + 1) * 1) // 4 AS p_from,
        min(p_lo) + ((max(p_hi) - min(p_lo) + 1) * 2) // 4 - 1 AS p_to,
        min(s_lo) + ((max(s_hi) - min(s_lo) + 1) * 1) // 4 AS s_from,
        min(s_lo) + ((max(s_hi) - min(s_lo) + 1) * 2) // 4 - 1 AS s_to
      FROM boxes),
    keep AS (
      SELECT file_id FROM boxes CROSS JOIN bb2
      WHERE p_lo <= p_to AND p_hi >= p_from
        AND s_lo <= s_to AND s_hi >= s_from)
    SELECT CAST($ZFiles AS BIGINT) AS files_total,
      (SELECT CAST(count(*) AS BIGINT) FROM keep) AS files_touched,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(p) AS BIGINT) AS sum_p, CAST(sum(s) AS BIGINT) AS sum_s
    FROM kept CROSS JOIN bb2
    WHERE p BETWEEN p_from AND p_to AND s BETWEEN s_from AND s_to"""

  // ---------------------------------------------------------------- q245
  /** Z-order UPDATE in place — the verb between append (q200) and
    * purge (q232), and the one that exposes the layout's honest
    * trade-off: an UPDATE that moves a row's clustering coordinate
    * leaves the row in its ORIGINAL file (file ids frozen from the
    * build — no survivor re-rank, no global rewrite) and GROWS that
    * file's manifest box to cover the new coordinate. Serving stays
    * correct by construction — boxes are true min/max, so pruning can
    * never lose the moved row — but pruning DEGRADES: a grown box
    * intersects more predicate windows, so files_touched can rise
    * until a compaction (q232's machinery) re-clusters. That deferral
    * is exactly how lakehouse UPDATEs behave (rewrite the file you
    * touch, let OPTIMIZE restore locality later), priced here in the
    * served files_touched column — measured at sf0.01: the pristine
    * layout's both_mid window touches 8/64 files (q198), the
    * post-update layout 22/64 for the same exact row counts. Mechanics mirror q232's
    * affected-file discipline: the updated cohort (o ≡ [[ZUpdRem]]
    * mod 10) rewrites ONLY the file_id partitions containing it,
    * untouched partitions pass through as at-rest scans, both rows
    * and manifest publish as next crash-safe Warehouse versions + gc,
    * and rewritten files' boxes recompute from a partition-pruned
    * scan while untouched boxes carry over verbatim. The new
    * coordinate p' = o % [[ZUpdSpan]] + 1 is a pure function of the
    * row's immutable key — so the update is IDEMPOTENT without any
    * version bookkeeping, and EACH table gates on its own staleness:
    * rows on a presence test (any cohort row whose p differs from its
    * target), the manifest on a coverage test (any row outside its
    * file's stored box) — so a crash between the two publishes
    * converges on the next run instead of stranding a manifest that
    * prunes moved rows away. Robust under re-runs and persistent
    * warehouse roots. The ORACLE replays the original
    * layout, applies the same update post-assignment, recomputes
    * per-file boxes and the window from the updated table, and serves
    * the same counts — update ∘ store ≡ rebuild-with-revisions,
    * frozen file ids included. */
  val ZUpdRem = 6      // o % 10 = this -> the updated cohort
  val ZUpdSpan = 1999L // p' = o % span + 1: bounds-free, idempotent

  def zorderUpdateServe(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val suffix = dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val rowsTable = s"zupd_$suffix"
    val manTable = s"zupdman_$suffix"
    def boxesOf(df: DataFrame): DataFrame = df.groupBy("file_id")
      .agg(min("p").as("p_lo"), max("p").as("p_hi"),
        min("s").as("s_lo"), max("s").as("s_hi"))
    val rows0 = zLayoutTableOnce(spark, dir, "zupd_", "true")
    graft.core.Warehouse.tableOnce(spark, manTable)(boxesOf(rows0))
    val stale = s"o % 10 = $ZUpdRem AND p != o % $ZUpdSpan + 1"
    val cur = graft.core.Warehouse.readTable(spark, rowsTable)
    if (!cur.filter(stale).isEmpty) {
      val aff = cur.filter(stale).select("file_id").distinct()
        .collect().map(_.getInt(0)).sorted.map(Integer.valueOf)
      val untouched = cur.filter(!col("file_id").isin(aff: _*))
      val rewritten = cur.filter(col("file_id").isin(aff: _*))
        .withColumn("p", when(expr(s"o % 10 = $ZUpdRem"),
          expr(s"o % $ZUpdSpan + 1")).otherwise(col("p")))
      graft.core.Warehouse.publish(untouched.unionByName(rewritten),
        rowsTable, Seq("file_id"))
      graft.core.Warehouse.gc(spark, rowsTable)
    }
    // Manifest maintenance gates on the MANIFEST'S OWN staleness — any
    // row outside its file's stored box — never on the rows gate above:
    // a crash between the rows publish and the manifest publish leaves
    // zero stale rows but uncovered moved coordinates, and a rows-only
    // gate would then skip manifest repair forever, letting pruning
    // silently drop the moved rows (q242's both-tables dirty-test
    // discipline). On the normal path the moved rows ARE outside their
    // old boxes, so this one probe drives both cases to convergence.
    val rowsNow = graft.core.Warehouse.readTable(spark, rowsTable)
    val manCur = graft.core.Warehouse.readTable(spark, manTable)
      .select("file_id", "p_lo", "p_hi", "s_lo", "s_hi")
    val dirty = rowsNow.join(broadcast(manCur), Seq("file_id"))
      .filter(col("p") < col("p_lo") || col("p") > col("p_hi") ||
        col("s") < col("s_lo") || col("s") > col("s_hi"))
      .select("file_id").distinct()
      .collect().map(_.getInt(0)).sorted.map(Integer.valueOf)
    if (dirty.nonEmpty) {
      val freshBoxes = boxesOf(rowsNow.filter(col("file_id").isin(dirty: _*)))
      graft.core.Warehouse.publish(
        manCur.filter(!col("file_id").isin(dirty: _*))
          .unionByName(freshBoxes), manTable)
      graft.core.Warehouse.gc(spark, manTable)
    }
    val man = graft.core.Warehouse.readTable(spark, manTable)
      .select("file_id", "p_lo", "p_hi", "s_lo", "s_hi")
      .collect().sortBy(_.getInt(0))
    def long(r: org.apache.spark.sql.Row, i: Int): Long = r.getLong(i)
    val (pmn, pmx) = (man.map(long(_, 1)).min, man.map(long(_, 2)).max)
    val (smn, smx) = (man.map(long(_, 3)).min, man.map(long(_, 4)).max)
    val (pFrom, pTo) = quartileWindow(pmn, pmx)
    val (sFrom, sTo) = quartileWindow(smn, smx)
    val keep = boxesTouched(man, pFrom, pTo, sFrom, sTo).sorted
    graft.core.Warehouse.readTable(spark, rowsTable)
      .filter(col("file_id").isin(keep.map(Integer.valueOf): _*) &&
        col("p").between(pFrom, pTo) && col("s").between(sFrom, sTo))
      .agg(count(lit(1)).as("n_rows"), sum("p").as("sum_p"),
        sum("s").as("sum_s"))
      .select(lit(ZFiles).cast("long").as("files_total"),
        lit(keep.length.toLong).as("files_touched"),
        col("n_rows"), col("sum_p").cast("long").as("sum_p"),
        col("sum_s").cast("long").as("sum_s"))
  }

  def zorderUpdateServeSql(table: String): String = s"""
    WITH raw AS (
      SELECT l_partkey AS p, l_suppkey AS s, l_orderkey AS o,
        CAST(l_linenumber AS BIGINT) AS ln
      FROM $table),
    bb AS (
      SELECT min(p) AS pmn, max(p) AS pmx, min(s) AS smn, max(s) AS smx
      FROM raw),
    scaled AS (
      SELECT p, s, o, ln,
        ((p - pmn) * ${1L << ZBits}) // (pmx - pmn + 1) AS ps,
        ((s - smn) * ${1L << ZBits}) // (smx - smn + 1) AS ss
      FROM raw CROSS JOIN bb),
    r0 AS (
      SELECT p, s, o, ln, ${zDuck("ps", "ss")} AS z FROM scaled),
    nn AS (SELECT count(*) AS n FROM r0),
    fz AS (
      SELECT ((row_number() OVER (ORDER BY z, o, ln) - 1) * $ZFiles) // nn.n
          AS file_id, p, s, o
      FROM r0 CROSS JOIN nn),
    upd AS (
      SELECT file_id,
        CASE WHEN o % 10 = $ZUpdRem THEN o % $ZUpdSpan + 1 ELSE p END AS p,
        s, o
      FROM fz),
    boxes AS (
      SELECT file_id, min(p) AS p_lo, max(p) AS p_hi,
        min(s) AS s_lo, max(s) AS s_hi
      FROM upd GROUP BY file_id),
    bb2 AS (
      SELECT min(p_lo) + ((max(p_hi) - min(p_lo) + 1) * 1) // 4 AS p_from,
        min(p_lo) + ((max(p_hi) - min(p_lo) + 1) * 2) // 4 - 1 AS p_to,
        min(s_lo) + ((max(s_hi) - min(s_lo) + 1) * 1) // 4 AS s_from,
        min(s_lo) + ((max(s_hi) - min(s_lo) + 1) * 2) // 4 - 1 AS s_to
      FROM boxes),
    keep AS (
      SELECT file_id FROM boxes CROSS JOIN bb2
      WHERE p_lo <= p_to AND p_hi >= p_from
        AND s_lo <= s_to AND s_hi >= s_from)
    SELECT CAST($ZFiles AS BIGINT) AS files_total,
      (SELECT CAST(count(*) AS BIGINT) FROM keep) AS files_touched,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(p) AS BIGINT) AS sum_p, CAST(sum(s) AS BIGINT) AS sum_s
    FROM upd CROSS JOIN bb2
    WHERE p BETWEEN p_from AND p_to AND s BETWEEN s_from AND s_to"""

  // ---------------------------------------------------------------- q255
  /** Bloom file-SKIPPING index — the layout family's MONOTONE member,
    * completing the physical-design taxonomy the sketch family already
    * teaches: z-order boxes (q195) prune RANGE predicates on the
    * clustering dims, the bitmap (q210) answers categorical
    * conjunctions, and per-file Bloom filters prune POINT lookups on a
    * column the sort does NOT help (here l_partkey under an
    * l_orderkey-clustered layout — the Delta/Iceberg bloom-column
    * use case verbatim). Build: rows range-cluster on l_orderkey into
    * [[BfFiles]] equal-count files ([[DistributedRank]], never a
    * global window) and each file persists one [[graft.functions
    * .BloomSketch]] over its l_partkey set — O(files) manifest rows of
    * fixed 16 KiB filters. Serve: [[BfProbes]] deterministic probe
    * keys (the manifest's own p-bounds split on thirds — existing AND
    * likely-absent keys both probed) test every file's filter
    * driver-side (the layout family's O(files) manifest collect), the
    * scan touches ONLY bloom-positive partitions (PartitionFilters),
    * and exact per-key aggregates come off the pruned scan.
    *
    * The ORACLE cannot replay filter bits in SQL — and does not need
    * to: it replays the FILE ASSIGNMENT and computes the exact
    * per-key aggregates and true file counts; the hash match then
    * PROVES no false negative (a skipped file holding the key would
    * shrink n_rows/sum_cents), while `bloom_no_miss` (touched ⊇ true
    * files) and `pruned` (touched < total) are emitted as engine-side
    * booleans the oracle spells TRUE — the q239/q247 invariant-boolean
    * discipline. DELETE is deliberately absent: a bit-OR filter cannot
    * retract (the q141-vs-q239 lesson) — a takedown either tolerates
    * stale-positive files (correctness unaffected: the scan
    * re-filters; only pruning degrades) or rebuilds the affected
    * files' filters, exactly the honesty the q224 profile flags.
    * Scale: ranking is the corpus-sized pass; the manifest is O(files)
    * and every serve reads it, never raw data; probes cost
    * O(files·K) driver-side bit tests. */
  val BfFiles = 64
  val BfAppendFiles = 8

  private[graft] def bloomLayoutTableOnce(spark: SparkSession, dir: String,
                                          prefix: String,
                                          rowFilter: String): DataFrame = {
    val table = prefix +
      dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    graft.core.Warehouse.tableOnce(spark, table, "file_id") {
      import org.apache.spark.sql.functions._
      val r0 = Tables.load(spark, dir, "lineitem")
        .filter(rowFilter)
        .selectExpr("l_orderkey AS o", "CAST(l_linenumber AS BIGINT) AS ln",
          "l_partkey AS p",
          "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents")
        .transform(graft.core.EngineCache.persisted)
      val b = r0.agg(min("o"), max("o"), count(lit(1))).head()
      val (omn, omx, n) = (b.getLong(0), b.getLong(1), b.getLong(2))
      // ties beyond (o, ln, p, cents) are fully interchangeable rows, so
      // every file's multiset — all the serve reads — is deterministic
      DistributedRank.rankOnlyBounded(r0, "rk", "o", desc = false,
          omn.toDouble, omx.toDouble,
          col("o"), col("ln"), col("p"), col("cents"))
        .withColumn("file_id",
          expr(s"CAST(((rk - 1) * $BfFiles) div $n AS INT)"))
        .select("o", "ln", "p", "cents", "file_id")
        .repartition(col("file_id"))
    }
  }

  /** Per-file Bloom manifest over the at-rest layout: one filter + the
    * file's p-bounds per file_id. */
  private[graft] def bloomManifestTableOnce(spark: SparkSession,
                                            dir: String, prefix: String,
                                            rows: DataFrame): DataFrame = {
    val table = prefix +
      dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    graft.core.Warehouse.tableOnce(spark, table) {
      import org.apache.spark.sql.functions._
      rows.groupBy("file_id").agg(expr("bloom_build(p)").as("sk"),
        min("p").as("p_lo"), max("p").as("p_hi"))
    }
  }

  /** The probe keys: the manifest's global p-bounds split on thirds —
    * pure integer arithmetic both engines replay. */
  private def bloomProbeKeys(pmn: Long, pmx: Long): Seq[Long] =
    (0L to 3L).map(i => pmn + (pmx - pmn) * i / 3)

  /** Bloom-positive (key, file_id) candidates + per-key aggregates off
    * the pruned scan — the serve core shared by q255 and q256, and the
    * spec entry point. */
  private[graft] def bloomServeOf(spark: SparkSession, keys: Seq[Long],
                           man: DataFrame, rows: DataFrame,
                           filesTotal: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val sq = spark
    import sq.implicits._
    val cand = man.select(col("file_id"), col("sk"))
      .crossJoin(broadcast(keys.toDF("k")))
      .filter(expr("bloom_contains(sk, k)"))
      .select(col("k"), col("file_id"))
      .collect() // O(files · K) — the layout family's manifest collect
    val touched = cand.groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(_.getInt(1)) }
    val unionFiles = cand.map(_.getInt(1)).distinct.sorted
    val candDf = cand.map(r => (r.getLong(0), r.getInt(1))).toSeq
      .toDF("k", "file_id")
    val matched = rows
      .filter(col("file_id").isin(unionFiles.map(Integer.valueOf): _*))
      .join(broadcast(candDf), Seq("file_id"))
      .filter(col("p") === col("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"),
        countDistinct("file_id").as("files_with_key"))
    val keyDf = keys.map(k => (k, touched.getOrElse(k, Array.empty[Int])
      .length.toLong)).toDF("k", "ft")
    keyDf.join(matched, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("sum_cents"), lit(0L)).as("sum_cents"),
        coalesce(col("files_with_key"), lit(0L)).as("files_with_key"),
        lit(filesTotal.toLong).as("files_total"),
        (col("ft") >= coalesce(col("files_with_key"), lit(0L)))
          .as("bloom_no_miss"),
        (col("ft") < filesTotal).as("pruned"))
      .orderBy("k")
  }

  def bloomSkipServe(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val rows = bloomLayoutTableOnce(spark, dir, "bflay_", "true")
    val man = bloomManifestTableOnce(spark, dir, "bfman_", rows)
    val b = man.agg(min("p_lo"), max("p_hi")).head()
    bloomServeOf(spark, bloomProbeKeys(b.getLong(0), b.getLong(1)),
      man, rows, BfFiles)
  }

  def bloomSkipServeSql(table: String): String = s"""
    WITH raw AS (
      SELECT l_orderkey AS o, CAST(l_linenumber AS BIGINT) AS ln,
        l_partkey AS p,
        CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM $table),
    nn AS (SELECT count(*) AS n FROM raw),
    fz AS (
      SELECT ((row_number() OVER (ORDER BY o, ln, p, cents) - 1)
          * $BfFiles) // nn.n AS file_id, p, cents
      FROM raw CROSS JOIN nn),
    bb AS (SELECT min(p) AS pmn, max(p) AS pmx FROM raw),
    keys AS (
      SELECT (pmn + ((pmx - pmn) * i) // 3)::BIGINT AS k
      FROM bb, (SELECT unnest([0, 1, 2, 3]) AS i)),
    m AS (
      SELECT keys.k, count(fz.p)::BIGINT AS n_rows,
        coalesce(sum(fz.cents), 0)::BIGINT AS sum_cents,
        count(DISTINCT fz.file_id)::BIGINT AS files_with_key
      FROM keys LEFT JOIN fz ON fz.p = keys.k GROUP BY keys.k)
    SELECT k, n_rows, sum_cents, files_with_key,
      CAST($BfFiles AS BIGINT) AS files_total,
      TRUE AS bloom_no_miss, TRUE AS pruned
    FROM m ORDER BY k"""

  // ---------------------------------------------------------------- q256
  /** Bloom-skipping APPEND — the monotone verb the filter is BUILT
    * for, and the reason it earns its place next to the deletable
    * counting bloom: new files bring their own filters, the manifest
    * grows by union, and NO existing filter is ever touched (bit-OR
    * is append's friend exactly as it is delete's enemy). The base
    * corpus (l_orderkey ≢ [[ZBatchMod]] mod 10 — the SAME arrival
    * event the z-order append q200 honors) lays out and persists
    * once; the arriving batch is the ONLY data ranked (among itself,
    * into [[BfAppendFiles]] fresh file ids past the base's range) and
    * the only text... the only rows bloom-hashed. Probe keys stay
    * FROZEN on the base manifest's bounds (q200's frozen-bounds
    * discipline), the serve spans base ∪ fresh under one candidate
    * pass, and the oracle replays both layouts over all raw rows —
    * the hash match proves the append lost nothing. Append cost:
    * O(batch log batch); the base is never re-ranked or re-hashed. */
  def bloomSkipAppendServe(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = bloomLayoutTableOnce(spark, dir, "bfbase_",
      s"l_orderkey % 10 != $ZBatchMod")
    val baseMan = bloomManifestTableOnce(spark, dir, "bfbaseman_", base)
    val batch = Tables.load(spark, dir, "lineitem")
      .filter(s"l_orderkey % 10 = $ZBatchMod")
      .selectExpr("l_orderkey AS o", "CAST(l_linenumber AS BIGINT) AS ln",
        "l_partkey AS p",
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents")
      .transform(graft.core.EngineCache.persisted)
    val bb = batch.agg(min("o"), max("o"), count(lit(1))).head()
    val (omn, omx, nb) = (bb.getLong(0), bb.getLong(1), bb.getLong(2))
    val fresh = DistributedRank.rankOnlyBounded(batch, "rk", "o",
        desc = false, omn.toDouble, omx.toDouble,
        col("o"), col("ln"), col("p"), col("cents"))
      .withColumn("file_id",
        expr(s"CAST($BfFiles + ((rk - 1) * $BfAppendFiles) div $nb AS INT)"))
      .select("o", "ln", "p", "cents", "file_id")
      .transform(graft.core.EngineCache.persisted)
    val freshMan = fresh.groupBy("file_id")
      .agg(expr("bloom_build(p)").as("sk"),
        min("p").as("p_lo"), max("p").as("p_hi"))
    // probe keys FROZEN on the base manifest — arrivals never move them
    val b = baseMan.agg(min("p_lo"), max("p_hi")).head()
    val keys = bloomProbeKeys(b.getLong(0), b.getLong(1))
    bloomServeOf(spark, keys,
      baseMan.select("file_id", "sk")
        .unionByName(freshMan.select("file_id", "sk")),
      base.select("p", "cents", "file_id")
        .unionByName(fresh.select("p", "cents", "file_id")),
      BfFiles + BfAppendFiles)
  }

  def bloomSkipAppendServeSql(table: String): String = s"""
    WITH rawb AS (
      SELECT l_orderkey AS o, CAST(l_linenumber AS BIGINT) AS ln,
        l_partkey AS p,
        CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM $table WHERE l_orderkey % 10 != $ZBatchMod),
    rawf AS (
      SELECT l_orderkey AS o, CAST(l_linenumber AS BIGINT) AS ln,
        l_partkey AS p,
        CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM $table WHERE l_orderkey % 10 = $ZBatchMod),
    nb AS (SELECT count(*) AS n FROM rawb),
    nf AS (SELECT count(*) AS n FROM rawf),
    fzb AS (
      SELECT ((row_number() OVER (ORDER BY o, ln, p, cents) - 1)
          * $BfFiles) // nb.n AS file_id, p, cents
      FROM rawb CROSS JOIN nb),
    fzf AS (
      SELECT $BfFiles + ((row_number() OVER (ORDER BY o, ln, p, cents) - 1)
          * $BfAppendFiles) // nf.n AS file_id, p, cents
      FROM rawf CROSS JOIN nf),
    fz AS (SELECT * FROM fzb UNION ALL SELECT * FROM fzf),
    bb AS (SELECT min(p) AS pmn, max(p) AS pmx FROM rawb),
    keys AS (
      SELECT (pmn + ((pmx - pmn) * i) // 3)::BIGINT AS k
      FROM bb, (SELECT unnest([0, 1, 2, 3]) AS i)),
    m AS (
      SELECT keys.k, count(fz.p)::BIGINT AS n_rows,
        coalesce(sum(fz.cents), 0)::BIGINT AS sum_cents,
        count(DISTINCT fz.file_id)::BIGINT AS files_with_key
      FROM keys LEFT JOIN fz ON fz.p = keys.k GROUP BY keys.k)
    SELECT k, n_rows, sum_cents, files_with_key,
      CAST(${BfFiles + BfAppendFiles} AS BIGINT) AS files_total,
      TRUE AS bloom_no_miss, TRUE AS pruned
    FROM m ORDER BY k"""

  // ---------------------------------------------------------------- q259
  /** Bloom-skipping PURGE — the honest delete for the MONOTONE filter,
    * completing the q255/q256 lifecycle the only way a bit-OR sketch
    * can support it (the q141-vs-q239 lesson: bits cannot retract, so
    * the delete is physical rewrite + filter REBUILD, never
    * subtraction): tombstoned rows — an o-PREFIX range, o ≤ omn +
    * (omx − omn)/[[BfDelDiv]], the "purge an account range" takedown a
    * key-clustered layout serves best — rewrite out of ONLY the
    * file_id partitions containing them (wholly-deleted files DROP,
    * the q238 zero-word discipline), published as the next crash-safe
    * Warehouse version + gc; filters rebuild from a partition-pruned
    * scan of just the rewritten files, untouched files keep their
    * stored filters verbatim — exact by construction because an
    * untouched file contains no tombstone. Probe keys stay FROZEN on
    * the raw table's p-bounds (deletion never moves the serving
    * protocol), and `files_total` reports the LIVE manifest size so a
    * wholly-dropped file is visible in the output.
    *
    * Torn-publish convergence (the q242/zorderUpdate two-artifact
    * gate): the row gate presence-tests tombstones in the live table;
    * a crash between the rows publish and the manifest publish leaves
    * rows clean but the manifest carrying dropped files — detected by
    * a STRUCTURAL probe (manifest file ids vs the live partition
    * listing, O(files), no data scan) that triggers manifest-only
    * maintenance: orphan manifest rows drop, and any file whose stored
    * p-bounds disagree with a recomputed probe gets its filter
    * rebuilt. Interior-only staleness a bounds probe cannot see is the
    * documented stale-POSITIVE tolerance — the scan re-filters, so
    * aggregates, `files_with_key`, and both invariant booleans stay
    * exact; only pruning degrades until the next purge. The ORACLE
    * replays the original assignment over all raw rows, filters the
    * tombstone range, and serves the frozen keys against the
    * survivors — the hash match proves purge ∘ publish ≡ rebuild,
    * dropped files and all. */
  val BfDelDiv = 8

  def bloomSkipPurgeServe(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val suffix = dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val rowsTable = s"bfpurge_$suffix"
    val manTable = s"bfpurgeman_$suffix"
    val rows0 = bloomLayoutTableOnce(spark, dir, "bfpurge_", "true")
    bloomManifestTableOnce(spark, dir, "bfpurgeman_", rows0)
    // frozen probe keys + the tombstone range, both off raw bounds —
    // pure integer arithmetic the oracle replays verbatim
    val rawB = Tables.load(spark, dir, "lineitem")
      .agg(min("l_partkey"), max("l_partkey"),
        min("l_orderkey"), max("l_orderkey")).head()
    val keys = bloomProbeKeys(rawB.getLong(0), rawB.getLong(1))
    val othr = rawB.getLong(2) + (rawB.getLong(3) - rawB.getLong(2)) / BfDelDiv
    bloomPurgeConverge(spark, rowsTable, manTable, s"o <= $othr")
    val man = graft.core.Warehouse.readTable(spark, manTable)
    bloomServeOf(spark, keys, man,
      graft.core.Warehouse.readTable(spark, rowsTable),
      man.count().toInt)
  }

  /** The purge + convergence core over a published (rows, manifest)
    * pair — shared by q259 and the torn-publish spec. */
  private[graft] def bloomPurgeConverge(spark: SparkSession,
                                        rowsTable: String, manTable: String,
                                        pred: String): Unit = {
    import org.apache.spark.sql.functions._
    def filtersOf(df: DataFrame): DataFrame = df.groupBy("file_id")
      .agg(expr("bloom_build(p)").as("sk"),
        min("p").as("p_lo"), max("p").as("p_hi"))
    val cur = graft.core.Warehouse.readTable(spark, rowsTable)
    if (!cur.filter(pred).isEmpty) {
      // affected files from one projection (a 100 TB deletion feed
      // names keys; the collect is <= BfFiles ints)
      val aff = cur.filter(pred).select("file_id").distinct()
        .collect().map(_.getInt(0)).sorted.map(Integer.valueOf)
      val untouched = cur.filter(!col("file_id").isin(aff: _*))
      val rewritten = cur.filter(col("file_id").isin(aff: _*))
        .filter(s"NOT ($pred)")
      graft.core.Warehouse.publish(untouched.unionByName(rewritten),
        rowsTable, Seq("file_id"))
      graft.core.Warehouse.gc(spark, rowsTable)
      // filter maintenance: rebuild ONLY affected files' filters from a
      // partition-pruned scan; wholly-deleted files simply produce no
      // row and fall out of the manifest
      val oldMan = graft.core.Warehouse.readTable(spark, manTable)
      graft.core.Warehouse.publish(
        oldMan.filter(!col("file_id").isin(aff: _*))
          .select("file_id", "sk", "p_lo", "p_hi")
          .unionByName(filtersOf(
            graft.core.Warehouse.readTable(spark, rowsTable)
              .filter(col("file_id").isin(aff: _*)))), manTable)
      graft.core.Warehouse.gc(spark, manTable)
    }
    // structural convergence: manifest ids must equal the live
    // partition listing (O(files) directory read, no data scan); on
    // mismatch, drop orphans and rebuild any file whose stored bounds
    // disagree with a recomputed probe
    val liveIds = Option(new java.io.File(
        graft.core.Warehouse.publishedPath(spark, rowsTable)).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("file_id="))
      .map(_.getName.drop("file_id=".length).toInt).toSet
    val man0 = graft.core.Warehouse.readTable(spark, manTable)
    val manIds = man0.select("file_id").collect().map(_.getInt(0)).toSet
    if (manIds != liveIds) {
      val live = graft.core.Warehouse.readTable(spark, rowsTable)
      val bounds = live.groupBy("file_id")
        .agg(min("p").as("blo"), max("p").as("bhi"))
      val stale = man0.join(bounds, Seq("file_id"), "inner")
        .filter(col("p_lo") =!= col("blo") || col("p_hi") =!= col("bhi"))
        .select("file_id").collect().map(_.getInt(0)).toSet ++
        (liveIds -- manIds)
      val staleJ = stale.toSeq.sorted.map(Integer.valueOf)
      graft.core.Warehouse.publish(
        man0.filter(col("file_id").isin(manIds.intersect(liveIds)
            .toSeq.sorted.map(Integer.valueOf): _*))
          .filter(!col("file_id").isin(staleJ: _*))
          .select("file_id", "sk", "p_lo", "p_hi")
          .unionByName(filtersOf(
            live.filter(col("file_id").isin(staleJ: _*)))), manTable)
      graft.core.Warehouse.gc(spark, manTable)
    }
  }

  def bloomSkipPurgeServeSql(table: String): String = s"""
    WITH raw AS (
      SELECT l_orderkey AS o, CAST(l_linenumber AS BIGINT) AS ln,
        l_partkey AS p,
        CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM $table),
    nn AS (SELECT count(*) AS n FROM raw),
    ob AS (SELECT min(o) AS omn, max(o) AS omx FROM raw),
    fz AS (
      SELECT o, ((row_number() OVER (ORDER BY o, ln, p, cents) - 1)
          * $BfFiles) // nn.n AS file_id, p, cents
      FROM raw CROSS JOIN nn),
    surv AS (
      SELECT fz.* FROM fz CROSS JOIN ob
      WHERE o > omn + (omx - omn) // $BfDelDiv),
    ft AS (SELECT count(DISTINCT file_id) AS n FROM surv),
    bb AS (SELECT min(p) AS pmn, max(p) AS pmx FROM raw),
    keys AS (
      SELECT (pmn + ((pmx - pmn) * i) // 3)::BIGINT AS k
      FROM bb, (SELECT unnest([0, 1, 2, 3]) AS i)),
    m AS (
      SELECT keys.k, count(surv.p)::BIGINT AS n_rows,
        coalesce(sum(surv.cents), 0)::BIGINT AS sum_cents,
        count(DISTINCT surv.file_id)::BIGINT AS files_with_key
      FROM keys LEFT JOIN surv ON surv.p = keys.k GROUP BY keys.k)
    SELECT k, n_rows, sum_cents, files_with_key,
      ft.n::BIGINT AS files_total,
      TRUE AS bloom_no_miss, TRUE AS pruned
    FROM m CROSS JOIN ft ORDER BY k"""

  def zorderLayoutSql(table: String): String = s"""
    WITH raw AS (
      SELECT l_partkey AS p, l_suppkey AS s, l_orderkey AS o,
        CAST(l_linenumber AS BIGINT) AS ln
      FROM $table),
    bb AS (
      SELECT min(p) AS pmn, max(p) AS pmx, min(s) AS smn, max(s) AS smx
      FROM raw),
    scaled AS (
      SELECT p, s, o, ln,
        ((p - pmn) * ${1L << ZBits}) // (pmx - pmn + 1) AS ps,
        ((s - smn) * ${1L << ZBits}) // (smx - smn + 1) AS ss
      FROM raw CROSS JOIN bb),
    r0 AS (
      SELECT p, s, o, ln, ${zDuck("ps", "ss")} AS z
      FROM scaled),
    nn AS (SELECT count(*) AS n FROM r0),
    fz AS (
      SELECT 'zorder' AS layout,
        ((row_number() OVER (ORDER BY z, o, ln) - 1) * $ZFiles) // nn.n
          AS file_id, p, s
      FROM r0 CROSS JOIN nn),
    fp AS (
      SELECT 'partkey_sorted' AS layout,
        ((row_number() OVER (ORDER BY p, o, ln) - 1) * $ZFiles) // nn.n
          AS file_id, p, s
      FROM r0 CROSS JOIN nn),
    stats AS (
      SELECT layout, file_id, min(p) AS p_lo, max(p) AS p_hi,
        min(s) AS s_lo, max(s) AS s_hi
      FROM (SELECT * FROM fz UNION ALL SELECT * FROM fp) f
      GROUP BY layout, file_id),
    b AS (
      SELECT min(p) AS pmn, max(p) AS pmx, min(s) AS smn, max(s) AS smx,
        min(p) + ((max(p) - min(p) + 1) * 1) // 4 AS pq_lo,
        min(p) + ((max(p) - min(p) + 1) * 2) // 4 - 1 AS pq_hi,
        min(s) + ((max(s) - min(s) + 1) * 1) // 4 AS sq_lo,
        min(s) + ((max(s) - min(s) + 1) * 2) // 4 - 1 AS sq_hi
      FROM r0),
    preds AS (
      SELECT 'both_mid' AS pred, pq_lo AS p_from, pq_hi AS p_to,
        sq_lo AS s_from, sq_hi AS s_to FROM b
      UNION ALL
      SELECT 'part_only', pq_lo, pq_hi, smn, smx FROM b
      UNION ALL
      SELECT 'supp_only', pmn, pmx, sq_lo, sq_hi FROM b),
    m AS (
      SELECT pred, CAST(count(*) AS BIGINT) AS rows_match
      FROM r0 JOIN preds
        ON p BETWEEN p_from AND p_to AND s BETWEEN s_from AND s_to
      GROUP BY pred),
    t AS (
      SELECT layout, pred, CAST(count(*) AS BIGINT) AS files_touched
      FROM stats JOIN preds
        ON p_lo <= p_to AND p_hi >= p_from
          AND s_lo <= s_to AND s_hi >= s_from
      GROUP BY layout, pred)
    SELECT layout, pred, CAST($ZFiles AS BIGINT) AS files_total,
      files_touched,
      ${droundSql(s"files_touched::DOUBLE / $ZFiles", 6)} AS frac_files,
      rows_match
    FROM t JOIN m USING (pred)
    ORDER BY layout, pred"""

  // ---------------------------------------------------------------- q210
  /** At-rest BITMAP INDEX over low-cardinality columns, serving
    * categorical conjunctions by pure bit arithmetic — the categorical
    * complement of the z-order layout's range pruning (q198): z-order
    * answers "which files hold this numeric box", bitmaps answer "how
    * many rows satisfy returnflag=X AND linestatus=Y" without touching
    * the base table at all. Classic engine structure (Oracle bitmap
    * indexes; Roaring in Druid/Pinot/Lucene) in its parquet spelling:
    * each row gets a stable rid — (l_orderkey·8 + l_linenumber)·32
    * plus a per-(orderkey, linenumber) occurrence number, because the
    * fixture carries duplicate line rows; the occurrence window's
    * groups are a handful of rows at any scale, and the 32-per-group
    * capacity is GUARDED loudly at build time (an overflow would
    * silently merge bits — the one corruption a popcount can't see).
    * For every (column, value) the index stores one BIGINT word per
    * 64-rid block with a bit per member row (bit_or of shifted ones).
    * A conjunction is then word-wise AND + popcount, never a base scan.
    *
    * Scale: the index holds ≤ one word per (value, occupied block) —
    * at 100 TB each column's slice is ~rows/64 words × its value count
    * upper-bounded by rows (each row sets exactly ONE bit per column),
    * Hive-partitioned by column so a serve prunes to exactly the two
    * predicate columns; the AND is an equi-join on word_id between two
    * rows/64-sized slices. Build is one scan + one hash agg (bit_or is
    * map-side combinable). Exactness: the oracle is the plain GROUP BY
    * count on the base table, so the hash match proves the rid
    * mapping is injective and every row's bit lands where it must —
    * a single collision or dropped row changes a popcount. */
  /** The stable-rid encode shared by the index build (q210), the
    * append (q214), and the DELETE's tombstone bitmap (q231): because
    * the occurrence window partitions on (l_orderkey, l_linenumber)
    * and every maintenance split (batch append, tombstone) selects on
    * l_orderkey — a PREFIX of the rid key — a group is always wholly
    * inside one side, so ridding a SUBSET of the table assigns the
    * same rid SET to each surviving group as ridding the whole table
    * did, and a tombstone built from only the deleted rows' slice
    * (O(deletes), never a base scan) clears exactly the bits the full
    * build set. */
  private[graft] def bitmapRidded(li: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val occW = Window.partitionBy("l_orderkey", "l_linenumber")
      .orderBy("l_returnflag", "l_linestatus")
    val ridded = li
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_linestatus"))
      .withColumn("occ", row_number().over(occW))
      .transform(graft.core.EngineCache.persisted)
    // capacity guard: build is once-per-table, so the one extra tiny
    // job is cheap insurance against the silent-merge corruption. BOTH
    // multipliers are guarded — occ against its 32-slot budget AND
    // l_linenumber against its 8-slot budget: a non-TPC-H frame with
    // l_linenumber >= 8 would alias rids across orderkeys just as
    // silently as an occ overflow would
    val caps = ridded
      .agg(max("occ").as("mo"), max("l_linenumber").as("ml")).head()
    val maxOcc = Option(caps.getAs[Number](0)).fold(0)(_.intValue())
    val maxLn = Option(caps.getAs[Number](1)).fold(0)(_.intValue())
    require(maxOcc <= 32,
      s"bitmap rid capacity: $maxOcc duplicate (orderkey, linenumber) " +
        "rows exceed the 32-per-group rid budget; widen the multiplier")
    require(maxLn <= 7,
      s"bitmap rid capacity: l_linenumber $maxLn exceeds the 8-slot " +
        "budget of the (orderkey * 8 + linenumber) key; widen the " +
        "multiplier")
    ridded.selectExpr(
      "(l_orderkey * 8 + CAST(l_linenumber AS BIGINT)) * 32 " +
        "+ (occ - 1) AS rid",
      "l_returnflag", "l_linestatus")
  }

  private[graft] def bitmapIndexOf(li: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    bitmapRidded(li)
      .selectExpr("rid", "stack(2, 'l_returnflag', l_returnflag, " +
        "'l_linestatus', l_linestatus) AS (col, val)")
      .selectExpr("col", "val", "rid div 64 AS word_id",
        "shiftleft(CAST(1 AS BIGINT), CAST(rid % 64 AS INT)) AS b")
      .groupBy("col", "val", "word_id")
      .agg(expr("bit_or(b)").as("w"))
  }

  /** Conjunction counts served from the index alone: AND the two
    * columns' word slices, popcount, sum — no base-table access. */
  private[graft] def bitmapCountsOf(idx: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = idx.filter(col("col") === "l_returnflag")
      .select(col("val").as("rf"), col("word_id"), col("w").as("wa"))
    val b = idx.filter(col("col") === "l_linestatus")
      .select(col("val").as("ls"), col("word_id"), col("w").as("wb"))
    a.join(b, Seq("word_id"))
      .groupBy("rf", "ls")
      .agg(sum(expr("CAST(bit_count(wa & wb) AS BIGINT)")).as("n_rows"))
      .orderBy("rf", "ls")
  }

  def bitmapServe(spark: SparkSession, dir: String): DataFrame = {
    val table = "bitmapidx_" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val idx = graft.core.Warehouse.tableOnce(spark, table, "col") {
      bitmapIndexOf(Tables.load(spark, dir, "lineitem"))
    }
    bitmapCountsOf(idx)
  }

  def bitmapServeSql(table: String): String = s"""
    SELECT l_returnflag AS rf, l_linestatus AS ls,
      CAST(count(1) AS BIGINT) AS n_rows
    FROM $table GROUP BY 1, 2 ORDER BY rf, ls"""

  // ---------------------------------------------------------------- q214
  /** Incremental bitmap-index APPEND — q210's maintenance half, the
    * q151/q178/q200 frozen-artifact discipline for the categorical
    * index: the base (~90% of lineitem) builds and publishes its
    * bitmaps ONCE; an arriving batch (l_orderkey ≡ [[BitmapBatchRem]]
    * mod [[BitmapBatchMod]]) is the ONLY data scanned at append time,
    * encoded with the SAME rid scheme, and merged word-wise by bit_or.
    * The merge is lossless by construction: the batch splits on
    * l_orderkey — a prefix of the rid key — so a (orderkey, linenumber)
    * group never spans base and batch, occurrence numbers cannot
    * collide, and base/batch bits are disjoint. Serving the merged
    * index answers conjunctions over the WHOLE table; the oracle
    * computes those counts from all raw rows, so the hash match proves
    * append ∘ store lost nothing. At 100 TB the append touches
    * O(batch) rows + O(batch/64) index words — never the base table. */
  val BitmapBatchMod = 10
  val BitmapBatchRem = 7

  def bitmapAppendServe(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val isBatch = col("l_orderkey") % BitmapBatchMod === BitmapBatchRem
    val table = "bitmapbase_" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val base = graft.core.Warehouse.tableOnce(spark, table, "col") {
      bitmapIndexOf(Tables.load(spark, dir, "lineitem").filter(!isBatch))
    }
    val batch = bitmapIndexOf(
      Tables.load(spark, dir, "lineitem").filter(isBatch))
    val cols = Seq("col", "val", "word_id", "w").map(col)
    val merged = base.select(cols: _*).union(batch.select(cols: _*))
      .groupBy("col", "val", "word_id").agg(expr("bit_or(w)").as("w"))
    bitmapCountsOf(merged)
  }

  // ---------------------------------------------------------------- q231
  /** Bitmap-index DELETE — the q218/q219 tombstone discipline for the
    * categorical index, completing its lifecycle (build q210 → append
    * q214 → DELETE): once bits are packed, an anti-join at encode time
    * is impossible, so deletion is a TOMBSTONE BITMAP — one word per
    * 64-rid block covering only the deleted rows — AND-NOT'd into
    * every conjunction at serve. The tombstone is column-INDEPENDENT
    * (a deleted rid leaves every (column, value) slice at once), so
    * one bitmap retracts the row from all columns, and it is built
    * from ONLY the deleted rows' slice: the delete predicate selects
    * on l_orderkey, a prefix of the rid key, so [[bitmapRidded]] over
    * the tombstoned slice reproduces exactly the rids the full build
    * assigned (scaladoc there) — build cost O(deletes), never a base
    * rescan. The tombstone persists as its own at-rest warehouse
    * artifact beside the immutable index, the same pattern Druid
    * segments and Lucene live-docs bitsets use. Serve stays pure bit
    * arithmetic: popcount(wa AND wb AND NOT tomb) — one extra
    * broadcast-sized join on word_id, no base-table access. The
    * ORACLE is the plain GROUP BY count over the tombstone-FILTERED
    * base rows, so the hash match proves delete ∘ store ≡ rebuild;
    * ScaleOpsSpec additionally pins that equality on a planted frame
    * with duplicate (orderkey, linenumber) groups. */
  val BitmapDelMod = 10
  val BitmapDelRem = 4

  /** The tombstone bitmap of `deleted` rows (already ridded-compatible
    * lineitem columns): (word_id, tw) with a set bit per deleted rid. */
  private[graft] def bitmapTombstoneOf(deleted: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    bitmapRidded(deleted)
      .selectExpr("rid div 64 AS word_id",
        "shiftleft(CAST(1 AS BIGINT), CAST(rid % 64 AS INT)) AS b")
      .groupBy("word_id").agg(expr("bit_or(b)").as("tw"))
  }

  /** Conjunction counts with the tombstone AND-NOT'd in: words with no
    * deletions pass through untouched (coalesce 0), fully-deleted
    * words popcount to zero and vanish from the sums. */
  private[graft] def bitmapCountsDeleted(idx: DataFrame,
                                         tomb: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = idx.filter(col("col") === "l_returnflag")
      .select(col("val").as("rf"), col("word_id"), col("w").as("wa"))
    val b = idx.filter(col("col") === "l_linestatus")
      .select(col("val").as("ls"), col("word_id"), col("w").as("wb"))
    a.join(b, Seq("word_id"))
      .join(broadcast(tomb), Seq("word_id"), "left")
      .groupBy("rf", "ls")
      .agg(sum(expr(
        "CAST(bit_count(wa & wb & ~coalesce(tw, 0L)) AS BIGINT)"))
        .as("n_rows"))
      .filter(col("n_rows") > 0)
      .orderBy("rf", "ls")
  }

  def bitmapDeleteServe(spark: SparkSession, dir: String): DataFrame = {
    val suffix = dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    // the SAME immutable index q210 serves from — deletion never
    // rewrites it, exactly the point of the tombstone design
    val idx = graft.core.Warehouse.tableOnce(spark, s"bitmapidx_$suffix",
      "col") { bitmapIndexOf(Tables.load(spark, dir, "lineitem")) }
    val tomb = graft.core.Warehouse.tableOnce(spark, s"bitmaptomb_$suffix") {
      bitmapTombstoneOf(Tables.load(spark, dir, "lineitem")
        .filter(s"l_orderkey % $BitmapDelMod = $BitmapDelRem"))
    }
    bitmapCountsDeleted(idx, tomb)
  }

  def bitmapDeleteServeSql(table: String): String = s"""
    SELECT l_returnflag AS rf, l_linestatus AS ls,
      CAST(count(1) AS BIGINT) AS n_rows
    FROM $table WHERE NOT (l_orderkey % $BitmapDelMod = $BitmapDelRem)
    GROUP BY 1, 2 ORDER BY rf, ls"""

  // ---------------------------------------------------------------- q238
  /** Physical PURGE of the bitmap index — the compaction q231's
    * tombstone defers to, completing the categorical index's lifecycle
    * exactly as q225 completes ANN's and q232 the z-order layout's:
    * build (q210) → append (q214) → tombstone (q231) → PURGE. The
    * purge folds the tombstone bitmap into the stored words ONCE —
    * `w AND NOT tw` via a broadcast left join on word_id, words that
    * zero out are dropped — and PUBLISHES the rewrite as the next
    * crash-safe version of the same warehouse table
    * ([[graft.core.Warehouse.publish]]: readers see old-complete or
    * new-complete, never a torn index), retiring the superseded
    * version via [[graft.core.Warehouse.gc]]. Serving then needs NO
    * tombstone join — the bits are physically gone — and the ORACLE IS
    * q231's (the plain GROUP BY over tombstone-filtered base rows), so
    * the hash match proves purge ∘ publish ≡ tombstone view ≡ rebuild.
    * The purge gate presence-tests the LIVE table for tombstoned bits
    * (any stored word intersecting the tombstone) rather than trusting
    * a version number — idempotent under any version history,
    * including a persistent warehouse root where a fresh JVM's
    * tableOnce republishes the unpurged index. Cost: the gate and the
    * fold each scan only the index (≤ rows/64 words per column) and
    * broadcast the O(deletes/64)-word tombstone; the rewrite is the
    * index's own bytes. The base table is NEVER rescanned — the
    * tombstone builds from the deleted rows' slice alone
    * ([[bitmapRidded]]'s prefix-split guarantee). Runs against its OWN
    * table, not q210/q231's serving tables: compaction of a live index
    * is a publish-then-flip, per the Warehouse versioned-reader
    * contract. */
  /** The tombstone folded into the stored words: affected words AND-NOT,
    * zeroed words drop — the purge's whole arithmetic, shared with the
    * planted-frame spec. Idempotent: re-folding the same tombstone is a
    * no-op because the cleared bits are already zero. */
  private[graft] def bitmapPurgedOf(idx: DataFrame,
                                    tomb: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    idx.join(broadcast(tomb), Seq("word_id"), "left")
      .select(col("col"), col("val"), col("word_id"),
        expr("w & ~coalesce(tw, 0L)").as("w"))
      .filter(col("w") =!= 0L)
  }

  def bitmapPurgeServe(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val suffix = dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val table = s"bitmappurge_$suffix"
    graft.core.Warehouse.tableOnce(spark, table, "col") {
      bitmapIndexOf(Tables.load(spark, dir, "lineitem"))
    }
    // O(deletes) slice → O(deletes/64) words; read twice (gate + fold)
    val tomb = graft.core.EngineCache.persisted(
      bitmapTombstoneOf(Tables.load(spark, dir, "lineitem")
        .filter(s"l_orderkey % $BitmapDelMod = $BitmapDelRem")))
    val cur = graft.core.Warehouse.readTable(spark, table)
    val dirty = !cur.join(broadcast(tomb), Seq("word_id"))
      .filter(expr("(w & tw) != 0")).isEmpty
    if (dirty) {
      graft.core.Warehouse.publish(bitmapPurgedOf(cur, tomb), table,
        Seq("col"))
      graft.core.Warehouse.gc(spark, table) // retire the pre-purge tree
    }
    bitmapCountsOf(graft.core.Warehouse.readTable(spark, table))
      .filter(col("n_rows") > 0)
  }

  // ---------------------------------------------------------------- q212
  /** ANALYZE-style column profile of lineitem — the statistics pass a
    * cost-based planner (and q201's sketch-based estimator) feeds on:
    * per column, exact NDV, null count, typed min/max, and mean string
    * length, emitted as one row per column. All ~40 aggregates ride in
    * ONE SELECT over ONE scan: Spark plans the eleven COUNT(DISTINCT)s
    * as a single Expand (scan once, replicate rows per distinct-group,
    * partial-aggregate map-side) — the same shape ANALYZE TABLE uses;
    * at petabyte scale you would swap exact NDV for the engine's HLL
    * column (q133) and keep every other aggregate unchanged. The
    * unpivot runs on the ONE aggregated row, so downstream sees 11
    * rows at any data size; the Spark side persists that row because
    * the unpivot references it once per column and Spark inlines CTEs.
    * Timestamp min/max report as epoch millis (dialect-bridged:
    * unix_millis vs epoch_ms on identical microsecond values);
    * doubles are parquet-exact values, untouched by aggregation order
    * (min/max are order-free), so no grid is needed. */
  private val StatNumCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val StatStrCols = Seq("l_returnflag", "l_linestatus")
  private val StatTsCols = Seq("l_shipdate")

  private[operators] def colStatsWideSql(table: String,
                                         ms: String => String): String = {
    val aggs = (
      StatNumCols.map(c => s"count(DISTINCT $c) AS ndv_$c, " +
        s"count($c) AS nn_$c, CAST(min($c) AS DOUBLE) AS mn_$c, " +
        s"CAST(max($c) AS DOUBLE) AS mx_$c") ++
      StatStrCols.map(c => s"count(DISTINCT $c) AS ndv_$c, " +
        s"count($c) AS nn_$c, min($c) AS mns_$c, max($c) AS mxs_$c, " +
        s"${avgSql(s"length($c)", 6)} AS al_$c") ++
      StatTsCols.map(c => s"count(DISTINCT $c) AS ndv_$c, " +
        s"count($c) AS nn_$c, CAST(${ms(s"min($c)")} AS DOUBLE) AS mn_$c, " +
        s"CAST(${ms(s"max($c)")} AS DOUBLE) AS mx_$c")
    ).mkString(",\n      ")
    s"SELECT count(1) AS n, $aggs FROM $table"
  }

  /** The unpivot half: one branch per column over the 1-row wide frame
    * `w`. `strT` bridges the NULL-typing dialect gap (STRING/VARCHAR). */
  private[operators] def colStatsRowsSql(w: String, strT: String): String = (
    StatNumCols.map(c => s"SELECT '$c' AS col_name, ndv_$c AS ndv, " +
      s"n - nn_$c AS n_nulls, mn_$c AS min_num, mx_$c AS max_num, " +
      s"CAST(NULL AS $strT) AS min_str, CAST(NULL AS $strT) AS max_str, " +
      s"CAST(NULL AS DOUBLE) AS avg_len FROM $w") ++
    StatStrCols.map(c => s"SELECT '$c', ndv_$c, n - nn_$c, " +
      s"CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mns_$c, mxs_$c, " +
      s"al_$c FROM $w") ++
    StatTsCols.map(c => s"SELECT '$c', ndv_$c, n - nn_$c, mn_$c, mx_$c, " +
      s"CAST(NULL AS $strT), CAST(NULL AS $strT), " +
      s"CAST(NULL AS DOUBLE) FROM $w")
  ).mkString("\n      UNION ALL ") + "\n      ORDER BY col_name"

  def colStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    colStatsOn(spark, "lineitem")
  }

  /** Core of q212 over any registered lineitem-shaped view.
    *
    * The ORACLE computes all eleven COUNT(DISTINCT)s in one SELECT;
    * Spark plans that shape as a single Expand — the scan replicated
    * 12× into ONE (gid, value) shuffle, which measured 30 s at sf0.1.
    * The engine instead persists the projected base ONCE and runs each
    * column's aggregate as its own skinny two-stage distinct (map-side
    * partial dedup), unioned into the same 11-row output: total shuffle
    * is Σ per-column NDV rows instead of 12× the corpus — the shape
    * that survives a 100× scale-up. Same values, same oracle. */
  private[graft] def colStatsOn(spark: SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // l_shipdate reads as TIMESTAMP_NTZ (tz-naive parquet); unix_millis
    // rejects NTZ, so cast first — session tz is pinned UTC, so the cast
    // is value-preserving and matches DuckDB's naive epoch_ms
    val base = spark.table(table)
      .select((StatNumCols ++ StatStrCols).map(col) :+
        expr(s"unix_millis(CAST(${StatTsCols.head} AS TIMESTAMP))")
          .as(StatTsCols.head): _*)
      .transform(graft.core.EngineCache.persisted)
    colStatsOf(base)
  }

  /** [[colStatsOn]] over an already-projected base frame (numeric +
    * string columns raw, the timestamp column pre-bridged to epoch
    * millis under its own name). */
  private[graft] def colStatsOf(base: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val nulls = (c: String) => (count(lit(1)) - count(col(c))).as("n_nulls")
    def strT = org.apache.spark.sql.types.StringType
    val rows = (
      StatNumCols.map(c => base.agg(
        countDistinct(col(c)).as("ndv"), nulls(c),
        min(col(c)).cast("double").as("min_num"),
        max(col(c)).cast("double").as("max_num"))
        .select(lit(c).as("col_name"), col("ndv"), col("n_nulls"),
          col("min_num"), col("max_num"),
          lit(null).cast(strT).as("min_str"), lit(null).cast(strT).as("max_str"),
          lit(null).cast("double").as("avg_len"))) ++
      StatStrCols.map(c => base.agg(
        countDistinct(col(c)).as("ndv"), nulls(c),
        min(col(c)).as("mns"), max(col(c)).as("mxs"),
        davg(length(col(c)).cast("double"), 6).as("al"))
        .select(lit(c).as("col_name"), col("ndv"), col("n_nulls"),
          lit(null).cast("double").as("min_num"),
          lit(null).cast("double").as("max_num"),
          col("mns").as("min_str"), col("mxs").as("max_str"),
          col("al").as("avg_len"))) ++
      StatTsCols.map(c => base.agg(
        countDistinct(col(c)).as("ndv"), nulls(c),
        min(col(c)).cast("double").as("min_num"),
        max(col(c)).cast("double").as("max_num"))
        .select(lit(c).as("col_name"), col("ndv"), col("n_nulls"),
          col("min_num"), col("max_num"),
          lit(null).cast(strT).as("min_str"), lit(null).cast(strT).as("max_str"),
          lit(null).cast("double").as("avg_len")))
    )
    rows.reduce(_ union _).orderBy("col_name")
  }

  def colStatsOracleSql: String =
    s"""WITH w AS (${colStatsWideSql("lineitem", c => s"epoch_ms($c)")})
      ${colStatsRowsSql("w", "VARCHAR")}"""

  // ---------------------------------------------------------------- q216
  /** EQUI-DEPTH histogram over l_extendedprice — the other histogram a
    * cost-based planner stores (q91 is equi-width, q212 the scalar
    * profile): [[HistBuckets]] buckets of equal ROW count, each with
    * its value bounds and NDV, so selectivity of any range predicate
    * reads off as (buckets covered)/B regardless of skew — the reason
    * planners prefer equi-depth under heavy-tailed data. The ORACLE
    * assigns buckets with a global ntile(B) window; the Spark plan
    * must NOT (empty-partition window = every row through one task) —
    * it ranks with [[DistributedRank]]'s range-partitioned two-pass
    * scheme and derives the tile arithmetically, bit-identical ntile
    * semantics under the (cents) order. Ties may land either side of
    * a boundary in either engine, but every reported aggregate
    * (count, min, max, NDV per bucket) depends only on the sorted
    * cents MULTISET, so tie placement cannot show in the output. */
  val HistBuckets = 20

  def equiDepthHist(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val li = Tables.load(spark, dir, "lineitem")
      .selectExpr("CAST(round(l_extendedprice * 100) AS BIGINT) AS cents")
      .transform(graft.core.EngineCache.persisted)
    val n = li.count()
    DistributedRank.rankOnly(li, "rk", "cents", desc = false, col("cents"))
      .withColumn("bucket",
        DistributedRank.ntileFromRank("rk", n, HistBuckets))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), min("cents").as("lo_cents"),
        max("cents").as("hi_cents"), countDistinct("cents").as("ndv"))
      .orderBy("bucket")
  }

  def equiDepthHistSql(table: String): String = s"""
    WITH c AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM $table),
    t AS (SELECT cents, ntile($HistBuckets) OVER (ORDER BY cents) AS bucket
          FROM c)
    SELECT bucket::INT AS bucket, count(*)::BIGINT AS n_rows,
      min(cents) AS lo_cents, max(cents) AS hi_cents,
      count(DISTINCT cents)::BIGINT AS ndv
    FROM t GROUP BY bucket ORDER BY bucket"""

  // ---------------------------------------------------------------- q224
  /** MERGEABLE profile refresh — the maintenance half q212's scaladoc
    * promises ("at petabyte scale exact NDV swaps for the HLL column"):
    * the base table's per-column profile — row count, null count, typed
    * min/max, and an HLL sketch of the values — publishes ONCE to the
    * warehouse; an arriving batch (l_orderkey ≡ [[ProfBatchRem]] mod
    * [[ProfBatchMod]]) is the ONLY data profiled at refresh time, and
    * the current profile is a pure MERGE: counts add, min/max fold,
    * sketches hll_merge — O(columns) arithmetic, no base rescan ever.
    * The oracle computes every mergeable statistic from the FULL raw
    * table, so the hash match PROVES the merge is exact for n / nulls /
    * min / max; NDV ships as the q133 contract (exact count for the
    * hash + a within-5% boolean on the merged-sketch estimate — HLL
    * p=12 holds ~1.6% error). Numeric + timestamp columns (timestamps
    * bridge to epoch millis); string NDV maintenance is the identical
    * sketch column, q135's lifecycle. */
  val ProfBatchMod = 10
  val ProfBatchRem = 1

  private def profCols: Seq[String] = StatNumCols :+ StatTsCols.head

  /** Project to the profiled columns, timestamp pre-bridged. */
  private def profProjected(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.select(StatNumCols.map(col) :+
      expr(s"unix_millis(CAST(${StatTsCols.head} AS TIMESTAMP))")
        .as(StatTsCols.head): _*)
  }

  /** One profile row per column over a projected frame: (col_name, n,
    * n_nulls, min_num, max_num, sk). Values sketch via the 60-bit hash
    * of their canonical string — engine-internal only, so cross-engine
    * string formatting never matters.
    *
    * r13 optimization (guide §1.2 — fewer passes): every column's
    * (non-null count, min, max, HLL) rides in ONE wide aggregate over
    * ONE scan, where the old spelling ran a separate filtered
    * aggregation job per column (8 cache scans + 8 job schedules for
    * the same numbers). Null discipline is unchanged: count/min/max
    * skip nulls intrinsically, and the sketch carries a
    * `FILTER (WHERE c IS NOT NULL)` clause so the aggregator's update
    * never sees a null-row hash — exactly the rows the old per-column
    * `filter(isNotNull)` fed it. The single wide row is read to the
    * driver (bounded: 1 row, O(columns) sketch blobs — the q289
    * LocalRelation-readout precedent) and unpivoted locally, so the
    * per-column output frame costs zero further jobs. */
  private def profileRowsOf(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    val base = df.transform(graft.core.EngineCache.persisted)
    val n = base.count()
    val aggs = profCols.flatMap { c =>
      Seq(count(col(c)).as(s"nn_$c"),
        min(col(c)).cast("double").as(s"mn_$c"),
        max(col(c)).cast("double").as(s"mx_$c"),
        expr("hll_build(" +
          graft.core.Determinism.xhashExpr(s"CAST($c AS STRING)") +
          s") FILTER (WHERE $c IS NOT NULL)").as(s"sk_$c"))
    }
    val wide = base.agg(aggs.head, aggs.tail: _*)
    val row = wide.head()
    val localWide = spark.createDataFrame(
      java.util.Collections.singletonList(row), wide.schema)
    profCols.map { c =>
      localWide.select(lit(c).as("col_name"), lit(n).as("n"),
        (lit(n) - col(s"nn_$c")).as("n_nulls"),
        col(s"mn_$c").as("min_num"), col(s"mx_$c").as("max_num"),
        col(s"sk_$c").as("sk"))
    }.reduce(_ union _)
  }

  /** q224's per-batch profile over a raw lineitem-shaped frame — the
    * streaming twin's entry point. */
  private[graft] def profileRowsOfProjected(li: DataFrame): DataFrame =
    profileRowsOf(profProjected(li))

  def profileRefresh(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val isBatch = col("l_orderkey") % ProfBatchMod === ProfBatchRem
    val li = Tables.load(spark, dir, "lineitem")
    val table = "colprof_base_" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val baseProf = graft.core.Warehouse.tableOnce(spark, table) {
      profileRowsOf(profProjected(li.filter(!isBatch)))
    }
    val batchProf = profileRowsOf(profProjected(li.filter(isBatch)))
    val cols = Seq("col_name", "n", "n_nulls", "min_num", "max_num", "sk")
    val merged = baseProf.select(cols.map(col): _*)
      .union(batchProf.select(cols.map(col): _*))
      .groupBy("col_name")
      .agg(sum("n").as("n_rows"), sum("n_nulls").as("n_nulls"),
        min("min_num").as("min_num"), max("max_num").as("max_num"),
        expr("hll_merge_est(sk)").as("ndv_est"))
    // gate-only exact pass: the oracle needs exact NDV to hash against;
    // production serves ndv_est and never runs this scan
    val exact = profProjected(li).transform(graft.core.EngineCache.persisted)
    val ndv = profCols.map(c =>
      exact.agg(countDistinct(col(c)).as("ndv_exact"))
        .select(lit(c).as("col_name"), col("ndv_exact")))
      .reduce(_ union _)
    merged.join(ndv, "col_name")
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("min_num"), col("max_num"), col("ndv_exact"),
        (abs(col("ndv_est") - col("ndv_exact")) <=
          col("ndv_exact") * 0.05).as("within_5pct"))
      .orderBy("col_name")
  }

  def profileRefreshSql(table: String): String = {
    def branch(c: String, mn: String, mx: String, v: String) = s"""
      SELECT '$c' AS col_name, count(*)::BIGINT AS n_rows,
        (count(*) - count($v))::BIGINT AS n_nulls,
        CAST($mn AS DOUBLE) AS min_num, CAST($mx AS DOUBLE) AS max_num,
        count(DISTINCT $v)::BIGINT AS ndv_exact, TRUE AS within_5pct
      FROM $table"""
    (StatNumCols.map(c => branch(c, s"min($c)", s"max($c)", c)) :+
      branch(StatTsCols.head, s"epoch_ms(min(${StatTsCols.head}))",
        s"epoch_ms(max(${StatTsCols.head}))", StatTsCols.head))
      .mkString("", "\n      UNION ALL ", "\n      ORDER BY col_name")
  }

  /** DELETE semantics of the mergeable profile — the honest contract
    * the append-only merge above cannot give. Counts are a group:
    * subtracting the tombstoned slice's (n, n_nulls) retracts them
    * EXACTLY. min / max / HLL are monotone semilattice summaries —
    * they only ever widen — so no arithmetic on the stored profile can
    * retract a deleted extremum or a deleted value's sketch
    * contribution. After a delete the stored min/max are therefore
    * BOUNDS (a true min ≥ stored min, a true max ≤ stored max) and the
    * NDV estimate an over-count, and this helper says so per column
    * instead of pretending: `min_stale` / `max_stale` flag columns
    * where a tombstoned row ATTAINED the stored extremum (conservative
    * — a surviving tie may keep the bound exact, but the profile alone
    * cannot certify that), `ndv_stale` flags any deletion at all. A
    * serve layer either carries these flags (and treats flagged stats
    * as bounds) or routes flagged columns through the recompute path —
    * [[profileRowsOfProjected]] over the tombstone-filtered base,
    * scanning ONLY flagged columns' partitions at 100 TB. The
    * staleness probe itself needs just the tombstoned slice's profile:
    * O(deletes) work, the q231 locality rule. ScaleOpsSpec pins all
    * three behaviors on a planted frame. */
  private[graft] def profileAfterDelete(prof: DataFrame,
                                        tombProf: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val t = tombProf.groupBy("col_name")
      .agg(sum("n").as("tn"), sum("n_nulls").as("tnulls"),
        min("min_num").as("tmin"), max("max_num").as("tmax"))
    prof.join(broadcast(t), Seq("col_name"), "left")
      .select(col("col_name"),
        (col("n") - coalesce(col("tn"), lit(0L))).as("n_rows"),
        (col("n_nulls") - coalesce(col("tnulls"), lit(0L))).as("n_nulls"),
        col("min_num"), col("max_num"),
        (coalesce(col("tmin"), lit(Double.MaxValue)) <= col("min_num"))
          .as("min_stale"),
        (coalesce(col("tmax"), lit(Double.MinValue)) >= col("max_num"))
          .as("max_stale"),
        (coalesce(col("tn"), lit(0L)) > 0).as("ndv_stale"))
  }

  // ---------------------------------------------------------------- q222
  /** k-ANONYMITY audit (Sweeney 2002) — the privacy-engineering
    * complement of q83's PII redaction: rows whose QUASI-IDENTIFIER
    * tuple (nation, market segment, account-balance band) lands in an
    * equivalence class smaller than [[KAnonK]] are re-identifiable by
    * linkage, redacted direct identifiers or not. The audit emits
    * every violating class with its size — the worklist a
    * generalization / suppression pass consumes. One hash agg on the
    * quasi-identifier tuple; output is O(violating classes) at any
    * scale. Banding is a fixed-width floor on the SAME stored double
    * in both engines, so class membership cannot drift cross-engine.
    * Dialect-neutral: one string is both the Spark plan and the
    * oracle. */
  val KAnonK = 5

  def kAnonymitySql(table: String): String = s"""
    WITH q AS (
      SELECT c_nationkey AS nation, c_mktsegment AS segment,
        CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
      FROM $table),
    cls AS (
      SELECT nation, segment, bal_band, count(1) AS class_size
      FROM q GROUP BY nation, segment, bal_band)
    SELECT nation, segment, bal_band,
      CAST(class_size AS BIGINT) AS class_size
    FROM cls WHERE class_size < $KAnonK
    ORDER BY nation, segment, bal_band"""

  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "customer").createOrReplaceTempView("customer")
    spark.sql(kAnonymitySql("customer"))
  }

  // ---------------------------------------------------------------- q260
  /** l-DIVERSITY audit (Machanavajjhala et al. 2007) — the attack
    * q222's k-anonymity cannot see: a class of k ≥ [[KAnonK]] rows is
    * still fully disclosed if every row shares one SENSITIVE value
    * (the homogeneity attack — the linker learns the secret without
    * re-identifying anyone). Quasi-identifiers here are (nation,
    * account-balance band) and the sensitive attribute is the market
    * segment: every class whose sensitive support is below [[LDivL]]
    * distinct values is emitted with its size, its distinct-sensitive
    * count, and its modal sensitive frequency — `max_freq` is the
    * exact-integer input a (c, l)-recursive-diversity check consumes
    * next, kept a count (not a ratio) so no float crosses the engine
    * boundary. Two hash aggs (class × sensitive, then class); output
    * O(violating classes) at any scale. Dialect-neutral: one string is
    * both the Spark plan and the oracle. */
  val LDivL = 3

  def lDiversitySql(table: String): String = s"""
    WITH q AS (
      SELECT c_nationkey AS nation,
        CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
        c_mktsegment AS segment
      FROM $table),
    sv AS (
      SELECT nation, bal_band, segment, count(1) AS cnt
      FROM q GROUP BY nation, bal_band, segment),
    cls AS (
      SELECT nation, bal_band,
        CAST(sum(cnt) AS BIGINT) AS class_size,
        CAST(count(1) AS BIGINT) AS n_sensitive,
        CAST(max(cnt) AS BIGINT) AS max_freq
      FROM sv GROUP BY nation, bal_band)
    SELECT nation, bal_band, class_size, n_sensitive, max_freq
    FROM cls WHERE n_sensitive < $LDivL
    ORDER BY nation, bal_band"""

  def lDiversity(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "customer").createOrReplaceTempView("customer")
    spark.sql(lDiversitySql("customer"))
  }

  // ---------------------------------------------------------------- q266
  /** t-CLOSENESS audit (Li, Li & Venkatasubramanian 2007) — the attack
    * q260's l-diversity cannot see: a class can carry l distinct
    * sensitive values yet still leak if its DISTRIBUTION over them
    * diverges from the table's (the skewness attack — 49 AUTOMOBILE +
    * 1 each of four others is 5-diverse and still tells the linker
    * "almost certainly AUTOMOBILE"). Closeness here is total variation
    * distance — the standard EMD instantiation for a categorical
    * sensitive attribute — between the class's sensitive distribution
    * and the global one, and the audit emits every class with
    * TVD > [[TCloseNum]]/[[TCloseDen]]. Exact integers end to end: TVD
    * = Σ|cnt_gs·N − glob_s·size_g| / (2·N·size_g), so the predicate is
    * `den·Σ|…| > 2·num·N·size_g` and the emitted numerator/denominator
    * pair is the exact rational a suppression pass consumes — no float
    * ever crosses the engine boundary. Absent sensitive values
    * contribute |0 − glob_s·size_g| via the classes × domain cross
    * join, which is O(classes·|domain|) — tiny at any scale. Three
    * hash aggs + one broadcast-sized join; output O(violating
    * classes). Dialect-neutral: one string is both the Spark plan and
    * the oracle. CARDINALITY BOUND (q274's honesty note): the
    * cnt·N and gcnt·class_size products are bounded by N², which
    * exceeds int64 once the table passes ~3·10⁹ rows — past that
    * this spelling THROWS under ANSI rather than silently wrapping;
    * the DECIMAL(38,0) widening q277 uses is the escape. */
  val TCloseNum = 1
  val TCloseDen = 5 // t = 0.2

  def tClosenessSql(table: String): String = s"""
    WITH q AS (
      SELECT c_nationkey AS nation,
        CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
        c_mktsegment AS segment
      FROM $table),
    sv AS (
      SELECT nation, bal_band, segment, count(1) AS cnt
      FROM q GROUP BY nation, bal_band, segment),
    cls AS (
      SELECT nation, bal_band, CAST(sum(cnt) AS BIGINT) AS class_size
      FROM sv GROUP BY nation, bal_band),
    gdist AS (
      SELECT segment, CAST(count(1) AS BIGINT) AS gcnt FROM q
      GROUP BY segment),
    tot AS (SELECT CAST(count(1) AS BIGINT) AS n FROM q),
    dist AS (
      SELECT c.nation, c.bal_band, c.class_size,
        CAST(sum(abs(coalesce(s.cnt, 0) * t.n - g.gcnt * c.class_size))
          AS BIGINT) AS tvd_num,
        CAST(2 * max(t.n) * max(c.class_size) AS BIGINT) AS tvd_den
      FROM cls c
      CROSS JOIN gdist g
      CROSS JOIN tot t
      LEFT JOIN sv s ON s.nation = c.nation AND s.bal_band = c.bal_band
        AND s.segment = g.segment
      GROUP BY c.nation, c.bal_band, c.class_size)
    SELECT nation, bal_band, class_size, tvd_num, tvd_den
    FROM dist
    WHERE tvd_num * $TCloseDen > tvd_den * $TCloseNum
    ORDER BY nation, bal_band"""

  def tCloseness(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "customer").createOrReplaceTempView("customer")
    spark.sql(tClosenessSql("customer"))
  }

  // ---------------------------------------------------------------- q268
  /** BENFORD first-digit audit (Benford 1938; Nigrini 1996's fraud
    * screen) — the data-quality family's distributional check on
    * AMOUNTS, complementing q221's schema-level drift: naturally
    * occurring multiplicative quantities put digit d first with
    * probability log10(1+1/d), and a group whose invoices stray far
    * from that curve is where fabricated, capped, or unit-mangled
    * values hide. Per (order-priority group, leading digit of the
    * exact cents amount): the exact observed count, the expected count
    * on a 1e-6 grid, and the χ² contribution on the same grid — the
    * statistic is the per-group column sum, q120's discipline. The
    * Benford probabilities enter as 1e-9-scaled INTEGER literals
    * (log10 is libm — never computed at query time), digit extraction
    * is integer-string arithmetic, and every grid value derives from
    * identical exactly-rounded IEEE ops on identical integers in both
    * engines (q263's argument), so the hash gate holds bit-for-bit.
    * Zero-count digits surface through the groups × 1..9 cross join.
    * One hash agg over one scan; output is O(groups · 9) at any
    * scale. Dialect-neutral: one string is plan and oracle. On this
    * fixture the audit honestly reports NON-conformance — TPC-H
    * totalprice is range-uniform, not multiplicative, and the spec
    * pins that a planted geometric series passes while a planted
    * uniform block fails. */
  def benfordSql(table: String): String = {
    val ben = Seq(301029996L, 176091259L, 124938737L, 96910013L,
      79181246L, 66946790L, 57991947L, 51152522L, 45757491L)
      .zipWithIndex
      .map { case (p, i) =>
        s"SELECT CAST(${i + 1} AS BIGINT) AS digit, $p AS p9" }
      .mkString(" UNION ALL ")
    s"""
    WITH b AS (
      SELECT o_orderpriority AS grp,
        CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM $table),
    d AS (
      SELECT grp,
        CAST(substr(CAST(cents AS STRING), 1, 1) AS BIGINT) AS digit
      FROM b WHERE cents > 0),
    oc AS (
      SELECT grp, digit, CAST(count(1) AS BIGINT) AS n
      FROM d GROUP BY grp, digit),
    tot AS (SELECT grp, CAST(sum(n) AS BIGINT) AS tn FROM oc GROUP BY grp),
    ben AS ($ben),
    grid AS (
      SELECT t.grp, e.digit, t.tn, e.p9,
        CAST(coalesce(o.n, 0) AS BIGINT) AS n_obs
      FROM tot t
      CROSS JOIN ben e
      LEFT JOIN oc o ON o.grp = t.grp AND o.digit = e.digit)
    SELECT grp, digit, n_obs,
      CAST(floor(CAST(tn AS DOUBLE) * p9 / 1e9 * 1e6 + 0.5) AS BIGINT)
        AS exp6,
      CAST(floor(
        (CAST(n_obs AS DOUBLE) * 1e9 - CAST(tn AS DOUBLE) * p9)
        * (CAST(n_obs AS DOUBLE) * 1e9 - CAST(tn AS DOUBLE) * p9)
        / (CAST(tn AS DOUBLE) * p9 * 1e9) * 1e6 + 0.5) AS BIGINT)
        AS chi2c6
    FROM grid ORDER BY grp, digit"""
  }

  def benford(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(benfordSql("orders"))
  }

  // ---------------------------------------------------------------- q269
  /** Incremental MATERIALIZED-VIEW maintenance for a JOIN view — the
    * delta rule every warehouse's denormalization layer lives on
    * (ΔV = ΔR ⋈ S for a one-side change; Blakeley et al. 1986, the
    * DBSP/differential-dataflow insertion rule): the denormalized
    * orders ⋈ customer view publishes ONCE to the warehouse, and when
    * a cohort of orders is REVISED (o_orderkey ≡ [[IvmRem]] mod
    * [[IvmMod]], totalprice doubled — the q236/q245 upsert event for
    * the relational family), the serve anti-joins the cohort's stale
    * view rows out of the immutable base and joins ONLY the revised
    * batch against the broadcast dimension — O(batch) join work, the
    * fact table never rescans, the view never rewrites (compaction
    * folds the overlay later, q225's discipline). The ORACLE computes
    * the full join over the revision-applied orders table, so the
    * hash match proves maintain ∘ store ≡ rebuild-with-new-values.
    * The spec additionally pins version stability of the stored view,
    * pass-through equality for unrevised rows, the doubled cents on
    * the cohort, and that the serve plan reads the published view
    * relation rather than re-deriving it. At 100 TB the base view is
    * the big artifact; maintenance touches O(changed orders) ⋈ a
    * broadcast dimension — the whole point of IVM. */
  val IvmMod = 10
  val IvmRem = 6

  /** The join-view body over an arbitrary orders frame — shared by the
    * base publish, the delta leg, and the spec. `centsExpr` lets the
    * delta leg apply the revision (doubled cents) in one place. */
  private def ivmViewOf(orders: DataFrame, cust: DataFrame,
                        centsExpr: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    orders.selectExpr("o_orderkey", "o_custkey",
        s"CAST($centsExpr AS BIGINT) AS cents")
      .join(broadcast(cust.selectExpr("c_custkey AS o_custkey",
        "c_mktsegment AS segment",
        "CAST(c_nationkey AS BIGINT) AS nation")), "o_custkey")
      .select("o_orderkey", "cents", "segment", "nation")
  }

  private val IvmCents = "floor(o_totalprice * 100 + 0.5)"

  def ivmViewServe(spark: SparkSession, dir: String): DataFrame = {
    val suffix = dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val orders = Tables.load(spark, dir, "orders")
    val cust = Tables.load(spark, dir, "customer")
    val base = graft.core.Warehouse.tableOnce(spark, s"ivmview_$suffix") {
      ivmViewOf(orders, cust, IvmCents)
    }
    val cohort = s"o_orderkey % $IvmMod = $IvmRem"
    val delta = ivmViewOf(orders.filter(cohort), cust, s"($IvmCents) * 2")
    base.filter(s"NOT (o_orderkey % $IvmMod = $IvmRem)")
      .unionByName(delta)
      .orderBy("o_orderkey")
  }

  def ivmViewServeSql(orders: String, customer: String): String = s"""
    SELECT o.o_orderkey,
      CAST(CASE WHEN o.o_orderkey % $IvmMod = $IvmRem
           THEN floor(o.o_totalprice * 100 + 0.5) * 2
           ELSE floor(o.o_totalprice * 100 + 0.5) END AS BIGINT) AS cents,
      c.c_mktsegment AS segment,
      CAST(c.c_nationkey AS BIGINT) AS nation
    FROM $orders o JOIN $customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_orderkey"""

  // ---------------------------------------------------------------- q270
  /** Incremental maintenance of an AGGREGATE view — q269's delta rule
    * for the summary-table half of a warehouse's view layer (Mumick et
    * al. 1997's summary-delta method): the per-priority (n_orders,
    * revenue-cents) rollup publishes ONCE, and the same revised-orders
    * cohort is serviced by aggregating ONLY the cohort twice — its NEW
    * contribution positively and its OLD contribution negatively — and
    * folding the three signed partial sets (stored ∪ +new ∪ −old)
    * through one O(groups) re-aggregation. COUNT and SUM form an
    * abelian GROUP (they retract exactly — the q247/q248 linearity
    * argument at the relational level; min/max would not, the q224
    * staleness lesson), so maintain ∘ store ≡ rebuild-with-new-values
    * holds algebraically and the ORACLE says it verbatim: the full
    * aggregate over revision-applied orders. Maintenance cost is two
    * O(batch) scans of the cohort + arithmetic over O(groups) rows;
    * the fact table never rescans, the stored summary never rewrites.
    * Spec pins version stability, count invariance (the cohort revises
    * in place), revenue growth by exactly the cohort's original cents
    * (doubling adds one original share), and maintained ≡ live
    * rebuild. */
  private def ivmAggOf(orders: DataFrame, centsExpr: String,
                       sign: Int): DataFrame =
    orders.selectExpr("o_orderpriority AS grp",
        s"CAST($centsExpr AS BIGINT) AS cents")
      .groupBy("grp")
      .agg(org.apache.spark.sql.functions.expr(
          s"CAST(count(1) * $sign AS BIGINT)").as("n_orders"),
        org.apache.spark.sql.functions.expr(
          s"CAST(sum(cents) * $sign AS BIGINT)").as("rev_cents"))

  def ivmAggServe(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val suffix = dir.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val orders = Tables.load(spark, dir, "orders")
    val base = graft.core.Warehouse.tableOnce(spark, s"ivmagg_$suffix") {
      ivmAggOf(orders, IvmCents, 1)
    }
    val cohort = orders.filter(s"o_orderkey % $IvmMod = $IvmRem")
    base
      .unionByName(ivmAggOf(cohort, s"($IvmCents) * 2", 1)) // + new
      .unionByName(ivmAggOf(cohort, IvmCents, -1))          // − old
      .groupBy("grp")
      .agg(fsum(col("n_orders")).as("n_orders"),
        fsum(col("rev_cents")).as("rev_cents"))
      .orderBy("grp")
  }

  def ivmAggServeSql(orders: String): String = s"""
    SELECT o_orderpriority AS grp,
      CAST(count(1) AS BIGINT) AS n_orders,
      CAST(sum(CAST(CASE WHEN o_orderkey % $IvmMod = $IvmRem
           THEN floor(o_totalprice * 100 + 0.5) * 2
           ELSE floor(o_totalprice * 100 + 0.5) END AS BIGINT))
        AS BIGINT) AS rev_cents
    FROM $orders GROUP BY o_orderpriority
    ORDER BY grp"""

  // ---------------------------------------------------------------- q221
  /** Snapshot PROFILE-DRIFT audit — the data-contract check
    * (Great-Expectations-shaped) that q212's profile exists to feed:
    * profile two versions of the table and flag, per column, null
    * regressions, range widenings, and NDV changes — the three
    * contract breaches that silently poison downstream models. The
    * "next" snapshot derives deterministically from the base (q86's
    * discipline: tax nulled on one key slice, quantity doubled on
    * another) so both engines audit the identical pair. Runs as two
    * q212 profiles (each ONE scan + skinny distincts) + an 11-row
    * join; at any scale the audit output stays O(columns). */
  val DriftMod = 10
  val DriftTaxRem = 7  // l_tax -> NULL on this slice (null regression)
  val DriftQtyRem = 3  // l_quantity doubled on this slice (range widening)

  private[operators] def driftNextSql(table: String): String = s"""
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
      CASE WHEN l_orderkey % $DriftMod = $DriftQtyRem
           THEN l_quantity * 2 ELSE l_quantity END AS l_quantity,
      l_extendedprice, l_discount,
      CASE WHEN l_orderkey % $DriftMod = $DriftTaxRem
           THEN CAST(NULL AS DOUBLE) ELSE l_tax END AS l_tax,
      l_returnflag, l_linestatus, l_shipdate
    FROM $table"""

  private def colStatsProjected(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.select((StatNumCols ++ StatStrCols).map(col) :+
      expr(s"unix_millis(CAST(${StatTsCols.head} AS TIMESTAMP))")
        .as(StatTsCols.head): _*)
  }

  def profileDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    def prof(df: DataFrame) = colStatsOf(
      colStatsProjected(df).transform(graft.core.EngineCache.persisted))
    val a = prof(spark.table("lineitem"))
      .select(col("col_name"), col("ndv").as("a_ndv"),
        col("n_nulls").as("a_nulls"), col("min_num").as("a_min"),
        col("max_num").as("a_max"))
    val b = prof(spark.sql(driftNextSql("lineitem")))
      .select(col("col_name"), col("ndv").as("b_ndv"),
        col("n_nulls").as("b_nulls"), col("min_num").as("b_min"),
        col("max_num").as("b_max"))
    a.join(b, "col_name")
      .select(col("col_name"), col("a_ndv"), col("b_ndv"),
        col("a_nulls"), col("b_nulls"),
        (col("b_nulls") > col("a_nulls")).as("null_regressed"),
        coalesce(col("b_min") < col("a_min") || col("b_max") > col("a_max"),
          lit(false)).as("range_widened"),
        (col("b_ndv") =!= col("a_ndv")).as("ndv_changed"))
      .orderBy("col_name")
  }

  def profileDriftSql: String = {
    def wide(rel: String) = colStatsWideSql(rel, c => s"epoch_ms($c)")
    s"""
    WITH nxt AS (${driftNextSql("lineitem")}),
    wa AS (${wide("lineitem")}),
    wb AS (${wide("nxt")}),
    pa AS (${colStatsRowsSql("wa", "VARCHAR")}),
    pb AS (${colStatsRowsSql("wb", "VARCHAR")})
    SELECT pa.col_name, pa.ndv AS a_ndv, pb.ndv AS b_ndv,
      pa.n_nulls AS a_nulls, pb.n_nulls AS b_nulls,
      (pb.n_nulls > pa.n_nulls) AS null_regressed,
      coalesce(pb.min_num < pa.min_num OR pb.max_num > pa.max_num, false)
        AS range_widened,
      (pb.ndv <> pa.ndv) AS ndv_changed
    FROM pa JOIN pb USING (col_name) ORDER BY pa.col_name"""
  }

}
