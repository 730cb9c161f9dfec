package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorAggregates.{top1PerGroup, topKPerGroup}

/** Similarity search over an embedding column (`ArrayType(FloatType)`).
  *
  * Two tiers, as a large-scale pipeline needs both:
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) probe
  *    set against the full corpus scan; per-probe heap via a row_number
  *    window. The 100 TB-side table is scanned once, never shuffled.
  *  - [[ivfTopK]]: IVF-style partition pruning — vectors are pre-assigned
  *    to coarse cells (here the fixture's `label`; in production, k-means
  *    cell ids computed offline); a probe only scans its own cell(s), i.e.
  *    the classic inverted-file trade of recall for a ~cells× scan cut.
  *    Cell assignment is a partition column at rest → Spark partition
  *    pruning eliminates the other cells' files entirely.
  *
  * Dot products run in double via a sequential `aggregate` fold (same
  * order as the oracle's list_sum) and are rounded to 6dp before ranking
  * so rank ties are impossible to split differently across engines
  * (vec_id breaks exact ties).
  */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double,
    * rounded to 6dp via the cross-engine half-up (Determinism.dround).
    * Uses the native codegen'd [[graft.functions.CosineSimilarity]] kernel
    * (identical arithmetic order to [[cosineExprComposable]] — asserted in
    * PlanSpec — so oracle hashes are unchanged). The session must carry
    * [[graft.functions.GraftFunctions.table]]. */
  def cosineExpr(a: String, b: String): String =
    s"floor(cosine_sim($a, $b) * 1e6 + 0.5) / 1e6"

  /** The built-ins-only form of [[cosineExpr]]'s kernel (zip_with +
    * aggregate lambdas) — kept as the reference implementation the native
    * expression is verified against. */
  def cosineExprComposable(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"aggregate(zip_with($x, $y, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), " +
        s"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    def norm(x: String) =
      s"sqrt(aggregate(transform($x, p -> CAST(p AS DOUBLE) * CAST(p AS DOUBLE)), " +
        s"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    s"floor((${dot(a, b)} / (${norm(a)} * ${norm(b)})) * 1e6 + 0.5) / 1e6"
  }

  def cosineSql(a: String, b: String): String = {
    // list_dot_product over DOUBLE[] is DuckDB's sequential fused loop:
    // identical element order and identical IEEE ops to the previous
    // list_sum(list_transform(...)) spelling (verified bit-equal on the
    // fixtures — 0/500 mismatches and identical query hashes), but it
    // skips the per-element lambda machinery that made each 64-dim dot
    // cost milliseconds instead of nanoseconds; the five NSW walk
    // oracles alone dropped 1100 s → seconds at sf0.01, which is what
    // let the driver's correctness step fit its window again.
    def dot(x: String, y: String) =
      s"list_dot_product(($x)::DOUBLE[], ($y)::DOUBLE[])"
    def norm(x: String) =
      s"sqrt(list_dot_product(($x)::DOUBLE[], ($x)::DOUBLE[]))"
    s"floor((${dot(a, b)} / (${norm(a)} * ${norm(b)})) * 1e6 + 0.5) / 1e6"
  }

  /** Exact brute-force cosine top-k for a probe subset.
    *
    * The probes broadcast against one corpus scan; ranking is
    * [[graft.functions.VectorAggregates.topKPerGroup]]'s bounded top-k
    * aggregate, NOT a row_number window: partial aggregation reduces
    * each scan partition to ≤ k candidates per query map-side, so the
    * exchange carries O(queries × partitions × k) rows — a window would
    * shuffle every probes×corpus scored row first. Same total order
    * (cos DESC, cand_id ASC), identical output. */
  def bruteForceTopK(vectors: DataFrame, probeFilter: Column, k: Int): DataFrame = {
    val probes = vectors.filter(probeFilter)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val corpus = vectors.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    broadcast(probes)
      .join(corpus, col("query_id") =!= col("cand_id"))
      .withColumn("cos", expr(cosineExpr("qv", "cv")))
      .transform(topKPerGroup(_, "query_id", k, "cos", "cand_id"))
  }

  def bruteForceTopKSql(table: String, probeWhere: String, k: Int): String = s"""
    WITH v AS (SELECT vec_id, embedding FROM $table),
    p AS (SELECT vec_id AS query_id, embedding AS qv FROM v WHERE $probeWhere),
    scored AS (
      SELECT query_id, vec_id AS cand_id, ${cosineSql("qv", "embedding")} AS cos
      FROM p JOIN v ON query_id <> vec_id),
    ranked AS (
      SELECT query_id, cand_id, cos,
        (row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id))::INT AS rnk
      FROM scored)
    SELECT query_id, rnk, cand_id, cos FROM ranked WHERE rnk <= $k
    ORDER BY query_id, rnk"""

  /** Metadata-FILTERED exact top-k — the "filtered vector search" shape
    * every production retrieval stack needs (tenant / language / license
    * predicates over the candidate set). PRE-filtering, not
    * post-filtering: the predicate lands on the corpus scan BEFORE any
    * scoring, so (a) the scan reads only qualifying rows (predicate
    * pushdown to parquet — a selective filter prunes I/O, not just
    * compute) and (b) the top-k is always k deep — post-filtering a
    * top-k list can silently return fewer than k when the filter bites.
    * Same bounded top-k aggregate as [[bruteForceTopK]]: map-side
    * partials, the exchange carries O(queries × partitions × k). */
  def filteredTopK(vectors: DataFrame, probeFilter: Column,
                   candWhere: String, k: Int): DataFrame = {
    val probes = vectors.filter(probeFilter)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val corpus = vectors.filter(expr(candWhere))
      .select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    broadcast(probes)
      .join(corpus, col("query_id") =!= col("cand_id"))
      .withColumn("cos", expr(cosineExpr("qv", "cv")))
      .transform(topKPerGroup(_, "query_id", k, "cos", "cand_id"))
  }

  def filteredTopKSql(table: String, probeWhere: String, candWhere: String,
                      k: Int): String = s"""
    WITH p AS (SELECT vec_id AS query_id, embedding AS qv
               FROM $table WHERE $probeWhere),
    c AS (SELECT vec_id AS cand_id, embedding AS cv
          FROM $table WHERE $candWhere),
    scored AS (
      SELECT query_id, cand_id, ${cosineSql("qv", "cv")} AS cos
      FROM p JOIN c ON query_id <> cand_id),
    ranked AS (
      SELECT query_id, cand_id, cos,
        (row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id))::INT AS rnk
      FROM scored)
    SELECT query_id, rnk, cand_id, cos FROM ranked WHERE rnk <= $k
    ORDER BY query_id, rnk"""

  /** Hard-negative mining for contrastive training: per probe, the k
    * most-similar vectors with a DIFFERENT label — near the anchor in
    * embedding space but semantically negative, exactly the pairs a
    * contrastive objective learns the most from (random negatives are
    * trivially far). Unlike [[filteredTopK]]'s static predicate this is
    * a PER-PAIR relational condition (probe.label ≠ cand.label), so it
    * lives in the join, and the bounded top-k aggregate still keeps
    * the exchange at O(probes × partitions × k). */
  def hardNegatives(vectors: DataFrame, probeFilter: Column, k: Int): DataFrame = {
    val probes = vectors.filter(probeFilter)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val corpus = vectors.select(col("vec_id").as("cand_id"),
      col("embedding").as("cv"), col("label").as("clabel"))
    broadcast(probes)
      .join(corpus, col("qlabel") =!= col("clabel"))
      .withColumn("cos", expr(cosineExpr("qv", "cv")))
      .transform(topKPerGroup(_, "query_id", k, "cos", "cand_id"))
  }

  def hardNegativesSql(table: String, probeWhere: String, k: Int): String = s"""
    WITH p AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
               FROM $table WHERE $probeWhere),
    scored AS (
      SELECT query_id, vec_id AS cand_id, ${cosineSql("qv", "embedding")} AS cos
      FROM p JOIN $table ON qlabel <> label),
    ranked AS (
      SELECT query_id, cand_id, cos,
        (row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id))::INT AS rnk
      FROM scored)
    SELECT query_id, rnk, cand_id, cos FROM ranked WHERE rnk <= $k
    ORDER BY query_id, rnk"""

  /** IVF-style ANN: search only the probe's own coarse cell. */
  def ivfTopK(vectors: DataFrame, cellCol: String, probeFilter: Column, k: Int): DataFrame = {
    val probes = vectors.filter(probeFilter)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col(cellCol).as("qcell"))
    val corpus = vectors.select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
      col(cellCol).as("ccell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    broadcast(probes)
      .join(corpus, col("qcell") === col("ccell") && col("query_id") =!= col("cand_id"))
      .withColumn("cos", expr(cosineExpr("qv", "cv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("qcell").as("cell"), col("rnk"), col("cand_id"), col("cos"))
  }

  def ivfTopKSql(table: String, cellCol: String, probeWhere: String, k: Int): String = s"""
    WITH v AS (SELECT vec_id, embedding, $cellCol AS cell FROM $table),
    p AS (SELECT vec_id AS query_id, embedding AS qv, cell AS qcell FROM v WHERE $probeWhere),
    scored AS (
      SELECT query_id, qcell AS cell, vec_id AS cand_id,
        ${cosineSql("qv", "embedding")} AS cos
      FROM p JOIN v ON qcell = v.cell AND query_id <> vec_id),
    ranked AS (
      SELECT query_id, cell, cand_id, cos,
        (row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id))::INT AS rnk
      FROM scored)
    SELECT query_id, cell, rnk, cand_id, cos FROM ranked WHERE rnk <= $k
    ORDER BY query_id, rnk"""

  /** Near-duplicate pairs by embedding cosine within a blocking cell —
    * the embedding-space analog of LSH dedup. */
  def cosineNearDupPairs(vectors: DataFrame, cellCol: String, tau: Double): DataFrame = {
    val a = vectors.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      col(cellCol).as("cell_a"))
    val b = vectors.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      col(cellCol).as("cell_b"))
    a.join(b, col("cell_a") === col("cell_b") && col("id_a") < col("id_b"))
      .withColumn("cos", expr(cosineExpr("va", "vb")))
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  def cosineNearDupPairsSql(table: String, cellCol: String, tau: Double): String = s"""
    WITH v AS (SELECT vec_id, embedding, $cellCol AS cell FROM $table)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      ${cosineSql("a.embedding", "b.embedding")} AS cos
    FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE ${cosineSql("a.embedding", "b.embedding")} >= $tau
    ORDER BY id_a, id_b"""

  /** Hyperplane-LSH (signed random projections) over embeddings — the
    * blocking-cell-free near-dup path q38 lacks for "fat cells": no
    * precomputed cell column needed, candidates come from banded SRP
    * signatures. `bands` bands of `bits/bands` sig bits each; a pair is a
    * candidate iff some band matches exactly. P(bit agrees) = 1 − θ/π, so
    * the usual LSH S-curve applies: at 10 bands × 6 bits, cos 0.95 pairs
    * are caught w.p. ~1−(1−0.92⁶)^10 ≈ 0.999 while background cos ≈ 0
    * pairs collide on a band w.p. 0.5⁶ ≈ 1.6% — candidates stay
    * O(n·bands·bucket), never all-pairs. Candidates carry their exact
    * (rounded) cosine for verification; one corpus scan computes the
    * signatures (persisted against the self-join recompute). */
  def srpCandidatePairs(vectors: DataFrame, bits: Int, bands: Int): DataFrame = {
    require(bits % bands == 0, s"bits $bits must divide into $bands bands")
    val rows = bits / bands
    val mask = (1L << rows) - 1
    val sig = vectors
      .selectExpr("vec_id AS id", "embedding", s"srp_sig(embedding, $bits) AS sig")
      .transform(graft.core.EngineCache.persisted)
    val keys = (0 until bands).map { b =>
      s"concat('p$b:', CAST(shiftright(sig, ${b * rows}) & $mask AS STRING))"
    }.mkString(", ")
    // shared LSH skeleton (Dedup.lshCandidatePairs): the band join +
    // distinct carry only ids; the 64-float embeddings join back after
    Dedup.joinBackPayload(Dedup.lshCandidatePairs(sig, keys), sig, "embedding")
      .withColumn("cos", expr(cosineExpr("embedding_a", "embedding_b")))
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Thresholded SRP near-dup pairs (the q38 analog without cells). */
  def srpNearDupPairs(vectors: DataFrame, bits: Int, bands: Int,
                      tau: Double): DataFrame =
    srpCandidatePairs(vectors, bits, bands).filter(col("cos") >= tau)

  /** Top-k most-similar SRP candidate pairs — non-degenerate on corpora
    * with no true near-dups (this fixture's max pairwise cos is ~0.51),
    * while still exercising the full signature→banding→verify pipeline. */
  def srpTopPairs(vectors: DataFrame, bits: Int, bands: Int, k: Int): DataFrame =
    srpCandidatePairs(vectors, bits, bands)
      .orderBy(col("cos").desc, col("id_a"), col("id_b"))
      .limit(k)

  /** DuckDB form of the SRP signature: per bit, the sign of the dot
    * product with the same ±1 hyperplane table ([[graft.functions
    * .HashKernels.srpSigns]]), inlined as literals so both engines share
    * it exactly; sequential list_sum matches the kernel's sum order. */
  def srpSigSql(embCol: String, bits: Int, dims: Int): String = {
    val signs = graft.functions.HashKernels.srpSigns(bits, dims)
    (0 until bits).map { i =>
      val lits = signs(i).map(s => if (s > 0) "1.0" else "-1.0").mkString(",")
      // list_dot_product: same sequential sum as the lambda spelling
      // (see cosineSql) — 64 interpreted lambdas per row made the sv
      // CTE alone cost 22 s for 500 vectors in the driver's DuckDB
      s"(CASE WHEN list_dot_product(($embCol)::DOUBLE[], " +
        s"([$lits])::DOUBLE[]) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")::BIGINT")
  }

  def srpTopPairsSql(table: String, bits: Int, bands: Int, k: Int,
                     dims: Int): String = {
    val rows = bits / bands
    val mask = (1L << rows) - 1
    val bandCases = (0 until bands).map { b =>
      s"WHEN $b THEN 'p$b:' || ((sig >> ${b * rows}) & $mask)::VARCHAR"
    }.mkString(" ")
    val bandVals = (0 until bands).map(b => s"($b)").mkString(",")
    s"""
    WITH v AS (
      SELECT vec_id AS id, embedding, ${srpSigSql("embedding", bits, dims)} AS sig
      FROM $table),
    banded AS (
      SELECT id, embedding, CASE blk.band_id $bandCases END AS bk
      FROM v, (VALUES $bandVals) blk(band_id)),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
        a.embedding AS va, b.embedding AS vb
      FROM banded a JOIN banded b ON a.bk = b.bk AND a.id < b.id)
    SELECT id_a, id_b, ${cosineSql("va", "vb")} AS cos
    FROM cand
    ORDER BY cos DESC, id_a, id_b
    LIMIT $k"""
  }

  /** Real IVF cell assignment — the step the fixture's `label` column
    * stood in for: each vector goes to its nearest centroid by cosine
    * (one Lloyd assignment step; iterate for full k-means). Centroids are
    * the deterministic per-cell means of [[centroids]] re-assembled into
    * float arrays (float cast is exact IEEE round-to-nearest in both
    * engines), BROADCAST against one corpus scan — k centroids vs 100 TB
    * of vectors never shuffles the corpus. The argmax is
    * [[graft.functions.VectorAggregates.topKPerGroup]] at k = 1
    * (map-side partials), not a row_number window; ties break toward
    * the lower cell id. */
  def ivfAssign(vectors: DataFrame, cellCol: String): DataFrame = {
    val centArr = centroids(vectors, cellCol)
      .groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, centroid))), " +
        "s -> CAST(s.centroid AS FLOAT))").as("cv"))
    vectors.select(col("vec_id"), col("embedding"))
      .join(broadcast(centArr))
      .withColumn("cos", expr(cosineExpr("embedding", "cv")))
      .transform(topKPerGroup(_, "vec_id", 1, "cos", "cell"))
      .select("vec_id", "cell", "cos")
  }

  def ivfAssignSql(table: String, cellCol: String): String = s"""
    WITH exploded AS (
      SELECT $cellCol AS cell,
        (unnest(range(1, len(embedding) + 1)) - 1)::INT AS dim,
        unnest(embedding) AS v
      FROM $table),
    cent AS (
      SELECT cell, dim, ${graft.core.Determinism.avgSql("v::DOUBLE", 8)} AS c
      FROM exploded GROUP BY cell, dim),
    centarr AS (
      SELECT cell, list_transform(list(c ORDER BY dim), x -> x::FLOAT) AS cv
      FROM cent GROUP BY cell),
    scored AS (
      SELECT vec_id, cell, ${cosineSql("embedding", "cv")} AS cos
      FROM $table, centarr),
    ranked AS (
      SELECT vec_id, cell, cos,
        row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
      FROM scored)
    SELECT vec_id, cell::BIGINT AS cell, cos FROM ranked WHERE rn = 1
    ORDER BY vec_id"""

  /** Full k-means (Lloyd) over the embedding corpus: `rounds` alternations
    * of assign (argmax cosine vs current centroids) and update (per-cell
    * exact-decimal mean, cast to float), seeded deterministically with the
    * `k` lowest-vec_id vectors — the real clustering step behind IVF that
    * [[ivfAssign]]'s single step and the fixture `label` column stood in
    * for. Returns the final assignment (vec_id, cell, cos).
    *
    * Scale shape per round: centroids are k tiny rows — they BROADCAST
    * against one corpus scan; the argmax is the encoded top-1
    * ([[graft.functions.VectorAggregates.top1PerGroup]]: map-side
    * partials, no row_number shuffle); the update explodes
    * (cell, dim, value) and hash-aggregates with map-side combine. So each
    * round costs one corpus scan + one k×dims-bounded aggregation, and the
    * corpus itself never shuffles. The corpus frame is persisted across
    * rounds (each round's assign AND update read it). Cells that capture
    * no vectors simply drop out (standard Lloyd degeneracy; determinism
    * unaffected). Ties in cos break toward the lower cell id, mirrored by
    * the oracle's (cos DESC, cell) ranking. */
  def kmeansLloyd(vectors: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds $rounds must be >= 1")
    val v = vectors.select(col("vec_id"), col("embedding"))
      .transform(graft.core.EngineCache.persisted)
    // The argmax per vec_id is a corpus-sized GROUP cardinality, so it is
    // [[top1PerGroup]]'s encoded-long max, not the object top-k aggregate
    // (which falls back to sort-based past 128 keys and pays encoder
    // ser/de per scored row). `cos` is already on the 1e-6 grid
    // (cosineExpr's floor bridge), so s = round(cos·1e6) + 1000001 is an
    // integral score in [1, 2000001], and the cell ids are FIXED for every
    // round (they are the seed vec_ids): their observed range is the id
    // bound. Decoding s back is the SAME (double)m / 1e6 division the
    // grid bridge performs, so cell and cos are bit-identical (cross-
    // checked in PipelineOpsSpec). The seed collect doubles as the corpus
    // materialization barrier.
    val seedIds = v.filter(col("vec_id") < k).select(col("vec_id"))
      .collect().map(_.getAs[Number](0).longValue)
    val (idMin, idMax) =
      if (seedIds.isEmpty) (0L, 0L) else (seedIds.min, seedIds.max)
    def assign(cents: DataFrame): DataFrame =
      v.join(broadcast(cents))
        .withColumn("cos", expr(cosineExpr("embedding", "cv")))
        .withColumn("s", expr("CAST(round(cos * 1e6) AS BIGINT) + 1000001"))
        .transform(top1PerGroup(_, "vec_id", "s", "cell", idMin, idMax,
          2000001L))
        .select(col("vec_id"), col("cell"),
          expr("CAST(s - 1000001 AS DOUBLE) / 1e6").as("cos"))
    def update(assigned: DataFrame): DataFrame =
      assigned.join(v, "vec_id")
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg(graft.core.Determinism.davg(col("x").cast("double"), 8).as("c"))
        .groupBy(col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(dim, c))), " +
          "s -> CAST(s.c AS FLOAT))").as("cv"))
    val seeds = v.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell"), col("embedding").as("cv"))
    (1 until rounds).foldLeft(assign(seeds))((a, _) => assign(update(a)))
      .orderBy("vec_id")
  }

  def kmeansLloydSql(table: String, k: Int, rounds: Int): String = {
    require(rounds >= 1)
    val assignCte = (cents: String, name: String) => s"""
    ${name}_scored AS (
      SELECT v.vec_id, $cents.cell, ${cosineSql("v.embedding", s"$cents.cv")} AS cos
      FROM v, $cents),
    $name AS (
      SELECT vec_id, cell, cos FROM (
        SELECT vec_id, cell, cos,
          row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
        FROM ${name}_scored)
      WHERE rn = 1)"""
    val updateCte = (assigned: String, name: String) => s"""
    ${name}_e AS (
      SELECT a.cell, (unnest(range(1, len(v.embedding) + 1)) - 1)::INT AS dim,
        unnest(v.embedding) AS x
      FROM $assigned a JOIN v ON a.vec_id = v.vec_id),
    ${name}_d AS (
      SELECT cell, dim, ${graft.core.Determinism.avgSql("x::DOUBLE", 8)} AS c
      FROM ${name}_e GROUP BY cell, dim),
    $name AS (
      SELECT cell, list_transform(list(c ORDER BY dim), y -> y::FLOAT) AS cv
      FROM ${name}_d GROUP BY cell)"""
    val body = (1 until rounds).map { r =>
      updateCte(s"a$r", s"c$r") + "," + assignCte(s"c$r", s"a${r + 1}")
    }.mkString(",")
    s"""
    WITH v AS (SELECT vec_id, embedding FROM $table),
    c0 AS (SELECT vec_id AS cell, embedding AS cv FROM v WHERE vec_id < $k),
    ${assignCte("c0", "a1").trim}${if (rounds > 1) "," + body else ""}
    SELECT vec_id, cell, cos FROM a$rounds
    ORDER BY vec_id"""
  }

  /** Per-cell centroids: posexplode the vectors, average per (cell, dim).
    * Output exploded (cell, dim, value) — the offline step that would feed
    * real IVF cell assignment. Exact decimal mean via Determinism.davg. */
  def centroids(vectors: DataFrame, cellCol: String): DataFrame =
    vectors
      .select(col(cellCol).as("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("cell"), col("dim"))
      .agg(graft.core.Determinism.davg(col("v").cast("double"), 8).as("centroid"))

  def centroidsSql(table: String, cellCol: String): String = s"""
    WITH exploded AS (
      SELECT $cellCol AS cell,
        (unnest(range(1, len(embedding) + 1)) - 1)::INT AS dim,
        unnest(embedding) AS v
      FROM $table)
    SELECT cell, dim, ${graft.core.Determinism.avgSql("v::DOUBLE", 8)} AS centroid
    FROM exploded
    GROUP BY 1, 2
    ORDER BY cell, dim"""
}
