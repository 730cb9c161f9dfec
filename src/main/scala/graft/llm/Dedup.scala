package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.core.Determinism.xhashSql

/** Deduplication operators for training-data pipelines: exact (hash
  * group-by), MinHash+LSH, SimHash, and character-n-gram Jaccard.
  *
  * Scale design (the whole point of LSH): candidate generation is a
  * shuffle-join on the band key — O(n·bands) rows exchanged, never the
  * O(n²) pair space. Exact Jaccard runs only on LSH candidates. At
  * 100 TB: signatures are one projection over the corpus scan, the band
  * join shuffles ~bands× the doc-id space (tiny vs the text), and skewed
  * buckets (boilerplate docs) are handled by AQE skew-join splitting.
  *
  * Hashing layout (performance-critical — the naive form is 100× slower):
  *  1. each distinct shingle is md5-hashed to int64 ONCE (native
  *     `md5_i64`, [[graft.functions.HashKernels.md5i64]]);
  *  2. the k MinHash functions are affine integer mixes of that one hash
  *     over the Mersenne prime 2^31-1, fused into a single codegen'd pass
  *     (native `minhash_sig`) — no further md5, no k array re-walks;
  *  3. candidate verification is a hash-set intersection over the int64
  *     shingle-hash arrays (`array_intersect`), not O(n·m) string compares.
  * Every step is exact integer arithmetic reproduced literally in the
  * DuckDB oracle (`*Sql` twins, which keep the composable SQL form of the
  * same math), so candidate sets match bit-for-bit.
  */
object Dedup {

  import graft.functions.{GraftFunctions, HashKernels}

  /** DuckDB form of the int64 shingle-hash array. */
  private def hsSql(sh: String): String =
    s"list_transform($sh, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)"

  /** DuckDB form of MinHash i over the int64 hash array `hs`. */
  private def mixSql(i: Int, hs: String): String = {
    val (a, b) = HashKernels.mixConsts(i)
    val p = HashKernels.P
    s"list_min(list_transform($hs, h -> ($a * (h % $p) + $b) % $p))"
  }

  /** Exact dedup by content hash: group on a fingerprint, keep the lowest
    * id as the cluster representative. `keyExpr` picks the normalization
    * (raw text / bag-of-words / lowercase-collapsed). */
  def exactClusters(docs: DataFrame, idCol: String, keyCol: Column): DataFrame =
    docs.select(col(idCol), keyCol.as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** (persisted signature table, band-key exprs over it). Two native-kernel
    * projections (sh → hs → sig) keep the whole signature computation
    * inside whole-stage codegen; band keys "b<band>:mh,mh,…" are cheap
    * element_at reads of the sig array. The sig frame is
    * persisted BEFORE the explode + self-join: Spark does not reuse
    * exchanges across aliased self-join branches, so without this the
    * whole shingle→md5→minhash pipeline (the expensive part) runs twice —
    * once per side. Persisting pre-explode keeps the cache at one row per
    * doc (not bands×). At a real 100 TB run the same move is writing the
    * signature table to storage once and joining the materialized form. */
  /** Band-key expressions "b<band>:mh,mh,…" over a signature array
    * column, one per band. */
  private def bandKeyExprSeq(numHashes: Int, bands: Int,
                             sigCol: String = "sig"): Seq[String] = {
    val rows = numHashes / bands
    (0 until bands).map { b =>
      val slice = (0 until rows)
        .map(r => s"CAST(element_at($sigCol, ${b * rows + r + 1}) AS STRING)")
        .mkString(", ',', ")
      s"concat('b$b:', $slice)"
    }
  }

  private def bandKeysExpr(numHashes: Int, bands: Int): String =
    bandKeyExprSeq(numHashes, bands).mkString(", ")

  private def bandedSignatures(sh0: DataFrame, numHashes: Int,
                               bands: Int): (DataFrame, String) = {
    GraftFunctions.register(sh0.sparkSession)
    val sh = sh0.filter(size(col("sh")) > 0)
    val sig = sh.selectExpr("id", "md5_i64(sh) AS hs")
      .selectExpr("id", "hs", s"minhash_sig(hs, $numHashes) AS sig")
      .transform(graft.core.EngineCache.persisted)
    (sig, bandKeysExpr(numHashes, bands))
  }

  /** The PERSISTABLE signature form — (id, hs: shingle-hash set, sig:
    * MinHash signature) — for writing the signature table to storage at
    * ingest: [[incrementalLshPairs]] then scores new batches against the
    * stored frame without ever re-shingling the corpus. Same kernels as
    * [[minhashLshPairs]], so pairs derived from the at-rest frame are
    * bit-identical to a from-scratch run. */
  def signatureFrame(docs: DataFrame, idCol: String, textCol: String,
                     shingleN: Int, numHashes: Int): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    docs.selectExpr(s"$idCol AS id", s"${wordsExpr(textCol)} AS w")
      .selectExpr("id", s"word_shingles(w, $shingleN) AS sh")
      .filter(size(col("sh")) > 0)
      .selectExpr("id", "md5_i64(sh) AS hs")
      .selectExpr("id", "hs", s"minhash_sig(hs, $numHashes) AS sig")
  }

  /** Incremental near-dedup: score a NEW batch against an existing corpus
    * represented only by its at-rest signature frame ([[signatureFrame]]
    * schema). Only the batch is shingled; the corpus side is read back
    * from storage. Banding is identical to the self-join path, but the
    * join is batch-bands ⋈ corpus-bands (disjoint sides, no id ordering).
    *
    * The BATCH side is the broadcast: each side is banded once as
    * (id, hs, sig, one row per band key), the batch's rows are the hash
    * table, and the corpus rows stream through it where they are stored,
    * so only O(batch) rows reach the driver and nothing is shuffled. A
    * pair colliding in several bands meets once per shared band; each
    * meeting row carries both signatures, and it is kept only when its
    * band is the FIRST band whose signature rows all agree. Exactly one
    * row per colliding pair passes, so the filter is a per-row
    * `distinct` with no shuffle, and the Jaccard reads the shingle sets
    * already on that row (no join-backs). The first-band test is a CASE
    * over the signature elements, not a `zip_with` lambda over the band
    * keys: a lambda cannot be compiled, so it takes the whole join out of
    * generated code (q145 at sf0.1 then ran slower than the shuffle
    * spelling it replaces). One broadcast job and the consumer's own job
    * per call. */
  def incrementalLshPairs(corpusSig: DataFrame, batchSig: DataFrame,
                          numHashes: Int, bands: Int, tau: Double): DataFrame = {
    GraftFunctions.register(corpusSig.sparkSession)
    val rows = numHashes / bands
    def banded(sig: DataFrame, s: String): DataFrame =
      sig.selectExpr(s"id AS id_$s", s"hs AS hs_$s", s"sig AS sig_$s",
        s"posexplode(array(${bandKeysExpr(numHashes, bands)})) AS (band_$s, bk_$s)")
    val firstSharedBand = (0 until bands).map { b =>
      (b * rows + 1 to (b + 1) * rows)
        .map(i => s"element_at(sig_a, $i) = element_at(sig_b, $i)")
        .mkString("WHEN ", " AND ", s" THEN $b")
    }.mkString("CASE ", " ", " END")
    broadcast(banded(batchSig, "a"))
      .join(banded(corpusSig, "b"), col("bk_a") === col("bk_b"))
      .filter(expr(s"$firstSharedBand = band_a"))
      .select(col("id_a").as("batch_id"), col("id_b").as("corpus_id"),
        sort_array(col("hs_a")).as("hs_a"), sort_array(col("hs_b")).as("hs_b"))
      .withColumn("inter", expr("sorted_intersect_count(hs_a, hs_b)"))
      .select(col("batch_id"), col("corpus_id"),
        expr("CAST(inter AS DOUBLE) / (size(hs_a) + size(hs_b) - inter)")
          .as("jaccard"))
      .filter(col("jaccard") >= tau)
  }

  /** DuckDB oracle for [[incrementalLshPairs]]: replays the FULL two-sided
    * pipeline (both sides re-signed from text), so a hash match proves the
    * at-rest signature frame lost nothing. `batchPred` selects the batch
    * side as a SQL predicate over the table's columns. */
  def incrementalLshPairsSql(table: String, idCol: String, textCol: String,
                             batchPred: String, shingleN: Int, numHashes: Int,
                             bands: Int, tau: Double): String = {
    val rows = numHashes / bands
    val mh = (0 until numHashes).map(i => s"${mixSql(i, "hs")} AS mh$i")
      .mkString(",\n      ")
    val bandCases = (0 until bands).map { b =>
      val slice = (0 until rows).map(r => s"mh${b * rows + r}::VARCHAR")
        .mkString(" || ',' || ")
      s"WHEN $b THEN 'b$b:' || $slice"
    }.mkString(" ")
    val bandVals = (0 until bands).map(b => s"($b)").mkString(",")
    val tExpr = graft.functions.TextFunctions.wordShinglesSql(textCol, shingleN)
    val tGuard =
      s"len(${graft.functions.TextFunctions.wordsSql(textCol)}) >= $shingleN"
    s"""
    WITH t AS (
      SELECT $idCol AS id, ($batchPred) AS is_batch, ${hsSql(tExpr)} AS hs
      FROM $table WHERE $tGuard),
    sig AS (SELECT id, is_batch, hs, $mh FROM t),
    banded AS (
      SELECT id, is_batch, CASE b.band_id $bandCases END AS bk
      FROM sig, (VALUES $bandVals) b(band_id)),
    cand AS (
      SELECT DISTINCT a.id AS batch_id, b.id AS corpus_id
      FROM banded a JOIN banded b
        ON a.bk = b.bk AND a.is_batch AND NOT b.is_batch),
    scored AS (
      SELECT batch_id, corpus_id,
        len(list_intersect(sa.hs, sb.hs)) * 1.0 /
        (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))) AS jaccard
      FROM cand
      JOIN sig sa ON cand.batch_id = sa.id
      JOIN sig sb ON cand.corpus_id = sb.id)
    SELECT batch_id, corpus_id, jaccard FROM scored
    WHERE jaccard >= $tau
    ORDER BY batch_id, corpus_id"""
  }

  /** Shared LSH candidate skeleton, used by MinHash, char-n-gram, SimHash
    * AND hyperplane-SRP pairing: explode an (id, …) signature frame to one
    * row per band key, self-join on the key (co-located buckets, no
    * broadcast of the corpus), distinct (id_a, id_b). The join and the
    * distinct carry only the ids plus `carry` columns (≤ 8-byte sigs);
    * fat payloads (shingle arrays, embeddings) join back AFTER dedup via
    * [[joinBackPayload]] — otherwise every candidate duplicate drags two
    * ~KB payloads through the exchange. */
  private[graft] def lshCandidatePairs(sig: DataFrame, bandKeysExpr: String,
                                       carry: Seq[String] = Nil): DataFrame = {
    val banded = sig.selectExpr(
      ("id" +: carry) :+ s"explode(array($bandKeysExpr)) AS bk": _*)
    val a = banded.select(
      (col("id").as("id_a") +: carry.map(c => col(c).as(s"${c}_a"))) :+ col("bk"): _*)
    val b = banded.select(
      (col("id").as("id_b") +: carry.map(c => col(c).as(s"${c}_b"))) :+
        col("bk").as("bk_b"): _*)
    a.join(b, col("bk") === col("bk_b") && col("id_a") < col("id_b"))
      .drop("bk", "bk_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** [[lshCandidatePairs]] restricted to pairs TOUCHING `keep` (a
    * 1-column id frame): candidates generate FROM THE KEEP SIDE — one
    * banded keep-row joined against the full banded frame per shared
    * bucket — so the join's output is O(Σ over keep's bucket rows of
    * that bucket's population), never the corpus-wide Σ|bucket|²
    * skeleton. For every keep member the emitted partner set is its
    * complete band-mate set (all its buckets are present on the keep
    * side), so a consumer selecting per-keep-node top-G sees candidate
    * sets identical to the full skeleton's; pairs canonicalize as
    * (least, greatest) + dedup, so payload/cosine work downstream
    * stays one row per unordered pair, bounded by the rebuild's. This
    * is the maintenance verbs' cost story made real: a fixed-size
    * batch against a 100 TB corpus pays its own buckets' populations,
    * and the dense worst case (keep = everyone) degrades to the
    * rebuild's pair set — 2× its pre-dedup join rows, identical
    * post-dedup cosine count — never past it. */
  private[graft] def lshCandidatePairsTouching(sig: DataFrame,
      bandKeysExpr: String, keep: DataFrame): DataFrame = {
    val banded = sig.selectExpr("id", s"explode(array($bandKeysExpr)) AS bk")
    val k = banded.join(keep.toDF("id"), Seq("id"), "left_semi")
      .select(col("id").as("id_k"), col("bk"))
    val o = banded.select(col("id").as("id_o"), col("bk").as("bk_o"))
    k.join(o, col("bk") === col("bk_o") && col("id_k") =!= col("id_o"))
      .select(least(col("id_k"), col("id_o")).as("id_a"),
        greatest(col("id_k"), col("id_o")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Join `payloadCol` back onto candidate pairs as <payload>_a/_b from
    * the (persisted) signature frame. */
  private[graft] def joinBackPayload(cand: DataFrame, sig: DataFrame,
                                     payloadCol: String): DataFrame =
    cand
      .join(sig.select(col("id"), col(payloadCol).as(s"${payloadCol}_a")),
        col("id_a") === col("id")).drop("id")
      .join(sig.select(col("id"), col(payloadCol).as(s"${payloadCol}_b")),
        col("id_b") === col("id")).drop("id")

  /** Candidate pairs from shared LSH buckets, exact Jaccard via int64
    * hash-set intersection, thresholded. `estimateK = Some(k)` also emits
    * the MinHash estimate (fraction of agreeing signature components) —
    * one shared skeleton so the q35/q37/q65 paths cannot drift apart. */
  private def lshPairs(sig: DataFrame, bandKeys: String, tau: Double,
                       estimateK: Option[Int] = None): DataFrame = {
    // r14: attach the SORTED hash sets so the exact-Jaccard verify runs
    // the two-pointer merge kernel instead of a per-pair hash-set build
    // (same distinct-common count; size() is order-blind).
    val scored = joinBackPayload(lshCandidatePairs(sig, bandKeys),
        sig.withColumn("hs", sort_array(col("hs"))), "hs")
      .withColumn("inter", expr("sorted_intersect_count(hs_a, hs_b)"))
      .withColumn("jaccard",
        expr("CAST(inter AS DOUBLE) / (size(hs_a) + size(hs_b) - inter)"))
      .filter(col("jaccard") >= tau)
    estimateK match {
      case None => scored.select(col("id_a"), col("id_b"), col("jaccard"))
      case Some(k) =>
        joinBackPayload(scored, sig, "sig")
          .withColumn("est_jaccard", expr(
            s"CAST(size(filter(sequence(1, $k), " +
              s"i -> element_at(sig_a, i) = element_at(sig_b, i))) AS DOUBLE) / $k"))
          .select(col("id_a"), col("id_b"), col("jaccard"), col("est_jaccard"))
    }
  }

  /** Shared DuckDB oracle skeleton for the LSH variants: `tExpr` is
    * the shingle expression, `tGuard` the short-input filter;
    * `estimate` adds the component-agreement est_jaccard column. */
  private def lshPairsSql(table: String, idCol: String, tExpr: String,
                          tGuard: String, numHashes: Int, bands: Int,
                          tau: Double, orderBy: String,
                          estimate: Boolean = false): String = {
    val rows = numHashes / bands
    val mh = (0 until numHashes).map(i => s"${mixSql(i, "hs")} AS mh$i")
      .mkString(",\n      ")
    val bandCases = (0 until bands).map { b =>
      val slice = (0 until rows).map(r => s"mh${b * rows + r}::VARCHAR")
        .mkString(" || ',' || ")
      s"WHEN $b THEN 'b$b:' || $slice"
    }.mkString(" ")
    val bandVals = (0 until bands).map(b => s"($b)").mkString(",")
    val estCol = if (!estimate) "" else {
      val matches = (0 until numHashes)
        .map(i => s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s",\n        ($matches)::DOUBLE / $numHashes AS est_jaccard"
    }
    val estSel = if (estimate) ", est_jaccard" else ""
    // MATERIALIZED (DuckDB): sig is referenced three times (banded +
    // both sides of scored) and, via the callers' recursive components
    // CTE, the whole pipeline otherwise re-expands once per recursion
    // step — the ten dedup/components oracles each cost 14-22 s of a
    // ~430 s compare before pinning these (q51 measured 14.3 s → 1.3 s,
    // rows identical).
    s"""
    WITH t AS MATERIALIZED (
      SELECT $idCol AS id, ${hsSql(tExpr)} AS hs
      FROM $table WHERE $tGuard),
    sig AS MATERIALIZED (SELECT id, hs, $mh FROM t),
    banded AS (
      SELECT id, CASE b.band_id $bandCases END AS bk
      FROM sig, (VALUES $bandVals) b(band_id)),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded a JOIN banded b ON a.bk = b.bk AND a.id < b.id),
    scored AS (
      SELECT id_a, id_b,
        len(list_intersect(sa.hs, sb.hs)) * 1.0 /
        (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))) AS jaccard$estCol
      FROM cand JOIN sig sa ON cand.id_a = sa.id JOIN sig sb ON cand.id_b = sb.id)
    SELECT id_a, id_b, jaccard$estSel FROM scored
    WHERE jaccard >= $tau
    ORDER BY $orderBy"""
  }

  /** [[minhashLshPairs]] plus the MinHash ESTIMATE next to the exact
    * Jaccard — the sketch-accuracy instrumentation a pipeline uses to
    * tune (numHashes, bands) before trusting the sketch alone at scale.
    * est = fraction of agreeing signature components (an unbiased
    * Jaccard estimator). Because the hash family is shared with the
    * oracle, the estimate itself is exactly reproducible cross-engine —
    * the sketch path is oracle-checked to the bit, not just gated. */
  def minhashEstimatePairs(docs: DataFrame, idCol: String, textCol: String,
                           shingleN: Int, numHashes: Int, bands: Int,
                           tau: Double): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val sh = docs.selectExpr(s"$idCol AS id", s"${wordsExpr(textCol)} AS w")
      .selectExpr("id", s"word_shingles(w, $shingleN) AS sh")
    val (sig, bandKeys) = bandedSignatures(sh, numHashes, bands)
    lshPairs(sig, bandKeys, tau, estimateK = Some(numHashes))
  }

  /** DuckDB oracle for [[minhashEstimatePairs]] — same skeleton as the
    * q35 oracle with the estimate column switched on, so both jaccard AND
    * the estimate match bit-for-bit. */
  def minhashEstimatePairsSql(table: String, idCol: String, textCol: String,
                              shingleN: Int, numHashes: Int, bands: Int,
                              tau: Double, orderBy: String): String =
    lshPairsSql(table, idCol,
      graft.functions.TextFunctions.wordShinglesSql(textCol, shingleN),
      s"len(${graft.functions.TextFunctions.wordsSql(textCol)}) >= $shingleN",
      numHashes, bands, tau, orderBy, estimate = true)

  /** MinHash-LSH near-dup pairs over word n-gram shingles. The words
    * array is materialized in its own projection before shingling (see
    * [[graft.functions.TextFunctions.wordShinglesFromArrayExpr]]). */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      shingleN: Int, numHashes: Int, bands: Int,
                      tau: Double): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val sh = docs.selectExpr(s"$idCol AS id", s"${wordsExpr(textCol)} AS w")
      .selectExpr("id", s"word_shingles(w, $shingleN) AS sh")
    val (sig, bandKeys) = bandedSignatures(sh, numHashes, bands)
    lshPairs(sig, bandKeys, tau)
  }

  /** DuckDB oracle for [[minhashLshPairs]] — same constants, same hash
    * family, exact candidate-set match. */
  def minhashLshPairsSql(table: String, idCol: String, textCol: String,
                         shingleN: Int, numHashes: Int, bands: Int,
                         tau: Double, orderBy: String): String =
    lshPairsSql(table, idCol, wordShinglesSql(textCol, shingleN),
      s"len(${wordsSql(textCol)}) >= $shingleN", numHashes, bands, tau, orderBy)

  // fp-critical S-curve spellings, shared VERBATIM by both engines so
  // the multiplication chains round identically (left-assoc in both)
  private def sCurveQq(rows: Int): String =
    s"CAST(1 AS DOUBLE) - (${List.fill(rows)("s").mkString(" * ")})"
  private def sCurveTheo6(bands: Int): String =
    s"CAST(floor((CAST(1 AS DOUBLE) - " +
      s"(${List.fill(bands)("qq").mkString(" * ")})) * 1e6 + 0.5) AS BIGINT)"

  /** LSH BAND-CALIBRATION audit — the S-curve check every MinHash
    * deployment owes its threshold (Leskovec–Rajaraman–Ullman ch. 3):
    * with b bands of r rows the candidate probability at Jaccard s is
    * P = 1 − (1 − s^r)^b, and whether the deployed (b, r) puts the
    * curve's knee at the intended τ is an EMPIRICAL question this
    * query answers instead of assuming. Probe pairs are GRADED
    * SELF-PAIRS — each doc against its own word-prefix at kept
    * fraction (id mod 10 + 1)/10, so the sample covers every Jaccard
    * decile ON ANY CORPUS deterministically, O(n) pairs, never a
    * quadratic scan (a natural-pair sample measured only the s ≈ 0
    * background here — no curve to check). Output per realized-
    * Jaccard decile: (bucket, n_pairs, n_collided, Σ theo6) — a
    * deployment whose measured collisions sit far from Σ theo/10⁶ in
    * the τ-straddling buckets has the wrong (b, r), and the f = 1
    * decile anchors the audit at exact-duplicate certainty.
    * Determinism: s is one exact division of hash-set integers, the
    * power chains are shared-text left-assoc multiplications (every
    * step exactly rounded, bit-equal), collisions are integer string
    * equality on band keys, and the decile is a floor. */
  def lshCalibration(docs: DataFrame, idCol: String, textCol: String,
                     shingleN: Int, numHashes: Int, bands: Int): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val rows = numHashes / bands
    val bksA = bandKeyExprSeq(numHashes, bands, "sig_a")
    val bksB = bandKeyExprSeq(numHashes, bands, "sig_b")
    val coll = (0 until bands).map(i => s"bk${i}_a = bk${i}_b")
      .mkString(" OR ")
    docs
      .selectExpr(s"$idCol AS id",
        s"${graft.functions.TextFunctions.wordsExpr(textCol)} AS w")
      .filter(s"size(w) >= $shingleN")
      .selectExpr("id", "w",
        s"greatest($shingleN, CAST((size(w) * (id % 10 + 1) + 9) div 10" +
          " AS INT)) AS nb")
      .selectExpr("id",
        s"word_shingles(w, $shingleN) AS sh_a",
        s"word_shingles(slice(w, 1, nb), $shingleN) AS sh_b")
      .selectExpr("id", "md5_i64(sh_a) AS hs_a", "md5_i64(sh_b) AS hs_b")
      .selectExpr("id", "hs_a", "hs_b",
        s"minhash_sig(hs_a, $numHashes) AS sig_a",
        s"minhash_sig(hs_b, $numHashes) AS sig_b")
      .selectExpr(Seq("id", "hs_a", "hs_b") ++
        bksA.zipWithIndex.map { case (e, i) => s"$e AS bk${i}_a" } ++
        bksB.zipWithIndex.map { case (e, i) => s"$e AS bk${i}_b" }: _*)
      .selectExpr(
        "CAST(size(array_intersect(hs_a, hs_b)) AS DOUBLE) / " +
          "(size(hs_a) + size(hs_b) - size(array_intersect(hs_a, hs_b))) AS s",
        s"CASE WHEN $coll THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END" +
          " AS collided")
      .selectExpr("s", "collided", s"${sCurveQq(rows)} AS qq")
      .selectExpr("CAST(least(9, CAST(floor(s * 10) AS INT)) AS BIGINT)" +
        " AS bucket",
        "collided", s"${sCurveTheo6(bands)} AS theo6")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("collided")).as("n_collided"),
        sum(col("theo6")).as("theo6_sum"))
      .orderBy("bucket")
  }

  /** DuckDB oracle for [[lshCalibration]]: replays the prefix cut,
    * signatures, band keys, the exact Jaccard, and the shared-text
    * S-curve chains. */
  def lshCalibrationSql(table: String, idCol: String, textCol: String,
                        shingleN: Int, numHashes: Int, bands: Int): String = {
    val rows = numHashes / bands
    def shList(w: String) = {
      val parts = (0 until shingleN).map(j =>
        if (j == 0) s"($w)[i]" else s"($w)[i + $j]").mkString(" || ' ' || ")
      s"list_distinct(list_transform(range(1, len($w) - ${shingleN - 2})," +
        s" i -> $parts))"
    }
    def mhs(hs: String, sfx: String) = (0 until numHashes)
      .map(i => s"${mixSql(i, hs)} AS mh$i$sfx").mkString(",\n      ")
    def bandKeys(sfx: String) = (0 until bands).map { b =>
      val slice = (0 until rows).map(r => s"mh${b * rows + r}$sfx::VARCHAR")
        .mkString(" || ',' || ")
      s"'b$b:' || $slice AS bk$b$sfx"
    }.mkString(", ")
    val coll = (0 until bands).map(i => s"bk${i}_a = bk${i}_b")
      .mkString(" OR ")
    val w = graft.functions.TextFunctions.wordsSql(textCol)
    s"""
    WITH t0 AS (
      SELECT $idCol AS id, $w AS w FROM $table
      WHERE len($w) >= $shingleN),
    t1 AS (
      SELECT id, w,
        greatest($shingleN,
          ((len(w) * (id % 10 + 1) + 9) // 10)::INT) AS nb
      FROM t0),
    t2 AS (
      SELECT id, ${shList("w")} AS sh_a,
        ${shList("list_slice(w, 1, nb)")} AS sh_b
      FROM t1),
    t AS (
      SELECT id, ${hsSql("sh_a")} AS hs_a, ${hsSql("sh_b")} AS hs_b
      FROM t2),
    sig AS (SELECT id, hs_a, hs_b,
      ${mhs("hs_a", "_a")},
      ${mhs("hs_b", "_b")}
      FROM t),
    k AS (SELECT id, hs_a, hs_b, ${bandKeys("_a")}, ${bandKeys("_b")}
          FROM sig),
    d AS (
      SELECT
        CAST(len(list_intersect(hs_a, hs_b)) AS DOUBLE) /
          (len(hs_a) + len(hs_b) - len(list_intersect(hs_a, hs_b))) AS s,
        CASE WHEN $coll THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
          AS collided
      FROM k),
    e AS (SELECT s, collided, ${sCurveQq(rows)} AS qq FROM d),
    f AS (SELECT CAST(least(9, CAST(floor(s * 10) AS INT)) AS BIGINT)
        AS bucket,
        collided, ${sCurveTheo6(bands)} AS theo6
      FROM e)
    SELECT bucket, CAST(count(1) AS BIGINT) AS n_pairs,
      CAST(sum(collided) AS BIGINT) AS n_collided,
      CAST(sum(theo6) AS BIGINT) AS theo6_sum
    FROM f GROUP BY bucket ORDER BY bucket"""
  }

  /** Character-n-gram Jaccard near-dup: same LSH skeleton as
    * [[minhashLshPairs]] but over char shingles (catches small edits that
    * word shingles miss). */
  def charNgramPairs(docs: DataFrame, idCol: String, textCol: String,
                     n: Int, numHashes: Int, bands: Int, tau: Double): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val sh = docs.selectExpr(s"$idCol AS id",
      s"char_shingles($textCol, $n) AS sh")
    val (sig, bandKeys) = bandedSignatures(sh, numHashes, bands)
    lshPairs(sig, bandKeys, tau)
  }

  def charNgramPairsSql(table: String, idCol: String, textCol: String,
                        n: Int, numHashes: Int, bands: Int, tau: Double,
                        orderBy: String): String =
    lshPairsSql(table, idCol, charShinglesSql(textCol, n),
      s"length($textCol) >= $n", numHashes, bands, tau, orderBy)

  /** Signature width: 60 bits (all the independent bits an md5_i64 hash
    * carries). Width matters for blocking selectivity: with ≤3-Hamming
    * pigeonhole blocking the sig splits into 4 exact-match blocks, and a
    * 16-bit sig gives 4-bit blocks (16 values → every 16th doc collides →
    * ~n²/16 candidates per block, near-all-pairs at scale), while 60-bit
    * gives 15-bit blocks (32k values → only genuine near-dups collide). */
  val SimhashBits = 60

  /** SimHash signature of a text column: per bit, sum ±1 contributions
    * over all tokens (duplicates weighted), bit set iff positive — fused
    * into the native `simhash` kernel over the once-computed word-hash
    * array. Integer arithmetic end-to-end → exact cross-engine. */
  def withSimhash(docs: DataFrame, idCol: String, textCol: String,
                  bits: Int = SimhashBits): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    docs.selectExpr(s"$idCol AS id",
        s"md5_i64(${wordsExpr(textCol)}, 's99:') AS whs")
      .selectExpr("id", s"simhash(whs, $bits) AS sig")
  }

  /** Pigeonhole block layout over a `sigBits`-wide signature:
    * `maxHamming + 1` near-equal-width bit blocks. A pair at Hamming ≤
    * maxHamming flips bits in at most maxHamming blocks, so it agrees
    * EXACTLY on at least one block — blocking on (block_id, block_value)
    * has guaranteed recall, unlike prefix blocking (which silently missed
    * any pair whose differing bits fell in the prefix). Returns
    * (blockId, startBit, width) triples. */
  private def simhashBlocks(maxHamming: Int,
                            sigBits: Int = SimhashBits): Seq[(Int, Int, Int)] = {
    val blocks = maxHamming + 1
    require(blocks <= sigBits,
      s"maxHamming $maxHamming too large for $sigBits-bit simhash")
    (0 until blocks).map { b =>
      val start = b * sigBits / blocks
      val end = (b + 1) * sigBits / blocks
      (b, start, end - start)
    }
  }

  /** SimHash near-dup pairs: pigeonhole multi-block candidate generation
    * (guaranteed recall at ≤ maxHamming — see [[simhashBlocks]]), verify
    * with Hamming distance on the full signature. Same LSH-shaped plan as
    * [[lshPairs]]: explode to one row per block key, shuffle-join on the
    * key, distinct the candidate pairs, verify — O(n·blocks) exchanged
    * rows, never all-pairs. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int): DataFrame = {
    // persist: the sig pipeline (md5 + bit-vote kernels) would otherwise
    // run once per self-join branch (no exchange reuse across aliases)
    val sig = withSimhash(docs, idCol, textCol)
      .transform(graft.core.EngineCache.persisted)
    simhashPairsFromSigs(sig, maxHamming)
  }

  /** Sig-level pairing over an (id, sig) frame — split out so the recall
    * guarantee is testable with planted signatures (DedupSpec plants a
    * pair differing only in the high bits, the case prefix blocking
    * silently dropped). */
  def simhashPairsFromSigs(sig: DataFrame, maxHamming: Int,
                           sigBits: Int = SimhashBits): DataFrame = {
    val keys = simhashBlocks(maxHamming, sigBits).map { case (b, start, width) =>
      s"concat('k$b:', CAST(shiftright(sig, $start) & ${(1L << width) - 1} AS STRING))"
    }.mkString(", ")
    // the 8-byte sig rides through the join as a carry column — cheaper
    // than joining it back
    lshCandidatePairs(sig, keys, carry = Seq("sig"))
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Blocking-strategy audit — "measure your blocking, don't guess":
    * three candidate-generation schemes for near-dup detection are run
    * over the same corpus and scored against the UNBLOCKED all-pairs
    * exact-Jaccard ground truth (the audit's labeled sample; at 100 TB
    * this runs on a sample, which the fixture already is — the schemes
    * themselves stay O(n·keys)):
    *  - `minhash_bands`: banded MinHash bucket collisions (q35's
    *    candidates) — probabilistic recall, tunable via (K, bands);
    *  - `simhash_blocks`: pigeonhole SimHash block collisions (q36's
    *    candidates) — guaranteed recall vs HAMMING, but Hamming is a
    *    proxy, so recall vs Jaccard truth is what needs measuring;
    *  - `head_key`: q131's normalized-head fingerprint — the cheap
    *    heuristic key, recall entirely data-dependent;
    *  - `sorted_neighborhood`: classic sorted-neighborhood blocking
    *    (Hernández & Stolfo 1995) — rank every doc by (head
    *    fingerprint, id) and compare only rank-neighbors within a
    *    window of [[SnWindow]]. Its production pitch is the WORST-CASE
    *    bound: candidates ≤ n·w regardless of key skew, where
    *    `head_key` goes quadratic in a hot key's group (a template
    *    head shared by 10⁶ docs is 5·10¹¹ head-key pairs but only
    *    w·10⁶ SN pairs); the price is pairs beyond the window, which
    *    this audit row makes visible. The rank is
    *    [[graft.operators.DistributedRank]] (hash-valued primary →
    *    near-uniform buckets), never a single-partition window, and
    *    the window join is a rank-bucket self-join (each rank joins
    *    its own and the previous ⌊rk/w⌋ bucket), so candidates stream
    *    at O(n·w) at any corpus size.
    * Output per scheme: candidate count, truth size, hits, recall,
    * precision — the numbers that decide which blocking a production
    * dedup can afford. All schemes run over the eligible corpus (docs
    * long enough to shingle), so the denominators agree.
    *
    * Callers MUST bound the input to the audit sample: the truth side
    * is O(sample²) by definition (that is what "unblocked ground truth"
    * means), so the sample is the knob — the measurement's fidelity
    * scales with sample², its cost identically, and the schemes' rates
    * are sample-estimates of their corpus rates. */
  /** Sorted-neighborhood comparison window, in ranks: each doc is a
    * candidate against its `SnWindow` rank-successors. */
  val SnWindow = 5

  def blockingAudit(docs0: DataFrame, idCol: String, textCol: String,
                    shingleN: Int, numHashes: Int, bands: Int,
                    maxHamming: Int, headWords: Int, tau: Double): DataFrame = {
    GraftFunctions.register(docs0.sparkSession)
    val sig = signatureFrame(docs0, idCol, textCol, shingleN, numHashes)
      .transform(graft.core.EngineCache.persisted)
    val docs = docs0.selectExpr(s"$idCol AS id", s"$textCol AS text")
      .join(sig.select("id"), Seq("id"), "left_semi")
    // r14 (guide §4.1): the truth leg is all-pairs BY DEFINITION, so the
    // per-pair set-intersection is the sample²-sized wall. Sorting each
    // doc's hash set ONCE (O(sample) sorts) lets every pair run an
    // allocation-free two-pointer merge instead of array_intersect's
    // per-pair hash-set build; the count is the same distinct-common
    // size (kernel contract asserted in DedupSpec), and size(hs) is
    // order-blind, so the tau filter sees identical integers.
    val hs = sig.select(col("id"), sort_array(col("hs")).as("hs"))
    val truth = hs.alias("a").join(hs.alias("b"), col("a.id") < col("b.id"))
      .withColumn("inter", expr("sorted_intersect_count(a.hs, b.hs)"))
      .filter(expr(
        s"CAST(inter AS DOUBLE) / (size(a.hs) + size(b.hs) - inter) >= $tau"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .transform(graft.core.EngineCache.persisted)
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))

    val candBands = lshCandidatePairs(sig, bandKeysExpr(numHashes, bands))
    val ssig = withSimhash(docs, "id", "text")
      .transform(graft.core.EngineCache.persisted)
    val blockKeys = simhashBlocks(maxHamming).map { case (b, start, width) =>
      s"concat('k$b:', CAST(shiftright(sig, $start) & ${(1L << width) - 1} AS STRING))"
    }.mkString(", ")
    val candSim = lshCandidatePairs(ssig, blockKeys)
    val headFp = graft.core.Determinism.xhashExpr(
      "array_join(slice(split(trim(regexp_replace(lower(text), " +
        s"'\\\\s+', ' ')), ' '), 1, $headWords), ' ')")
    val heads = docs.selectExpr("id", s"$headFp AS bk")
    val candHead = heads.alias("a")
      .join(heads.alias("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")

    // sorted-neighborhood: global (bk, id) rank, then each rank joins
    // its own and the preceding ⌊rk/w⌋ bucket — every pair within w
    // ranks meets in exactly one of the two, so candidates are found
    // once and the join fans out 2 rows/doc, never n²
    val ranked = graft.operators.DistributedRank.rankOnly(
        heads, "rk", "bk", desc = false, col("bk"), col("id"))
      .transform(graft.core.EngineCache.persisted)
    val snA = ranked.selectExpr("id AS ida", "rk AS rk_a",
      s"rk div $SnWindow AS snb")
    val snB = ranked.selectExpr("id AS idb", "rk AS rk_b",
      s"explode(array(rk div $SnWindow, rk div $SnWindow - 1)) AS snb")
    val candSn = snA.join(snB, Seq("snb"))
      .filter((col("rk_b") - col("rk_a")).between(1, SnWindow))
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"))
      .dropDuplicates("id_a", "id_b")

    def scored(name: String, cand0: DataFrame): DataFrame = {
      val cand = cand0.transform(graft.core.EngineCache.persisted)
      cand.agg(count(lit(1)).as("n_candidates")).crossJoin(
        cand.join(truth, Seq("id_a", "id_b"), "left_semi")
          .agg(count(lit(1)).as("hits")))
        .select(lit(name).as("scheme"), col("n_candidates"), col("hits"))
    }
    scored("head_key", candHead)
      .unionByName(scored("minhash_bands", candBands))
      .unionByName(scored("simhash_blocks", candSim))
      .unionByName(scored("sorted_neighborhood", candSn))
      .crossJoin(nTruth)
      .select(col("scheme"), col("n_candidates"), col("n_truth"), col("hits"),
        graft.core.Determinism.dround(
          col("hits").cast("double") / col("n_truth").cast("double"), 6)
          .as("recall"),
        graft.core.Determinism.dround(
          col("hits").cast("double") / col("n_candidates").cast("double"), 6)
          .as("precision"))
      .orderBy("scheme")
  }

  /** DuckDB twin of [[blockingAudit]] — replays all three candidate
    * generators and the unblocked truth from raw text. */
  def blockingAuditSql(table: String, idCol: String, textCol: String,
                       shingleN: Int, numHashes: Int, bands: Int,
                       maxHamming: Int, headWords: Int, tau: Double,
                       samplePred: String = "true"): String = {
    val tExpr = graft.functions.TextFunctions.wordShinglesSql(textCol, shingleN)
    val tGuard =
      s"len(${graft.functions.TextFunctions.wordsSql(textCol)}) >= $shingleN"
    val rows = numHashes / bands
    val mh = (0 until numHashes).map(i => s"${mixSql(i, "hs")} AS mh$i")
      .mkString(",\n      ")
    val bandCases = (0 until bands).map { b =>
      val slice = (0 until rows).map(r => s"mh${b * rows + r}::VARCHAR")
        .mkString(" || ',' || ")
      s"WHEN $b THEN 'b$b:' || $slice"
    }.mkString(" ")
    val bandVals = (0 until bands).map(b => s"($b)").mkString(",")
    val whs = hsSql(s"list_transform(${
      graft.functions.TextFunctions.wordsSql("text")}, w -> 's99:' || w)")
    val bits = (0 until SimhashBits).map { b =>
      s"(CASE WHEN list_sum(list_transform(whs, h -> ((h >> $b) & 1) * 2 - 1)) > 0 " +
        s"THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    val blockCases = simhashBlocks(maxHamming).map { case (b, start, width) =>
      s"WHEN $b THEN 'k$b:' || ((sig >> $start) & ${(1L << width) - 1})::VARCHAR"
    }.mkString(" ")
    val blockVals = simhashBlocks(maxHamming).map { case (b, _, _) => s"($b)" }
      .mkString(",")
    val headFp = graft.core.Determinism.xhashSql(
      "array_to_string(list_slice(string_split(" +
        s"trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '), " +
        s"1, $headWords), ' ')")
    s"""
    WITH t AS MATERIALIZED (
      SELECT $idCol AS id, $textCol AS text, ${hsSql(tExpr)} AS hs
      FROM $table WHERE ($samplePred) AND $tGuard),
    truth AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM t a JOIN t b ON a.id < b.id
      WHERE len(list_intersect(a.hs, b.hs)) * 1.0 /
        (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) >= $tau),
    nt AS (SELECT count(*) AS n_truth FROM truth),
    msig AS (SELECT id, hs, $mh FROM t),
    mbanded AS (
      SELECT id, CASE b.band_id $bandCases END AS bk
      FROM msig, (VALUES $bandVals) b(band_id)),
    cand_bands AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM mbanded a JOIN mbanded b ON a.bk = b.bk AND a.id < b.id),
    w AS (SELECT id, $whs AS whs FROM t),
    ssig AS (SELECT id, ($bits)::BIGINT AS sig FROM w),
    sbanded AS (
      SELECT id, CASE blk.block_id $blockCases END AS bk
      FROM ssig, (VALUES $blockVals) blk(block_id)),
    cand_sim AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM sbanded a JOIN sbanded b ON a.bk = b.bk AND a.id < b.id),
    heads AS (SELECT id, $headFp AS bk FROM t),
    cand_head AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM heads a JOIN heads b ON a.bk = b.bk AND a.id < b.id),
    snr AS (
      SELECT id, row_number() OVER (ORDER BY bk, id) AS rk FROM heads),
    cand_sn AS (
      SELECT DISTINCT least(a.id, b.id) AS id_a,
        greatest(a.id, b.id) AS id_b
      FROM snr a JOIN snr b ON b.rk - a.rk BETWEEN 1 AND $SnWindow),
    u AS (
      SELECT 'head_key' AS scheme,
        (SELECT count(*) FROM cand_head)::BIGINT AS n_candidates,
        (SELECT count(*) FROM cand_head c
          JOIN truth x ON c.id_a = x.id_a AND c.id_b = x.id_b)::BIGINT AS hits
      UNION ALL
      SELECT 'minhash_bands',
        (SELECT count(*) FROM cand_bands)::BIGINT,
        (SELECT count(*) FROM cand_bands c
          JOIN truth x ON c.id_a = x.id_a AND c.id_b = x.id_b)::BIGINT
      UNION ALL
      SELECT 'simhash_blocks',
        (SELECT count(*) FROM cand_sim)::BIGINT,
        (SELECT count(*) FROM cand_sim c
          JOIN truth x ON c.id_a = x.id_a AND c.id_b = x.id_b)::BIGINT
      UNION ALL
      SELECT 'sorted_neighborhood',
        (SELECT count(*) FROM cand_sn)::BIGINT,
        (SELECT count(*) FROM cand_sn c
          JOIN truth x ON c.id_a = x.id_a AND c.id_b = x.id_b)::BIGINT)
    SELECT scheme, n_candidates, n_truth, hits,
      ${graft.core.Determinism.droundSql(
        "hits::DOUBLE / n_truth::DOUBLE", 6)} AS recall,
      ${graft.core.Determinism.droundSql(
        "hits::DOUBLE / n_candidates::DOUBLE", 6)} AS precision
    FROM u CROSS JOIN nt
    ORDER BY scheme"""
  }

  /** Connected components over a dup-pair graph (id_a, id_b) — the step
    * that turns pairwise near-dup hits into dedup CLUSTERS (keep
    * min-id per component, drop the rest). Output: (doc_id, component =
    * min doc_id reachable). Up to [[graft.core.DriverGraph.EdgeLimit]]
    * edges the pairs are solved on the driver with index-based
    * path-compressed union-find; above it [[connectedComponentsStar]]
    * runs, and the two are cross-validated in DedupSpec. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val idPairs = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
    graft.core.DriverGraph.load(idPairs) match {
      case None => connectedComponentsStar(idPairs)
      case Some(g) =>
        val parent = Array.tabulate(g.ids.length)(identity)
        def find(x: Int): Int = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x // path compression
          while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        var e = 0
        while (e < g.src.length) {
          // ids are sorted, so min root index == min root id: union-by-min
          // keeps the contract "component = MIN reachable id"
          val ra = find(g.src(e))
          val rb = find(g.dst(e))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          e += 1
        }
        g.frame(pairs.sparkSession, Array.tabulate(g.ids.length)(i => g.ids(find(i))),
          "doc_id", "component")
    }
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * distributed path of [[connectedComponents]]. Min-label propagation
    * needs O(diameter) rounds (fine for near-clique dup clusters, fatal
    * for chain-shaped graphs: link farms, citation chains); star rounds
    * contract whole subtrees at once and converge in O(log² n) — in
    * practice log — rounds.
    *
    *  - large-star: every node u links its LARGER neighbors to the
    *    minimum of its neighborhood (incl. itself);
    *  - small-star: every node links its smaller-or-equal neighborhood
    *    to that neighborhood's minimum.
    * Both are one groupBy(min) + one join per round, and edges stay
    * canonical (u > v), so the working set never exceeds the
    * (shrinking) edge list. Convergence = the canonical edge set reaches
    * a fixpoint, detected by an exact (count, sum-of-hashes) signature
    * read off each round's [[graft.core.EngineCache.cut]]; a stable
    * signature on a star graph IS the fixpoint (stars map to themselves
    * under both transforms). A self-pair (x, x) keeps x as its own
    * component, as on the driver path. */
  private[graft] def connectedComponentsStar(pairs: DataFrame,
                                             maxIter: Int = 30): DataFrame = {
    def canon(e: DataFrame): DataFrame = e
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    def cutSigned(e: DataFrame): (DataFrame, Row) = graft.core.EngineCache.cut(e,
      count(lit(1)), coalesce(sum(expr("hash(u, v)").cast("long")), lit(0L)))
    val (start, s0) = cutSigned(pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .distinct())
    var edges = start
    var sig = s0
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star: center u sees ALL neighbors; larger ones re-point to m
      val sym = edges.unionByName(
        edges.select(col("v").as("u"), col("u").as("v")))
      val bigMin = sym.groupBy("u")
        .agg(least(col("u"), min(col("v"))).as("m"))
      val ls = canon(sym.join(bigMin, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
      // small-star: center u sees only smaller neighbors (canonical form
      // already keys each edge by its larger endpoint)
      val smallMin = ls.groupBy("u").agg(min(col("v")).as("m"))
      val joined = ls.join(smallMin, "u")
      val (next, nextSig) = cutSigned(canon(
        joined.filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .unionByName(joined.select(col("u"), col("m").as("v")))))
      edges = next
      converged = nextSig == sig
      sig = nextSig
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $maxIter rounds")
    // fixpoint is a star forest: every edge is (member, root); a node's
    // self-pair only ever names the node itself, never below its root
    edges.select(col("u").as("doc_id"), col("v").as("component"))
      .unionByName(edges.select(col("v").as("doc_id"), col("v").as("component")))
      .unionByName(start.filter(col("u") === col("v"))
        .select(col("u").as("doc_id"), col("u").as("component")))
      .groupBy("doc_id").agg(min(col("component")).as("component"))
  }

  /** DuckDB oracle for [[connectedComponents]] over [[minhashLshPairs]]:
    * a recursive CTE computes every (node, reachable-label) pair; the min
    * per node is the component id — the set-semantics UNION terminates
    * the recursion at the transitive closure. */
  def componentsSql(pairsSql: String, orderBy: String): String = s"""
    WITH RECURSIVE pairs AS ($pairsSql),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
    reach(id, label) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON r.id = e.src)
    SELECT id AS doc_id, min(label) AS component
    FROM reach GROUP BY id
    ORDER BY $orderBy"""

  /** Edit-distance (Levenshtein) near-dup pairs over a fixed-width key —
    * PassJoin-style segment-pigeonhole blocking (Li, Deng, Feng: "PassJoin:
    * A Partition-based Method for Similarity Joins", VLDB'12). The key is
    * the lowercased first `width` chars right-padded to exactly `width`
    * (padding makes the segment split a true partition at every input
    * length, so the recall proof needs no per-length segment bounds).
    *
    * Recall guarantee: split the key into `maxEdits + 1` equal segments;
    * ≤ maxEdits edits touch at most maxEdits of them, so one segment
    * survives VERBATIM in the other string, displaced by at most maxEdits
    * positions. Candidates = equi-join of each doc's exact segments
    * against each doc's (segment-index, ±maxEdits-shifted substring)
    * probes — O(n·(k+1)²) emitted rows, never the O(n²) pair space —
    * restricted to seg-side id < probe-side id (the pigeonhole argument
    * partitions EITHER string of a pair, so one direction already has
    * guaranteed recall and the join volume halves). Verification uses
    * the THRESHOLDED levenshtein (banded O(width·maxEdits) DP with
    * early exit, returns -1 past the threshold) — candidates are
    * overwhelmingly spurious, so the verify must be cheap-per-miss. At
    * 100 TB the segment keys of boilerplate prefixes skew; AQE
    * skew-split handles the join, and a stop-segment df cap (as in
    * chunk containment) bounds the worst key. Emits (id_a, id_b, dist). */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        width: Int, maxEdits: Int): DataFrame = {
    val segs = maxEdits + 1
    require(width % segs == 0, s"width $width must be a multiple of ${segs}")
    val segLen = width / segs
    val p = docs.selectExpr(s"$idCol AS id",
      s"rpad(lower(substr($textCol, 1, $width)), $width, '#') AS s")
    // the join key is ONE int64: xxhash64(seg_idx, segment). A hash
    // collision can only ADD a spurious candidate (the verify filters
    // it), never lose a true one — and an 8-byte key shuffles/compares
    // far cheaper than an (int, string) composite
    val segFrame = p.selectExpr("id", "s",
      s"explode(sequence(0, $maxEdits)) AS seg_idx")
      .selectExpr("id", "s",
        s"xxhash64(seg_idx, substr(s, 1 + seg_idx * $segLen, $segLen)) AS hk")
    val probeFrame = p.selectExpr("id", "s",
      s"explode(sequence(0, $maxEdits)) AS seg_idx")
      .selectExpr("id", "s", "seg_idx",
        s"explode(sequence(-$maxEdits, $maxEdits)) AS d")
      .filter(expr(s"1 + seg_idx * $segLen + d >= 1"))
      .selectExpr("id", "s",
        s"xxhash64(seg_idx, substr(s, 1 + seg_idx * $segLen + d, $segLen)) AS hk")
    // verify BEFORE dedup: a candidate pair reaches the join ~1.05 times
    // on average (multi-segment agreement is rare), so deduping first
    // would shuffle the whole candidate stream with its strings to save
    // ~5% of the (cheap, thresholded) verifies — dedup the post-verify
    // survivors instead, which are orders of magnitude fewer rows
    segFrame.alias("a")
      .join(probeFrame.alias("b"),
        col("a.hk") === col("b.hk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        levenshtein(col("a.s"), col("b.s"), maxEdits).as("dist"))
      .filter(col("dist") >= 0)
      .dropDuplicates("id_a", "id_b")
  }

  /** DuckDB oracle for [[editDistancePairs]] — deliberately UNBLOCKED
    * (all pairs, same verify): a hash match proves the segment blocking
    * recalled every true pair, not just that both engines ran the same
    * candidate generator. */
  def editDistancePairsSql(table: String, idCol: String, textCol: String,
                           width: Int, maxEdits: Int, orderBy: String): String = s"""
    WITH p AS (
      SELECT $idCol AS id, rpad(lower(substr($textCol, 1, $width)), $width, '#') AS s
      FROM $table)
    SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.s, b.s)::INT AS dist
    FROM p a JOIN p b ON a.id < b.id
    WHERE levenshtein(a.s, b.s) <= $maxEdits
    ORDER BY $orderBy"""

  def simhashPairsSql(table: String, idCol: String, textCol: String,
                      maxHamming: Int, orderBy: String): String = {
    val whs = hsSql(s"list_transform(${wordsSql(textCol)}, w -> 's99:' || w)")
    val bits = (0 until SimhashBits).map { b =>
      s"(CASE WHEN list_sum(list_transform(whs, h -> ((h >> $b) & 1) * 2 - 1)) > 0 " +
        s"THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    val blockCases = simhashBlocks(maxHamming).map { case (b, start, width) =>
      s"WHEN $b THEN 'k$b:' || ((sig >> $start) & ${(1L << width) - 1})::VARCHAR"
    }.mkString(" ")
    val blockVals = simhashBlocks(maxHamming).map { case (b, _, _) => s"($b)" }
      .mkString(",")
    s"""
    WITH w AS (SELECT $idCol AS id, $whs AS whs FROM $table),
    sig AS (SELECT id, ($bits)::BIGINT AS sig FROM w),
    banded AS (
      SELECT id, sig, CASE blk.block_id $blockCases END AS bk
      FROM sig, (VALUES $blockVals) blk(block_id)),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
      FROM banded a JOIN banded b ON a.bk = b.bk AND a.id < b.id)
    SELECT id_a, id_b, bit_count(xor(sig_a, sig_b))::INT AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= $maxHamming
    ORDER BY $orderBy"""
  }
}
