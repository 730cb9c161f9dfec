package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.{udaf, udf}

/** Mergeable KMV (k-minimum-values / bottom-k theta) sketches — the
  * SET-EXPRESSION cardinality family HLL structurally lacks.
  *
  * [[HllSketch]] answers "how many distinct" and unions for free, but
  * registers destroy sample identity, so |A ∩ B| only comes out of
  * inclusion–exclusion — whose error grows with |A ∪ B|, not with the
  * (possibly tiny) intersection. A KMV sketch (Bar-Yossef et al. 2002;
  * Beyer et al. 2007 "distinct-value synopses") keeps the [[K]]
  * smallest 64-bit hash VALUES themselves; because the retained values
  * of two sketches are drawn below a common, query-time threshold
  * θ = min(θ_A, θ_B), any set expression — intersection, difference,
  * union — evaluates on the retained samples and scales by 1/θ (the
  * theta-sketch estimator, Dasgupta et al. 2016). That is the audit a
  * 100 TB pipeline actually asks of its shard summaries: "how many
  * users did BOTH"; "how many documents are in this source and NOT
  * that one" — answered from two KB-sized at-rest columns, never a
  * rescan.
  *
  *   - `kmv_build(col)`     : Long column → sketch bytes (one pass);
  *   - `kmv_merge(sk)`      : sketch column → merged (union) sketch
  *     BYTES, itself storable — byte-identical to building over the
  *     union of the inputs' data (FunctionsSpec), so merging is
  *     associative / commutative / idempotent at every rollup level;
  *   - `kmv_merge_est(sk)`  : merged cardinality estimate;
  *   - `kmv_est(sk)`        : scalar estimate of one sketch;
  *   - `kmv_intersect_est(a,b)` / `kmv_diff_est(a,b)`: |A ∩ B| and
  *     |A \ B| from the retained samples below the common θ.
  *
  * Encoding: 64-bit splitmix64 hashes, sign-bit-flipped so SIGNED
  * ascending order is UNSIGNED hash order, sorted, distinct, capped at
  * [[K]]; bytes are the sorted longs (big-endian) — a canonical form,
  * so equal value sets give equal bytes whatever order partials
  * arrived in (the same determinism-by-idempotent-merge argument as
  * HLL's register max). Below K distinct values the sketch IS the
  * value set (θ = 1): every estimator is EXACT — the mode the sf0.01
  * oracle gate exercises; estimate-mode error (σ ≈ 1/√(K−2) ≈ 3.1%
  * for cardinality at K=1024) is pinned by seeded ScalaCheck /
  * planted-domain tests in FunctionsSpec, the q136/q137 discipline.
  */
object KmvSketch {

  val K = 1024

  /** Stored form of a hash: sign bit flipped, so signed `<` compares
    * like unsigned hash order. */
  private def flip(v: Long): Long = HllSketch.mix64(v) ^ Long.MinValue

  /** Normalized position of a flipped hash in [0, 1): the fraction of
    * the hash space at or below it. Top 53 bits keep the double exact. */
  private def unit(flipped: Long): Double =
    ((flipped ^ Long.MinValue) >>> 11).toDouble / (1L << 53).toDouble

  // ------------------------------------------------------- byte codec
  def decode(b: Array[Byte]): Array[Long] = {
    if (b == null || b.length == 0) return Array.emptyLongArray
    val buf = java.nio.ByteBuffer.wrap(b)
    Array.fill(b.length / 8)(buf.getLong)
  }

  def encode(vs: Array[Long]): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(vs.length * 8)
    vs.foreach(buf.putLong)
    buf.array()
  }

  // --------------------------------------------------- core operations
  /** Sorted-distinct merge of two sorted flipped-hash arrays, capped at
    * [[K]] smallest. Pure. */
  def mergeValues(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](math.min(a.length + b.length, K))
    var (i, j, n) = (0, 0, 0)
    while (n < K && (i < a.length || j < b.length)) {
      val v =
        if (j >= b.length || (i < a.length && a(i) <= b(j))) {
          val x = a(i); if (j < b.length && b(j) == x) j += 1; i += 1; x
        } else { val x = b(j); j += 1; x }
      if (n == 0 || out(n - 1) != v) { out(n) = v; n += 1 }
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** Driver-side build — the same path the aggregator runs. */
  def sketchOf(vs: IterableOnce[Long]): Array[Byte] = {
    val set = new java.util.TreeSet[java.lang.Long]()
    vs.iterator.foreach { v =>
      val f = flip(v)
      if (set.size < K) set.add(f)
      else if (f < set.last) { set.add(f); if (set.size > K) set.pollLast() }
    }
    val arr = new Array[Long](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    encode(arr)
  }

  def mergeSketches(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    encode(mergeValues(decode(a), decode(b)))

  /** θ of a sketch: 1 in exact mode (fewer than K values kept — the
    * sketch is the whole hashed set), else the K-th smallest hash's
    * unit position. Guarded loud: unit() of the K-th retained hash is
    * exactly 0.0 iff its top 53 bits are all zero (~2⁻⁴³ per sketch),
    * and dividing by that θ would ship a silent Infinity estimate —
    * the codebase's discipline is a loud require over a quiet NaN/Inf
    * (the q277 empty-seed precedent). */
  private def theta(vs: Array[Long]): Double = {
    if (vs.length < K) 1.0
    else {
      val t = unit(vs(K - 1))
      require(t > 0.0,
        s"KMV theta collapsed to 0 (K-th retained hash ${vs(K - 1)} has " +
          "zero top-53 bits) — estimate would be Infinity; rebuild with " +
          "a different hash seed")
      t
    }
  }

  /** Cardinality: exact count below K; (K−1)/θ past it (the K-th value
    * is the threshold, not a sample — the unbiased KMV estimator). */
  def estimate(b: Array[Byte]): Double = {
    val vs = decode(b)
    if (vs.length < K) vs.length.toDouble else (K - 1).toDouble / theta(vs)
  }

  /** |A ∩ B|: retained values of both sketches below the common
    * θ = min(θ_A, θ_B) form a uniform sample of the union's hash space
    * below θ; the matches scale by 1/θ. Exact when both are exact. */
  def intersectEst(a: Array[Byte], b: Array[Byte]): Double =
    scaledCount(a, b, keepMatched = true)

  /** |A \ B|: A's retained values below the common θ that B does not
    * hold, scaled by 1/θ. Exact when both are exact. */
  def diffEst(a: Array[Byte], b: Array[Byte]): Double =
    scaledCount(a, b, keepMatched = false)

  private def scaledCount(a: Array[Byte], b: Array[Byte],
                          keepMatched: Boolean): Double = {
    val (va, vb) = (decode(a), decode(b))
    val exact = va.length < K && vb.length < K
    val th = math.min(theta(va), theta(vb))
    // the threshold in flipped-long space; exact mode admits every
    // retained value (nothing was ever discarded)
    val bound = math.min(
      if (va.length >= K) va(K - 1) else Long.MaxValue,
      if (vb.length >= K) vb(K - 1) else Long.MaxValue)
    var (i, c) = (0, 0L)
    while (i < va.length && (exact || va(i) < bound)) {
      val matched = java.util.Arrays.binarySearch(vb, va(i)) >= 0
      if (matched == keepMatched) c += 1
      i += 1
    }
    if (exact) c.toDouble else c.toDouble / th
  }

  // --------------------------------------------------------- aggregators
  private object Build extends Aggregator[Long, Array[Long], Array[Byte]] {
    def zero: Array[Long] = Array.emptyLongArray
    def reduce(buf: Array[Long], v: Long): Array[Long] = {
      val f = flip(v)
      if (buf.length >= K && f >= buf(buf.length - 1)) buf
      else {
        val pos = java.util.Arrays.binarySearch(buf, f)
        if (pos >= 0) buf
        else {
          val ins = -pos - 1
          val n = math.min(buf.length + 1, K)
          val out = new Array[Long](n)
          System.arraycopy(buf, 0, out, 0, ins)
          out(ins) = f
          System.arraycopy(buf, ins, out, ins + 1,
            math.min(buf.length - ins, n - ins - 1))
          out
        }
      }
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = mergeValues(a, b)
    def finish(r: Array[Long]): Array[Byte] = encode(r)
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  private object Merge extends Aggregator[Array[Byte], Array[Long], Array[Byte]] {
    def zero: Array[Long] = Array.emptyLongArray
    def reduce(b: Array[Long], a: Array[Byte]): Array[Long] =
      if (a == null) b else mergeValues(b, decode(a))
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = mergeValues(a, b)
    def finish(r: Array[Long]): Array[Byte] = encode(r)
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  private object MergeEst extends Aggregator[Array[Byte], Array[Long], Double] {
    def zero: Array[Long] = Array.emptyLongArray
    def reduce(b: Array[Long], a: Array[Byte]): Array[Long] =
      if (a == null) b else mergeValues(b, decode(a))
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = mergeValues(a, b)
    def finish(r: Array[Long]): Double = estimate(encode(r))
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** This family's SQL functions, for [[GraftFunctions.table]]. */
  val functions: Seq[(String, UserDefinedFunction)] = Seq(
    "kmv_build" -> udaf(Build, Encoders.scalaLong),
    "kmv_merge" -> udaf(Merge, Encoders.BINARY),
    "kmv_merge_est" -> udaf(MergeEst, Encoders.BINARY),
    "kmv_est" -> udf((b: Array[Byte]) => estimate(b)),
    "kmv_intersect_est" -> udf((a: Array[Byte], b: Array[Byte]) => intersectEst(a, b)),
    "kmv_diff_est" -> udf((a: Array[Byte], b: Array[Byte]) => diffEst(a, b)))
}
