package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.{udaf, udf}

/** Mergeable FREQUENCY sketches as first-class columns — the third leg
  * of the sketch-at-rest story next to [[HllSketch]] (cardinality) and
  * [[DdSketch]] (quantiles): count-min (Cormode/Muthukrishnan 2005) for
  * heavy-hitter point queries over 100 TB key streams (hot tokens,
  * domains, join keys) without keeping the full key histogram.
  *
  *   - `cms_build(col)`    : Long key column → sketch bytes;
  *   - `cms_merge(sk)`     : sketch column → merged sketch BYTES
  *     (counter-wise add — the storable rollup);
  *   - `cms_est(sk, key)`  : point frequency estimate (min over rows);
  *   - `cms_count(sk)`     : total stream length (row-0 sum, exact).
  *
  * Guarantees, all DETERMINISTIC given the fixed splitmix64-derived
  * hash family: est ≥ true count ALWAYS (counters only over-count);
  * est ≤ true + 2N/width with probability 1 − (1/2)^depth over the
  * hash draw — and since the hashes are fixed, whether the bound holds
  * on given data is reproducible, which is what lets the q137 oracle
  * gate it as a stable boolean. Merge is element-wise long addition:
  * commutative, associative, partition-order-free, exact.
  */
object CmSketch {

  val Depth = 4
  val Width = 4096
  private val Seeds: Array[Long] = Array(
    0x9e3779b97f4a7c15L, 0xc2b2ae3d27d4eb4fL,
    0x165667b19e3779f9L, 0x27d4eb2f165667c5L)

  private def slot(r: Int, key: Long): Int =
    ((HllSketch.mix64(key ^ Seeds(r)) >>> 1) % Width).toInt

  def toBytes(c: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * Depth * Width)
    c.foreach(bb.putLong)
    bb.array()
  }

  def fromBytes(b: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(b)
    Array.fill(Depth * Width)(bb.getLong())
  }

  /** Driver-side build — tests and local seeding. */
  def sketchOf(vs: IterableOnce[Long]): Array[Byte] = {
    val c = new Array[Long](Depth * Width)
    vs.iterator.foreach { v =>
      var r = 0
      while (r < Depth) { c(r * Width + slot(r, v)) += 1; r += 1 }
    }
    toBytes(c)
  }

  def mergeSketches(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val ca = fromBytes(a)
    val cb = fromBytes(b)
    var i = 0
    while (i < ca.length) { ca(i) += cb(i); i += 1 }
    toBytes(ca)
  }

  /** Counter-wise subtraction — the DELETE, by the same linearity that
    * makes [[CountingBloom.diffSketches]] exact: the CMS is a linear
    * map of the inserted key multiset, so build(all) − build(deleted)
    * is BYTE-identical to build(all − deleted), and every guarantee
    * (est ≥ true, est ≤ true + 2N/width with the SHRUNKEN post-delete
    * N) holds on the subtracted sketch as if it had been built fresh.
    * Throws on underflow — subtracting keys never inserted is
    * corruption, not a delete (the CountingBloom guard, verbatim). */
  def diffSketches(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val ca = fromBytes(a)
    val cb = fromBytes(b)
    var i = 0
    while (i < ca.length) {
      ca(i) -= cb(i)
      require(ca(i) >= 0L,
        s"cms_diff underflow at counter $i: the subtracted sketch " +
          "contains insertions the base never made")
      i += 1
    }
    toBytes(ca)
  }

  /** Point estimate: min over the Depth row counters for the key. */
  def estimate(sk: Array[Byte], key: Long): Long = {
    val c = fromBytes(sk)
    var best = Long.MaxValue
    var r = 0
    while (r < Depth) {
      val v = c(r * Width + slot(r, key))
      if (v < best) best = v
      r += 1
    }
    best
  }

  /** Exact total stream length: every update adds 1 to each row. */
  def count(sk: Array[Byte]): Long = {
    val c = fromBytes(sk)
    var s = 0L
    var i = 0
    while (i < Width) { s += c(i); i += 1 }
    s
  }

  private object Build extends Aggregator[Long, Array[Long], Array[Byte]] {
    def zero: Array[Long] = new Array[Long](Depth * Width)
    def reduce(b: Array[Long], v: Long): Array[Long] = {
      var r = 0
      while (r < Depth) { b(r * Width + slot(r, v)) += 1; r += 1 }
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def finish(r: Array[Long]): Array[Byte] = toBytes(r)
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  private object Merge extends Aggregator[Array[Byte], Array[Long], Array[Byte]] {
    def zero: Array[Long] = new Array[Long](Depth * Width)
    def reduce(b: Array[Long], sk: Array[Byte]): Array[Long] = {
      if (sk != null && sk.length == 8 * Depth * Width) {
        val c = fromBytes(sk)
        var i = 0
        while (i < b.length) { b(i) += c(i); i += 1 }
      }
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def finish(r: Array[Long]): Array[Byte] = toBytes(r)
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Register `cms_build` / `cms_merge` / `cms_est` / `cms_count`.
    * Idempotent. */
  /** AMS/CMS inner-product estimate of an equi-join's output size:
    * |A ⋈ B| = Σ_k n_A(k)·n_B(k) is estimated as min over rows of
    * Σ_j cA[r][j]·cB[r][j] — colliding keys only ever ADD mass, so the
    * estimate is a guaranteed OVERESTIMATE of the true join size, and
    * E[excess] ≤ ||A||₁·||B||₁ / Width per row (Cormode & Muthukrishnan
    * 2005, §4.2). Two tiny sketches stand in for both relations. */
  def joinEstimate(a: Array[Byte], b: Array[Byte]): Long = {
    val ca = fromBytes(a)
    val cb = fromBytes(b)
    var best = Long.MaxValue
    var r = 0
    while (r < Depth) {
      var s = 0L
      var j = 0
      while (j < Width) { s += ca(r * Width + j) * cb(r * Width + j); j += 1 }
      if (s < best) best = s
      r += 1
    }
    best
  }

  /** This family's SQL functions, for [[GraftFunctions.table]]. */
  val functions: Seq[(String, UserDefinedFunction)] = Seq(
    "cms_build" -> udaf(Build, Encoders.scalaLong),
    "cms_merge" -> udaf(Merge, Encoders.BINARY),
    "cms_est" -> udf((sk: Array[Byte], k: Long) => estimate(sk, k)),
    "cms_count" -> udf((sk: Array[Byte]) => count(sk)),
    "cms_diff" -> udf((a: Array[Byte], b: Array[Byte]) => diffSketches(a, b)),
    "cms_join_est" -> udf((a: Array[Byte], b: Array[Byte]) => joinEstimate(a, b)))
}
