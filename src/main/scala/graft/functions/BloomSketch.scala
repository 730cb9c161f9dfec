package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.{udaf, udf}

/** Mergeable MEMBERSHIP sketches as first-class columns — the fourth
  * sketch-at-rest next to cardinality ([[HllSketch]]), quantiles
  * ([[DdSketch]]), and frequencies ([[CmSketch]]): a plain Bloom filter
  * whose bit array is a BINARY column, so yesterday's ingest can filter
  * today's batch WITHOUT rebuilding (q62 builds its filter per run via
  * `DataFrameStatFunctions`; this one persists and merges).
  *
  *   - `bloom_build(col)`      : Long key column → filter bytes;
  *   - `bloom_merge(sk)`       : filter column → UNION filter bytes
  *     (bit-wise OR — the storable rollup);
  *   - `bloom_contains(sk, k)` : membership probe.
  *
  * Contract: NO FALSE NEGATIVES, structurally — an inserted key's bits
  * are set and OR never clears a bit, so a key present in ANY merged
  * shard always probes true (the property suite pins it). False
  * positives are possible and data-dependent, but deterministic given
  * the fixed splitmix64 hash family (m = 2^17 bits, k = 5: ~0.1% at
  * 10k items, sized for per-shard fingerprint sets; shard more finely
  * rather than growing m). Merge is OR: commutative, associative,
  * IDEMPOTENT — like HLL and unlike counter sketches, re-merging a
  * shard is harmless.
  */
object BloomSketch {

  val MBits = 1 << 17
  val MBytes: Int = MBits / 8
  val K = 5
  private val Seeds: Array[Long] = Array(
    0x9e3779b97f4a7c15L, 0xc2b2ae3d27d4eb4fL, 0x165667b19e3779f9L,
    0x27d4eb2f165667c5L, 0x85ebca77c2b2ae63L)

  private def bit(r: Int, key: Long): Int =
    ((HllSketch.mix64(key ^ Seeds(r)) >>> 1) % MBits).toInt

  private def set(b: Array[Byte], i: Int): Unit =
    b(i >>> 3) = (b(i >>> 3) | (1 << (i & 7))).toByte

  private def get(b: Array[Byte], i: Int): Boolean =
    (b(i >>> 3) & (1 << (i & 7))) != 0

  def add(b: Array[Byte], key: Long): Unit = {
    var r = 0
    while (r < K) { set(b, bit(r, key)); r += 1 }
  }

  def contains(sk: Array[Byte], key: Long): Boolean = {
    if (sk == null || sk.length != MBytes) return false
    var r = 0
    while (r < K) { if (!get(sk, bit(r, key))) return false; r += 1 }
    true
  }

  /** Driver-side build — tests and local seeding. */
  def sketchOf(vs: IterableOnce[Long]): Array[Byte] = {
    val b = new Array[Byte](MBytes)
    vs.iterator.foreach(add(b, _))
    b
  }

  /** Pure bit-OR merge into a new array. */
  def mergeSketches(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = java.util.Arrays.copyOf(a, MBytes)
    var i = 0
    while (i < MBytes) { out(i) = (out(i) | b(i)).toByte; i += 1 }
    out
  }

  private object Build extends Aggregator[Long, Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = new Array[Byte](MBytes)
    def reduce(b: Array[Byte], v: Long): Array[Byte] = { add(b, v); b }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < MBytes) { a(i) = (a(i) | b(i)).toByte; i += 1 }
      a
    }
    def finish(r: Array[Byte]): Array[Byte] = r
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  private object Merge extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = new Array[Byte](MBytes)
    def reduce(b: Array[Byte], sk: Array[Byte]): Array[Byte] = {
      if (sk != null && sk.length == MBytes) {
        var i = 0
        while (i < MBytes) { b(i) = (b(i) | sk(i)).toByte; i += 1 }
      }
      b
    }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < MBytes) { a(i) = (a(i) | b(i)).toByte; i += 1 }
      a
    }
    def finish(r: Array[Byte]): Array[Byte] = r
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** This family's SQL functions, for [[GraftFunctions.table]]. */
  val functions: Seq[(String, UserDefinedFunction)] = Seq(
    "bloom_build" -> udaf(Build, Encoders.scalaLong),
    "bloom_merge" -> udaf(Merge, Encoders.BINARY),
    "bloom_contains" -> udf((sk: Array[Byte], k: java.lang.Long) =>
      k != null && contains(sk, k)))
}
