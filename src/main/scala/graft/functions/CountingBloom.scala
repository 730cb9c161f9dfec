package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.{udaf, udf}

/** COUNTING Bloom filter (Fan, Cao, Almeida, Broder 2000, "Summary
  * Cache", §4.3) — the deletable sibling of [[BloomSketch]], closing
  * the one honesty gap the plain filter's scaladoc concedes: OR never
  * clears a bit, so a takedown cannot retract a key from a bloom at
  * rest, only a rebuild can. Here every slot is a 4-byte COUNTER
  * (little-endian in one BINARY column), which makes the sketch a
  * LINEAR map of the inserted key multiset:
  *
  *   - `cbloom_build(col)`    : Long keys → counter array (+1 per key
  *     per hash);
  *   - `cbloom_merge(sk)`     : element-wise SUM — commutative and
  *     associative but, unlike bloom_merge's OR, NOT idempotent:
  *     re-merging a shard double-counts. Deletability costs exactly
  *     the merge-once discipline (the same price q234's refcounted
  *     gram set pays — this is that refcount, sketched);
  *   - `cbloom_diff(a, b)`    : element-wise SUBTRACT — the DELETE.
  *     Because the sketch is linear, build(all) − build(deleted) is
  *     BYTE-IDENTICAL to build(all − deleted), not merely
  *     membership-equivalent (the property suite pins byte equality);
  *   - `cbloom_contains(sk,k)`: all K counters positive.
  *
  * Contracts. No false negatives, structurally: a surviving key's own
  * +1s are untouched by subtracting OTHER keys' insertions, so its
  * counters stay ≥ 1. False positives as in any bloom (m = 2^15
  * counters, k = 5 — ~2e-6 at 500 keys, ~4% at 5k; shard more finely
  * rather than growing m). The one NEW hazard deletability introduces:
  * subtracting a multiset that was never inserted would drive counters
  * negative and silently un-member innocent keys — so `cbloom_diff`
  * REFUSES (throws) on any counter underflow, the loud-guard
  * discipline of the bitmap rid capacity check. 4-byte counters make
  * saturation unreachable (2^31 insertions per slot), trading 32× the
  * bytes of the bit filter for exact retraction — 128 KiB per sketch,
  * still broadcast-sized.
  */
object CountingBloom {

  val MCounters = 1 << 15
  val MBytes: Int = MCounters * 4
  val K = 5
  private val Seeds: Array[Long] = Array(
    0x9e3779b97f4a7c15L, 0xc2b2ae3d27d4eb4fL, 0x165667b19e3779f9L,
    0x27d4eb2f165667c5L, 0x85ebca77c2b2ae63L)

  private def slot(r: Int, key: Long): Int =
    ((HllSketch.mix64(key ^ Seeds(r)) >>> 1) % MCounters).toInt

  private def counter(b: Array[Byte], i: Int): Int = {
    val o = i << 2
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
  }

  private def put(b: Array[Byte], i: Int, v: Int): Unit = {
    val o = i << 2
    b(o) = v.toByte
    b(o + 1) = (v >>> 8).toByte
    b(o + 2) = (v >>> 16).toByte
    b(o + 3) = (v >>> 24).toByte
  }

  def add(b: Array[Byte], key: Long): Unit = {
    var r = 0
    while (r < K) {
      val i = slot(r, key)
      put(b, i, counter(b, i) + 1)
      r += 1
    }
  }

  def contains(sk: Array[Byte], key: Long): Boolean = {
    if (sk == null || sk.length != MBytes) return false
    var r = 0
    while (r < K) { if (counter(sk, slot(r, key)) <= 0) return false; r += 1 }
    true
  }

  /** Driver-side build — tests and local seeding. */
  def sketchOf(vs: IterableOnce[Long]): Array[Byte] = {
    val b = new Array[Byte](MBytes)
    vs.iterator.foreach(add(b, _))
    b
  }

  /** Element-wise counter sum into a new array. */
  def mergeSketches(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = java.util.Arrays.copyOf(a, MBytes)
    var i = 0
    while (i < MCounters) { put(out, i, counter(out, i) + counter(b, i)); i += 1 }
    out
  }

  /** Element-wise counter subtraction (the delete). Throws on
    * underflow — subtracting keys that were never inserted is
    * corruption, not a delete. */
  def diffSketches(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](MBytes)
    var i = 0
    while (i < MCounters) {
      val v = counter(a, i) - counter(b, i)
      require(v >= 0,
        s"cbloom_diff underflow at counter $i: the subtracted sketch " +
          "contains insertions the base never made — refusing to " +
          "un-member innocent keys")
      put(out, i, v)
      i += 1
    }
    out
  }

  private object Build extends Aggregator[Long, Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = new Array[Byte](MBytes)
    def reduce(b: Array[Byte], v: Long): Array[Byte] = { add(b, v); b }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < MCounters) { put(a, i, counter(a, i) + counter(b, i)); i += 1 }
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
        while (i < MCounters) { put(b, i, counter(b, i) + counter(sk, i)); i += 1 }
      }
      b
    }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < MCounters) { put(a, i, counter(a, i) + counter(b, i)); i += 1 }
      a
    }
    def finish(r: Array[Byte]): Array[Byte] = r
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** This family's SQL functions, for [[GraftFunctions.table]]. */
  val functions: Seq[(String, UserDefinedFunction)] = Seq(
    "cbloom_build" -> udaf(Build, Encoders.scalaLong),
    "cbloom_merge" -> udaf(Merge, Encoders.BINARY),
    "cbloom_diff" -> udf((a: Array[Byte], b: Array[Byte]) => diffSketches(a, b)),
    "cbloom_contains" -> udf((sk: Array[Byte], k: java.lang.Long) =>
      k != null && contains(sk, k)))
}
