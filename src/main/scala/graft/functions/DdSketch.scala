package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.{udaf, udf}

/** Mergeable QUANTILE sketches as first-class columns — the quantile
  * twin of [[HllSketch]]'s cardinality lifecycle.
  *
  * `approx_percentile` answers "what is p50 NOW, in this one query"; a
  * 100 TB pipeline needs the sketch AS DATA: build one per shard/day at
  * ingest, store the bytes next to the partition, and answer later
  * quantile questions (over any union of shards) WITHOUT rescanning —
  * the reference's archive-then-analyze shape. Three surfaces:
  *
  *   - `ddq_build(col)`   : positive Long column → sketch bytes;
  *   - `ddq_merge(sk)`    : sketch column → merged sketch BYTES (the
  *     storable rollup — counts add bucket-wise);
  *   - `ddq_quantile(sk, q)` / `ddq_count(sk)`: scalar reads.
  *
  * The sketch is DDSketch (Masson/Rim/Lee, VLDB 2019) restricted to
  * positive integers: bucket i holds values in (γ^(i-1), γ^i] with
  * γ = (1+α)/(1-α), so the midpoint estimate 2γ^i/(γ+1) is within
  * relative error α of ANY value in the bucket — a RELATIVE-accuracy
  * guarantee at every quantile, where rank-error sketches (t-digest,
  * KLL) lose the tails. α = 1%, 2048 buckets covers [1, ~4e17].
  *
  * Everything is DETERMINISTIC: bucket assignment is a pure function of
  * the value (StrictMath — bit-identical on every JVM), counts are
  * exact longs, and merge is element-wise addition — commutative,
  * associative, partition-order-free (NOT idempotent, unlike HLL's
  * register max: merging a sketch with itself doubles its counts; the
  * property suite pins that). Retried tasks cannot double-count for the same reason any
  * Spark aggregation is exactly-once: partials feed the agg exactly
  * once per input partition.
  */
object DdSketch {

  val Alpha = 0.01
  val Gamma: Double = (1.0 + Alpha) / (1.0 - Alpha)
  private val LogGamma = StrictMath.log(Gamma)
  val MaxBuckets = 2048

  /** Bucket index for v ≥ 1; values above the covered range clamp into
    * the top bucket (documented saturation, never an error). */
  def bucketOf(v: Long): Int =
    if (v <= 1L) 0
    else math.min(MaxBuckets - 1,
      StrictMath.ceil(StrictMath.log(v.toDouble) / LogGamma).toInt)

  /** Midpoint estimate for bucket i — within α of every bucket member. */
  def bucketValue(i: Int): Double =
    2.0 * StrictMath.pow(Gamma, i) / (Gamma + 1.0)

  def toBytes(counts: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * MaxBuckets)
    counts.foreach(bb.putLong)
    bb.array()
  }

  def fromBytes(b: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(b)
    Array.fill(MaxBuckets)(bb.getLong())
  }

  /** Driver-side build — same update path as the aggregator; for tests
    * and local seeding. Non-positive values are ignored (the column
    * contract is positive measures: cents, token counts, latencies). */
  def sketchOf(vs: IterableOnce[Long]): Array[Byte] = {
    val c = new Array[Long](MaxBuckets)
    vs.iterator.foreach(v => if (v > 0) c(bucketOf(v)) += 1)
    toBytes(c)
  }

  /** Pure bucket-wise-sum merge into a new array. */
  def mergeSketches(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val ca = fromBytes(a)
    val cb = fromBytes(b)
    var i = 0
    while (i < MaxBuckets) { ca(i) += cb(i); i += 1 }
    toBytes(ca)
  }

  def count(sk: Array[Byte]): Long = fromBytes(sk).sum

  /** Bucket-wise subtraction — the DELETE, by the same linearity as
    * [[CmSketch.diffSketches]] and [[CountingBloom.diffSketches]]:
    * bucket counts are a linear map of the inserted value multiset, so
    * build(all) − build(deleted) is BYTE-identical to build(all −
    * deleted) and the α relative-error guarantee holds on the
    * subtracted sketch as if built fresh. Throws on underflow. */
  def diffSketches(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val ca = fromBytes(a)
    val cb = fromBytes(b)
    var i = 0
    while (i < MaxBuckets) {
      ca(i) -= cb(i)
      require(ca(i) >= 0L,
        s"ddq_diff underflow at bucket $i: the subtracted sketch " +
          "contains insertions the base never made")
      i += 1
    }
    toBytes(ca)
  }

  /** q-quantile estimate: walk buckets to rank ⌊q·(n−1)⌋ (the paper's
    * x_q), return the midpoint. Null contract: empty sketch → NaN. */
  def quantile(sk: Array[Byte], q: Double): Double = {
    val c = fromBytes(sk)
    val n = c.sum
    if (n == 0) return Double.NaN
    val target = math.floor(q * (n - 1)).toLong
    var cum = 0L
    var i = 0
    while (i < MaxBuckets) {
      cum += c(i)
      if (cum > target) return bucketValue(i)
      i += 1
    }
    bucketValue(MaxBuckets - 1)
  }

  private object Build extends Aggregator[Long, Array[Long], Array[Byte]] {
    def zero: Array[Long] = new Array[Long](MaxBuckets)
    def reduce(b: Array[Long], v: Long): Array[Long] = {
      if (v > 0) b(bucketOf(v)) += 1
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < MaxBuckets) { a(i) += b(i); i += 1 }
      a
    }
    def finish(r: Array[Long]): Array[Byte] = toBytes(r)
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  private object Merge extends Aggregator[Array[Byte], Array[Long], Array[Byte]] {
    def zero: Array[Long] = new Array[Long](MaxBuckets)
    def reduce(b: Array[Long], sk: Array[Byte]): Array[Long] = {
      if (sk != null && sk.length == 8 * MaxBuckets) {
        val c = fromBytes(sk)
        var i = 0
        while (i < MaxBuckets) { b(i) += c(i); i += 1 }
      }
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < MaxBuckets) { a(i) += b(i); i += 1 }
      a
    }
    def finish(r: Array[Long]): Array[Byte] = toBytes(r)
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** This family's SQL functions, for [[GraftFunctions.table]]. */
  val functions: Seq[(String, UserDefinedFunction)] = Seq(
    "ddq_build" -> udaf(Build, Encoders.scalaLong),
    "ddq_merge" -> udaf(Merge, Encoders.BINARY),
    "ddq_quantile" -> udf((sk: Array[Byte], q: Double) => quantile(sk, q)),
    "ddq_count" -> udf((sk: Array[Byte]) => count(sk)),
    "ddq_diff" -> udf((a: Array[Byte], b: Array[Byte]) => diffSketches(a, b)))
}
