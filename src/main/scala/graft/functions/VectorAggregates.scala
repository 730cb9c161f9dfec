package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Bounded per-group aggregates as typed UDAFs (SURVEY.md §2 Part B row
  * "UDF/UDAF/UDTF" — the reference has no expression layer at all), and
  * the two top-k-per-group shapes built on aggregation.
  *
  * Each `Aggregator` here is the built-in agg contract (merge is
  * associative and commutative), so Spark runs it with map-side partial
  * aggregation: every input partition reduces to a k-bounded buffer per
  * group BEFORE the exchange, which then carries O(groups × partitions
  * × k) rows however large the groups are.
  */
object VectorAggregates {

  /** One scored candidate, the [[TopKAgg]] element. Qualified-private:
    * Spark's generated encoder code reads its members from outside, so
    * it must stay public in bytecode. */
  private[VectorAggregates] final case class ScoredCand(cos: Double, cand_id: Long)

  /** Bounded top-k aggregation: buffer = the current best ≤ k candidates,
    * ordered best-first (cos DESC, cand_id ASC — the total order of the
    * row_number window it replaces). Measured against Spark's built-in
    * `CollectTopK` on `struct(score, ~id)` (same rows): this one was
    * faster at both few and 400k groups, so it stays. */
  private class TopKAgg(k: Int)
      extends Aggregator[ScoredCand, Seq[ScoredCand], Seq[ScoredCand]] {
    private val ord: Ordering[ScoredCand] =
      Ordering.by((s: ScoredCand) => (-s.cos, s.cand_id))

    override def zero: Seq[ScoredCand] = Seq.empty

    override def reduce(b: Seq[ScoredCand], v: ScoredCand): Seq[ScoredCand] =
      if (b.length >= k && ord.lteq(b.last, v)) b // v can't beat the current worst
      else ((b :+ v).sorted(ord)).take(k)

    override def merge(a: Seq[ScoredCand], b: Seq[ScoredCand]): Seq[ScoredCand] =
      (a ++ b).sorted(ord).take(k)

    override def finish(r: Seq[ScoredCand]): Seq[ScoredCand] = r

    override def bufferEncoder: Encoder[Seq[ScoredCand]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ScoredCand]]()
    override def outputEncoder: Encoder[Seq[ScoredCand]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ScoredCand]]()
  }

  /** The top `k` rows of each `group` by (`score` DESC, `id` ASC) as
    * (group, rnk, id, score) rows, rnk the 1-based INT rank — the rows
    * `row_number() OVER (PARTITION BY group ORDER BY score DESC, id) ≤ k`
    * keeps, with `score` as DOUBLE and `id` as BIGINT. Built on
    * [[TopKAgg]], so it suits few, large groups (probes × corpus): the
    * shuffle carries k-bounded partials, where the window would shuffle
    * every scored row. `score + 0.0` folds −0.0 into 0.0, which Spark's
    * sort already treats as equal and the aggregator's ordering would
    * split. */
  def topKPerGroup(df: DataFrame, group: String, k: Int, score: String,
                   id: String): DataFrame = {
    implicit val enc: Encoder[ScoredCand] = Encoders.product[ScoredCand]
    df.groupBy(col(group))
      .agg(udaf(new TopKAgg(k))
        .apply(col(score).cast("double") + 0.0, col(id)).as("top"))
      .select(col(group), posexplode(col("top")).as(Seq("i", "s")))
      .select(col(group), (col("i") + 1).cast("int").as("rnk"),
        col("s.cand_id").as(id), col("s.cos").as(score))
  }

  /** The top row of each `group` by (`score` DESC, `id` ASC) as
    * (group, id, score) rows, for an integral `score` ≥ 1 with known
    * bounds: `id` in [idMin, idMax], `score` ≤ scoreMax. When the bounds
    * allow, the pick is one LONG `max(score·B − id)`, B the first power
    * of two above idMax: it orders exactly like (score DESC, id ASC),
    * runs as a map-side-combinable HashAggregate (a struct buffer forces
    * a SortAggregate and its Sort), and decodes with integer `div`
    * arithmetic. That needs ids ≥ 0 and (scoreMax + 1)·B within a long,
    * the decode's headroom; otherwise the pick is
    * `max(struct(score, ~id))`, where `~id` orders like −id but cannot
    * overflow at Long.MinValue. Both forms return `id` in its own type
    * and `score` as BIGINT. */
  def top1PerGroup(df: DataFrame, group: String, score: String, id: String,
                   idMin: Long, idMax: Long, scoreMax: Long): DataFrame = {
    val b = java.lang.Long.highestOneBit(math.max(idMax, 1L)) * 2
    if (idMin >= 0 && b > 0 && scoreMax + 1 <= Long.MaxValue / b)
      df.groupBy(col(group))
        .agg(max(col(score).cast("long") * lit(b) - col(id)).as("enc"))
        .withColumn(score, expr(s"(enc + ${b - 1}) div $b"))
        .select(col(group),
          (col(score) * lit(b) - col("enc")).cast(df.schema(id).dataType).as(id),
          col(score))
    else
      df.groupBy(col(group))
        .agg(max(struct(col(score).cast("long").as("s"),
          bitwise_not(col(id)).as("nid"))).as("m"))
        .select(col(group), bitwise_not(col("m.nid")).as(id),
          col("m.s").as(score))
  }

  /** Bounded bottom-k DISTINCT aggregation over longs — the exact KMV
    * sketch build: buffer = the ≤ k smallest distinct values seen,
    * ascending. Replaces the `distinct()` + bottom-k pair: the global
    * k smallest distinct values are fully determined by each
    * partition's k smallest distinct values, so merge (union, dedup,
    * truncate) is associative and commutative and Spark runs it with
    * map-side partials — the shuffle carries O(groups × partitions × k)
    * rows where the distinct() spelling exchanged every distinct
    * (group, value) pair (corpus-shingle-sized at the q176 shape). */
  class BottomKDistinctAgg(k: Int) extends Aggregator[Long, Seq[Long], Seq[Long]] {
    override def zero: Seq[Long] = Seq.empty

    override def reduce(b: Seq[Long], v: Long): Seq[Long] = {
      val n = b.length
      if (n >= k && b(n - 1) <= v) b // v can't enter a full buffer
      else {
        // the buffer is kept ascending: binary-search the insertion
        // point (O(log k) membership + one O(k) positional copy per
        // surviving row, replacing the linear contains + full re-sort)
        val a = b.toArray
        var lo = 0
        var hi = n
        var dup = false
        while (lo < hi && !dup) {
          val mid = (lo + hi) >>> 1
          val m = a(mid)
          if (m == v) dup = true
          else if (m < v) lo = mid + 1
          else hi = mid
        }
        if (dup) b
        else {
          val outLen = math.min(n + 1, k)
          val out = new Array[Long](outLen)
          System.arraycopy(a, 0, out, 0, math.min(lo, outLen))
          if (lo < outLen) {
            out(lo) = v
            System.arraycopy(a, lo, out, lo + 1, outLen - lo - 1)
          }
          scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
        }
      }
    }

    override def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] =
      (a ++ b).distinct.sorted.take(k)

    override def finish(r: Seq[Long]): Seq[Long] = r

    override def bufferEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Bottom-k distinct as a `Column`: array<long> ascending. */
  def bottomKDistinctOf(k: Int, v: Column): Column = {
    implicit val enc: Encoder[Long] = Encoders.scalaLong
    udaf(new BottomKDistinctAgg(k)).apply(v)
  }
}
