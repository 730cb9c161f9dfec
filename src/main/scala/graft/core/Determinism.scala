package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Helpers that make results bit-identical across engines and across runs.
  *
  * Two hazards for a hash-compared oracle:
  *  1. Summing doubles is order-dependent, and Spark's partition merge order
  *     is nondeterministic — the same query can hash differently run to run.
  *     Fix: accumulate in Decimal (exact, associative), round, emit double.
  *  2. Engine-specific hash functions (xxhash64 vs DuckDB's hash) differ.
  *     Fix: a shared 60-bit hash built from md5 hex, which both engines
  *     compute identically.
  */
object Determinism {

  /** Exact, order-independent sum of a double column: quantize each value to
    * 8 decimals (exact for the 2-6dp fixture data), sum in decimal, round IN
    * DECIMAL (both engines round decimals half-away-from-zero — verified),
    * and only then cast to double. No fp op ever feeds a rounding boundary.
    * DuckDB equivalent: [[sumSql]]. */
  def dsum(c: Column, scale: Int = 4): Column =
    round(sum(c.cast(DecimalType(30, 8))), scale).cast("double")

  def sumSql(expr: String, scale: Int = 4): String =
    s"round(sum(CAST(($expr) AS DECIMAL(30,8))), $scale)::DOUBLE"

  /** Deterministic mean. Decimal division scales differ across engines, so:
    * exact decimal sum → double (correctly rounded in both) → IEEE divide →
    * floor(x·10^s + 0.5)/10^s. Every step is bit-identical cross-engine;
    * the half-up happens on identical doubles. */
  def davg(c: Column, scale: Int = 4): Column = {
    val p = math.pow(10.0, scale)
    floor((sum(c.cast(DecimalType(30, 8))).cast("double") / count(c)) * lit(p) + lit(0.5)) / lit(p)
  }

  def avgSql(expr: String, scale: Int = 4): String = {
    val p = s"1e$scale"
    s"floor((sum(CAST(($expr) AS DECIMAL(30,8)))::DOUBLE / count($expr)) * $p + 0.5) / $p"
  }

  /** Half-up rounding of an already-computed double, bit-identical across
    * engines (see [[davg]]); for rounding non-aggregated fp expressions. */
  def dround(c: Column, scale: Int): Column = {
    val p = math.pow(10.0, scale)
    floor(c * lit(p) + lit(0.5)) / lit(p)
  }

  def droundSql(expr: String, scale: Int): String =
    s"floor(($expr) * 1e$scale + 0.5) / 1e$scale"

  /** Cross-engine 60-bit non-negative hash of a string.
    * Spark: conv(first 15 md5 hex chars, 16, 10) cast long.
    * DuckDB: ('0x' || substr(md5(s),1,15))::BIGINT — verified identical. */
  def xhash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Spark SQL-string twin of [[xhash]], for embedding in expr strings —
    * the ONE place this cross-engine-critical expression is spelled. */
  def xhashExpr(e: String): String =
    s"CAST(conv(substr(md5($e), 1, 15), 16, 10) AS BIGINT)"

  def xhashSql(expr: String): String =
    s"(('0x' || substr(md5($expr), 1, 15))::BIGINT)"
}
