package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Every graft SQL function, in one table that is installed once per
  * session. Sessions built by [[graft.core.GraftSession.tune]] get it
  * through [[inject]] when they are built, and so do their
  * `newSession()`s and the clones a streaming query runs `foreachBatch`
  * in; no operator registers anything. A session the caller brought
  * gets the same entries from one [[register]] call, which
  * [[graft.SparkEntry.queries]] makes before each query. */
object GraftFunctions {

  private def intArg(e: Expression): Int = e.eval().asInstanceOf[Int]

  /** The native Catalyst functions as (name, usage, builder). */
  private val natives: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", "cosine_sim(array<float>, array<float>) -> double",
      exprs => CosineSimilarity(exprs(0), exprs(1))),
    ("l2_sq", "l2_sq(array<float>, array<float>) -> double",
      exprs => L2Sq(exprs(0), exprs(1))),
    ("md5_i64", "md5_i64(array<string>[, prefix]) -> array<bigint>", {
      case Seq(e) => Md5I64Array(e)
      case Seq(e, p) => Md5I64Array(e,
        p.eval().asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
    }),
    ("minhash_sig", "minhash_sig(array<bigint>, k) -> array<bigint>",
      exprs => MinhashSig(exprs(0), intArg(exprs(1)))),
    ("simhash", "simhash(array<bigint>, bits) -> bigint",
      exprs => Simhash(exprs(0), intArg(exprs(1)))),
    ("simhash16", "simhash16(array<bigint>) -> bigint",
      exprs => Simhash(exprs(0), 16)),
    ("srp_sig", "srp_sig(array<float>, bits) -> bigint",
      exprs => SrpSig(exprs(0), intArg(exprs(1)))),
    ("word_shingles", "word_shingles(array<string>, n) -> array<string>",
      exprs => WordShingles(exprs(0), intArg(exprs(1)))),
    ("char_shingles", "char_shingles(string, n) -> array<string>",
      exprs => CharShingles(exprs(0), intArg(exprs(1)))),
    ("winnow_fps", "winnow_fps(string, k, w) -> array<bigint>",
      exprs => WinnowFps(exprs(0), intArg(exprs(1)), intArg(exprs(2)))),
    ("word_gram_hashes", "word_gram_hashes(array<string>, k) -> array<bigint>",
      exprs => WordGramHashes(exprs(0), intArg(exprs(1)))),
    ("intradoc_cut", "intradoc_cut(array<string>, k) -> " +
      "struct<n_tokens:int, kept_tokens:bigint, clean_text:string>",
      exprs => IntradocCut(exprs(0), intArg(exprs(1)))),
    ("sorted_intersect_count",
      "sorted_intersect_count(array<bigint>, array<bigint>) -> int",
      exprs => SortedIntersectCount(exprs(0), exprs(1))))

  /** The sketch UDF and UDAF families. */
  private val sketches: Seq[(String, UserDefinedFunction)] =
    HllSketch.functions ++ DdSketch.functions ++ CmSketch.functions ++
      BloomSketch.functions ++ KmvSketch.functions ++ CountingBloom.functions

  // 5-arg form: the 3-arg overload is (className, db, name), which would
  // register `usage` as the function's name and garble DESCRIBE FUNCTION.
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.functions", null, name, usage, "")

  /** The 41 entries, in the form `injectFunction` takes: the natives, then
    * each sketch UDF with the builder `spark.udf.register` would give it. */
  val table: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    natives.map { case (name, usage, builder) =>
      (FunctionIdentifier(name), info(name, usage), builder)
    } ++ sketches.map { case (name, f) =>
      (FunctionIdentifier(name), info(name, null), ColumnBridge.udfBuilder(name, f))
    }

  /** Puts the table into every session built with these extensions. */
  def inject(ext: SparkSessionExtensions): Unit = table.foreach(ext.injectFunction)

  /** Installs each table entry the session lacks; an entry already there,
    * ours or a same-named one of the caller's, is left as it is. So a
    * second call adds and replaces nothing, and logs no "replaced a
    * previously registered function" warning. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // one check-and-install at a time: concurrent queries may all call this
    reg.synchronized {
      table.foreach { case (id, info, builder) =>
        if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
      }
    }
  }
}
