package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point: makes every graft native function
  * available on any session built with
  * `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`), so SQL users on a
  * cluster get `cosine_sim`, the hash kernels, and the shingle functions
  * without calling [[graft.functions.GraftFunctions.register]] in code.
  * The per-operator `register` calls remain for sessions the caller
  * brought; both paths read [[GraftFunctions.natives]], so they register
  * the same expressions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  // 5-arg form: the 3-arg overload is (className, db, name), which would
  // register `usage` as the function's name and garble DESCRIBE FUNCTION.
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.functions", null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // naive bit_count(a ^ b) <= k joins → pigeonhole block equi-joins
    ext.injectOptimizerRule(_ => graft.plans.HammingJoinBlocking)
    GraftFunctions.natives.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
  }
}
