package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point for sessions the engine does not
  * build: `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`) gives a cluster's SQL
  * users all 41 graft functions of [[GraftFunctions.table]] plus the
  * `HammingJoinBlocking` optimizer rule. Sessions built by
  * [[graft.core.GraftSession.tune]] get the functions only: the rule
  * stays opt-in here, since it may rewrite the `bit_count(xor(...)) <= k`
  * plans of `LlmSamplingOps`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // naive bit_count(a ^ b) <= k joins → pigeonhole block equi-joins
    ext.injectOptimizerRule(_ => graft.plans.HammingJoinBlocking)
    GraftFunctions.inject(ext)
  }
}
