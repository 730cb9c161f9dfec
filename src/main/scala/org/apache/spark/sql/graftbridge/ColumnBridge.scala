package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ExpressionUtils, UserDefinedFunctionUtils}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedAggregator, UserDefinedFunction}

/** The one sanctioned crossing between graft's native Catalyst
  * expressions and the public Column API: Spark 4 made the
  * Column↔Expression converters `private[sql]` (columnNodeSupport),
  * so expressions that cannot ride SQL registration — e.g.
  * [[graft.functions.UnigramViterbi]], whose piece table is a runtime
  * Scala constant — wrap through here. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The function builder `spark.udf.register(name, f)` installs, for a
    * registry entry made without it. An Aggregator UDF builds a bare
    * `ScalaAggregator` (the analyzer wraps it, so DISTINCT and FILTER
    * work; the Column route would hand back an already-wrapped
    * aggregate). A scalar UDF builds a `ScalaUDF` after the arity check
    * that the lambda overloads of `register` make. `withName` makes an
    * unaliased column print as `name(...)`, not `UDF(...)`. */
  def udfBuilder(name: String, f: UserDefinedFunction): Seq[Expression] => Expression =
    f.withName(name) match {
      case a: UserDefinedAggregator[_, _, _] => children => ScalaAggregator(a, children)
      case u: SparkUserDefinedFunction => children =>
        if (children.length != u.inputEncoders.length)
          throw QueryCompilationErrors.wrongNumArgsError(
            name, Seq(u.inputEncoders.length), children.length)
        UserDefinedFunctionUtils.toScalaUDF(u, children)
    }
}
