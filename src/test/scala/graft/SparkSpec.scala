package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * in the same forked JVM). */
object TestSession {
  lazy val spark: SparkSession = graft.core.GraftSession.local("graft-test", cpus = 8)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  /** Every node of an executed plan, looking through AQE wrappers, query
    * stages, reused exchanges and command results, and into subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case r: ReusedExchangeExec => planNodes(r.child)
    case c: CommandResultExec => planNodes(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
}
