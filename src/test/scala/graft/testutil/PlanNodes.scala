package graft.testutil

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** The nodes of an executed plan, for the no-broadcast contract: a
  * multi-column broadcast key holds a full `spark.buffer.pageSize` page of
  * heap however few rows it has ([[graft.operators.BandJoin]]). Run an
  * action on the frame first, so AQE's plan is the final one. */
object PlanNodes {

  /** Every node: AQE's current plan, its query stages, subqueries and the
    * cached plans of in-memory scans. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case other => (other.children ++ other.subqueries).flatMap(nodes)
  })

  /** Every node of `df`'s executed plan, which must be adaptive. */
  private def executed(df: DataFrame): Seq[SparkPlan] = {
    val all = nodes(df.queryExecution.executedPlan)
    require(all.exists(_.isInstanceOf[AdaptiveSparkPlanExec]), "AQE plan expected")
    all
  }

  /** The broadcast exchanges and broadcast hash joins of `df`'s plan. */
  def broadcasts(df: DataFrame): Seq[String] = executed(df).collect {
    case b: BroadcastExchangeExec => b.nodeName
    case j: BroadcastHashJoinExec => j.nodeName
  }

  /** The broadcast hash joins of `df`'s plan on two key columns or more:
    * each builds a full page. */
  def multiKeyBroadcastJoins(df: DataFrame): Seq[BroadcastHashJoinExec] =
    executed(df).collect { case j: BroadcastHashJoinExec if j.leftKeys.size > 1 => j }
}
