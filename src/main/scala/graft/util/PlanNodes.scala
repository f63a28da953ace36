package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Physical-plan walking. `TreeNode.collect` does NOT descend into AQE
  * query stages (QueryStageExec is a leaf wrapper whose materialized
  * subtree hangs off `.plan`), into AdaptiveSparkPlanExec's current plan,
  * or into reused exchanges — so a typed
  * `plan.collect { case j: SortMergeJoinExec => }` silently misses every
  * join that executed inside a stage. These helpers expand all of those
  * boundaries explicitly. */
object PlanNodes {

  /** Every node of the physical plan, descending through AQE stages,
    * reused exchanges, and (optionally) cached-relation subtrees. */
  def flatten(p: SparkPlan, intoCached: Boolean = false): Seq[SparkPlan] =
    p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan, intoCached)
      case q: QueryStageExec        => flatten(q.plan, intoCached)
      case r: ReusedExchangeExec    => flatten(r.child, intoCached)
      case m: InMemoryTableScanExec if intoCached =>
        flatten(m.relation.cachedPlan, intoCached)
      case other => other.children.flatMap(flatten(_, intoCached))
    })

  /** Materialize the frame (so AQE finalizes its re-planning), then
    * return every node of the FINAL plan. */
  def executedNodes(df: DataFrame, intoCached: Boolean = false): Seq[SparkPlan] = {
    df.collect()
    flatten(df.queryExecution.executedPlan, intoCached)
  }
}
