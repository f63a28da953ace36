package graft

import graft.util.PlanNodes
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{CollectLimitExec, FileSourceScanExec, GlobalLimitExec, SparkPlan, TakeOrderedAndProjectExec, UnionExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** r17 verdict #1/#5: the Verify tail showed 8 `WindowExec: No Partition
  * Defined ... Moving all data to a single partition` warnings, two of
  * them genuinely fact-scale (purchase_cadence's global exact rank over
  * every inter-order gap, dsir's global top-100 row_number over every
  * scored document) — a 100 TB anti-pattern nothing enforced. Both were
  * restructured in r18 (per-gap cumulative counts; broadcast top-k
  * threshold). This spec is the TRIPWIRE.
  *
  * Rule: a partition-less WindowExec is legal only when its input is
  * cardinality-BOUNDED. Boundedness walks the window child's "cardinality
  * spine" — the chain of operators that determine how many rows reach the
  * single window task:
  *
  *  - an aggregate on the spine bounds it, UNLESS its grouping keys
  *    include a fact-identity column (doc_id, vec_id, event_id,
  *    o_orderkey, l_orderkey): grouping a fact by its own row identity is
  *    still fact cardinality (exactly the old dsir shape — per-doc scores
  *    fed a global rank);
  *  - a limit / top-k (GlobalLimit, CollectLimit, TakeOrderedAndProject)
  *    bounds it;
  *  - broadcast joins descend their STREAMED side only (the build side is
  *    already broadcast-bounded and does not set output cardinality);
  *    other joins and unions require every child spine bounded;
  *  - a fact-table scan (lineitem, orders, events, documents, embeddings)
  *    reached with none of the above on the way is UNBOUNDED → fail;
  *  - dimension scans, local relations and cached memo reads
  *    (InMemoryTableScan — per-corpus-version artifacts audited at their
  *    build sites) are bounded.
  *
  * Checked on the static physical plan (`sparkPlan`) of every declared
  * batch query — window placement does not depend on AQE re-planning, so
  * no execution is needed. Streaming gates are excluded (their `queries`
  * entries replay a stream at call time; that family's state ops are all
  * keyed, never globally sorted).
  */
class WindowAuditSpec extends AnyFunSuite {
  import TestSpark._

  private val factMarkers = Seq(
    "lineitem.parquet", "orders.parquet", "events.parquet",
    "documents.parquet", "embeddings.parquet")

  private val factIdentity =
    Set("doc_id", "vec_id", "event_id", "o_orderkey", "l_orderkey")

  /** True iff the plan rooted at `p` yields a cardinality-bounded row set
    * for single-task consumption (see class doc for the walk rules). */
  private def bounded(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec =>
      val ids = a.groupingExpressions.flatMap(_.references.map(_.name))
      ids.isEmpty || !ids.exists(factIdentity.contains) || a.children.forall(bounded)
    case _: GlobalLimitExec | _: CollectLimitExec | _: TakeOrderedAndProjectExec =>
      true
    case j: BroadcastHashJoinExec =>
      bounded(j.buildSide match {
        case BuildLeft  => j.right
        case BuildRight => j.left
      })
    case j: BroadcastNestedLoopJoinExec =>
      bounded(j.buildSide match {
        case BuildLeft  => j.right
        case BuildRight => j.left
      })
    case u: UnionExec => u.children.forall(bounded)
    case s: FileSourceScanExec =>
      val paths = s.relation.location.rootPaths.mkString(",")
      !factMarkers.exists(paths.contains)
    case _: InMemoryTableScanExec => true
    case leaf if leaf.children.isEmpty => true
    case other => other.children.forall(bounded)
  }

  test("no declared batch query plans a partition-less window over non-aggregated fact input") {
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("stream_"))
      .foreach { name =>
        val df = SparkEntry.queries(name)(spark, sf)
        PlanNodes.flatten(df.queryExecution.sparkPlan).foreach {
          case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) =>
            offenders += s"$name: ${w.windowExpression.mkString(", ").take(120)}"
          case _ => ()
        }
      }
    assert(offenders.isEmpty,
      s"partition-less WindowExec over non-aggregated fact input (single-task sort " +
        s"of a fact table at scale):\n  ${offenders.mkString("\n  ")}")
  }
}
