package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{DataSkipping, DeletionVectors, MergeOnRead}

/** Contracts of the deletion-vector × file-skipping composition inside
  * [[graft.ops.MergeOnRead.readMerged]] beyond the differential gate's
  * value check: the range delete really kills whole files, those files
  * leave the SCAN's path list (not just the result), and the read is
  * row-identical to the source filtered by the negated delete.
  */
class DvPruneSpec extends AnyFunSuite {
  import TestSpark._

  private def dataFiles(df: org.apache.spark.sql.DataFrame): Array[String] =
    df.inputFiles.filterNot(f => f.contains("/_dv/") || f.contains("/_skip/"))

  private val cutoff = lit("1996-07-01").cast("timestamp")

  test("full-file deletes shrink the FileScan path list; answer unchanged") {
    val base = DeletionVectors.dvPrunedOrders(spark, sf)
    val read = MergeOnRead.readMerged(spark, base)
    val stats = DataSkipping.stats(spark, base)
    val total = stats.count()
    // a file whose newest date precedes the cutoff lost EVERY row to the
    // date-range delete (the old-partition-drop shape); the date-clustered
    // layout must produce at least one
    val kept = stats.where(col("max_o_orderdate") >= cutoff).count()
    assert(kept < total, s"kept=$kept total=$total — nothing pruned")
    // the read's actual scan inputs are exactly the surviving files
    assert(dataFiles(read).length == kept,
      s"scan reads ${dataFiles(read).length} files, expected $kept")
    // row-identical to the source with the delete negated
    val want = Tables.orders(spark, sf).where(!(col("o_orderdate") < cutoff))
    val got = read.drop("o_datekey")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "pruned read diverged from the source filtered by the negated delete")
  }

  test("partially-deleted boundary file keeps positional semantics") {
    val read = MergeOnRead.readMerged(spark, DeletionVectors.dvPrunedOrders(spark, sf))
    // no surviving row may match the delete predicate...
    assert(read.where(col("o_orderdate") < cutoff).count() == 0L)
    // ...and rows outside it must all survive (count vs source)
    assert(read.count() ==
      Tables.orders(spark, sf).where(col("o_orderdate") >= cutoff).count())
  }
}
