package graft

import graft.util.PlanNodes
import java.nio.file.Files

import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RleBitmap
import graft.ops.MergeOnRead
import graft.util.AtomicTable

/** The DV bitmap threshold (r10 verdict #4): a file whose deleted-position
  * count exceeds the threshold is applied as a per-file range-RLE bitmap
  * filter on `_metadata.row_index` — never a broadcast (path, pos)
  * anti-join, whose build side would be gigabytes for a billion-row-file
  * delete. Below the threshold the list anti-join stays. */
class DvBitmapSpec extends AnyFunSuite {
  import TestSpark._

  // --- the encoding itself ---

  test("RLE encode/contains matches a reference Set on random position sets") {
    val rng = new scala.util.Random(0xb17)
    (1 to 20).foreach { _ =>
      val n = 1 + rng.nextInt(300)
      // mix contiguous blocks and scattered singles
      val positions = scala.collection.mutable.SortedSet[Long]()
      (0 until n).foreach { _ =>
        if (rng.nextBoolean()) {
          val s = rng.nextInt(5000).toLong
          (s until s + 1 + rng.nextInt(20)).foreach(positions += _)
        } else positions += rng.nextInt(5000).toLong
      }
      val bm = RleBitmap.encodePositions(positions.toSeq)
      assert(RleBitmap.cardinality(bm) == positions.size)
      (0L until 5100L).foreach { p =>
        assert(RleBitmap.contains(bm, p) == positions.contains(p),
          s"pos $p: bitmap ${RleBitmap.contains(bm, p)} vs set ${positions.contains(p)}")
      }
    }
    // a dropped partition is ONE run = 16 bytes, whatever its row count
    assert(RleBitmap.encodePositions(0L until 100000L).length == 16)
  }

  // --- threshold behavior on a real table ---

  private def stage(n: Int): String = {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-dvbm").toString + "/t"
    AtomicTable.publish(base) { dir =>
      // range-clustered on id so a range delete concentrates in a file
      // subset — lets the mixed test hold bitmap and list files at once
      (0 until n).map(i => (i.toLong, s"v$i")).toDF("id", "payload")
        .repartitionByRange(4, col("id"))
        .write.mode("overwrite").parquet(dir)
    }
    base
  }

  test("dense delete crosses the threshold: bitmap filter, NO anti-join") {
    val prior = MergeOnRead.BitmapThresholdPositions
    MergeOnRead.BitmapThresholdPositions = 100L
    try {
      val base = stage(10000)
      // every file collects ~833 positions > 100 → all files go bitmap
      MergeOnRead.deleteWhere(spark, base, col("id") % 3 === 0)
      assert(MergeOnRead.hasBm(base), "bitmap sidecar not written")
      val df = MergeOnRead.readMerged(spark, base)
      assert(df.count() == (0 until 10000).count(_ % 3 != 0))
      assert(df.where(col("id") % 3 === 0).count() == 0)
      val nodes = PlanNodes.executedNodes(MergeOnRead.readMerged(spark, base))
      val antis = nodes.collect {
        case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
      }
      assert(antis.isEmpty,
        s"expected the bitmap filter path, found a broadcast anti-join")
      assert(nodes.exists(_.toString.contains("rle_contains")),
        "rle_contains filter not in the executed plan")
      // composition: a second delete re-encodes and both apply
      MergeOnRead.deleteWhere(spark, base, col("id") % 7 === 1)
      val after = MergeOnRead.readMerged(spark, base)
      assert(after.count() ==
        (0 until 10000).count(i => i % 3 != 0 && i % 7 != 1))
    } finally MergeOnRead.BitmapThresholdPositions = prior
  }

  test("a merge into bitmap-deleted files: one read hides both, still through rle_contains") {
    import spark.implicits._
    val prior = MergeOnRead.BitmapThresholdPositions
    MergeOnRead.BitmapThresholdPositions = 100L
    try {
      val base = stage(10000)
      MergeOnRead.deleteWhere(spark, base, col("id") % 3 === 0)
      assert(MergeOnRead.hasBm(base))
      // ids ≡ 1 mod 10 re-arrive with a new payload: live ones are
      // replaced in place (their positions join the bitmapped files'
      // deletes), bitmap-deleted ones (21, 51, ...) re-enter as inserts
      val batch = (0 until 10000).filter(_ % 10 == 1)
        .map(i => (i.toLong, s"m$i")).toDF("id", "payload")
      MergeOnRead.mergeUpsert(spark, base, batch, "id")
      val want = (0 until 10000).collect {
        case i if i % 10 == 1 => (i.toLong, s"m$i")
        case i if i % 3 != 0  => (i.toLong, s"v$i")
      }.toSet
      val got = MergeOnRead.readMerged(spark, base).as[(Long, String)].collect()
      assert(got.length == want.size && got.toSet == want,
        "the merged read must hide bitmap-deleted and merge-replaced rows")
      assert(PlanNodes.executedNodes(MergeOnRead.readMerged(spark, base))
        .exists(_.toString.contains("rle_contains")),
        "the merged read lost its bitmap filter")
    } finally MergeOnRead.BitmapThresholdPositions = prior
  }

  test("sparse delete stays on the list anti-join; mixed tables use both") {
    val prior = MergeOnRead.BitmapThresholdPositions
    MergeOnRead.BitmapThresholdPositions = 100L
    try {
      val base = stage(10000)
      MergeOnRead.deleteWhere(spark, base, col("id").isin(3L, 999L, 5000L))
      assert(!MergeOnRead.hasBm(base), "sparse delete must not write bitmaps")
      val df = MergeOnRead.readMerged(spark, base)
      assert(df.count() == 9997 && df.where(col("id") === 999L).count() == 0)
      val antis = PlanNodes.executedNodes(MergeOnRead.readMerged(spark, base))
        .collect { case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j }
      assert(antis.nonEmpty, "sparse path lost its anti-join")
      // push the LEADING id range over the threshold: the range-clustered
      // layout concentrates ids < 2000 in the first file(s), which cross
      // the threshold and go bitmap, while the id=5000 single keeps its
      // file on the list form — BOTH application forms in one plan
      MergeOnRead.deleteWhere(spark, base, col("id") < 2000 && col("id") % 2 === 0)
      assert(MergeOnRead.hasBm(base))
      val mixed = MergeOnRead.readMerged(spark, base)
      assert(mixed.count() ==
        (0 until 10000).count(i => !Set(3, 999, 5000).contains(i) &&
          !(i < 2000 && i % 2 == 0)))
      val nodes = PlanNodes.executedNodes(MergeOnRead.readMerged(spark, base))
      assert(nodes.exists(_.toString.contains("rle_contains")),
        "mixed table lost its bitmap filter")
      assert(nodes.collect {
        case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
      }.nonEmpty, "mixed table lost its list anti-join")
    } finally MergeOnRead.BitmapThresholdPositions = prior
  }
}
