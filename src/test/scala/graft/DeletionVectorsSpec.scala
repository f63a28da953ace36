package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.MergeOnRead
import graft.util.AtomicTable

/** Merge-on-read deletes ([[MergeOnRead.deleteWhere]]): the oracle gate
  * proves the DV-applied ANSWER; this spec proves the merge-on-read
  * mechanics — no file rewrites on delete, idempotent composition, and
  * compaction paying the debt back. */
class DeletionVectorsSpec extends AnyFunSuite {
  import TestSpark._

  private def stage(name: String): String = {
    val base = s"/tmp/graft_dv_spec/$name"
    AtomicTable.deleteRecursively(Paths.get(base))
    AtomicTable.publish(base) { dir =>
      Tables.orders(spark, sf).repartition(4).write.mode("overwrite").parquet(dir)
    }
    base
  }

  private def dataFiles(base: String): Map[String, (Long, Long)] = {
    val ver = Paths.get(AtomicTable.resolve(base).get)
    Files.list(ver).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("_")
        && !p.getFileName.toString.startsWith("."))
      .map(p => p.getFileName.toString ->
        (Files.size(p), Files.getLastModifiedTime(p).toMillis))
      .toMap
  }

  test("delete records positions without touching any data file") {
    val base = stage("norewrite")
    val before = dataFiles(base)
    val total = AtomicTable.read(spark, base).count()
    val doomed = AtomicTable.read(spark, base)
      .where(col("o_orderstatus") === "F").count()
    MergeOnRead.deleteWhere(spark, base, col("o_orderstatus") === "F")
    assert(dataFiles(base) == before, "data files must be untouched by a DV delete")
    val after = MergeOnRead.readMerged(spark, base)
    assert(after.count() == total - doomed)
    assert(after.where(col("o_orderstatus") === "F").count() == 0L)
  }

  test("deletes compose and re-applying the same delete is idempotent") {
    val base = stage("compose")
    val t = AtomicTable.read(spark, base)
    val n = t.count()
    val nF = t.where(col("o_orderstatus") === "F").count()
    val nUrgent = t.where(col("o_orderstatus") =!= "F" &&
      col("o_orderpriority") === "1-URGENT").count()
    MergeOnRead.deleteWhere(spark, base, col("o_orderstatus") === "F")
    MergeOnRead.deleteWhere(spark, base, col("o_orderstatus") === "F") // again
    assert(MergeOnRead.readMerged(spark, base).count() == n - nF,
      "duplicate DV entries must not double-delete")
    MergeOnRead.deleteWhere(spark, base, col("o_orderpriority") === "1-URGENT")
    assert(MergeOnRead.readMerged(spark, base).count() == n - nF - nUrgent,
      "a second delete must compose with the first")
  }

  test("compaction materializes survivors into a DV-free new version") {
    val base = stage("compact")
    MergeOnRead.deleteWhere(spark, base, col("o_orderkey") % 7 === 0)
    val want = MergeOnRead.readMerged(spark, base)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val verBefore = AtomicTable.resolve(base).get
    MergeOnRead.compactMerged(spark, base, nFiles = 4)
    val verAfter = AtomicTable.resolve(base).get
    assert(verAfter != verBefore, "compaction must publish a NEW version")
    assert(!Files.isDirectory(Paths.get(s"$verAfter/_dv")),
      "the compacted version starts with no deletion vector")
    // survivors-only, both through the DV reader and a plain reader
    val got = MergeOnRead.readMerged(spark, base)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, "compaction changed the table's contents")
    assert(AtomicTable.read(spark, base).count() == want.values.sum,
      "a plain reader of the compacted version sees survivors only")
  }
}
