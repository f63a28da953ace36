package graft.ops

import graft.QuerySpec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.{AtomicTable, PathKeys, SessionCaches}

/** Row deletes by deletion vector — the queries over
  * [[MergeOnRead.deleteWhere]]. A DELETE records each matching row's
  * position in the version's `_dv` sidecar and rewrites no data file: at
  * 100 TB a copy-on-write delete of 0.1% of rows rewrites terabytes, a
  * deletion vector writes kilobytes. Both queries read through
  * [[MergeOnRead.readMerged]], which applies the positions as broadcast
  * rows, as per-file bitmaps past [[MergeOnRead.BitmapThresholdPositions]],
  * or — with a zone-map sidecar — by dropping fully-deleted files from
  * the scan.
  */
object DeletionVectors {

  private val dvMemo =
    SessionCaches.memo[(SparkSession, String)]("deletion_vectors.orders")

  /** The delete this query family applies — restated verbatim in the
    * oracle's WHERE NOT(...). */
  private def doomed: Column =
    col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 10 < 3

  /** orders staged (plain range-clustered copy, separate from the
    * skipping demos so their file counts stay untouched) with the delete
    * recorded ONCE per session — the memo is the "delete committed"
    * state a real table carries in its metadata. */
  private[graft] def dvOrders(s: SparkSession, d: String): String =
    dvMemo.getOrElseUpdate((s, d), {
      val base = s"/tmp/graft_dv/${PathKeys.safe(d)}/orders"
      // staged once per SOURCE version, not per session: the committed
      // post-delete state (data version + _dv sidecar) is table metadata
      // a real deployment carries; a fresh session re-reads it
      val fp = graft.util.SilverArtifact.sourceFingerprint(
        s"$d/orders.parquet",
        s"dv-v2-fname-urgent-mod10-thr${MergeOnRead.BitmapThresholdPositions}")
      graft.util.SilverArtifact.stagedOnce(base, fp) {
        AtomicTable.publish(base) { dir =>
          Tables.orders(s, d).repartition(8).write.mode("overwrite").parquet(dir)
        }
        MergeOnRead.deleteWhere(s, base, doomed)
      }
      base
    })

  /** Aggregate over the DV-applied table — answer must equal a full scan
    * with the delete predicate negated (the oracle), proving the
    * positional anti-join deletes exactly the doomed rows. Prices sum as
    * exact integer cents: group totals reach ~10^9 where cross-engine
    * double summation-order error exceeds the 4-dp compare grid (the r9
    * hash flake); per-row `round(x*100)` is IEEE-identical across engines
    * and the long sum is exact. */
  def deletionVectorRead(s: SparkSession, d: String): DataFrame =
    MergeOnRead.readMerged(s, dvOrders(s, d))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      .orderBy("o_orderstatus")

  private val dvpMemo =
    SessionCaches.memo[(SparkSession, String)]("deletion_vectors.orders_pruned")

  /** The pruning demo's delete: a date-RANGE predicate against a table
    * range-clustered ON that date, so the leading files die entirely (the
    * "drop an old partition" shape) while the boundary file dies only
    * partially — the file drop and the position anti-join both exercise
    * in one read. Restated
    * verbatim in the oracle's WHERE NOT(...). */
  private val pruneCutoff = "1996-07-01"

  /** orders staged date-clustered WITH a zone-map sidecar (so per-file row
    * counts exist as metadata), then the range delete recorded once per
    * session. Separate base from the skipping demos and [[dvOrders]] so
    * their file counts stay untouched. */
  private[graft] def dvPrunedOrders(s: SparkSession, d: String): String =
    dvpMemo.getOrElseUpdate((s, d), {
      val base = s"/tmp/graft_dvp/${PathKeys.safe(d)}/orders"
      val fp = graft.util.SilverArtifact.sourceFingerprint(
        s"$d/orders.parquet",
        s"dvp-v3-fname-cut$pruneCutoff-thr${MergeOnRead.BitmapThresholdPositions}")
      graft.util.SilverArtifact.stagedOnce(base, fp) {
        DataSkipping.optimizedWrite(s,
          Tables.orders(s, d).withColumn("o_datekey",
            unix_date(col("o_orderdate").cast("date")).cast("long")),
          base, clusterCols = Seq("o_datekey"), statsCols = Seq("o_orderdate"),
          bloomCol = None, nFiles = 16)
        MergeOnRead.deleteWhere(s, base,
          col("o_orderdate") < lit(pruneCutoff).cast("timestamp"))
      }
      base
    })

  /** Aggregate over the DV-applied, file-pruned table — answer must equal
    * the full scan with the delete negated, while the scan itself touches
    * only surviving files (DvPruneSpec + PLANS.md audit the path-list
    * shrink). Exact integer cents, as everywhere money sums cross 10^8. */
  def dvFilePrune(s: SparkSession, d: String): DataFrame =
    MergeOnRead.readMerged(s, dvPrunedOrders(s, d))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      .orderBy("o_orderstatus")

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("deletion_vector_read", deletionVectorRead, """
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
WHERE NOT (o_orderpriority = '1-URGENT' AND o_orderkey % 10 < 3)
GROUP BY 1 ORDER BY 1"""),
    QuerySpec("dv_file_prune", dvFilePrune, """
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
WHERE NOT (o_orderdate < TIMESTAMP '1996-07-01')
GROUP BY 1 ORDER BY 1""")
  )
}
