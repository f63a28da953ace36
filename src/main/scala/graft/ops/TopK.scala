package graft.ops

import graft.QuerySpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.Tables

/** Bounded top-K-per-group aggregation with MAP-SIDE partial buffers.
  *
  * The window formulation (`row_number().over(partitionBy(k).orderBy(v))
  * <= K`) must shuffle EVERY (group, item) row to its group's reducer and
  * sort whole partitions there. This typed `Aggregator` instead keeps a
  * bounded K-element buffer per group inside each map task (partial
  * aggregation), so only ≤ K rows per group per input partition ever
  * reach the shuffle — at 100 TB the difference between shuffling the
  * fact table and shuffling K·partitions rows per group. Results are
  * identical to the window version (same desc-score/asc-id tie order),
  * which the differential gate and TopKSpec both check. */
object TopK {

  /** Items are (id, score); kept order: score DESC, id ASC (the standard
    * deterministic top-k tie-break). Buffers are tiny (≤ K), so simple
    * sort-and-truncate beats a heap for the K this engine targets. */
  class TopKAgg(k: Int)
    extends Aggregator[(Long, Long, Double), Seq[(Long, Double)], Seq[(Long, Double)]] {
    private val ord: Ordering[(Long, Double)] = Ordering.by(t => (-t._2, t._1))
    override def zero: Seq[(Long, Double)] = Seq.empty
    override def reduce(buf: Seq[(Long, Double)], a: (Long, Long, Double)): Seq[(Long, Double)] = {
      val item = (a._2, a._3)
      // hot path: a full buffer whose k-th element already beats this row
      // admits nothing — skip the allocation + sort entirely
      if (buf.size >= k && ord.lteq(buf.last, item)) buf
      else (item +: buf).sorted(ord).take(k)
    }
    override def merge(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Seq[(Long, Double)] =
      (a ++ b).sorted(ord).take(k)
    override def finish(r: Seq[(Long, Double)]): Seq[(Long, Double)] = r.sorted(ord)
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Long, Double)]] =
      ExpressionEncoder[Seq[(Long, Double)]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Long, Double)]] =
      bufferEncoder
  }

  /** Top-3 parts per supplier by total quantity — semantically identical
    * to RelOps.windowRankPerGroup (shares its oracle) but aggregated with
    * the bounded-buffer path instead of a window sort. */
  def topPartsPerSupplier(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    import s.implicits._
    val totals = Tables.lineitem(s, d)
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum("l_quantity").as("total_qty"))
      .as[(Long, Long, Double)]
    val top = totals.groupByKey(_._1)
      .agg(new TopKAgg(k).toColumn.name("top"))
    top.flatMap { case (supp, items) =>
      items.iterator.zipWithIndex.map { case ((part, qty), i) =>
        (supp, part, qty, i + 1)
      }
    }
      .toDF("l_suppkey", "l_partkey", "total_qty", "rnk")
      .orderBy("l_suppkey", "rnk")
  }

  /** 2-D Pareto skyline (multi-objective extremum): the parts no other part
    * beats on BOTH price (lower better) and size (higher better), strictly
    * on both — the "undominated options" operator behind frontier pruning
    * and quality/cost trade-off selection. Prices are exact integer cents
    * so the strict-preceding RANGE frame is well-defined on both engines.
    *
    * Scale shape: the naive formulation is an O(n²) dominance anti-join; a
    * single global window (ORDER BY price, no partition) computes it in one
    * pass but runs single-task. This splits the prefix-max into (1) a
    * per-bucket hash aggregate, (2) a cumulative max over the TINY bucket
    * table, (3) a per-bucket window — all shuffles partition by bucket, so
    * the scan parallelizes at any size while computing the identical
    * strict-prefix maximum (the classic two-level prefix-scan). The oracle
    * uses the plain single-window form, so the decomposition itself is what
    * the hash check proves. */
  def skylineParts(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pr = Tables.part(s, d).select(
      col("p_partkey"), col("p_size"),
      round(col("p_retailprice") * 100, 0).cast("long").as("price_c"))
      .withColumn("bkt", expr("price_c div 20000"))
    val bucketMax = pr.groupBy("bkt").agg(max("p_size").as("bm"))
    val wPrev = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    val cum = bucketMax // bucket table is tiny — the global window is safe here
      .withColumn("prev_bkt_max", max("bm").over(wPrev))
      .select("bkt", "prev_bkt_max")
    val wIn = Window.partitionBy("bkt").orderBy("price_c")
      .rangeBetween(Window.unboundedPreceding, -1)
    pr.join(broadcast(cum), "bkt")
      .withColumn("in_bkt_max", max("p_size").over(wIn))
      .withColumn("dom_max",
        greatest(coalesce(col("in_bkt_max"), lit(Int.MinValue)),
          coalesce(col("prev_bkt_max"), lit(Int.MinValue))))
      .filter(col("dom_max") <= col("p_size"))
      .select("p_partkey", "p_size", "price_c")
      .orderBy("price_c", "p_partkey")
  }

  val skylinePartsOracle: String = """
WITH p AS (
  SELECT p_partkey, p_size, CAST(round(p_retailprice * 100) AS BIGINT) AS price_c
  FROM part),
m AS (
  SELECT p_partkey, p_size, price_c,
         max(p_size) OVER (ORDER BY price_c
           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS dom_max
  FROM p)
SELECT p_partkey, p_size, price_c FROM m
WHERE dom_max IS NULL OR dom_max <= p_size
ORDER BY price_c, p_partkey"""

  /** Same semantics ⇒ same oracle as the window formulation. */
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("topk_per_group_agg", (s, d) => topPartsPerSupplier(s, d),
      graft.queries.RelOps.windowRankPerGroupOracle),
    QuerySpec("skyline_parts", skylineParts, skylinePartsOracle)
  )
}
