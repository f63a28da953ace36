package graft.ops

import graft.QuerySpec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` — per-column
  * row/null/NDV/min/max stats in ONE distributed pass, the catalog-stats
  * surface every cost-based decision in this engine consumes implicitly
  * (Catalyst's own CBO joins-reorder and broadcast thresholds feed on
  * exactly these numbers; the zone-map skipping tier in [[DataSkipping]]
  * is the same min/max idea pushed down to file granularity). The
  * reference has no stats story at all — DuckDB collects its own
  * internally — so this is the explicit, queryable analog.
  *
  * Shape: one `groupBy().agg(...)` over the table with `count(distinct
  * col)` per analyzed column. Catalyst plans multi-distinct aggregates
  * via Expand (rows × #columns), i.e. a single shuffle whose width is
  * the column list — the textbook trade for EXACT NDV. At 100 TB you'd
  * flip `exact = false` and get one plain hash-aggregate of HLL±2%
  * sketches (`approx_count_distinct`), which is what ANALYZE does in
  * production engines; the gated query keeps the exact path because the
  * cross-engine oracle must hash-match. min/max surface as strings so
  * heterogeneous column types fit one long-format result (bigint/date/
  * varchar casts are byte-identical across Spark and DuckDB; fractional
  * types are deliberately excluded from the gated column list — double
  * → string rendering is engine-specific).
  */
object TableStats {

  /** Long-format stats: one row per analyzed column. */
  def analyze(df: DataFrame, cols: Seq[String], exact: Boolean = true): DataFrame = {
    def ndv(c: String): Column =
      if (exact) countDistinct(col(c)) else approx_count_distinct(col(c))
    val aggs: Seq[Column] = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"), ndv(c).as(s"__ndv_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // pivot the one wide row to long form on the driver side of the plan
    // (a stack over a 1-row frame — no data moves)
    val stacked = cols.map { c =>
      struct(lit(c).as("column_name"), col("__n").as("n_rows"),
        (col("__n") - col(s"__nn_$c")).as("n_nulls"),
        col(s"__ndv_$c").as("ndv"),
        col(s"__min_$c").as("min_s"), col(s"__max_$c").as("max_s"))
    }
    wide.select(explode(array(stacked: _*)).as("s")).select("s.*")
  }

  // --------------------------------------------------------------- queries

  private val AnalyzedCols =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate")

  def analyzeOrders(s: SparkSession, d: String): DataFrame =
    analyze(Tables.orders(s, d), AnalyzedCols).orderBy("column_name")

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("analyze_table_stats", analyzeOrders, AnalyzedCols.map(c => s"""
  SELECT '$c' AS column_name, count(*) AS n_rows,
         count(*) - count($c) AS n_nulls,
         count(DISTINCT $c) AS ndv,
         CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s
  FROM orders""").mkString("SELECT * FROM (", "\nUNION ALL", ") ORDER BY column_name"))
  )
}
