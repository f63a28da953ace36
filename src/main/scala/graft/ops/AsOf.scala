package graft.ops

import graft.QuerySpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** As-of (point-in-time) join — the temporal join Spark has no native
  * operator for, composed from built-ins per the preference order in the
  * build brief (compose > custom Expression > custom plan > mapPartitions).
  *
  * Semantics: for every left row, attach the LATEST right row of the same
  * key with `right.ts <= left.ts` (ties on ts broken by the right ordering
  * column, largest wins) — left-outer, so unmatched left rows survive with
  * nulls. The classic use in a training-data pipeline is
  * point-in-time-correct feature attachment: join each example to the
  * feature snapshot that was current when it was collected, never a future
  * one (no label leakage).
  *
  * Implementation: tag and union both sides, then `last(_, ignoreNulls)`
  * windows partitioned by key, ordered by (ts, rightFirst, ord) with an
  * unbounded-preceding ROWS frame. Right rows at the same timestamp sort
  * before left rows, making the join inclusive.
  *
  * Scale: ONE shuffle of left+right on the key (the same cost as any
  * equi-join of the two), then a linear per-partition window scan — no
  * range explosion, no per-row subquery. A skewed key behaves like any
  * skewed window partition: salt the key or split the time range if one
  * entity dominates.
  */
object AsOf {

  /** Generic as-of join.
    *
    * @param key      equi-join key column present on both sides
    * @param leftTs   left timestamp column
    * @param rightTs  right timestamp column
    * @param rightOrd right column breaking ties among equal right
    *                 timestamps (largest wins)
    * @param carry    right columns to attach (must not collide with left
    *                 column names); nullable in the output when no right
    *                 row precedes the left row
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
    leftTs: String, rightTs: String, rightOrd: String,
    carry: Seq[String], forward: Boolean = false): DataFrame = {

    val leftCols = left.columns.toSeq
    val rightSchema = right.schema

    val rSide = right.select(
      (col(key).as("__key") +: col(rightTs).cast("timestamp").as("__ts") +:
        lit(0).as("__rtag") +: col(rightOrd).cast("long").as("__ord") +:
        carry.map(c => col(c)) ++:
        leftCols.filterNot(_ == key)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val lSide = left.select(
      (col(key).as("__key") +: col(leftTs).cast("timestamp").as("__ts") +:
        lit(1).as("__rtag") +: lit(0L).as("__ord") +:
        carry.map(c => lit(null).cast(rightSchema(c).dataType).as(c)) ++:
        leftCols.filterNot(_ == key).map(col)): _*)

    // backward (default): ascending scan — the last right row seen at a
    // left row is the latest one with ts <= left ts (ties: largest ord).
    // forward: DESCENDING scan — the last right row seen is the EARLIEST
    // one with ts >= left ts (right still sorts before left at equal ts so
    // simultaneous rows match; ties resolved to the smallest ord by
    // scanning ord descending). Same single shuffle either way.
    val w = (if (forward)
      Window.partitionBy("__key")
        .orderBy(col("__ts").desc, col("__rtag").asc, col("__ord").desc)
    else
      Window.partitionBy("__key")
        .orderBy(col("__ts").asc, col("__rtag").asc, col("__ord").asc))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // ONE ignore-nulls window over a struct of all carry columns: per-column
    // windows would stitch fields from DIFFERENT right rows whenever the
    // latest match carries a NULL field (the older row's value would bleed
    // through for that field only). The struct is null exactly on left
    // rows, so the latest right ROW is picked atomically, null fields
    // included.
    val packed = rSide.unionByName(lSide)
      .withColumn("__carry",
        when(col("__rtag") === 0, struct(carry.map(col): _*)))
      .withColumn("__m", last(col("__carry"), ignoreNulls = true).over(w))
    packed.filter(col("__rtag") === 1)
      .select((col("__key").as(key) +:
        leftCols.filterNot(_ == key).map(col)) ++
        carry.map(c => col(s"__m.$c").as(c)): _*)
  }

  /** Concrete op over events: attach to each 'purchase' the user's most
    * recent preceding (or simultaneous) 'view'. */
  def asofEvents(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))

    asofJoin(purchases, views, key = "user_id",
      leftTs = "purchase_ts", rightTs = "view_ts", rightOrd = "view_id",
      carry = Seq("view_id", "view_ts"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("view_id"), col("view_ts"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("view_ts"))).as("gap_us"))
      .orderBy("purchase_id")
  }

  val asofEventsOracle: String = """
WITH v AS (SELECT event_id AS view_id, user_id, ts AS view_ts FROM events
           WHERE event_type = 'view'),
p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts FROM events
      WHERE event_type = 'purchase'),
u AS (
  SELECT user_id, view_ts AS ts, 0 AS rtag, view_id AS ord,
         view_id, view_ts, CAST(NULL AS BIGINT) AS purchase_id
  FROM v
  UNION ALL
  SELECT user_id, purchase_ts, 1, 0,
         NULL, NULL, purchase_id
  FROM p),
w AS (
  SELECT *,
         last_value(view_id IGNORE NULLS) OVER win AS m_view_id,
         last_value(view_ts IGNORE NULLS) OVER win AS m_view_ts
  FROM u
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, rtag, ord
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT purchase_id, user_id, ts AS purchase_ts,
       m_view_id AS view_id, m_view_ts AS view_ts,
       epoch_us(ts) - epoch_us(m_view_ts) AS gap_us
FROM w WHERE rtag = 1
ORDER BY purchase_id"""

  /** FORWARD as-of: attach to each 'view' the user's NEXT 'purchase' at or
    * after it (ties → smallest purchase_id) — the attribution direction
    * ("which purchase did this view lead to"), symmetric to the backward
    * feature-lookup direction of [[asofEvents]]. Same one-shuffle
    * union + window machinery, scanned descending. */
  def asofEventsForward(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    asofJoin(views, purchases, key = "user_id",
      leftTs = "view_ts", rightTs = "purchase_ts", rightOrd = "purchase_id",
      carry = Seq("purchase_id", "purchase_ts"), forward = true)
      .select(col("view_id"), col("user_id"), col("view_ts"),
        col("purchase_id"), col("purchase_ts"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("view_ts"))).as("lead_us"))
      .orderBy("view_id")
  }

  val asofEventsForwardOracle: String = """
WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts FROM events
           WHERE event_type = 'purchase'),
v AS (SELECT event_id AS view_id, user_id, ts AS view_ts FROM events
      WHERE event_type = 'view'),
u AS (
  SELECT user_id, purchase_ts AS ts, 0 AS rtag, purchase_id AS ord,
         purchase_id, purchase_ts, CAST(NULL AS BIGINT) AS view_id
  FROM p
  UNION ALL
  SELECT user_id, view_ts, 1, 0,
         NULL, NULL, view_id
  FROM v),
w AS (
  SELECT *,
         last_value(purchase_id IGNORE NULLS) OVER win AS m_purchase_id,
         last_value(purchase_ts IGNORE NULLS) OVER win AS m_purchase_ts
  FROM u
  WINDOW win AS (PARTITION BY user_id ORDER BY ts DESC, rtag ASC, ord DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT view_id, user_id, ts AS view_ts,
       m_purchase_id AS purchase_id, m_purchase_ts AS purchase_ts,
       epoch_us(m_purchase_ts) - epoch_us(ts) AS lead_us
FROM w WHERE rtag = 1
ORDER BY view_id"""

  /** As-of join with a STALENESS TOLERANCE — the feature-store variant:
    * a feature snapshot older than `toleranceUs` at example time is as
    * good as missing (stale features poison training), so matches beyond
    * the tolerance are nulled out rather than attached. Same single
    * shuffle + window as [[asofEvents]]; the tolerance is a pure
    * post-projection. */
  def asofEventsTolerance(s: SparkSession, d: String,
      toleranceUs: Long = 3600L * 1000000L): DataFrame = {
    val joined = asofEvents(s, d)
    val fresh = col("view_ts").isNotNull && col("gap_us") <= toleranceUs
    joined.select(
      col("purchase_id"), col("user_id"), col("purchase_ts"),
      when(fresh, col("view_id")).as("view_id"),
      when(fresh, col("view_ts")).as("view_ts"),
      when(fresh, col("gap_us")).as("gap_us"))
      .orderBy("purchase_id")
  }

  def asofToleranceOracle(toleranceUs: Long = 3600L * 1000000L): String =
    s"""WITH base AS (${asofEventsOracle.trim.stripSuffix("ORDER BY purchase_id")})
SELECT purchase_id, user_id, purchase_ts,
       CASE WHEN gap_us <= $toleranceUs THEN view_id END AS view_id,
       CASE WHEN gap_us <= $toleranceUs THEN view_ts END AS view_ts,
       CASE WHEN gap_us <= $toleranceUs THEN gap_us END AS gap_us
FROM base ORDER BY purchase_id"""

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("asof_join_events", asofEvents, asofEventsOracle),
    QuerySpec("asof_join_tolerance", (s, d) => asofEventsTolerance(s, d),
      asofToleranceOracle()),
    QuerySpec("asof_join_forward", asofEventsForward, asofEventsForwardOracle)
  )
}
