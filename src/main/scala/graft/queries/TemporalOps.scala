package graft.queries

import graft.QuerySpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Temporal/interval operators over the events stream (range join is
  * ABSENT in the reference's inventory, SURVEY.md §2.3 — implemented here
  * as extensions) plus vector aggregation over embeddings.
  *
  *  - [[rangeJoinSessions]] — interval-containment join: batch
  *    gap-and-islands sessionization (lag + running sum windows), then
  *    events joined INTO their containing session by equi-key + range
  *    predicate. Spark plans equi-key + filter as a hash join with a
  *    post-condition — no nested loop — because the user_id equi-pair is
  *    selective. (For interval joins WITHOUT a selective equi key, bin the
  *    time axis and equi-join on the bin — same pattern as the LSH bucket
  *    join in Similarity.)
  *  - [[embeddingCentroids]] — per-label dimension-wise mean (class
  *    centroids): posexplode to long format, hash-aggregate per
  *    (label, dim). One narrow explode + one shuffle on (label, dim);
  *    centroid tables are tiny at any corpus scale.
  */
object TemporalOps {

  /** Batch sessionization (same 30-min-gap semantics as the streaming
    * version in EventsStream, via lag + cumulative-sum windows). */
  private def sessions(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag("ts", 1).over(wOrd))
      .withColumn("new_s",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 30L * 60 * 1000000, 1)
          .otherwise(0))
      .withColumn("sid", sum("new_s").over(wRun))
      .groupBy("user_id", "sid")
      .agg(min("ts").as("session_start"), max("ts").as("session_end"))
  }

  /** Events range-joined into their containing session; one row per
    * session with the contained-event count (which must equal the
    * session's own n_events — the differential gate proves the range join
    * found exactly the right rows). */
  def rangeJoinSessions(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id").as("e_user"), col("ts"))
    sessions(s, d)
      .join(ev, col("user_id") === col("e_user") &&
        col("ts") >= col("session_start") && col("ts") <= col("session_end"))
      .groupBy("user_id", "session_start", "session_end")
      .agg(count(lit(1)).as("n_contained"))
      .orderBy("user_id", "session_start")
  }

  val rangeJoinSessionsOracle: String = """
WITH e AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM e),
sess AS (
  SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end
  FROM s GROUP BY user_id, sid)
SELECT sess.user_id, session_start, session_end, count(*) AS n_contained
FROM sess JOIN events ev
  ON sess.user_id = ev.user_id
 AND ev.ts >= session_start AND ev.ts <= session_end
GROUP BY sess.user_id, session_start, session_end
ORDER BY sess.user_id, session_start"""

  /** Equi-key-LESS interval join through the custom
    * [[graft.plans.IntervalJoin]] operator (logical node + strategy +
    * physical plan — the §2.11 whole-operator extension tier): events
    * joined into GLOBAL activity islands (maximal runs of consecutive
    * active minutes across ALL users — no user key to hash on, so built-in
    * planning could only produce an O(n·m) BroadcastNestedLoopJoin; the
    * custom operator answers each probe in O(log m + matches)).
    *
    * The island table is built from DISTINCT active minutes — calendar-
    * bounded (≤ span/1min rows at any SF), so its global gap-and-islands
    * window is dim-sized by construction, and the interval side stays
    * broadcastable at any corpus scale. The differential gate proves the
    * operator finds exactly the containing island for every event. */
  def rangeJoinIslands(s: SparkSession, d: String): DataFrame = {
    val minutes = Tables.events(s, d)
      .select(date_trunc("minute", col("ts")).as("m")).distinct()
    val wOrd = Window.orderBy("m")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = minutes
      .withColumn("prev_m", lag("m", 1).over(wOrd))
      .withColumn("new_s",
        when(col("prev_m").isNull ||
          unix_micros(col("m")) - unix_micros(col("prev_m")) > 60L * 1000000, 1)
          .otherwise(0))
      .withColumn("sid", sum("new_s").over(wRun))
      .groupBy("sid")
      .agg(min("m").as("island_start"),
        (max("m") + expr("INTERVAL 1 MINUTE")).as("island_end_excl"))
      .select("island_start", "island_end_excl")
    val ev = Tables.events(s, d).select(col("ts"))
    graft.plans.IntervalJoin
      .join(ev, islands, "ts", "island_start", "island_end_excl")
      .groupBy("island_start", "island_end_excl")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("island_start")
  }

  val rangeJoinIslandsOracle: String = """
WITH m AS (SELECT DISTINCT time_bucket(INTERVAL '1 minute', ts) AS m FROM events),
e AS (
  SELECT m, CASE WHEN lag(m) OVER (ORDER BY m) IS NULL
                   OR epoch_us(m) - epoch_us(lag(m) OVER (ORDER BY m)) > 60*1000000
                 THEN 1 ELSE 0 END AS new_s
  FROM m),
s AS (SELECT m, sum(new_s) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) AS sid FROM e),
isl AS (
  SELECT sid, min(m) AS island_start, max(m) + INTERVAL 1 MINUTE AS island_end_excl
  FROM s GROUP BY sid)
SELECT island_start, island_end_excl, count(*) AS n_events
FROM isl JOIN events ev
  ON ev.ts >= island_start AND ev.ts < island_end_excl
GROUP BY island_start, island_end_excl
ORDER BY island_start"""

  /** Per-label dimension-wise embedding mean (class centroids), long
    * format (label, dim, centroid). */
  def embeddingCentroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding").cast("array<double>")))
      .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim"))
      .agg(round(avg("col"), 6).as("centroid"), count(lit(1)).as("n_vecs"))
      .orderBy("label", "dim")

  val embeddingCentroidsOracle: String = """
WITH x AS (
  SELECT label, i AS dim, CAST(embedding AS DOUBLE[])[i] AS v
  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) dims)
SELECT label, dim, round(avg(v), 6) AS centroid, count(*) AS n_vecs
FROM x GROUP BY label, dim ORDER BY label, dim"""

  /** Time-series gap-fill / resample — an operator Spark has no native
    * form of: hourly event counts per type INCLUDING the empty hours.
    * The dense hour calendar is generated from the observed bounds
    * (sequence + explode), cross-joined with the (tiny, broadcast) type
    * dimension, and the real counts left-join onto the dense grid with
    * a zero fill. The only heavy operation is the hourly pre-aggregation
    * (one shuffle of the events); the grid itself is |hours|×|types| —
    * trivial at any scale. */
  def gapfillHourly(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour_ts"))
    val hourly = ev.groupBy("event_type", "hour_ts").agg(count(lit(1)).as("n"))
    val cal = ev.agg(min("hour_ts").as("lo"), max("hour_ts").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("hour_ts"))
    val types = ev.select("event_type").distinct()
    cal.crossJoin(broadcast(types))
      .join(hourly, Seq("event_type", "hour_ts"), "left")
      .select(col("event_type"), col("hour_ts"),
        coalesce(col("n"), lit(0L)).as("n_events"))
      .orderBy("event_type", "hour_ts")
  }

  val gapfillHourlyOracle: String = """
WITH h AS (
  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS hour_ts, count(*) AS n
  FROM events GROUP BY 1, 2),
bounds AS (
  SELECT min(time_bucket(INTERVAL '1 hour', ts)) AS lo,
         max(time_bucket(INTERVAL '1 hour', ts)) AS hi
  FROM events),
cal AS (SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour_ts FROM bounds),
types AS (SELECT DISTINCT event_type FROM events)
SELECT t.event_type, c.hour_ts, CAST(coalesce(h.n, 0) AS BIGINT) AS n_events
FROM cal c CROSS JOIN types t
LEFT JOIN h ON h.event_type = t.event_type AND h.hour_ts = c.hour_ts
ORDER BY t.event_type, c.hour_ts"""

  /** Array-function family over the embedding vectors: size, element
    * access, min/max, slicing, sort — the building blocks every
    * vector-column pipeline leans on. All elementwise/exact (no float
    * summation), so the oracle is exact too. */
  def arrayOps(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(
        col("vec_id"),
        size(col("v")).cast("long").as("dim"),
        round(element_at(col("v"), 1), 6).as("first_val"),
        round(array_max(col("v")), 6).as("max_val"),
        round(array_min(col("v")), 6).as("min_val"),
        round(element_at(array_sort(col("v")), 32), 6).as("lower_median"),
        round(element_at(slice(col("v"), 1, 4), 4), 6).as("fourth_val"))
      .orderBy("vec_id")

  val arrayOpsOracle: String = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT vec_id,
       CAST(len(v) AS BIGINT) AS dim,
       round(v[1], 6) AS first_val,
       round(list_max(v), 6) AS max_val,
       round(list_min(v), 6) AS min_val,
       round(list_sort(v)[32], 6) AS lower_median,
       round(v[1:4][4], 6) AS fourth_val
FROM e ORDER BY vec_id"""

  /** Higher-order array lambdas — filter / exists / forall (the family
    * [[arrayOps]]' positional functions don't touch). Note these are
    * CodegenFallback in Spark (NOTES.md's interpreted-HOF trap), fine for
    * semantics coverage on bounded arrays but kept OUT of hot paths —
    * the custom [[graft.functions.ArrayDot]] exists precisely because of
    * this. Threshold comparisons act on identical parquet doubles, so the
    * booleans/counts are engine-exact. */
  def arrayHof(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"),
        expr("CAST(size(filter(v, x -> x > 0.0d)) AS BIGINT)").as("n_pos"),
        expr("CAST(size(filter(v, x -> x < 0.0d)) AS BIGINT)").as("n_neg"),
        expr("exists(v, x -> x > 0.4d)").as("has_large"),
        expr("forall(v, x -> abs(x) <= 1.0d)").as("bounded"))
      .orderBy("vec_id")

  val arrayHofOracle: String = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT vec_id,
       CAST(len(list_filter(v, x -> x > 0.0)) AS BIGINT) AS n_pos,
       CAST(len(list_filter(v, x -> x < 0.0)) AS BIGINT) AS n_neg,
       len(list_filter(v, x -> x > 0.4)) > 0 AS has_large,
       len(list_filter(v, x -> abs(x) > 1.0)) = 0 AS bounded
FROM e ORDER BY vec_id"""

  /** Vector math with BUILT-INS only — `zip_with` for the elementwise
    * product, `aggregate` for the fold — the no-custom-Expression way to
    * do dot products (the codegen'd `ArrayDot` in GraftFunctions is the
    * faster path; this query pins the pure-Catalyst alternative and the
    * gate proves both give identical doubles: sequential ascending fold ≡
    * DuckDB's list_dot_product order). */
  def vectorMath(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(
        col("vec_id"),
        round(aggregate(zip_with(col("v"), col("v"), _ * _), lit(0.0), _ + _), 6)
          .as("dot_self"),
        round(aggregate(zip_with(col("v"), reverse(col("v")), _ * _), lit(0.0), _ + _), 6)
          .as("dot_rev"),
        round(aggregate(transform(col("v"), x => abs(x)), lit(0.0), _ + _), 6)
          .as("l1_norm"),
        round(sqrt(aggregate(zip_with(col("v"), col("v"), _ * _), lit(0.0), _ + _)), 6)
          .as("l2_norm"))
      .orderBy("vec_id")

  val vectorMathOracle: String = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT vec_id,
       round(list_dot_product(v, v), 6) AS dot_self,
       round(list_dot_product(v, list_reverse(v)), 6) AS dot_rev,
       round(list_sum(list_transform(v, x -> abs(x))), 6) AS l1_norm,
       round(sqrt(list_dot_product(v, v)), 6) AS l2_norm
FROM e ORDER BY vec_id"""

  /** Ordered-sequence funnel analysis — the product-analytics staple:
    * of the users who VIEWED, how many later CLICKED, and of those, how
    * many later PURCHASED (strictly after, per user). Three stage
    * aggregations that all hash-partition on user_id, so after the first
    * exchange the stage joins are co-partitioned; no window over the raw
    * event stream, no per-user event sorting — each stage is a
    * filter + min, the cheapest order-respecting formulation. */
  def eventFunnel(s: SparkSession, d: String): DataFrame = {
    val e = graft.Tables.events(s, d)
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("first_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("first_view"))
      .groupBy("user_id").agg(min("ts").as("first_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("first_click"))
      .groupBy("user_id").agg(min("ts").as("first_purchase"))
    v.agg(count(lit(1)).as("n_viewed"))
      .crossJoin(c.agg(count(lit(1)).as("n_clicked")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchased")))
      .select(col("n_viewed"), col("n_clicked"), col("n_purchased"),
        round(col("n_clicked").cast("double") / col("n_viewed"), 6).as("click_rate"),
        round(col("n_purchased").cast("double") / col("n_viewed"), 6).as("purchase_rate"))
  }

  val eventFunnelOracle: String = """
WITH v AS (SELECT user_id, min(ts) AS first_view FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS first_click
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.first_view GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS first_purchase
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.first_click GROUP BY e.user_id)
SELECT (SELECT count(*) FROM v) AS n_viewed,
       (SELECT count(*) FROM c) AS n_clicked,
       (SELECT count(*) FROM p) AS n_purchased,
       round((SELECT count(*) FROM c) * 1.0 / (SELECT count(*) FROM v), 6) AS click_rate,
       round((SELECT count(*) FROM p) * 1.0 / (SELECT count(*) FROM v), 6) AS purchase_rate"""

  // ------------------------------------------------------ order lifecycle

  /** Order-lifecycle stage funnel — the analytics family the reference
    * deliberately DEFERS: its `order_history` table records each order's
    * status transitions (source_sql/01_mysql_create.sql:122-130, statuses
    * in `order_status`:105-109) and neither ETL reads it (SURVEY §1.2
    * NOTE calls it "future order-lifecycle analytics"). The engine owns
    * it over the testdata analog: a user's event stream is the status
    * history (signup → view → click → purchase as the canonical
    * lifecycle), and each stage row reports how many entities reached it
    * through the strictly-ordered chain, with stage-over-stage
    * conversion in exact ppm (integer floor division — both engines
    * compute the same BIGINT).
    *
    * Scale shape: like [[eventFunnel]], each stage is filter + min-agg
    * hash-partitioned on user_id — after the first exchange the stage
    * joins are co-partitioned; no window over the raw stream, no
    * per-user sort. The per-stage counts are 1-row aggregates and the
    * conversion window runs over FOUR rows on the driver-side plan. */
  def orderLifecycleFunnel(s: SparkSession, d: String): DataFrame = {
    val e = graft.Tables.events(s, d)
    def stageAfter(prev: DataFrame, prevTs: String, typ: String, outTs: String) =
      e.filter(col("event_type") === typ)
        .join(prev.select("user_id", prevTs), "user_id")
        .filter(col("ts") > col(prevTs))
        .groupBy("user_id").agg(min("ts").as(outTs))
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = stageAfter(s1, "t1", "view", "t2")
    val s3 = stageAfter(s2, "t2", "click", "t3")
    val s4 = stageAfter(s3, "t3", "purchase", "t4")
    val stages = Seq((1, "signup", s1), (2, "view", s2),
      (3, "click", s3), (4, "purchase", s4))
    stages.map { case (i, nm, df) =>
      df.agg(count(lit(1)).as("n_reached"))
        .select(lit(i).as("stage_idx"), lit(nm).as("stage"), col("n_reached"))
    }.reduce(_.unionByName(_))
      .withColumn("conv_ppm", expr(
        "coalesce(n_reached * 1000000L div lag(n_reached) OVER (ORDER BY stage_idx), 1000000L)"))
      .orderBy("stage_idx")
  }

  val orderLifecycleFunnelOracle: String = """
WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
       WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY e.user_id),
s4 AS (SELECT e.user_id, min(e.ts) AS t4 FROM events e JOIN s3 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY e.user_id),
f AS (
  SELECT 1 AS stage_idx, 'signup' AS stage, (SELECT count(*) FROM s1) AS n_reached
  UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
  UNION ALL SELECT 3, 'click', (SELECT count(*) FROM s3)
  UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4))
SELECT CAST(stage_idx AS INT) AS stage_idx, stage, n_reached,
       CAST(coalesce(n_reached * 1000000 // lag(n_reached) OVER (ORDER BY stage_idx),
                     1000000) AS BIGINT) AS conv_ppm
FROM f ORDER BY stage_idx"""

  /** Time-in-status percentiles — the second half of the deferred
    * order-lifecycle family (reference `order_history`,
    * source_sql/01_mysql_create.sql:122-130): how long does an entity
    * SIT in each status before the next transition? Dwell = gap to the
    * next event in the same user's stream under the total (ts, event_id)
    * order (the [[graft.queries.BehaviorOps]].eventTransitions key), in
    * exact IEEE seconds (integer micros difference ÷ 1e6 — correctly
    * rounded by spec, so both engines produce the identical double);
    * exact p50/p90/p99 per status via the established
    * percentile ↔ quantile_cont pairing.
    *
    * Scale shape: ONE shuffle on user_id for the lead() window (per-user
    * streams are small), then a |statuses|-row aggregate. At 100 TB the
    * exact percentile becomes [[graft.queries.ScaleOps]]
    * .approxPercentiles' GK sketch; this query is the exact-semantics
    * anchor the sketch's error contract is stated against. */
  def orderStatusDwell(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    graft.Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_ts", lead("ts", 1).over(w))
      .filter(col("next_ts").isNotNull)
      .withColumn("dwell_secs",
        (unix_micros(col("next_ts")) - unix_micros(col("ts"))).cast("double") / 1e6)
      .groupBy(col("event_type").as("status"))
      .agg(count(lit(1)).as("n_spells"),
        round(expr("percentile(dwell_secs, 0.5)"), 4).as("p50_secs"),
        round(expr("percentile(dwell_secs, 0.9)"), 4).as("p90_secs"),
        round(expr("percentile(dwell_secs, 0.99)"), 4).as("p99_secs"))
      .orderBy("status")
  }

  val orderStatusDwellOracle: String = """
WITH seq AS (
  SELECT user_id, event_type, ts,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
  FROM events),
d AS (
  SELECT event_type AS status,
         (epoch_us(next_ts) - epoch_us(ts)) / 1000000.0 AS dwell_secs
  FROM seq WHERE next_ts IS NOT NULL)
SELECT status, count(*) AS n_spells,
       round(quantile_cont(dwell_secs, 0.5), 4) AS p50_secs,
       round(quantile_cont(dwell_secs, 0.9), 4) AS p90_secs,
       round(quantile_cont(dwell_secs, 0.99), 4) AS p99_secs
FROM d GROUP BY status ORDER BY status"""

  /** Stage-to-stage conversion latency — the third member of the
    * order-lifecycle family: among entities that COMPLETE each stage
    * transition of the [[orderLifecycleFunnel]] chain, how long did the
    * hop take (first qualifying event to first qualifying next-stage
    * event)? One row per hop with exact p50/p90 seconds and the hop's
    * population. The funnel says HOW MANY convert; this says HOW FAST —
    * together they are the reference's deferred order_history dashboard.
    *
    * Scale shape: reuses the funnel's chained min-agg stage frames
    * (hash-partitioned on user_id, stage joins co-partitioned); each
    * hop's latency set is stage-population-sized, far below event
    * volume, before the percentile sort. */
  def orderStageLatency(s: SparkSession, d: String): DataFrame = {
    val e = graft.Tables.events(s, d)
    def stageAfter(prev: DataFrame, prevTs: String, typ: String, outTs: String) =
      e.filter(col("event_type") === typ)
        .join(prev.select("user_id", prevTs), "user_id")
        .filter(col("ts") > col(prevTs))
        .groupBy("user_id").agg(min("ts").as(outTs))
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = stageAfter(s1, "t1", "view", "t2")
    val s3 = stageAfter(s2, "t2", "click", "t3")
    val s4 = stageAfter(s3, "t3", "purchase", "t4")
    def hop(idx: Int, nm: String, joined: DataFrame, a: String, b: String) =
      joined.select(
        (unix_micros(col(b)) - unix_micros(col(a))).cast("double").as("lat"))
        .agg(count(lit(1)).as("n_converted"),
          round(expr("percentile(lat / 1e6, 0.5)"), 4).as("p50_secs"),
          round(expr("percentile(lat / 1e6, 0.9)"), 4).as("p90_secs"))
        .select(lit(idx).as("hop_idx"), lit(nm).as("hop"),
          col("n_converted"), col("p50_secs"), col("p90_secs"))
    hop(1, "signup->view", s2.join(s1, "user_id"), "t1", "t2")
      .unionByName(hop(2, "view->click", s3.join(s2, "user_id"), "t2", "t3"))
      .unionByName(hop(3, "click->purchase", s4.join(s3, "user_id"), "t3", "t4"))
      .orderBy("hop_idx")
  }

  val orderStageLatencyOracle: String = """
WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
       WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY e.user_id),
s4 AS (SELECT e.user_id, min(e.ts) AS t4 FROM events e JOIN s3 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY e.user_id),
h1 AS (SELECT (epoch_us(t2) - epoch_us(t1)) / 1000000.0 AS lat
       FROM s2 JOIN s1 USING (user_id)),
h2 AS (SELECT (epoch_us(t3) - epoch_us(t2)) / 1000000.0 AS lat
       FROM s3 JOIN s2 USING (user_id)),
h3 AS (SELECT (epoch_us(t4) - epoch_us(t3)) / 1000000.0 AS lat
       FROM s4 JOIN s3 USING (user_id)),
f AS (
  SELECT 1 AS hop_idx, 'signup->view' AS hop, count(*) AS n_converted,
         round(quantile_cont(lat, 0.5), 4) AS p50_secs,
         round(quantile_cont(lat, 0.9), 4) AS p90_secs FROM h1
  UNION ALL
  SELECT 2, 'view->click', count(*),
         round(quantile_cont(lat, 0.5), 4), round(quantile_cont(lat, 0.9), 4) FROM h2
  UNION ALL
  SELECT 3, 'click->purchase', count(*),
         round(quantile_cont(lat, 0.5), 4), round(quantile_cont(lat, 0.9), 4) FROM h3)
SELECT CAST(hop_idx AS INT) AS hop_idx, hop, n_converted, p50_secs, p90_secs
FROM f ORDER BY hop_idx"""

  // ------------------------------------------------ distributed sweep-line

  /** Total covered time (interval UNION length) per order priority, with
    * NO global sort — the distributed form of the classic sweep-line.
    * Intervals are derived deterministically from orders (start =
    * order-date epoch day, length = 5 + o_orderkey mod 20 days, half-open).
    *
    * Scale shape: each interval explodes into the 32-day bins it touches
    * (bounded ≤ 2 bins here; in general len/binW + 1), is clipped to the
    * bin, and every (priority, bin) cell runs an independent mini-sweep —
    * a window partitioned by (prio, bin), ordered by clipped start, with a
    * strictly-preceding running max of clipped end: contribution =
    * max(0, cen - max(cst, prev_max)). Clipping makes per-bin unions
    * disjoint, so the per-priority sum is EXACTLY the union length, and no
    * window partition ever exceeds a bin's worth of segments — this is how
    * a 100 TB interval union runs without a single-task sort. The per-row
    * running max depends on tie order among equal starts, but the SUM is
    * invariant under any tie permutation (the sweep identity), so the
    * hash-checked output is deterministic. */
  /** The binned-sweep core over any (prio, st, en) interval frame —
    * half-open [st, en), bin width `binW`. The result is invariant in
    * `binW` (clipping makes per-bin unions disjoint), which the property
    * suite exercises with random intervals across several widths. */
  private[graft] def coverage(iv: DataFrame, binW: Long): DataFrame = {
    val seg = iv
      .select(col("prio"), col("st"), col("en"),
        expr(s"explode(sequence(st div $binW, (en - 1) div $binW))").as("b"))
      .select(col("prio"), col("b"),
        greatest(col("st"), col("b") * binW).as("cst"),
        least(col("en"), (col("b") + 1) * binW).as("cen"))
    val w = Window.partitionBy("prio", "b").orderBy("cst")
      .rowsBetween(Window.unboundedPreceding, -1)
    seg.withColumn("pm", max("cen").over(w))
      .select(col("prio"),
        greatest(lit(0L), col("cen") - greatest(col("cst"), coalesce(col("pm"), col("cst")))).as("contrib"))
      .groupBy("prio")
      .agg(sum("contrib").as("covered_days"), count(lit(1)).as("n_segments"))
      .orderBy("prio")
  }

  def intervalCoverage(s: SparkSession, d: String): DataFrame =
    coverage(Tables.orders(s, d).select(
      col("o_orderpriority").as("prio"),
      datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long").as("st"),
      (datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long")
        + lit(5L) + col("o_orderkey") % 20L).as("en")), 32L)

  val intervalCoverageOracle: String = """
WITH iv AS (
  SELECT o_orderpriority AS prio,
         CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS st,
         CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 5
              + o_orderkey % 20 AS BIGINT) AS en
  FROM orders),
seg AS (
  SELECT prio, CAST(u.b AS BIGINT) AS b,
         greatest(st, CAST(u.b AS BIGINT) * 32) AS cst,
         least(en, (CAST(u.b AS BIGINT) + 1) * 32) AS cen
  FROM iv, UNNEST(range(st // 32, (en - 1) // 32 + 1)) AS u(b)),
sw AS (
  SELECT prio, cst, cen,
         max(cen) OVER (PARTITION BY prio, b ORDER BY cst
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM seg)
SELECT prio,
       CAST(sum(greatest(0, cen - greatest(cst, coalesce(pm, cst)))) AS BIGINT) AS covered_days,
       count(*) AS n_segments
FROM sw GROUP BY prio ORDER BY prio"""

  /** Per-user TIME-WEIGHTED average of the event value — the TWAP /
    * metering integral (avg resource level × holding time) that a plain
    * AVG gets wrong whenever observations are unevenly spaced: each
    * event's value holds until the user's next event, weighted by that
    * duration in whole seconds. Determinism: values quantize to integer
    * micro-units BEFORE the weighted sum (Σ v_q·dur and Σ dur are exact
    * BIGINTs; worst case ~5.6e14 per interval leaves 4 orders of
    * magnitude under int64 at this value range — re-scale the quantum
    * for wider domains), and the final (num/den)/1e6 is two correctly-
    * rounded IEEE divisions, so the float gates exactly. A user's last
    * event (and single-event users) carries no duration: den_s = 0 ⇒
    * twap NULL, never a divide-by-zero. Scale shape: one shuffle on
    * user_id (window partition key), linear per-partition sweep, then
    * the same-keyed aggregation reuses the partitioning. */
  def twapPerUser(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts) div 1000000").as("sec"),
        expr("CAST(floor(value * 1000000) AS BIGINT)").as("vq"))
      .withColumn("dur", lead("sec", 1).over(w) - col("sec"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        coalesce(sum("dur"), lit(0L)).as("den_s"),
        coalesce(sum(col("vq") * col("dur")), lit(0L)).as("num_q"))
      .withColumn("twap", when(col("den_s") > 0,
        (col("num_q").cast("double") / col("den_s").cast("double")) / lit(1000000.0)))
      .select("user_id", "n_events", "den_s", "num_q", "twap")
      .orderBy("user_id")
  }

  val twapPerUserOracle: String = """
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec,
         CAST(floor(value * 1000000) AS BIGINT) AS vq
  FROM events),
d AS (
  SELECT user_id, vq,
         lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) - sec AS dur
  FROM ev)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(coalesce(sum(dur), 0) AS BIGINT) AS den_s,
       CAST(coalesce(sum(vq * dur), 0) AS BIGINT) AS num_q,
       CASE WHEN coalesce(sum(dur), 0) > 0
            THEN (CAST(sum(vq * dur) AS DOUBLE) / CAST(sum(dur) AS DOUBLE)) / 1000000.0
       END AS twap
FROM d GROUP BY user_id ORDER BY user_id"""

  // ------------------------------------------------- CUSUM change point

  /** CUSUM change-point detection over the daily-revenue series — the
    * level-shift monitor a pipeline runs on any metric stream. The
    * statistic is kept exact by clearing the mean of fractions: the
    * cumulative sum of (xᵢ − μ) scaled by n is Σ(n·xᵢ − T) with
    * T = Σx — pure BIGINT cents, no division anywhere, so the argmax
    * split day (max |CUSUM|, the classic single-change estimator) is
    * engine-exact. Scale shape: the heavy pass is the per-day cents
    * hash-agg over the fact (map-side partial); the cumulative window
    * runs over the DAY series — calendar-bounded thousands of rows, so
    * the single-partition running sum is a non-issue at any fact scale —
    * and the peak scalar broadcasts back. */
  /** The statistic itself, reusable over any (day, cents) series —
    * CusumSpec drives it with a PLANTED level shift to prove the argmax
    * lands on the true change day (the gate only proves both engines
    * agree; a shared-formula bug would agree wrongly — the round-6
    * moral). */
  private[graft] def cusumCore(daily: DataFrame): DataFrame = {
    val tot = daily.agg(sum("cents").as("total"), count(lit(1)).as("n"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cus = daily.crossJoin(broadcast(tot))
      .withColumn("cusum_scaled", sum(expr("n * cents - total")).over(w))
    val peak = cus.agg(max(abs(col("cusum_scaled"))).as("peak"))
    cus.crossJoin(broadcast(peak))
      .select(col("day"), col("cents"), col("cusum_scaled"),
        (abs(col("cusum_scaled")) === col("peak")).as("is_changepoint"))
      .orderBy("day")
  }

  def cusumChangepoint(s: SparkSession, d: String): DataFrame =
    cusumCore(Tables.orders(s, d)
      .groupBy(datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
        .cast("long").as("day"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("cents")))

  val cusumChangepointOracle: String = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
t AS (SELECT CAST(sum(cents) AS BIGINT) AS total, count(*) AS n FROM daily),
c AS (
  SELECT day, cents,
         CAST(sum(n * cents - total) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cusum_scaled
  FROM daily CROSS JOIN t),
p AS (SELECT max(abs(cusum_scaled)) AS peak FROM c)
SELECT day, cents, cusum_scaled, abs(cusum_scaled) = p.peak AS is_changepoint
FROM c CROSS JOIN p ORDER BY day"""

  // ---------------------------------------------------- MoM growth / movers

  /** Month-over-month revenue growth per nation with a biggest-mover rank
    * — the standard trend page of a revenue dashboard. Cents are exact
    * BIGINTs; the growth RATIO is the one inherently-signed quantity, and
    * signed integer floor-division diverges across engines (Spark `DIV`
    * truncates toward zero, DuckDB `//` floors), so it is computed as an
    * identically-parenthesized long→double IEEE chain rounded to 2 — the
    * `ab_test_chi2` discipline. NULL ordering also diverges by default
    * (Spark DESC puts nulls last, DuckDB first), so the mover rank pins
    * NULLS LAST explicitly on both sides. Scale shape: one fact hash-agg
    * on (nation, month); both windows run over the nations×months grid —
    * calendar-bounded, never fact-sized. */
  def momGrowthMovers(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("ym"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("rev_cents"))
    val wLag = Window.partitionBy("nation").orderBy("ym")
    val wRank = Window.partitionBy("ym")
      .orderBy(col("mom_ppm").desc_nulls_last, col("nation"))
    monthly
      .withColumn("prev_cents", lag("rev_cents", 1).over(wLag))
      .withColumn("mom_ppm", expr(
        "round(CAST(rev_cents - prev_cents AS DOUBLE) / CAST(prev_cents AS DOUBLE) * 1000000.0, 2)"))
      .withColumn("mover_rank", row_number().over(wRank).cast("int"))
      .select("nation", "ym", "rev_cents", "prev_cents", "mom_ppm", "mover_rank")
      .orderBy("ym", "mover_rank")
  }

  val momGrowthMoversOracle: String = """
WITH m AS (
  SELECT n.n_name AS nation,
         CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2),
g AS (
  SELECT *, lag(rev_cents) OVER (PARTITION BY nation ORDER BY ym) AS prev_cents
  FROM m),
r AS (
  SELECT *, round(CAST(rev_cents - prev_cents AS DOUBLE)
                  / CAST(prev_cents AS DOUBLE) * 1000000.0, 2) AS mom_ppm
  FROM g)
SELECT nation, ym, rev_cents, prev_cents, mom_ppm,
       CAST(row_number() OVER (PARTITION BY ym
            ORDER BY mom_ppm DESC NULLS LAST, nation) AS INT) AS mover_rank
FROM r ORDER BY ym, mover_rank"""

  // ------------------------------------------------ seasonal-naive backtest

  /** Seasonal-naive forecast backtest: predict each nation-month's
    * revenue as the SAME MONTH LAST YEAR and score the forecast against
    * actuals — the baseline every forecasting system must beat, and the
    * backtest harness shape (join actuals to lagged actuals, per-series
    * error rollup) is the same one a real model would plug into. Errors
    * are exact integer ppm (|actual − forecast| is non-negative, so
    * floor division is engine-identical — no signed-division hazard);
    * per-nation MAPE is the ppm mean over scored months. Scale shape:
    * one fact hash-agg on (nation, ym), a self-join on the shifted key
    * (ym − 100 in yyyymm arithmetic), and a nation-sized rollup. */
  def seasonalNaiveBacktest(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("ym"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("rev_cents"))
    val forecast = monthly.select(col("nation"),
      (col("ym") + 100).as("ym"), col("rev_cents").as("fc_cents"))
    monthly.join(forecast, Seq("nation", "ym"))
      .withColumn("ape_ppm",
        expr("abs(rev_cents - fc_cents) * 1000000L DIV fc_cents"))
      .groupBy("nation")
      .agg(count(lit(1)).as("n_months"),
        expr("sum(ape_ppm) DIV count(1)").as("mape_ppm"),
        max("ape_ppm").as("worst_ape_ppm"))
      .orderBy("nation")
  }

  val seasonalNaiveBacktestOracle: String = """
WITH m AS (
  SELECT n.n_name AS nation,
         CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2),
j AS (
  SELECT a.nation, a.ym, a.rev_cents, f.rev_cents AS fc_cents,
         abs(a.rev_cents - f.rev_cents) * 1000000 // f.rev_cents AS ape_ppm
  FROM m a JOIN m f ON a.nation = f.nation AND a.ym = f.ym + 100)
SELECT nation, count(*) AS n_months,
       CAST(sum(ape_ppm) // count(*) AS BIGINT) AS mape_ppm,
       CAST(max(ape_ppm) AS BIGINT) AS worst_ape_ppm
FROM j GROUP BY nation ORDER BY nation"""

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("cusum_changepoint", cusumChangepoint, cusumChangepointOracle),
    QuerySpec("mom_growth_movers", momGrowthMovers, momGrowthMoversOracle),
    QuerySpec("seasonal_naive_backtest", seasonalNaiveBacktest, seasonalNaiveBacktestOracle),
    QuerySpec("twap_per_user", twapPerUser, twapPerUserOracle),
    QuerySpec("event_funnel", eventFunnel, eventFunnelOracle),
    QuerySpec("order_lifecycle_funnel", orderLifecycleFunnel, orderLifecycleFunnelOracle),
    QuerySpec("order_status_dwell", orderStatusDwell, orderStatusDwellOracle),
    QuerySpec("order_stage_latency", orderStageLatency, orderStageLatencyOracle),
    QuerySpec("timeseries_gapfill", gapfillHourly, gapfillHourlyOracle),
    QuerySpec("range_join_sessions", rangeJoinSessions, rangeJoinSessionsOracle),
    QuerySpec("range_join_islands", rangeJoinIslands, rangeJoinIslandsOracle),
    QuerySpec("embedding_centroids", embeddingCentroids, embeddingCentroidsOracle),
    QuerySpec("array_ops", arrayOps, arrayOpsOracle),
    QuerySpec("array_hof", arrayHof, arrayHofOracle),
    QuerySpec("vector_math", vectorMath, vectorMathOracle),
    QuerySpec("interval_coverage", intervalCoverage, intervalCoverageOracle)
  )
}
