package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Restart semantics: a stateful streaming aggregation driven with
  * Trigger.AvailableNow and a checkpoint must (a) stop cleanly when the
  * backlog is drained, (b) on restart, resume from the recorded offsets —
  * never re-reading already-committed input — and (c) recover its
  * aggregation STATE from the state store, so results accumulate across
  * runs as if the stream had never stopped. */
class StreamRestartSpec extends AnyFunSuite {
  import TestSpark._

  test("AvailableNow + checkpoint: offsets and agg state survive a stop/restart") {
    import spark.implicits._
    val watch = Files.createTempDirectory("graft_restart_src").toString
    val ckpt = Files.createTempDirectory("graft_restart_ckpt").toString

    def startQuery() = spark.readStream
      .schema("user_id INT, value DOUBLE")
      .parquet(watch)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .writeStream
      .outputMode(OutputMode.Complete)
      .format("memory").queryName("graft_restart_test")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()

    // phase 1: two users, three rows
    Seq((1, 10.0), (1, 5.0), (2, 7.0)).toDF("user_id", "value")
      .coalesce(1).write.mode("append").parquet(watch)
    val q1 = startQuery()
    q1.awaitTermination()
    val after1 = spark.table("graft_restart_test").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(after1 == Map(1 -> ((2L, 15.0)), 2 -> ((1L, 7.0))))

    // phase 2: new file arrives while the query is DOWN; restart
    Seq((1, 1.0), (3, 2.0)).toDF("user_id", "value")
      .coalesce(1).write.mode("append").parquet(watch)
    val q2 = startQuery()
    q2.awaitTermination()

    // only the new file was read after restart...
    val rowsRead2 = q2.recentProgress.map(_.numInputRows).sum
    assert(rowsRead2 == 2, s"restart re-read committed input (numInputRows=$rowsRead2)")
    // ...yet the aggregate includes phase-1 contributions: that history can
    // only have come from the recovered state store
    val after2 = spark.table("graft_restart_test").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(after2 == Map(1 -> ((3L, 16.0)), 2 -> ((1L, 7.0)), 3 -> ((1L, 2.0))))
  }

  test("a restarted ANN serving session rebuilds the PQ index and serves identical top-k") {
    // r8 verdict #5: stream_ann_serve probes the session-memoized PQ
    // codes index. A serving node that restarts (new session — its memos
    // are keyed by session instance, so nothing carries over) must
    // rebuild the index from the corpus and serve the SAME ranking; the
    // ranking must also equal the batch annPqTopK result, whose oracle
    // this query shares.
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Int)] =
      df.select("query_id", "vec_id", "adist", "rnk").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val firstDf = streaming.EventsStream.annServeStream(spark, sf)
    val first = rows(firstDf)
    assert(first.nonEmpty)
    // both the serve gate and the batch gate run the seeded query budget
    val batch = rows(graft.ops.Similarity.annPqTopKSampled(spark, sf))
    assert(first == batch, "streaming serve diverged from the batch PQ ranking")
    // arrival-budget equivalence (r15 verdict #7): the ARRIVING stream is
    // filtered to the seeded sample, so the served query set must be
    // EXACTLY the seeded ids and sample_q must state the budget — the
    // same sampled ≡ full-filtered pin the batch anchors carry (batch
    // sampled ≡ full-filtered is pinned in SimilaritySpec; serve ≡ batch
    // here; so the serve budget cannot drift from the oracle silently).
    val seededIds = graft.ops.Similarity.seededQuerySample(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(first.map(_._1).toSet == seededIds,
      "served query set must be exactly the seeded arrival budget")
    assert(firstDf.select("sample_q").distinct().collect().map(_.getLong(0)).toSeq
      == Seq(seededIds.size.toLong), "sample_q must state the arrival budget")
    // restart: a brand-new session (and clear the old one's memos so a
    // cross-session cache hit cannot mask a rebuild failure)
    graft.util.SessionCaches.clear(spark)
    val s2 = spark.newSession()
    val served = rows(streaming.EventsStream.annServeStream(s2, sf))
    assert(served == first,
      "restarted serving session did not reproduce the pre-restart top-k")
  }
}
