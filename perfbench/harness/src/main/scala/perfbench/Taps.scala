package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds: epoch-anchored once, then advanced by
  * the monotonic clock, so harness spans never jump with NTP and still line
  * up with the epoch-millisecond timestamps Spark's listener events carry. */
object Clock {
  private val epochMicros0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def micros(): Long = epochMicros0 + (System.nanoTime() - nano0) / 1000L
}

/** Job, stage and task counters from Spark's listener bus. Jobs carry the
  * submitting thread's local properties, so each job is attributed to the
  * op execution that was running when it was submitted — no ordering or
  * timing guess is needed. */
final class ExecTap extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobExec = TrieMap[Int, (Long, Long)]() // job -> (exec id, start ms)
  private val stageJob = TrieMap[Int, (Int, Long)]() // stage -> (job, exec id)
  private val stageDelay = TrieMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty(ExecTap.ExecKey)))
      .map(_.toLong).getOrElse(-1L)
    jobExec(e.jobId) = (exec, e.time)
    e.stageIds.foreach(stageJob(_) = (e.jobId, exec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (exec, t0) = jobExec.remove(e.jobId).getOrElse((-1L, e.time))
    jobs.add(Map("job" -> e.jobId, "exec" -> exec, "t0" -> t0 * 1000L,
      "t1" -> e.time * 1000L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null) {
      val inTask = m.executorDeserializeTime + m.executorRunTime +
        m.resultSerializationTime + e.taskInfo.gettingResultTime
      val delay = math.max(0L, e.taskInfo.duration - inTask)
      stageDelay.updateWith(e.stageId)(v => Some(v.getOrElse(0L) + delay))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val t0 = i.submissionTime.getOrElse(0L)
    val t1 = i.completionTime.getOrElse(t0)
    val (job, exec) = stageJob.getOrElse(i.stageId, (-1, -1L))
    val base = Map[String, Any]("stage" -> i.stageId, "job" -> job, "exec" -> exec,
      "t0" -> t0 * 1000L, "t1" -> t1 * 1000L, "tasks" -> i.numTasks,
      "scheduler_delay_ms" -> stageDelay.remove(i.stageId).getOrElse(0L))
    val metrics =
      if (m == null) Map.empty[String, Any]
      else Map("task_run_ms" -> m.executorRunTime,
        "task_cpu_ms" -> m.executorCpuTime / 1000000L,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_read_bytes" ->
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_bytes" -> m.inputMetrics.bytesRead)
    stages.add(base ++ metrics)
  }
}

object ExecTap {
  val ExecKey = "perfbench.exec"
}

/** Planning phases of every finished query, read from the query's own
  * `QueryPlanningTracker`, so nothing is planned twice. While
  * `keepNoopPlans` is set it also keeps the analyzed plan of each
  * successful `noop` write, in order, for the plan-retention check.
  * Registered in every run: the check is part of correctness. */
final class PlanTap extends QueryExecutionListener {
  val queries = new ConcurrentLinkedQueue[Map[String, Any]]()
  val noopPlans = new ConcurrentLinkedQueue[LogicalPlan]()
  @volatile var keepNoopPlans = false

  private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (name, p) =>
      name -> Seq(p.startTimeMs * 1000L, p.endTimeMs * 1000L)
    }
    val noop = PlanTap.isNoopWrite(qe.logical)
    if (noop && ok && keepNoopPlans) noopPlans.add(qe.analyzed)
    queries.add(Map("func" -> funcName, "ok" -> ok, "noop" -> noop, "phases" -> phases))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, ok = false)
}

object PlanTap {
  /** Expression classes that run user or library code per row: a plan that
    * loses one of these no longer pays for the codec or UDF it declares. */
  private val udfClasses = Set("ScalaUDF", "ScalaUDAF", "ScalaAggregator",
    "Invoke", "StaticInvoke", "PythonUDF")

  def isNoopWrite(plan: LogicalPlan): Boolean = plan match {
    case w: V2WriteCommand => w.table match {
      case r: DataSourceV2Relation => r.table.name == "noop-table"
      case _                       => false
    }
    case _ => false
  }

  private def isUdf(e: Expression): Boolean =
    udfClasses.contains(e.getClass.getSimpleName) ||
      e.getClass.getName.startsWith("graft.")

  /** Count of each retained node kind in an optimized plan. */
  def kinds(plan: LogicalPlan): Map[String, Int] = {
    var sort, window, join, generate, udf = 0
    plan.foreach { node =>
      node.nodeName match {
        case "Sort"     => sort += 1
        case "Window"   => window += 1
        case "Join"     => join += 1
        case "Generate" => generate += 1
        case _          => ()
      }
      node.expressions.foreach(_.foreach(e => if (isUdf(e)) udf += 1))
    }
    Map("Sort" -> sort, "Window" -> window, "Join" -> join,
      "Generate" -> generate, "UDF" -> udf)
  }
}

/** Micro-batch progress of every streaming query, including the ones the
  * program starts on cloned sessions: Spark instantiates this class from
  * the static `spark.sql.streaming.streamingQueryListeners` conf for the
  * shared state, so every session of the context reports here. */
final class StreamTap extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    StreamTap.starts.add(Map("query" -> e.id.toString,
      "t" -> Instant.parse(e.timestamp).toEpochMilli * 1000L))

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val state = p.stateOperators.toSeq
    StreamTap.batches.add(Map(
      "query" -> p.id.toString, "batch" -> p.batchId,
      "t0" -> Instant.parse(p.timestamp).toEpochMilli * 1000L,
      "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
      "add_batch_ms" -> d.getOrElse("addBatch", 0L),
      "query_planning_ms" -> d.getOrElse("queryPlanning", 0L),
      "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
      "commit_offsets_ms" -> d.getOrElse("commitOffsets", 0L),
      "latest_offset_ms" -> d.getOrElse("latestOffset", 0L),
      "input_rows" -> p.numInputRows,
      "state_rows" -> state.map(_.numRowsTotal).sum,
      "state_commit_ms" -> state.map(_.commitTimeMs).sum,
      "state_memory_bytes" -> state.map(_.memoryUsedBytes).sum))
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object StreamTap {
  val starts = new ConcurrentLinkedQueue[Map[String, Any]]()
  val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
}
