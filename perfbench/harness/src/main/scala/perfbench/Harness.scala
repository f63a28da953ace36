package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.{col, lit}

import graft.Tables
import graft.ops.MergeOnRead
import graft.pipeline.Medallion
import graft.util.{AtomicTable, SessionCaches, SilverArtifact}

/** One benchmark run: one JVM, one `local[cores]` session at a time, one
  * client issuing ops in a closed loop.
  *
  * Usage: `Harness <plan.json>`. The plan (written by `perfbench/run.py`)
  * names the workload, the generated input directory, the seeded op order
  * of every pass and, for `lake_write`, the seeded write batches. The
  * harness writes raw measurements to the plan's `results` path; all
  * statistics and output checks are computed by `run.py`.
  *
  * Every timed query action is a `noop` write of the op's DataFrame: the
  * full plan runs and the rows are discarded, so Catalyst cannot prune the
  * final sort, windows, joins or codec calls the way a `.count()` lets it. */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Plan(node: JsonNode) {
    def str(k: String): String = node.get(k).asText()
    def int(k: String): Int = node.get(k).asInt()
    def long(k: String): Long = node.get(k).asLong()
    def bool(k: String): Boolean = node.get(k).asBoolean()
    def strs(k: String): Seq[String] = node.get(k).elements().asScala.map(_.asText()).toSeq
    def passes: Seq[Seq[Int]] =
      node.get("orders").elements().asScala.map(_.elements().asScala.map(_.asInt()).toSeq).toSeq
    val workload: String = str("workload")
    val dataDir: String = str("data_dir")
    val workDir: Path = Paths.get(str("work_dir"))
    val traced: Boolean = bool("trace")
    val seconds: Double = node.get("seconds").asDouble()
  }

  def main(args: Array[String]): Unit = {
    val mainAt = Clock.micros()
    val plan = Plan(mapper.readTree(Paths.get(args(0)).toFile))
    val rec = new Recorder(plan.traced)
    rec.sections("jvm") = Map("launched_us" -> plan.long("launched_at_us"), "main_us" -> mainAt)
    val run = new Run(plan, rec)
    val ok =
      try { run.execute(); true }
      catch { case NonFatal(e) => rec.fail(plan.workload, "run", e); false }
      finally run.stop()
    rec.sections("jvm_end") = Map("gc_ms" -> Jvm.gcMs(), "peak_heap_mb" -> Jvm.peakHeapMb())
    val out = Map(
      "workload" -> plan.workload, "traced" -> plan.traced,
      "sections" -> rec.sections, "execs" -> rec.execs, "failures" -> rec.failures,
      "spans" -> rec.spanList,
      "jobs" -> run.execTap.map(_.jobs.asScala.toSeq).getOrElse(Nil),
      "stages" -> run.execTap.map(_.stages.asScala.toSeq).getOrElse(Nil),
      "queries" -> run.planTap.queries.asScala.toSeq,
      "stream_starts" -> StreamTap.starts.asScala.toSeq,
      "batches" -> StreamTap.batches.asScala.toSeq)
    Files.writeString(Paths.get(plan.str("results")), mapper.writeValueAsString(out))
    System.exit(if (ok) 0 else 1)
  }

  /** Ops are named `Family/query`; the query name keys the program's own
    * registry (`SparkEntry.queries`, `SparkEntry.oracleSql`). */
  def queryName(op: String): String = op.split("/", 2)(1)
}

final class Run(plan: Harness.Plan, rec: Recorder) {
  import Harness.queryName

  private var spark: SparkSession = _
  var execTap: Option[ExecTap] = None
  val planTap = new PlanTap
  private val tapped = mutable.Set[SparkSession]()
  private val storeRoot = plan.workDir.resolve("store")
  private val checkDir = plan.workDir.resolve("check")
  private val ops = plan.strs("ops")
  private val memoTagged = plan.strs("memo_ops").toSet

  def stop(): Unit =
    if (spark != null) { spark.stop(); spark = null; tapped.clear() }

  /** Register the plan listener on `s`: on the harness's own sessions and
    * on the cloned sessions the program's ops return DataFrames from. */
  private def tap(s: SparkSession): Unit =
    if (tapped.add(s)) s.listenerManager.register(planTap)

  private def session(): SparkSession = {
    val s = graft.GraftSession.builder(master = s"local[${plan.int("cores")}]",
        appName = s"perfbench-${plan.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", plan.workDir.resolve("warehouse").toString)
      .config("spark.local.dir", plan.workDir.resolve("spark-local").toString)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamTap].getName)
      .getOrCreate()
    graft.functions.GraftFunctions.register(s)
    s.sparkContext.setLogLevel("WARN")
    tap(s)
    if (plan.traced) {
      val et = new ExecTap
      s.sparkContext.addSparkListener(et)
      execTap = Some(et)
    }
    s
  }

  /** Point `SilverArtifact.root` at an empty store the run owns: every
    * set-up starts from the same store state. */
  private def freshStore(): Unit = {
    AtomicTable.deleteRecursively(storeRoot)
    Files.createDirectories(storeRoot)
    SilverArtifact.root = storeRoot.toString
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }

  def execute(): Unit = {
    setup()
    if (plan.traced) traceProbes()
    plan.workload match {
      case "lake_write" => lakeLoop()
      case _            => queryPasses()
    }
  }

  // ------------------------------------------------------------- set-up

  /** Set up `setup_reps` times, each from an empty store in a new session;
    * the first one is timed from the launch of the JVM. The workload then
    * runs in the last session. */
  private def setup(): Unit = {
    val reps = mutable.ArrayBuffer[Map[String, Any]]()
    for (rep <- 0 until plan.int("setup_reps")) {
      stop()
      freshStore()
      val t0 = if (rep == 0) plan.long("launched_at_us") else Clock.micros()
      val steps = mutable.LinkedHashMap[String, Double]()
      rec.span(s"setup.$rep") {
        val (s, sessionMs) = timed(rec.span("setup.session") { session() })
        spark = s
        steps("session_ms") = sessionMs
        stage(steps)
      }
      reps += Map("ms" -> (Clock.micros() - t0) / 1000.0) ++ steps
    }
    rec.sections("setup") = reps.toSeq
  }

  /** Staging: resolve the source tables the workload reads. Stored
    * artifacts (the gold zone, corpus indexes) are not staged: the cold
    * pass builds them into the empty store, as a first session would. */
  private def stage(steps: mutable.Map[String, Double]): Unit =
    steps("resolve_ms") = timed(rec.span("setup.resolve") {
      plan.strs("tables").foreach(t => Tables.table(spark, plan.dataDir, t))
    })._2

  /** Traced runs only: the host anchor and the `Tables` resolution costs,
    * both timed from outside before the first pass. */
  private def traceProbes(): Unit = {
    val anchor = (0 until 3).map { _ =>
      timed {
        spark.range(0L, 20000000L, 1L, plan.int("cores") * 2)
          .selectExpr("id % 9973 AS k", "xxhash64(id) % 1000003 AS h")
          .groupBy("k").sum("h").collect()
      }._2
    }
    val tables = plan.strs("tables")
    SessionCaches.clear(spark)
    val miss = tables.map(t => timed(Tables.table(spark, plan.dataDir, t))._2)
    val hit = tables.map(t => timed(Tables.table(spark, plan.dataDir, t))._2)
    rec.sections("probes") = Map("anchor_ms" -> anchor,
      "resolve_ms" -> miss, "resolve_hit_ms" -> hit)
  }

  // ----------------------------------------------------- read workloads

  /** Time `body` as one execution of `op` and record it: wall time, GC and
    * codegen deltas, artifact versions published, and the fields `body`
    * adds. A failure is logged with the op name and recorded, never
    * dropped; the caller gets None. */
  private def timedExec[T](op: String, pass: Int, kind: String)(
      body: mutable.Map[String, Any] => T): Option[T] =
    rec.withExec { exec =>
      spark.sparkContext.setLocalProperty(ExecTap.ExecKey, exec.toString)
      val extra = mutable.LinkedHashMap[String, Any]()
      val cg0 = Codegen.snap()
      val gc0 = Jvm.gcMs()
      val artifacts0 = artifactVersions()
      val t0 = Clock.micros()
      val out =
        try Some(rec.span(s"op:$op")(body(extra)))
        catch { case NonFatal(e) => rec.fail(op, kind, e); None }
      val t1 = Clock.micros()
      spark.sparkContext.setLocalProperty(ExecTap.ExecKey, null)
      rec.execs += Map("exec" -> exec, "op" -> op, "pass" -> pass, "kind" -> kind,
        "ok" -> out.isDefined, "memo" -> memoTagged.contains(op),
        "t0" -> t0, "t1" -> t1, "ms" -> (t1 - t0) / 1000.0,
        "gc_ms" -> (Jvm.gcMs() - gc0), "artifact_versions" -> (artifactVersions() - artifacts0),
        "codegen" -> Codegen.delta(cg0, Codegen.snap())) ++ extra
      out
    }

  /** One timed query op: the builder call, then the full-result action.
    * Returns the built DataFrame on success. */
  private def runOp(op: String, pass: Int, kind: String): Option[DataFrame] =
    timedExec(op, pass, kind) { extra =>
      val t0 = Clock.micros()
      val built = rec.span("build") { graft.SparkEntry.queries(queryName(op))(spark, plan.dataDir) }
      val t1 = Clock.micros()
      tap(built.sparkSession)
      rec.span("action") { built.write.format("noop").mode("overwrite").save() }
      extra("build_ms") = (t1 - t0) / 1000.0
      extra("action_ms") = (Clock.micros() - t1) / 1000.0
      built
    }

  /** Published artifact versions in the store, summed over all artifacts
    * (traced runs only: it lists the store). */
  private def artifactVersions(): Long =
    if (!plan.traced || !Files.isDirectory(storeRoot)) 0L
    else {
      val st = Files.walk(storeRoot, 3)
      try st.iterator().asScala
        .filter(p => Files.isDirectory(p) && Files.exists(p.resolve("_CURRENT")))
        .map(p => AtomicTable.history(p.toString).size.toLong).sum
      finally st.close()
    }

  private val passes = mutable.ArrayBuffer[Map[String, Any]]()

  /** Run `body` as pass `i` and record its wall time. Traced runs trace
    * the cold pass and every odd steady pass; the untraced ones measure
    * the tracing overhead in the same process. */
  private def pass[T](i: Int, kind: String)(body: => T): T = {
    val traced = rec.traced && (kind == "cold" || i % 2 == 1)
    val t0 = Clock.micros()
    val out = withTracing(traced)(rec.span("pass")(body))
    passes += Map("pass" -> i, "kind" -> kind, "traced" -> traced,
      "t0" -> t0, "t1" -> Clock.micros())
    out
  }

  /** Steady passes `1..` until the run's time is used, at least `min_steady`.
    * `afterPass` runs untimed between passes. */
  private def steadyPasses(limit: Int, afterPass: Int => Unit = _ => ())(body: Int => Unit): Unit = {
    val start = System.nanoTime()
    var i = 1
    while (i <= limit && (i <= plan.int("min_steady") || (System.nanoTime() - start) / 1e9 < plan.seconds)) {
      pass(i, "steady")(body(i))
      withTracing(false)(afterPass(i))
      i += 1
    }
    rec.sections("passes") = passes.toSeq
  }

  /** Bytes and files under `roots`, recorded as the run's stored state. It
    * is taken at a fixed point of the run (after the cold pass, or after
    * the first `min_steady` write rounds), so it does not depend on how
    * many passes the run's time allowed. */
  private def recordStorage(roots: Path*): Unit = {
    val (bytes, files) = roots.map(Disk.usage).foldLeft((0L, 0L)) {
      case ((b, f), (b1, f1)) => (b + b1, f + f1)
    }
    rec.sections("storage") = Map("bytes" -> bytes, "files" -> files)
  }

  /** The cold pass, then steady passes. The cold pass clears the session
    * memos over the empty store: it builds the gold zone (when the workload
    * reads it) and runs every op for the first time. Each op's cold output
    * is then written once for the output check, and its plans are kept for
    * the plan-retention check. */
  private def queryPasses(): Unit = {
    val orders = plan.passes
    rec.sections("oracle_sql") = ops.flatMap(op =>
      graft.SparkEntry.oracleSql.get(queryName(op)).map(op -> _)).toMap
    SessionCaches.clear(spark)
    planTap.keepNoopPlans = true
    val cold = pass(0, "cold") {
      if (plan.bool("gold")) timedExec(s"${plan.workload}/gold", 0, "cold") { _ =>
        val d = plan.dataDir
        Seq(Medallion.dimCustomer _, Medallion.dimPart _, Medallion.dimSupplier _,
          Medallion.dimDate _, Medallion.factSales _).foreach(_(spark, d))
      }
      orders(0).map(ops).flatMap(op => runOp(op, 0, "cold").map(op -> _))
    }
    withTracing(false) {
      checkCold(cold)
      recordStorage(storeRoot)
    }
    steadyPasses(orders.size - 1) { i =>
      orders(i).map(ops).foreach(op => runOp(op, i, "steady"))
    }
  }

  /** Output and plan-retention checks of the cold pass, untimed. */
  private def checkCold(cold: Seq[(String, DataFrame)]): Unit = {
    // listener events arrive asynchronously: wait for the cold pass's
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (planTap.noopPlans.size < cold.size && System.nanoTime() < deadline) Thread.sleep(20)
    planTap.keepNoopPlans = false
    val noop = planTap.noopPlans.asScala.toSeq
    planTap.noopPlans.clear()
    if (noop.size != cold.size)
      rec.fail("plan-retention", "check",
        new IllegalStateException(s"${noop.size} noop plans recorded for ${cold.size} ops"))
    val kinds = mutable.LinkedHashMap[String, Any]()
    cold.zip(noop).foreach { case ((op, df), noopPlan) => checkOutput(op, df, noopPlan, kinds) }
    rec.sections("plan_kinds") = kinds
  }

  /** Write the op's output once for the output check (untimed), and record
    * the node kinds of the query's optimized plan and of the optimized
    * plan of its timed noop write. Both are optimized here, without cached
    * data substituted, so a subtree served from a cache in one of them
    * cannot pose as a dropped node. */
  private def checkOutput(op: String, df: DataFrame, noopPlan: LogicalPlan,
      kinds: mutable.Map[String, Any]): Unit =
    try {
      val qe = df.queryExecution
      val optimizer = qe.sparkSession.sessionState.optimizer
      kinds(op) = Map("own" -> PlanTap.kinds(optimizer.execute(qe.analyzed)),
        "noop" -> PlanTap.kinds(optimizer.execute(noopPlan)))
      df.coalesce(1).write.mode("overwrite").parquet(checkDir.resolve(op.replace('/', '.')).toString)
    } catch { case NonFatal(e) => rec.fail(op, "check", e) }

  private var tracingOn = true

  /** Untraced passes of a traced run detach the job/stage listener and stop
    * recording spans; traced passes re-attach it. */
  private def withTracing[T](on: Boolean)(body: => T): T = {
    if (rec.traced && on != tracingOn) {
      execTap.foreach(t =>
        if (on) spark.sparkContext.addSparkListener(t)
        else spark.sparkContext.removeSparkListener(t))
      tracingOn = on
    }
    rec.spansEnabled = on
    body
  }

  // ------------------------------------------------------- lake_write

  /** Cold pass: the ETL (`Medallion.writeAll`) into an empty lake, then the
    * publish of the orders table the loop writes. Steady passes: one seeded
    * round each — a MERGE upsert batch with the change feed on, a key-range
    * DELETE (the merge-on-read table's `NOT MATCHED BY SOURCE` delete
    * clause) and every few rounds a compaction, each commit followed by a
    * full-result read of the merged table. */
  private def lakeLoop(): Unit = {
    val base = plan.workDir.resolve("lake_orders")
    val lake = plan.workDir.resolve("lake")
    val key = "o_orderkey"
    val batches = plan.node.get("batches").elements().asScala.toSeq
    val rounds = mutable.ArrayBuffer[Map[String, Any]]()

    def commit(name: String, pass: Int, kind: String)(body: => Unit): Unit = {
      timedExec(s"lake_write/$name", pass, kind) { extra =>
        val (b0, f0) = if (rec.traced) Disk.usage(base) else (0L, 0L)
        rec.span(s"commit.$name")(body)
        if (rec.traced) {
          val (b1, f1) = Disk.usage(base)
          extra("bytes_written") = math.max(0L, b1 - b0)
          extra("files_written") = math.max(0L, f1 - f0)
        }
      }
      if (kind == "steady") timedExec("lake_write/read", pass, kind) { _ =>
        rec.span("commit.read") {
          MergeOnRead.readMerged(spark, base.toString).write.format("noop").mode("overwrite").save()
        }
      }
    }

    pass(0, "cold") {
      commit("etl", 0, "cold") {
        AtomicTable.deleteRecursively(lake)
        Medallion.writeAll(spark, plan.dataDir, lake.toString)
      }
      commit("publish", 0, "cold") {
        AtomicTable.deleteRecursively(base)
        AtomicTable.publish(base.toString)(dir =>
          Tables.orders(spark, plan.dataDir).repartition(8).write.mode("overwrite").parquet(dir))
      }
    }
    val noRows = spark.createDataFrame(java.util.Collections.emptyList[Row](),
      AtomicTable.read(spark, base.toString).schema)
    val fixedRounds = plan.int("min_steady")
    steadyPasses(batches.size, i => if (i == fixedRounds) recordStorage(lake, base)) { i =>
      val b = batches(i - 1)
      val batch = spark.read.parquet(b.get("merge").asText())
      commit("merge", i, "steady") {
        MergeOnRead.mergeUpsert(spark, base.toString, batch, key, cdfVersion = Some(2L * i - 1))
      }
      val (lo, hi) = (b.get("delete_lo").asLong(), b.get("delete_hi").asLong())
      commit("delete", i, "steady") {
        MergeOnRead.mergeFull(spark, base.toString, noRows, key, lit(false),
          Map.empty[String, Column], lit(false), insertNotMatched = false,
          notMatchedBySourceDeleteCond = col(key).between(lo, hi), cdfVersion = Some(2L * i))
      }
      if (b.get("compact").asBoolean())
        commit("compact", i, "steady") { MergeOnRead.compactMerged(spark, base.toString) }
      rounds += Map("round" -> (i - 1), "pass" -> i,
        "batch_bytes" -> Files.size(Paths.get(b.get("merge").asText())))
    }
    withTracing(false) {
      rec.sections("rounds") = rounds.toSeq
      MergeOnRead.readMerged(spark, base.toString).coalesce(1).write.mode("overwrite")
        .parquet(checkDir.resolve("lake_write.final").toString)
      rec.sections("table_versions") = AtomicTable.history(base.toString).size
    }
  }
}
