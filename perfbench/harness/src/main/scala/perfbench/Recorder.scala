package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Everything one run measures, held in memory and written once at the end.
  *
  * A span is (id, parent, exec, name, start, end) in epoch microseconds;
  * `exec` is the op execution the span belongs to (all spans of one op run
  * share it). Spans are recorded only in traced runs. Op executions, pass
  * times, failures and checks are recorded in every run. */
final class Recorder(val traced: Boolean) {
  private val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private var nextSpan = 0L
  private var nextExec = 0L
  private val stack = mutable.Stack[Long]()
  private var currentExec = -1L

  val execs = mutable.ArrayBuffer[Map[String, Any]]()
  val failures = mutable.ArrayBuffer[Map[String, Any]]()
  val sections = mutable.LinkedHashMap[String, Any]()
  /** Traced runs switch span recording off for their untraced passes. */
  var spansEnabled = true

  /** Run `body` as span `name`, nested under the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    if (!traced || !spansEnabled) return body
    val id = nextSpan; nextSpan += 1
    val parent = stack.headOption.getOrElse(-1L)
    val t0 = Clock.micros()
    stack.push(id)
    try body
    finally {
      stack.pop()
      spans += Map("id" -> id, "parent" -> parent, "exec" -> currentExec,
        "name" -> name, "t0" -> t0, "t1" -> Clock.micros())
    }
  }

  /** Allocate an op-execution id and make it current while `body` runs. */
  def withExec[T](body: Long => T): T = {
    val id = nextExec; nextExec += 1
    val prev = currentExec
    currentExec = id
    try body(id) finally currentExec = prev
  }

  /** Log a failure to stderr with its op name and keep it for the result.
    * Nothing is swallowed: every caller either records here or rethrows. */
  def fail(op: String, phase: String, e: Throwable): Unit = {
    System.err.println(s"[perfbench] FAILED $op ($phase): $e")
    e.printStackTrace(System.err)
    failures += Map("op" -> op, "phase" -> phase, "error" -> e.toString)
  }

  def spanList: Seq[Map[String, Any]] = spans.toSeq
}

/** JVM-level counters read at span boundaries. */
object Jvm {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def peakHeapMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Codegen counters: Janino compiles and their time. Both are process-wide
  * and updated synchronously on the compiling thread, so deltas taken
  * around an op on the harness thread belong to that op. */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

  final case class Snap(compiles: Long, compileNs: Long, classBytes: Double)

  def snap(): Snap = {
    val cls = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE
    Snap(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime,
      cls.getCount * cls.getSnapshot.getMean)
  }

  def delta(a: Snap, b: Snap): Map[String, Any] = Map(
    "compiles" -> (b.compiles - a.compiles),
    "compile_ms" -> (b.compileNs - a.compileNs) / 1e6,
    "class_bytes" -> math.max(0.0, b.classBytes - a.classBytes))
}

/** Sizes of what a commit leaves on disk. */
object Disk {
  def usage(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), p) =>
          try (b + Files.size(p), n + 1)
          catch { case _: java.nio.file.NoSuchFileException => (b, n) } // pruned mid-walk
        }
      finally st.close()
    }
}
