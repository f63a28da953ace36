package graft.sources

import graft.QuerySpec
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The WRITE half of the DataSource V2 surface (the read half is
  * [[GraftGen]]): a transactional batch sink implementing the task-commit
  * protocol every exactly-once distributed writer needs — the part
  * [[graft.util.AtomicTable]]'s directory-version swap does NOT cover,
  * because that publishes a finished directory while THIS protocol is how
  * the directory gets finished correctly under task retries and job
  * failure:
  *
  *  - **task isolation**: each task writes its rows to a uniquely-named
  *    staged file (`.staging/part-<partition>-<task>.jsonl`) — speculative
  *    or retried attempts can never collide or interleave;
  *  - **commit messages**: a task reports the file it wrote (plus a row
  *    count) back to the driver ONLY on success — the Iceberg/Delta
  *    "data files are metadata-candidates, not data" principle;
  *  - **atomic job commit**: the driver moves committed files out of
  *    staging and publishes the file list as a `_MANIFEST` via
  *    temp-file + atomic rename — readers either see the whole batch or
  *    none of it, and a crash between moves leaves the manifest on the
  *    OLD list (stray data files are invisible; see readBack);
  *  - **abort**: failed jobs delete their staged files; nothing they
  *    wrote can ever be read.
  *
  * Rows are encoded as JSON lines (longs and strings — enough for the
  * contract demo; escaping mirrors graft.Verify's). The manifest-scoped
  * reader is what gives snapshot isolation: `readBack` lists ONLY
  * manifest files, so uncommitted/aborted/stray part files in the
  * directory are ignored — asserted by AtomicSinkSpec.
  *
  * Usage: `df.write.format("graft.sources.GraftSink")
  *   .option("path", dir).mode("append").save()`.
  */
class GraftSink extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException("graft sink requires an explicit write schema")
  override def getTable(schema: StructType, partitioning: Array[Transform],
      props: util.Map[String, String]): Table = {
    val path = props.get("path")
    require(path != null && path.nonEmpty, "graft sink requires option 'path'")
    new SinkTable(path, schema)
  }
}

object GraftSink {

  /** JSON string escape (the graft.Verify escape — both engines parse it). */
  private[sources] def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** End-to-end write-protocol demo: push an orders projection through
    * the transactional sink (fresh directory per run), plant a STRAY
    * part file the manifest never saw, and aggregate the manifest-scoped
    * read-back — equal to the same aggregate over the source table iff
    * (a) every task's rows survived the stage→commit→publish hops intact
    * and (b) snapshot isolation really ignores non-manifest files. The
    * oracle aggregates the source directly. */
  def sinkRoundtrip(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_sink/${graft.util.PathKeys.safe(d)}"
    val root = Paths.get(dir)
    // fresh run: drop any prior manifest/data so append semantics of the
    // protocol don't accumulate across verify/bench invocations
    if (Files.exists(root)) {
      val it = Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
      try it.forEach(p => Files.deleteIfExists(p)) finally it.close()
    }
    val df = graft.Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
      col("o_orderstatus"))
    df.write.format("graft.sources.GraftSink").option("path", dir)
      .mode("append").save()
    Files.write(root.resolve("part-stray-never-committed.jsonl"),
      "{\"o_orderkey\":-1,\"o_custkey\":-1,\"cents\":-1,\"o_orderstatus\":\"X\"}\n"
        .getBytes(StandardCharsets.UTF_8))
    readBack(s, dir, df.schema)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
      .orderBy("o_orderstatus")
  }

  val sinkRoundtripOracle: String = """
SELECT o_orderstatus, count(*) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM orders GROUP BY 1 ORDER BY 1"""

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dsv2_sink_roundtrip", sinkRoundtrip, sinkRoundtripOracle)
  )

  /** Read a sink directory with snapshot isolation: ONLY files listed in
    * the current `_MANIFEST` are scanned, so staged, aborted, or stray
    * part files are invisible. An absent manifest is an empty table. */
  def readBack(s: SparkSession, dir: String, schema: StructType): DataFrame = {
    val mf = Paths.get(dir, "_MANIFEST")
    if (!Files.exists(mf)) return s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val files = new String(Files.readAllBytes(mf), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).map(f => s"$dir/$f").toSeq
    if (files.isEmpty) s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else s.read.schema(schema).json(files: _*)
  }
}

private[sources] class SinkTable(path: String, writeSchema: StructType)
  extends Table with SupportsWrite {
  override def name: String = s"graftsink($path)"
  override def schema: StructType = writeSchema
  override def capabilities: util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new SinkBatchWrite(path, info.schema(), info.queryId())
      }
    }
}

/** One file per committed task; `commit` publishes atomically. */
private[graft] class SinkBatchWrite(path: String, schema: StructType, queryId: String)
  extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new SinkWriterFactory(path, schema, queryId)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = Paths.get(path)
    Files.createDirectories(dir)
    val committed = messages.collect { case m: SinkCommit if m.rows > 0 => m.file }
    // empty tasks committed successfully (so task abort never ran) but
    // their files aren't published — reap them or .staging grows forever
    messages.collect { case m: SinkCommit if m.rows == 0 => m.file }
      .foreach(f => Files.deleteIfExists(dir.resolve(".staging").resolve(f)))
    // move each committed file out of staging (same-directory rename —
    // atomic on POSIX; an already-final file from a retried driver is fine)
    committed.foreach { f =>
      val staged = dir.resolve(".staging").resolve(f)
      if (Files.exists(staged))
        Files.move(staged, dir.resolve(f), StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
    }
    // the manifest update is a READ-MODIFY-WRITE (append mode folds the
    // prior list in), so two concurrently-committing jobs could each
    // read the same prior manifest and the later rename would silently
    // drop the earlier job's files. A create-new lock file serializes
    // committers — createFile is atomic on POSIX. A crashed committer's
    // stale lock is broken only when the LOCK FILE's mtime is older than
    // the stale window (the holder's liveness, not the waiter's patience
    // — its manifest rename never happened, so breaking loses nothing),
    // and the break itself is an ATOMIC RENAME to a breaker-unique name:
    // of N waiters observing the same stale lock, exactly one wins the
    // move (rename of a vanished file throws for the rest), so the old
    // delete+create interleaving — where waiter 1's deleteIfExists could
    // remove waiter 2's freshly created LIVE lock (r10 ADVICE) — cannot
    // occur. While the lock is HELD, a daemon heartbeat refreshes the
    // lock file's mtime every staleMs/6, so a LIVE holder — even one
    // paused at a bad moment for several seconds — is never classified
    // stale by waiters; only a holder whose JVM actually died stops
    // refreshing (the same liveness discipline as AtomicTable's claim
    // heartbeat). This shrinks the residual TOCTOU (r11 ADVICE: a paused
    // holder broken mid-critical-section could rename its stale manifest
    // over a successor's) to a holder paused for the FULL stale window —
    // and ownership is still re-verified by token immediately before the
    // manifest rename (a broken holder must then lose, not publish over
    // the breaker), and unlock deletes the lock file only while it still
    // carries our token, so a successor's live lock survives our cleanup.
    // This is the poor man's optimistic-concurrency loop a real table
    // format runs on its version log; AtomicSinkSpec races threads
    // through it. Deliberately NOT an OS FileChannel.lock (which
    // AtomicTable.withCommitLock uses and which would erase the stale
    // protocol): this sink models the OBJECT-STORE commit discipline —
    // create-if-absent + token + mtime heartbeat are all operations an
    // S3-class store offers, flock is not — so the protocol stays
    // portable to where a DSv2 sink actually runs at scale.
    val lock = dir.resolve("_COMMIT_LOCK")
    val token = s"$queryId/${java.lang.management.ManagementFactory
      .getRuntimeMXBean.getName}/${Thread.currentThread().getId}/${System.nanoTime()}"
    val staleMs = 30000L
    def holdsToken(): Boolean = try {
      new String(Files.readAllBytes(lock), StandardCharsets.UTF_8) == token
    } catch { case _: java.io.IOException => false }
    val mf = dir.resolve("_MANIFEST")
    var published = false
    while (!published) {
      var locked = false
      while (!locked) {
        try {
          Files.createFile(lock)
          Files.write(lock, token.getBytes(StandardCharsets.UTF_8))
          locked = holdsToken()
          if (!locked) Thread.sleep(10)
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            val stale = try {
              Files.getLastModifiedTime(lock).toMillis <
                System.currentTimeMillis() - staleMs
            } catch { case _: java.io.IOException => false } // vanished = not ours to break
            if (stale) {
              val broken = dir.resolve(
                s"_COMMIT_LOCK.broken.${Thread.currentThread().getId}.${System.nanoTime()}")
              try {
                Files.move(lock, broken, StandardCopyOption.ATOMIC_MOVE)
                Files.deleteIfExists(broken)
              } catch { case _: java.io.IOException => () } // another breaker won
            }
            Thread.sleep(10)
        }
      }
      // holder-liveness heartbeat: refresh OUR lock's mtime while inside
      // the critical section, guarded on the file still carrying our
      // token. The guard is check-then-act, not atomic — a heartbeat
      // paused past the full stale window could touch a successor's
      // fresh lock once, making a then-dead successor look up to one
      // refresh-period fresher (delaying the NEXT stale-break by at most
      // staleMs). That is a liveness delay, never a safety loss: the
      // manifest rename is still token-gated.
      val heartbeat = new Thread(() =>
        try {
          while (!Thread.currentThread().isInterrupted) {
            Thread.sleep(math.max(50L, staleMs / 6))
            try { if (holdsToken()) Files.setLastModifiedTime(lock,
              java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis())) }
            catch { case _: java.io.IOException => () }
          }
        } catch { case _: InterruptedException => () },
        "graft-sink-lock-heartbeat")
      heartbeat.setDaemon(true)
      heartbeat.start()
      val tmp = dir.resolve(s"_MANIFEST.${Integer.toHexString(token.hashCode)}.tmp")
      try {
        val prior =
          if (Files.exists(mf))
            new String(Files.readAllBytes(mf), StandardCharsets.UTF_8)
              .linesIterator.filter(_.nonEmpty).toSeq
          else Seq.empty
        val next = (prior ++ committed).distinct.sorted.mkString("", "\n", "\n")
        Files.write(tmp, next.getBytes(StandardCharsets.UTF_8))
        // last-moment ownership check: if a breaker stole the lock while
        // we were paused, our manifest read may be stale — discard and
        // redo the whole read-modify-write under a re-acquired lock
        if (holdsToken()) {
          Files.move(tmp, mf, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
          published = true
        } else Files.deleteIfExists(tmp)
      } finally {
        heartbeat.interrupt()
        heartbeat.join()
        Files.deleteIfExists(tmp)
        if (holdsToken()) Files.deleteIfExists(lock)
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val staging = Paths.get(path, ".staging")
    messages.foreach {
      case m: SinkCommit => Files.deleteIfExists(staging.resolve(m.file))
      case _ => ()
    }
  }
}

private[graft] case class SinkCommit(file: String, rows: Long)
  extends WriterCommitMessage

private[graft] class SinkWriterFactory(path: String, schema: StructType, queryId: String)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SinkWriter(path, schema, queryId, partitionId, taskId)
}

/** Streams JSON lines to a task-unique staged file. `commit` closes the
  * stream and reports the file; `abort` deletes it. */
private[graft] class SinkWriter(path: String, schema: StructType,
    queryId: String, partitionId: Int, taskId: Long)
  extends DataWriter[InternalRow] {

  private val fileName = s"part-$queryId-$partitionId-$taskId.jsonl"
  private val staged: Path = {
    val stagingDir = Paths.get(path, ".staging")
    Files.createDirectories(stagingDir)
    stagingDir.resolve(fileName)
  }
  private val out = Files.newBufferedWriter(staged, StandardCharsets.UTF_8)
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    val sb = new StringBuilder("{")
    var i = 0
    while (i < schema.length) {
      if (i > 0) sb.append(',')
      sb.append('"').append(GraftSink.esc(schema(i).name)).append("\":")
      if (row.isNullAt(i)) sb.append("null")
      else schema(i).dataType match {
        case LongType    => sb.append(row.getLong(i))
        case IntegerType => sb.append(row.getInt(i))
        case BooleanType => sb.append(row.getBoolean(i))
        case StringType  =>
          sb.append('"').append(GraftSink.esc(row.getUTF8String(i).toString)).append('"')
        case dt => throw new IllegalArgumentException(
          s"graft sink demo supports long/int/boolean/string columns, got $dt")
      }
      i += 1
    }
    sb.append('}')
    out.write(sb.toString)
    out.newLine()
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    SinkCommit(fileName, rows)
  }

  override def abort(): Unit = {
    out.close()
    Files.deleteIfExists(staged)
  }

  override def close(): Unit = ()
}
