package graft.sources

import graft.QuerySpec
import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

import graft.ops.DataSkipping
import graft.util.AtomicTable

/** TRANSPARENT file-level data skipping — the planner-integrated twin of
  * [[DataSkipping]]'s explicit `pruneFiles` path, completing the same
  * manual/automatic symmetry the repo keeps for salting
  * (`salted_join`/`aqe_skew_join`) and bloom pruning
  * (`bloom_prune_join`/`runtime_bloom_join`).
  *
  * This is the architecture a transactional table format uses (Delta's
  * TahoeFileIndex): a custom [[FileIndex]] hangs the skipping decision on
  * the exact hook Spark's scan planning already calls —
  * `FileSourceScanExec.selectedPartitions` hands every file-listing
  * request the query's pushed-down data filters, so the index answers
  * with only the files whose zone-map box can satisfy them. The query
  * itself is UNCHANGED (`df.where(...)` — no explicit prune call), row
  * correctness never depends on the pruning (the exact predicate still
  * runs over the surviving files' rows), and unsupported predicate shapes
  * degrade safely to "keep everything".
  *
  * The skipping decision reuses the sidecar TABLE: supported conjuncts
  * are translated to Catalyst predicates over the `min_*`/`max_*`
  * columns and evaluated as a (tiny) Spark query — the same
  * metadata-as-a-table shape as the explicit path, so at 10^6 files the
  * decision runs distributed and only surviving file names reach the
  * driver.
  */
final class SkippingFileIndex(s: SparkSession, base: String)
    extends FileIndex {

  private val versionDir: String = AtomicTable.resolve(base).getOrElse(
    throw new IllegalStateException(s"no published version at $base"))

  private val statuses: Array[FileStatus] = {
    val p = new Path(versionDir)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    fs.listStatus(p).filter(st => st.isFile &&
      !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
  }

  /** Stats columns the sidecar tracks (anything with a min_/max_ pair). */
  private val tracked: Set[String] =
    DataSkipping.stats(s, base).columns
      .filter(_.startsWith("min_")).map(_.stripPrefix("min_")).toSet

  /** (kept, total) of the most recent listing — observability for specs
    * and for `skippingDecision` dashboards; None until first planned. */
  @volatile var lastDecision: Option[(Int, Int)] = None

  override def rootPaths: Seq[Path] = Seq(new Path(versionDir))
  override def partitionSchema: StructType = new StructType()
  override def inputFiles: Array[String] = statuses.map(_.getPath.toString)
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = statuses.map(_.getLen).sum

  /** Translate one pushed data filter into a keep-predicate over the
    * sidecar's min/max columns. A file survives conjunct `v op lit` iff
    * its [min, max] interval can contain a satisfying v. Returns None for
    * shapes zone maps cannot serve — the conjunct then contributes no
    * pruning (sound: never drops a file it can't reason about). */
  private def keepCond(e: Expression): Option[Column] = {
    def l2c(l: Literal): Column =
      lit(CatalystTypeConverters.createToScalaConverter(l.dataType)(l.value))
    e match {
      case And(a, b) =>
        (keepCond(a), keepCond(b)) match {
          case (Some(x), Some(y)) => Some(x && y)
          case (x, y)             => x.orElse(y)
        }
      // Or prunes only if BOTH sides translate (a file matching either
      // branch must be kept)
      case Or(a, b) =>
        for (x <- keepCond(a); y <- keepCond(b)) yield x || y
      case GreaterThanOrEqual(a: AttributeReference, v: Literal) if tracked(a.name) =>
        Some(col(s"max_${a.name}") >= l2c(v))
      case GreaterThan(a: AttributeReference, v: Literal) if tracked(a.name) =>
        Some(col(s"max_${a.name}") > l2c(v))
      case LessThanOrEqual(a: AttributeReference, v: Literal) if tracked(a.name) =>
        Some(col(s"min_${a.name}") <= l2c(v))
      case LessThan(a: AttributeReference, v: Literal) if tracked(a.name) =>
        Some(col(s"min_${a.name}") < l2c(v))
      case EqualTo(a: AttributeReference, v: Literal) if tracked(a.name) =>
        Some(col(s"min_${a.name}") <= l2c(v) && col(s"max_${a.name}") >= l2c(v))
      // mirrored operand order: lit op attr
      case GreaterThanOrEqual(v: Literal, a: AttributeReference) if tracked(a.name) =>
        Some(col(s"min_${a.name}") <= l2c(v))
      case GreaterThan(v: Literal, a: AttributeReference) if tracked(a.name) =>
        Some(col(s"min_${a.name}") < l2c(v))
      case LessThanOrEqual(v: Literal, a: AttributeReference) if tracked(a.name) =>
        Some(col(s"max_${a.name}") >= l2c(v))
      case LessThan(v: Literal, a: AttributeReference) if tracked(a.name) =>
        Some(col(s"max_${a.name}") > l2c(v))
      case IsNotNull(_) => None // no zone-map information
      case _            => None
    }
  }

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val cond = dataFilters.flatMap(keepCond) match {
      case Seq()    => None
      case conjuncts => Some(conjuncts.reduce(_ && _))
    }
    val kept = cond match {
      case None => statuses
      case Some(c) =>
        // file identity via name: `_metadata.file_path` URIs and Hadoop
        // listing URIs may differ in scheme spelling; names are unique
        // within one version directory
        val names = DataSkipping.stats(s, base).where(c)
          .select("path").collect()
          .map(r => r.getString(0).split('/').last).toSet
        statuses.filter(st => names(st.getPath.getName))
    }
    lastDecision = Some((kept.length, statuses.length))
    Seq(PartitionDirectory(InternalRow.empty, kept))
  }
}

object SkippingFileIndex {

  /** The skipping table as an ordinary DataFrame: filters pushed onto the
    * scan prune FILES via the sidecar before any data file opens — no
    * explicit prune call in the query. */
  def readAuto(s: SparkSession, base: String): (DataFrame, SkippingFileIndex) = {
    val schema = AtomicTable.read(s, base).schema
    val idx = new SkippingFileIndex(s, base)
    val rel = HadoopFsRelation(idx, new StructType(), schema, None,
      new ParquetFileFormat(), Map.empty[String, String])(s)
    val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    (classic.baseRelationToDataFrame(rel), idx)
  }

  /** `data_skipping_read`'s automatic twin: the SAME quarter-year window
    * over date-clustered orders, but pruning happens inside scan planning
    * via the custom FileIndex — the query is a plain filter + aggregate.
    * Shares `data_skipping_read`'s oracle (planner-independent answer). */
  def autoSkippingRead(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = DataSkipping.dateClusteredOrders(s, d)
    val (df, _) = readAuto(s, base)
    df.where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      .orderBy("o_orderstatus")
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("auto_skipping_read", autoSkippingRead, DataSkipping.dataSkippingReadOracle)
  )
}
