package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** One declared query: its name, the builder of its DataFrame over a
  * dataset directory, and equivalent ANSI SQL that DuckDB runs over the
  * same parquet tables to check its rows. */
final case class QuerySpec(name: String,
  build: (SparkSession, String) => DataFrame, oracle: String)

object QuerySpec {
  /** Index specs by name. A name declared twice fails here instead of one
    * spec silently overwriting the other. */
  def byName(specs: Seq[QuerySpec]): Map[String, QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    specs.map(s => s.name -> s).toMap
  }
}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Analytics.q1SalesPerMonth(spark, "/root/testdata/sf0.001")

  /** Every query family, listed once. */
  lazy val specs: Map[String, QuerySpec] = QuerySpec.byName(Seq(
    graft.queries.Analytics.specs, graft.queries.RelOps.specs,
    graft.ops.Dedup.specs, graft.ops.Similarity.specs,
    graft.ops.TextOps.specs, graft.ops.Multimodal.specs,
    graft.streaming.EventsStream.specs, graft.queries.PipelineOps.specs,
    graft.queries.ScaleOps.specs, graft.ops.AsOf.specs,
    graft.queries.TemporalOps.specs, graft.queries.ProfileOps.specs,
    graft.queries.ChangeOps.specs, graft.ops.TopK.specs,
    graft.queries.ExtraOps.specs, graft.ops.CorpusOps.specs,
    graft.ops.GraphOps.specs, graft.queries.BehaviorOps.specs,
    graft.ops.TokenOps.specs, graft.queries.StatOps.specs,
    graft.ops.SubstringDedup.specs, graft.ops.Boilerplate.specs,
    graft.ops.DataSkipping.specs, graft.sources.SkippingFileIndex.specs,
    graft.ops.DeletionVectors.specs, graft.ops.MergeOnRead.specs,
    graft.ops.Classifier.specs, graft.ops.InvertedIndex.specs,
    graft.ops.TableStats.specs, graft.sources.GraftSink.specs
  ).flatten)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map { case (n, s) => n -> s.build }

  /** For each key in queries, the DuckDB oracle SQL. */
  lazy val oracleSql: Map[String, String] = specs.map { case (n, s) => n -> s.oracle }
}
