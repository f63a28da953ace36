package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession entry point for the engine — the one-stop builder a
  * library user calls instead of hand-assembling configs, and the only
  * session builder the mains use.
  *
  * Defaults encode the deployment guidance that recurs in this codebase's
  * scaladoc: shuffle partitions sized to the cluster (NOT the 200 default —
  * match cores locally, 2-3× total cores on a cluster), AQE on (runtime
  * coalescing + skew-join splitting), UTC session time zone (oracle/date
  * parity), nanosecond parquet timestamps read as raw BIGINT nanos (see
  * [[Tables.eventsRaw]]; a no-op for every other file), and the graft
  * expression library registered for SQL use.
  * The default master is `local[$SPARK_GRAFT_CPUS]`, or `local[*]` when
  * that is unset. For a one-off A/B, a `-Dspark.*` JVM system property
  * sets any conf this builder leaves alone (`SparkConf` loads them).
  */
object GraftSession {

  private val LocalN = """local\[(\d+)(?:,\d+)?\]""".r
  private val LocalStar = """local\[\*(?:,\d+)?\]""".r

  /** Shuffle partitions equal to the local thread count: `N` for
    * `local[N]`, the host's cores for `local[*]`, 1 for `local`, and
    * Spark's 200 for a cluster master. */
  def shufflePartitionsFor(master: String): Int = master match {
    case "local"      => 1
    case LocalN(n)    => n.toInt
    case LocalStar()  => Runtime.getRuntime.availableProcessors
    case _            => 200
  }

  def builder(master: String = sys.env.get("SPARK_GRAFT_CPUS").fold("local[*]")(n => s"local[$n]"),
    shufflePartitions: Option[Int] = None,
    appName: String = "graft"): SparkSession.Builder = {
    val parts = shufflePartitions.getOrElse(shufflePartitionsFor(master))
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
  }

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    graft.functions.GraftFunctions.register(s)
    s
  }
}
