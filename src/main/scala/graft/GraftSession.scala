package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Local mode is the test harness; the config is chosen so the same code
  * is correct on a multi-executor cluster: AQE handles runtime partition
  * coalescing and skew joins, shuffle partitions default to core count
  * locally (a cluster deployment would raise this to ~2-3x total cores).
  */
object GraftSession {
  /** local threads (and shuffle partitions): the host's cores unless
    * `SPARK_GRAFT_CPUS` overrides */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // native expressions + the HOF-fold rewrite rule on every session
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
      // events.parquet stores TIMESTAMP(NANOS), which the Parquet reader
      // rejects outright; read the raw int64 and convert in Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
