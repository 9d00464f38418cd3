package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Local mode is the test harness; the config is chosen so the same code
  * is correct on a multi-executor cluster: AQE handles runtime partition
  * coalescing and skew joins, shuffle partitions default to core count
  * locally (a cluster deployment would raise this to ~2-3x total cores).
  *
  * Two settings keep repeated operations from recompiling their
  * generated code. Spark caches compiled classes in one JVM-wide LRU
  * cache keyed by (task context classloader, generated source):
  *
  *  - `spark.sql.codegen.cache.maxEntries` = 1000. Spark's default holds
  *    100 classes. One interleaved pass over perfbench's `query_mix`
  *    needs 121 (q04 17, q31 10, s01 9, e24 8, st01 21, g04 56), so a
  *    cyclic pass evicted every class before its next use and
  *    recompiled all of them. 1000 is about 8x that working set. One
  *    pass over the whole registry at sf0.001 holds 4505 distinct
  *    classes; it compiles 6333 at 100 entries and 4877 at 1000, and
  *    the 900 extra entries cost ~29 MB of live heap (238 -> 267 MB
  *    after the pass). So the cache is sized for a mix of operations
  *    that repeat, not for the whole registry. This is a static conf,
  *    read once per JVM when `CodeGenerator` is first used: the first
  *    session in the JVM fixes the size, so it must be set on the
  *    builder.
  *  - `spark.sql.artifact.isolation.enabled=false`. With isolation on,
  *    every `newSession()` gets its own artifact classloader, so each
  *    child session (every streaming replay) missed the cache and
  *    recompiled byte-identical executor code: 14 classes per st01
  *    call. The engine adds no session artifacts (no `addArtifact` or
  *    `addJar`), so there is nothing to isolate. Child sessions still
  *    isolate SQLConf and temp views.
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
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.artifact.isolation.enabled", "false")

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
