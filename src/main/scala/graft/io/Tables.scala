package graft.io

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.StructType

/** Readers/writers for the star-schema testdata and generic parquet IO.
  *
  * Schema-on-read from the parquet footer (the reference does the same:
  * parquet_slicer.py:50, nyc_taxi_etl.py:42), but the footer is read once
  * per (path, listing stamp, parquet-inference confs), not once per read.
  * Spark 4.1 infers a parquet schema with one Spark job per call
  * (`SchemaMergeUtils.mergeSchemasInParallel`): 120-190 ms per table at
  * sf0.01 on a 4-core host, against 12-20 ms for a read with the schema
  * supplied. Every
  * registry query builds its frame from these readers, so before the
  * cache each `Q.run` paid that job once per table it reads.
  * [[parquet]] keeps the inferred schema in a JVM-wide map with one entry
  * per path, and checks it on every read against
  *  - the listing stamp: every leaf file's path, length and mtime, from
  *    one recursive Hadoop listing, and
  *  - the session's confs that change what inference returns
  *    (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`,
  *    `spark.sql.caseSensitive`), so a session reading binary as string
  *    or nanos as long never gets another session's schema.
  * A mismatch re-infers and replaces the entry. The map keeps the
  * [[FooterCap]] most recently read paths (least recently read evicted
  * first), so a process that reads many one-off paths (per-run inputs
  * under fresh temp dirs) holds a bounded map; an evicted path is
  * re-inferred on its next read. The read itself is then
  * `spark.read.schema(s).parquet(path)`, which still lists the files, so
  * a path rewritten in the same session is never read stale.
  *
  * Reads of an output written in the same call (a sink round-trip, a
  * versioned state, a `mergeSchema` read that must reconcile schemas
  * when it reads) stay `spark.read.parquet`: their stamp changes on every
  * call, so a cache would only add a listing.
  *
  * At 100 TB the production form is a catalog table whose schema is
  * stored in the metastore: no footer is read on the query path. This
  * cache is the local equivalent for plain paths. The rest of the read
  * is unchanged at that scale: `spark.read.parquet(dir)` maps
  * row-groups/file-splits to tasks natively, replacing the reference's
  * manual row-range chunking (parquet_slicer.py:53-58) with Spark's own
  * split planning (`spark.sql.files.maxPartitionBytes` is the tuning knob).
  */
object Tables {

  /** one cached footer schema and what it was inferred under */
  private final case class Footer(stamp: Seq[(String, Long, Long)],
                                  confs: Map[String, String],
                                  schema: StructType)

  /** paths whose footer schema stays cached: every fixture table of two
    * scale factors with room to spare */
  private[graft] val FooterCap = 64

  // access-ordered: get moves a path to the young end; all access under
  // the map's own lock
  private val footers = new java.util.LinkedHashMap[String, Footer](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, Footer]): Boolean = size > FooterCap
  }

  /** paths cached now (at most [[FooterCap]]) */
  private[graft] def cachedFooters: Int = footers.synchronized(footers.size)

  /** the parquet file or directory at `path`, read with its cached
    * schema (see the object doc) */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  /** the schema `spark.read.parquet(path)` would infer in this session,
    * from the cache when neither the files under `path` nor the
    * session's parquet-inference confs changed since it was inferred.
    * A path that names no existing file or directory (a glob, a missing
    * path) is not cached: Spark infers it, or raises its own error. */
  def schemaOf(spark: SparkSession, path: String): StructType =
    listing(spark, path) match {
      case None => spark.read.parquet(path).schema
      case Some(stamp) =>
        val confs = spark.conf.getAll.filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") ||
          k.startsWith("spark.sql.legacy.parquet.") ||
          k == "spark.sql.caseSensitive"
        }
        val hit = footers.synchronized(footers.get(path))
        if (hit != null && hit.stamp == stamp && hit.confs == confs) hit.schema
        else {
          // listed before inferring: a file that changes in between
          // leaves an old stamp, so the next call re-infers
          val schema = spark.read.parquet(path).schema
          footers.synchronized(footers.put(path, Footer(stamp, confs, schema)))
          schema
        }
    }

  /** (path, length, mtime) of every file under `path`, sorted; None when
    * `path` names no existing file or directory */
  private def listing(spark: SparkSession,
                      path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      val files = fs.listFiles(p, true)
      val b = Vector.newBuilder[(String, Long, Long)]
      while (files.hasNext) {
        val f = files.next()
        b += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(b.result().sorted)
    } catch { case _: FileNotFoundException => None }
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts normalized to the session timestamp type (LTZ, session tz
    * pinned to UTC), adapting to the footer's physical type — generator
    * versions have shipped both:
    *  - TIMESTAMP(NANOS): Spark has no nanosecond timestamp, so the
    *    session reads it as raw int64 (`spark.sql.legacy.parquet
    *    .nanosAsLong`) and we truncate to microseconds (integer div —
    *    the value exceeds double's 2^53 mantissa, so float division
    *    would corrupt it). DuckDB performs the same ns→us truncation.
    *  - timestamp[us] (no tz): Spark reads TIMESTAMP_NTZ; with the
    *    session tz at UTC the cast to LTZ is a pure retag of the same
    *    micros value, matching DuckDB's naive read wall-clock for
    *    wall-clock.
    * Downstream code (window(), unix_micros, the streaming watermarks)
    * is written against the LTZ type, so normalizing here keeps every
    * consumer oblivious to the generator's footer choice. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "events"))

  /** the [[events]] ts normalization, for any frame read from the events
    * footer: the batch table and the streaming replay share it */
  def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", expr("cast(ts as timestamp)"))
      case _ => raw
    }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** zstd parquet sink — the reference's designed output format
    * (parquet_assembler.py:34-37) without its lossy text round-trip. */
  def writeZstd(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "zstd").parquet(path)

  /** hive-layout partitioned zstd parquet sink. At 100 TB the partition
    * column IS the primary index: a reader filtering on it prunes whole
    * directories at planning time (PartitionFilters in the scan, zero IO
    * for excluded partitions), which no row-group statistic can match.
    * Partition by low-cardinality, always-filtered columns (date, lang,
    * source); never by high-cardinality keys — millions of tiny
    * directories kill the file listing before any query runs. */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode("overwrite").option("compression", "zstd")
      .partitionBy(cols: _*).parquet(path)
}
