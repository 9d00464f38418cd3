package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.Tables
import graft.ops.TripMetrics
import graft.queries.TripParity

/** The reference's end-to-end job — download/slice → per-chunk transform →
  * assemble (local.sh:84-105) — as ONE Spark job: scan → project → write.
  *
  * Everything the reference hand-rolled collapses into Spark machinery:
  * row-range slicing (parquet_slicer.py:53-58) is the scan's split
  * planning; the process pool (main.py:146-154) is the task scheduler;
  * the text-file assembly (parquet_assembler.py) is the committed
  * parquet write — zstd like the reference's designed output, without
  * its lossy text round-trip (SURVEY.md §A.1). `maxRecordsPerFile`
  * reproduces the one observable knob of the chunking: bounded output
  * file sizes.
  */
object Pipeline {

  /** per-run data-quality counters, collected by `observe` during the
    * write itself — no extra scan, no extra action */
  case class Metrics(rowsIn: Long, rowsWritten: Long) {
    def rowsDropped: Long = rowsIn - rowsWritten
  }

  /** read taxi-shaped parquet at `in` (its footer schema cached by
    * `Tables.parquet`), derive the 10 reference columns,
    * write zstd parquet at `out`; returns the written row count. */
  def run(spark: SparkSession, in: String, out: String,
          maxRecordsPerFile: Long = 0L): Long =
    runWithMetrics(spark, in, out, maxRecordsPerFile).rowsWritten

  /** `run` plus observed counters: rows scanned and rows surviving the
    * any-null drop are measured inside the SAME job that writes the
    * output (Spark's Observation API), the operational pattern for
    * lineage/quality reporting at scale — a separate count() would
    * re-scan 100 TB to learn what the write already knew. */
  def runWithMetrics(spark: SparkSession, in: String, out: String,
                     maxRecordsPerFile: Long = 0L): Metrics = {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{count, lit}
    // no-arg Observation() generates UUID names — fixed names would let
    // two concurrent runs on a shared session cross-attribute metrics
    val inObs = Observation()
    val outObs = Observation()
    val source = Tables.parquet(spark, in).observe(inObs, count(lit(1)).as("n"))
    val result = TripMetrics.withTripMetrics(source)
      .observe(outObs, count(lit(1)).as("n"))
    result.write.mode("overwrite")
      .option("compression", "zstd")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(out)
    Metrics(inObs.get("n").asInstanceOf[Long], outObs.get("n").asInstanceOf[Long])
  }

  /** CLI: `Pipeline <inParquet> <outDir> [maxRecordsPerFile]`, or
    * `Pipeline --demo <sfDir> <outDir>` to run on the taxi-shaped frame
    * derived from the testdata orders table. */
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate("graft-pipeline")
    val n = args match {
      case Array("--demo", sfDir, out) =>
        val tmp = s"$out.input"
        Tables.writeZstd(TripParity.taxiFrame(spark, sfDir), tmp)
        run(spark, tmp, out)
      case Array(in, out) => run(spark, in, out)
      case Array(in, out, mrpf) => run(spark, in, out, mrpf.toLong)
      case _ =>
        System.err.println("usage: Pipeline <in> <out> [maxRecordsPerFile] | --demo <sfDir> <out>")
        sys.exit(2)
    }
    println(s"""{"pipeline_rows":$n}""")
    spark.stop()
  }
}
