package graft

import graft.io.Tables
import graft.ops.TripMetrics
import graft.queries.TripParity

class PipelineSpec extends SparkSpec {

  private def tmpDir(tag: String) =
    SparkSpec.tempDir(s"graft_$tag").toString

  test("pipeline: read -> derive -> zstd write, row-preserving mod null drop") {
    val in = tmpDir("pin") + "/taxi"
    val out = tmpDir("pout") + "/result"
    val frame = TripParity.taxiFrame(spark, sfTiny)
    Tables.writeZstd(frame, in)
    val n = Pipeline.run(spark, in, out)
    assert(n == frame.na.drop().count())
    val result = spark.read.parquet(out)
    val cols = result.columns.toSet
    for (c <- Seq("trip_duration", "speed_mph", "is_airport_trip",
        "tip_percentage", "cost_per_mile", "pickup_hour", "is_peak_hour",
        "trip_summary"))
      assert(cols.contains(c), s"missing derived column $c")
    // zstd codec is recorded in the part-file names Spark writes
    val parts = new java.io.File(out).listFiles.map(_.getName)
    assert(parts.exists(_.contains("zstd")), parts.mkString(","))
  }

  test("pipeline metrics observe in/dropped/written inside the write job") {
    val in = tmpDir("min") + "/taxi"
    val out = tmpDir("mout") + "/result"
    val frame = TripParity.taxiFrame(spark, sfTiny)
    Tables.writeZstd(frame, in)
    val m = Pipeline.runWithMetrics(spark, in, out)
    assert(m.rowsIn == frame.count())
    assert(m.rowsWritten == frame.na.drop().count())
    assert(m.rowsDropped == m.rowsIn - m.rowsWritten && m.rowsDropped > 0)
  }

  test("maxRecordsPerFile bounds output chunk sizes (reference S3 parity)") {
    val in = tmpDir("min") + "/taxi"
    val out = tmpDir("mout") + "/result"
    Tables.writeZstd(TripParity.taxiFrame(spark, sfTiny).limit(1000).coalesce(1), in)
    Pipeline.run(spark, in, out, maxRecordsPerFile = 100L)
    val parts = new java.io.File(out).listFiles
      .filter(_.getName.endsWith(".parquet"))
    assert(parts.length >= 10, s"expected >=10 chunk files, got ${parts.length}")
    val counts = parts.map(f => spark.read.parquet(f.getPath).count())
    assert(counts.forall(_ <= 100), counts.mkString(","))
  }

  test("per-partition transform == whole-table transform (SURVEY §1.5)") {
    val frame = TripParity.taxiFrame(spark, sfTiny)
    val whole = TripMetrics.withTripMetrics(frame)
      .orderBy("o_orderkey").collect()
    val chunked = TripMetrics.withTripMetrics(frame.repartition(7))
      .orderBy("o_orderkey").collect()
    assert(whole.sameElements(chunked))
  }
}
