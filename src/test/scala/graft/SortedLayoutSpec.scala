package graft

import org.apache.spark.sql.functions._
import graft.io.Tables

/** Range-partitioned sorted writes (io05's layout): the property that
  * makes the layout an index substitute at 100 TB is that FILES cover
  * disjoint ranges of the clustering column — then every row group's
  * min/max stats are tight and a range predicate skips all but the
  * matching slice. Asserted directly over the written files' actual
  * min/max, not over plan text. */
class SortedLayoutSpec extends SparkSpec {

  test("repartitionByRange + sortWithinPartitions writes disjoint file ranges") {
    runLayoutTest(SparkSpec.tempDir("graft_sorted_").toString + "/orders")
  }

  private def runLayoutTest(out: String): Unit = {
    Tables.orders(spark, sfTiny)
      .repartitionByRange(4, col("o_orderdate"))
      .sortWithinPartitions("o_orderdate")
      .write.mode("overwrite").parquet(out)

    val ranges = spark.read.parquet(out)
      .select(input_file_name().as("f"), col("o_orderdate"))
      .groupBy("f")
      .agg(min("o_orderdate").as("lo"), max("o_orderdate").as("hi"))
      // o_orderdate is TIMESTAMP_NTZ -> LocalDateTime; compare as epoch
      .select(col("f"), unix_micros(to_utc_timestamp(col("lo"), "UTC")).as("lo"),
        unix_micros(to_utc_timestamp(col("hi"), "UTC")).as("hi"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)

    assert(ranges.length > 1, "expected multiple output files")
    ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 <= lo2,
        s"file ranges overlap: [..,$hi1] vs [$lo2,..] — layout not disjoint")
    }

    // and the round trip loses nothing
    assert(spark.read.parquet(out).count() ==
      Tables.orders(spark, sfTiny).count())
  }
}
