package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import graft.io.Tables

/** Partitioned layout + planning-time pruning: a reader filtering on the
  * partition column must touch only the matching directories — the scan
  * carries the predicate as a PartitionFilter and lists a strict subset
  * of partitions. This is the primary-index pattern for 100 TB tables. */
class PartitionPruningSpec extends SparkSpec {

  test("writePartitioned layout prunes partitions at planning time") {
    val dir = SparkSpec.tempDir("part_orders").toString
    val orders = Tables.orders(spark, sfTiny)
      .withColumn("order_year", year(col("o_orderdate")))
    Tables.writePartitioned(orders, dir, "order_year")

    val read = spark.read.parquet(dir)
    val filtered = read.filter(col("order_year") === 1995)

    // values survive the round-trip
    val expected = orders.filter(col("order_year") === 1995).count()
    assert(filtered.count() == expected && expected > 0)

    // the physical scan prunes: partition filter present, and the file
    // listing covers only the one matching directory
    val scan = filtered.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    assert(scan.partitionFilters.nonEmpty,
      "partition-column predicate did not become a PartitionFilter")
    val years = read.select("order_year").distinct().count()
    assert(years > 1, "fixture must span multiple partitions")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 pruned partition, scanned ${scan.selectedPartitions.partitionCount}")
  }

  test("range predicate on a string day partition prunes to the window") {
    // the io13 incremental-processing shape: BETWEEN on the partition
    // column must list only the in-window day directories
    val dir = SparkSpec.tempDir("part_events").toString
    Tables.events(spark, sfTiny)
      .withColumn("day", to_date(col("ts")).cast("string"))
      .write.mode("overwrite").partitionBy("day").parquet(dir)

    val read = spark.read.parquet(dir)
    val filtered = read.filter(
      col("day").cast("string").between("2024-01-10", "2024-01-12"))
    filtered.count() // force planning against real listings

    val scan = filtered.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    assert(scan.partitionFilters.nonEmpty)
    val total = read.select("day").distinct().count()
    val scanned = scan.selectedPartitions.partitionCount
    assert(scanned == 3 && total > 3,
      s"expected 3 of $total day partitions, scanned $scanned")
  }
}
