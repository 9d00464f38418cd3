package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Layout
import graft.io.Tables

/** Pins the io09 claim: a Z-order layout gives EVERY file a tight
  * min/max range on BOTH dimensions, so file-level stats prune scans on
  * either dimension — while a single-column sort layout only ever prunes
  * its own sort key. Asserted against the written files' actual per-file
  * min/max (the stats a reader's row-group pruning consults), not plan
  * text. Dimensions are normalized to 8 bits each before interleaving so
  * neither dominates the curve (the production recipe: range-bin each
  * dimension first). */
class ZOrderLayoutSpec extends SparkSpec {

  private val nFiles = 16

  private def perFileRanges(path: String): Seq[(Long, Long, Long, Long)] = {
    val days = datediff(col("o_orderdate").cast("date"),
      lit("1992-01-01").cast("date")).cast("long")
    spark.read.parquet(path)
      .select(input_file_name().as("f"), col("o_custkey"), days.as("days"))
      .groupBy("f")
      .agg(min("o_custkey").as("clo"), max("o_custkey").as("chi"),
        min("days").as("dlo"), max("days").as("dhi"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
  }

  test("z-order prunes both dimensions; date-sort prunes only dates") {
    val root = SparkSpec.tempDir("graft_zorder_")
    val orders = Tables.orders(spark, sfTiny)
    val days = datediff(col("o_orderdate").cast("date"),
      lit("1992-01-01").cast("date")).cast("long")
    val Array(cmax, dmax) = orders
      .agg(max(col("o_custkey")), max(days)).collect()
      .map(r => Array(r.getLong(0), r.getLong(1))).head

    // normalize both dims into 0..255 so the curve treats them equally
    val cbit = col("o_custkey") * 256 / (cmax + 1)
    val dbit = days * 256 / (dmax + 1)

    val zPath = root.resolve("zorder").toString
    orders.withColumn("zkey", Layout.zorder16(cbit, dbit))
      .repartitionByRange(nFiles, col("zkey"))
      .sortWithinPartitions("zkey").drop("zkey")
      .write.parquet(zPath)

    val dPath = root.resolve("datesort").toString
    orders.repartitionByRange(nFiles, col("o_orderdate"))
      .sortWithinPartitions("o_orderdate")
      .write.parquet(dPath)

    val zRanges = perFileRanges(zPath)
    val dRanges = perFileRanges(dPath)
    assert(zRanges.size == nFiles && dRanges.size == nFiles)

    // customer-only box: the lowest eighth of the key space
    val cCut = cmax / 8
    val zCust = zRanges.count { case (clo, _, _, _) => clo <= cCut }
    val dCust = dRanges.count { case (clo, _, _, _) => clo <= cCut }
    // date-only box: the first eighth of the date span
    val dCut = dmax / 8
    val zDate = zRanges.count { case (_, _, dlo, _) => dlo <= dCut }
    val dDate = dRanges.count { case (_, _, dlo, _) => dlo <= dCut }

    // date-sort: every file spans ~the full custkey range, so a
    // customer filter reads everything; z-order confines the box to a
    // minority of files on EITHER dimension
    assert(dCust == nFiles, s"date-sorted custkey files: $dCust")
    assert(zCust <= nFiles / 2, s"z-order custkey files: $zCust")
    assert(zDate <= nFiles / 2, s"z-order date files: $zDate")
    assert(dDate <= 3, s"date-sorted date files: $dDate")
  }

  test("zorder16 interleaves bits correctly on known values") {
    import spark.implicits._
    // x=0b11 (bits 0,1 -> z bits 0,2), y=0b1 (bit 0 -> z bit 1): z=0b111
    // x=255,y=0 -> even positions only; x=0,y=255 -> odd positions
    val df = Seq((3L, 1L), (255L, 0L), (0L, 255L), (65535L, 65535L))
      .toDF("x", "y")
      .select(Layout.zorder16(col("x"), col("y")).as("z"))
    val got = df.collect().map(_.getLong(0)).toSeq
    val evens = (0 until 16).map(i => 1L << (2 * i)).sum      // 0x55555555
    val odds = (0 until 16).map(i => 1L << (2 * i + 1)).sum   // 0xAAAAAAAA
    assert(got == Seq(7L, 0x5555L, 0xAAAAL, evens | odds))
  }
}
