package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.io.Tables

/** CSV and JSON source/sink round-trips (SURVEY §2.1 "other formats":
  * absent in the reference, available in the engine). Schema is declared
  * explicitly on read — schema-on-read inference is what made the
  * reference's text round-trip lossy (§A.1), so the engine's rule is:
  * inference for parquet footers, declared StructType for text formats. */
class SourcesRoundTripSpec extends SparkSpec {

  private def ordersNorm = Tables.orders(spark, sfTiny)
    // timestamps render differently across text formats; fix the column
    // to a date string so equality is representation-independent
    .withColumn("o_orderdate", date_format(col("o_orderdate"), "yyyy-MM-dd"))

  private def assertSameRows(a: org.apache.spark.sql.DataFrame,
                             b: org.apache.spark.sql.DataFrame): Unit = {
    assert(a.schema == b.schema, s"${a.schema} != ${b.schema}")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("CSV round-trip with declared schema preserves rows and types") {
    val dir = SparkSpec.tempDir("csv_orders").toString
    val src = ordersNorm
    src.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.schema(src.schema)
      .option("header", "true").csv(dir)
    assertSameRows(src, back)
  }

  test("ORC round-trip preserves rows and types (schema from the footer)") {
    val dir = SparkSpec.tempDir("orc_orders").toString
    val src = ordersNorm
    src.write.mode("overwrite").option("compression", "zstd").orc(dir)
    // ORC carries its schema like parquet — no declaration needed
    assertSameRows(src, spark.read.orc(dir))
  }

  test("JSON-lines round-trip with declared schema preserves rows and types") {
    val dir = SparkSpec.tempDir("json_orders").toString
    val src = ordersNorm
    src.write.mode("overwrite").json(dir)
    val back = spark.read.schema(src.schema).json(dir)
    assertSameRows(src, back)
  }

  test("declared StructType read rejects nothing silently: corrupt rows surface") {
    val dir = SparkSpec.tempDir("json_bad").toString
    Files.writeString(java.nio.file.Path.of(dir, "part-0.json"),
      """{"o_orderkey": 1, "o_totalprice": 10.5}
        |{"o_orderkey": "not-a-number", "o_totalprice": 2.0}
        |""".stripMargin)
    val schema = StructType.fromDDL("o_orderkey BIGINT, o_totalprice DOUBLE")
    // Spark refuses corrupt-column-only queries over raw files — cache
    // the parsed frame first (its own documented requirement)
    val strict = spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema(schema.add("_corrupt", "string"))
      .json(dir).cache()
    try {
      assert(strict.filter(col("_corrupt").isNotNull).count() == 1)
      assert(strict.filter(col("_corrupt").isNull).count() == 1)
    } finally strict.unpersist()
  }
}
