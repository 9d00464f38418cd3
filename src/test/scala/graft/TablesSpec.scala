package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.io.Tables
import graft.queries.Registry

/** `Tables.parquet` reads each path's footer once per (path, listing
  * stamp, parquet-inference confs): a rewritten path is re-inferred, an
  * unchanged one is read with no Spark job, and a session whose confs
  * change inference gets its own schema. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): Path = SparkSpec.tempDir(s"graft_tables_$tag")

  /** the one part file Spark wrote under `dir` */
  private def partFile(dir: Path): Path = {
    val parts = dir.toFile.listFiles.filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.length == 1, parts.mkString(","))
    parts.head.toPath
  }

  test("a path rewritten by a Spark overwrite is read with its new schema") {
    val p = tmp("overwrite").resolve("t").toString
    Seq(1, 2).toDF("a").write.mode("overwrite").parquet(p)
    assert(Tables.parquet(spark, p).columns.toSeq == Seq("a"))
    Seq((3, "x"), (4, "y"), (5, "z")).toDF("a", "b")
      .write.mode("overwrite").parquet(p)
    val df = Tables.parquet(spark, p)
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.orderBy("a").collect().toSeq == Seq(Row(3, "x"), Row(4, "y"), Row(5, "z")))
  }

  test("a single parquet file replaced in place is read with its new schema") {
    val root = tmp("replace")
    val file = root.resolve("t.parquet")
    val first = root.resolve("first").toString
    Seq(1L, 2L).toDF("a").coalesce(1).write.parquet(first)
    Files.copy(partFile(root.resolve("first")), file)
    assert(Tables.parquet(spark, file.toString).collect().toSeq.map(_.getLong(0)).sorted ==
      Seq(1L, 2L))
    val second = root.resolve("second").toString
    Seq(("u", 7.5)).toDF("name", "score").coalesce(1).write.parquet(second)
    Files.copy(partFile(root.resolve("second")), file, StandardCopyOption.REPLACE_EXISTING)
    val df = Tables.parquet(spark, file.toString)
    assert(df.columns.toSeq == Seq("name", "score"))
    assert(df.collect().toSeq == Seq(Row("u", 7.5)))
  }

  test("a second read of an unchanged path submits no Spark job") {
    val p = tmp("jobs").resolve("t").toString
    Seq(1, 2, 3).toDF("a").write.parquet(p)
    // the first read infers the schema from the footers: one job, the
    // cost every read paid before the cache
    assert(jobsDuring(Tables.parquet(spark, p)) == 1)
    assert(jobsDuring(Tables.parquet(spark, p)) == 0)
    assert(jobsDuring(Tables.schemaOf(spark, p)) == 0)
  }

  test("a session reading binary as string gets its own schema") {
    // written without Spark's schema in the footer metadata (Spark's own
    // files carry it, and inference prefers it to binaryAsString)
    val p = tmp("binary").resolve("t.parquet").toString
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int32 id; required binary b; }")
    val writer = ExampleParquetWriter.builder(new HadoopPath(p)).withType(schema)
      .withConf(new Configuration()).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("id", 1).append("b", "hi"))
    finally writer.close()
    assert(Tables.schemaOf(spark, p)("b").dataType == BinaryType)
    val child = spark.newSession()
    child.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(Tables.schemaOf(child, p)("b").dataType == StringType)
    assert(Tables.parquet(child, p).collect().toSeq == Seq(Row(1, "hi")))
    assert(Tables.schemaOf(spark, p)("b").dataType == BinaryType)
  }

  test("a missing path raises Spark's own path-not-found error") {
    val p = tmp("missing").resolve("absent.parquet").toString
    val e = intercept[AnalysisException](Tables.parquet(spark, p))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }

  test("the footer cache keeps at most its cap; an evicted path re-infers") {
    val root = tmp("lru")
    Seq((1L, "x")).toDF("a", "b").coalesce(1).write.parquet(root.resolve("src").toString)
    val paths = (0 to Tables.FooterCap).map { i =>
      val f = root.resolve(s"p$i.parquet")
      Files.copy(partFile(root.resolve("src")), f)
      f.toString
    }
    paths.foreach(Tables.schemaOf(spark, _))
    assert(Tables.cachedFooters <= Tables.FooterCap, Tables.cachedFooters)
    // the newest path is still cached; the first one, least recently
    // read, was evicted and is inferred again, correctly
    assert(jobsDuring(Tables.schemaOf(spark, paths.last)) == 0)
    assert(jobsDuring(Tables.schemaOf(spark, paths.head)) == 1)
    assert(Tables.parquet(spark, paths.head).collect().toSeq == Seq(Row(1L, "x")))
  }

  test("a repeated Q.run of a fixture query submits no Spark job") {
    // jobs in the second Q.run before the footer cache: q04 2 (orders,
    // lineitem), q31 3 (customer, orders, lineitem), s01 1 (embeddings),
    // e24 1 (events), one schema-inference job per table read
    for (name <- Seq("q04_join_factfact", "q31_sql_frontend", "s01_cosine_topk",
        "e24_asof_native")) {
      val q = Registry.byName(name)
      q.setupAndRun(spark, sfTiny)
      assert(jobsDuring(q.run(spark, sfTiny)) == 0, name)
    }
  }
}
