package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/oracle_check.py).
  * Every query runs and every output is written even when some fail;
  * the process then exits nonzero if any query threw, so a broken
  * query fails the run instead of surfacing only as a missing output
  * directory. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.getOrCreate("graft-verify")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=name,name — dev-loop subset; unset runs everything
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a misspelled name would otherwise run zero queries and look like a
    // passing dump (same guard as Bench)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.filter(kv => only.forall(_.contains(kv._1)))
      .foreach { case (name, fn) =>
      // coalesce(1) is oracle-dump-only convenience at sf0.01 — real sinks
      // go through Tables.writeZstd with full parallelism.
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .option("compression", "zstd").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      } finally spark.catalog.clearCache() // drop operator-persisted frames
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} query(ies) failed: " +
        failed.sorted.mkString(", "))
      sys.exit(1)
    }
  }
}
