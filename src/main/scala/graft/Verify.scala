package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each registered query's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/oracle_check.py).
  * Every query runs and every output is written even when some fail;
  * the process then exits nonzero if any query threw, so a broken
  * query fails the run instead of surfacing only as a missing output
  * directory. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY=name,name — dev-loop subset; unset runs everything
    val queries = graft.queries.Registry.selected()
    val spark = GraftSession.getOrCreate("graft-verify")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    queries.foreach { q =>
      // coalesce(1) is oracle-dump-only convenience at sf0.01 — real sinks
      // go through Tables.writeZstd with full parallelism.
      try q.setupAndRun(spark, sfDir).coalesce(1).write.mode("overwrite")
        .option("compression", "zstd").parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
        failed += q.name
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
