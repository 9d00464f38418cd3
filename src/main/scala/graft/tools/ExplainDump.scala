package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for named registry queries to files —
  * the per-query plan evidence the optimization rounds commit under
  * plans/r<NN>/ (judge-checkable without running Spark).
  *
  * Usage: `runMain graft.tools.ExplainDump <outDir> <suffix> <q1,q2,...> [sfDir]`
  * writes `<outDir>/<query>_<suffix>.txt` per query. Plans are captured
  * at the given SF (default sf0.1 — the bench SF, so AQE/broadcast
  * thresholds see bench-shaped sizes).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, namesCsv) = args.take(3)
    val dir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.GraftSession.getOrCreate("explain-dump")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = graft.queries.Registry.byName(name).setupAndRun(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      spark.catalog.clearCache()
      System.err.println(s"[explain] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
