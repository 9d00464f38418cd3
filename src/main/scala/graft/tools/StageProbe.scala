package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Generic per-query stage attribution (a stage listener for ANY
  * registry query): runs one warmup at sf0.001, then one timed rep at the
  * given SF with a stage-completion listener, and prints executor task
  * time summed per triggering callsite — "where do the seconds go" for
  * the optimization rounds, answered from stage callsites instead of
  * guesses.
  *
  * Usage: `runMain graft.tools.StageProbe <query> [sfDir]`
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: StageProbe <query> [sfDir]"))
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.getOrCreate("stage-probe")
    val entry = graft.queries.Registry.all.find(_.name == name)
      .getOrElse(sys.error(s"unknown query: $name"))
    // warmup at the tiny SF (the Bench discipline), setup untimed
    entry.setup.foreach(_(spark, "/root/testdata/sf0.001"))
    try entry.run(spark, "/root/testdata/sf0.001")
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    spark.catalog.clearCache()
    entry.setup.foreach(_(spark, dir))

    val bySite = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
    val listener = new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val site = ev.stageInfo.details.split('\n')
          .find(l => l.contains("graft.") && !l.contains("StageProbe"))
          .map(_.trim.replaceAll("^at ", ""))
          .getOrElse(ev.stageInfo.name.takeWhile(_ != '\n'))
        val ms = Option(ev.stageInfo.taskMetrics)
          .map(_.executorRunTime).getOrElse(0L)
        val (n0, t0) = bySite.getOrElse(site, (0L, 0L))
        bySite(site) = (n0 + 1, t0 + ms)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    entry.run(spark, dir).write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(1500) // drain the async listener bus (the Bench lesson)
    val rows = bySite.toSeq.sortBy(-_._2._2)
    val total = rows.map(_._2._2).sum.max(1L)
    println(f"$name wall: $wall%.2f s; summed executor task time: " +
      f"${total / 1000.0}%.1f s (x${graft.GraftSession.cpus} threads); " +
      f"stages: ${rows.map(_._2._1).sum}")
    println(f"${"stages"}%7s ${"task-s"}%8s ${"share"}%6s  callsite")
    rows.take(20).foreach { case (site, (n, ms)) =>
      println(f"$n%7d ${ms / 1000.0}%8.1f ${ms * 100.0 / total}%5.1f%%  $site")
    }
    spark.stop()
  }
}
