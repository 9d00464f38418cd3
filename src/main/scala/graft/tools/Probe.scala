package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSession, PlanMetrics}
import graft.queries.Registry

/** One measuring front end for any registry query: "where did this
  * query's time and bytes go, and is its wall stable?"
  *
  * Discipline (Bench's): one warmup at sf0.001 (the `sf0.001` sibling
  * of `sfDir` in the fixture ladder) so JIT and session startup are not
  * billed to rep 1; every rep is a noop-format write of the full plan.
  * The query's setup re-runs UNTIMED before EVERY rep:
  * each rep clears the cache, so a setup-cached query must rebuild its
  * cache untimed each time to stay in the context Bench times —
  * setup-once would bill reps 2+ the rebuild.
  *
  * Prints each rep's wall (a series converging toward a baseline says
  * a wall "regression" was warmup depth; a flat elevated series says it
  * is real) next to its build seconds: the `Q.run` call that constructs
  * the frame before the write runs it (footer reads, and any eager cut
  * or collect inside an operator). Then rep 1 as seen by a
  * [[PlanMetrics]] tally: the three Bench axes, a per-callsite table
  * (stages, executor task seconds, shuffle MB written, share of the
  * task time), and for every callsite reached by more than one stage
  * its per-stage shuffle series — the round-by-round view of an
  * iterative loop. Last, untimed, the
  * formatted plan of rep 1's frame (`explain("formatted")`).
  *
  * Usage: `runMain graft.tools.Probe <query> <reps> <sfDir>`. Exits 1
  * naming the query if it fails.
  */
object Probe {

  /** each rep's wall and build (`Q.run`) seconds; rep 1's (shuffle
    * bytes, exchanges, plan nodes), per-callsite stages and formatted
    * plan */
  final case class Result(walls: Seq[Double], builds: Seq[Double],
                          axes: (Long, Long, Long),
                          callsites: Seq[(String, PlanMetrics.Callsite)],
                          plan: String)

  /** Measures `name` on `spark` without stopping it. Throws on an
    * unknown name or a failing run. */
  def measure(spark: SparkSession, name: String, reps: Int,
              dir: String): Result = {
    val q = Registry.byName(name)
    def sink(df: => DataFrame): Unit =
      try df.write.format("noop").mode("overwrite").save()
      finally spark.catalog.clearCache()
    val tally = PlanMetrics.register(spark)
    try {
      sink(q.setupAndRun(spark, Registry.warmupDir(dir)))
      var axes = (0L, 0L, 0L)
      var sites = Seq.empty[(String, PlanMetrics.Callsite)]
      var first = Option.empty[DataFrame]
      val timed = (1 to reps).map { rep =>
        q.setup.foreach(_(spark, dir))
        val before = tally.snapshot()
        val mark = tally.stagesSeen
        val t0 = System.nanoTime()
        var built = t0
        sink {
          val df = q.run(spark, dir)
          built = System.nanoTime()
          // resolve rep 1's cache lookups while the frames its run
          // persisted still exist; the plan is rendered after the reps
          if (rep == 1) { first = Some(df); df.queryExecution.withCachedData }
          df
        }
        val wall = (System.nanoTime() - t0) / 1e9
        if (rep == 1) {
          axes = tally.drainAndRead(before)
          sites = tally.callsites(mark)
        }
        (wall, (built - t0) / 1e9)
      }
      val plan = first.fold("")(_.queryExecution.explainString(FormattedMode))
      Result(timed.map(_._1), timed.map(_._2), axes, sites, plan)
    } finally PlanMetrics.unregister(spark, tally)
  }

  def main(args: Array[String]): Unit = {
    val Array(name, repsArg, dir) = args
    val reps = repsArg.toInt
    val spark = GraftSession.getOrCreate("probe")
    val ok =
      try { report(name, measure(spark, name, reps, dir)); true }
      catch { case NonFatal(e) =>
        System.err.println(s"[probe] $name failed: $e")
        false
      } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  private def report(name: String, r: Result): Unit = {
    r.walls.zip(r.builds).zipWithIndex.foreach { case ((sec, build), i) =>
      println(f"[probe] $name rep ${i + 1}%2d: $sec%.3f s (build $build%.3f s)")
    }
    val (bytes, exchanges, nodes) = r.axes
    val stages = r.callsites.map(_._2.stages).sum
    val totalMs = r.callsites.map(_._2.runMs).sum.max(1L)
    println(f"[probe] $name rep 1: shuffle_mb ${bytes / 1e6}%.3f, " +
      s"exchanges $exchanges, plan_nodes $nodes; " +
      f"executor task time ${totalMs / 1000.0}%.1f s " +
      s"(x${GraftSession.cpus} threads) over $stages stages")
    println(f"${"stages"}%7s ${"task-s"}%8s ${"shuffle MB"}%10s ${"share"}%6s  callsite")
    val shown = r.callsites.take(20)
    shown.foreach { case (site, c) =>
      println(f"${c.stages}%7d ${c.runMs / 1000.0}%8.1f " +
        f"${c.shuffleBytes / 1e6}%10.3f ${c.runMs * 100.0 / totalMs}%5.1f%%  $site")
    }
    shown.filter(_._2.stages > 1).foreach { case (site, c) =>
      println(s"[probe] per-stage shuffle MB, $site: " +
        c.series.map(b => f"${b / 1e6}%.3f").mkString(" "))
    }
    println(s"[probe] $name rep 1 plan:")
    println(r.plan)
  }
}
