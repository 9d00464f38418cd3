package graft.tools

import java.nio.file.Paths

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * is real), then rep 1 as seen by a [[PlanMetrics]] tally: the three
  * Bench axes, a per-callsite table (stages, executor task seconds,
  * shuffle MB written, share of the task time), and for every callsite
  * reached by more than one stage its per-stage shuffle series — the
  * round-by-round view of an iterative loop.
  *
  * Usage: `runMain graft.tools.Probe <query> <reps> <sfDir>`. Exits 1
  * naming the query if it fails.
  */
object Probe {

  /** each rep's wall seconds; rep 1's (shuffle bytes, exchanges, plan
    * nodes) and per-callsite stages */
  final case class Result(walls: Seq[Double], axes: (Long, Long, Long),
                          callsites: Seq[(String, PlanMetrics.Callsite)])

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
      sink(q.setupAndRun(spark,
        Paths.get(dir).resolveSibling("sf0.001").toString))
      var axes = (0L, 0L, 0L)
      var sites = Seq.empty[(String, PlanMetrics.Callsite)]
      val walls = (1 to reps).map { rep =>
        q.setup.foreach(_(spark, dir))
        // quiesce setup's events so they stay out of rep 1's bracket
        if (rep == 1) tally.drainAndRead((0L, 0L, 0L))
        val before = tally.snapshot()
        val mark = tally.stagesSeen
        val t0 = System.nanoTime()
        sink(q.run(spark, dir))
        val wall = (System.nanoTime() - t0) / 1e9
        if (rep == 1) {
          axes = tally.drainAndRead(before)
          sites = tally.callsites(mark)
        }
        wall
      }
      Result(walls, axes, sites)
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
    r.walls.zipWithIndex.foreach { case (sec, i) =>
      println(f"[probe] $name rep ${i + 1}%2d: $sec%.3f s")
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
  }
}
