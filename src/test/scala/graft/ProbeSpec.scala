package graft

import graft.queries.Registry
import graft.tools.Probe

/** Probe's measuring function runs on the shared session (it must not
  * stop it), returns one wall and one build (`Q.run`) time per rep, the
  * build inside its wall, reports rep 1's axes as an
  * independent PlanMetrics bracket of the same query reads them, and
  * returns rep 1's formatted plan. */
class ProbeSpec extends SparkSpec {
  private val name = "q04_join_factfact"

  test("measure returns a wall per rep and rep 1's Bench axes") {
    val r = Probe.measure(spark, name, reps = 2, dir = sfTiny)
    assert(r.walls.size == 2 && r.walls.forall(_ > 0), r.walls)
    assert(r.builds.size == 2, r.builds)
    r.walls.zip(r.builds).foreach { case (wall, build) =>
      assert(build > 0 && build <= wall, (wall, build))
    }
    assert(!spark.sparkContext.isStopped)

    val q = Registry.byName(name)
    val tally = PlanMetrics.register(spark)
    val axes =
      try {
        q.setup.foreach(_(spark, sfTiny))
        val before = tally.snapshot()
        q.run(spark, sfTiny).write.format("noop").mode("overwrite").save()
        tally.drainAndRead(before)
      } finally {
        PlanMetrics.unregister(spark, tally)
        spark.catalog.clearCache()
      }
    assert(r.axes == axes)
    assert(r.axes._1 > 0 && r.axes._2 > 0, r.axes)
    assert(r.callsites.map(_._2.shuffleBytes).sum == r.axes._1)
  }

  test("measure returns rep 1's formatted plan") {
    val r = Probe.measure(spark, name, reps = 1, dir = sfTiny)
    assert(r.plan.contains("== Physical Plan =="), r.plan)
    assert(r.plan.contains("Exchange"), r.plan)
  }

  test("an unknown query name fails naming it") {
    val e = intercept[IllegalArgumentException](
      Probe.measure(spark, "no_such_query", reps = 1, dir = sfTiny))
    assert(e.getMessage.contains("no_such_query"))
  }
}
