package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

/** Pins the deterministic bench axes: stage-level shuffle bytes (fires
  * for EVERY job on the context — including actions that bypass the
  * execution-listener path) and per-execution exchange/plan-node counts.
  * All three must be repeatable run-to-run: they are the noise-free
  * signal the regression tracker trusts over wall-clock. */
class PlanMetricsSpec extends SparkSpec {
  import spark.implicits._

  private def measure(body: => Unit): (Long, Long, Long) = {
    val tally = PlanMetrics.register(spark)
    try { val b0 = tally.snapshot(); body; tally.drainAndRead(b0) }
    finally PlanMetrics.unregister(spark, tally)
  }

  test("a groupBy action reports positive, repeatable bytes and shape") {
    val df = (1 to 10000).map(i => (i % 97, i.toLong)).toDF("k", "v")
    def run(): Unit = df.groupBy("k").agg(sum("v"))
      .write.format("noop").mode("overwrite").save()
    val first = measure(run())
    val second = measure(run())
    assert(first._1 > 0, "shuffle bytes not captured through the listener")
    assert(first._2 >= 1, s"exchange count missing: $first")
    assert(first._3 > first._2, s"plan node count implausible: $first")
    assert(first == second, s"non-deterministic: $first vs $second")
  }

  test("a shuffle-free scan reports zero bytes and zero exchanges") {
    val df = (1 to 1000).map(_.toLong).toDF("v").select(col("v") * 2)
    val (bytes, ex, nodes) = measure(
      df.write.format("noop").mode("overwrite").save())
    assert(bytes == 0, s"expected no exchange, measured $bytes bytes")
    assert(ex == 0, s"expected no exchange node, counted $ex")
    assert(nodes > 0, "the execution itself must still be counted")
  }

  test("multi-execution bodies accumulate across actions") {
    val df = (1 to 5000).map(i => (i % 13, i.toLong)).toDF("k", "v")
      .groupBy("k").agg(sum("v"))
    def once(): Unit = df.write.format("noop").mode("overwrite").save()
    val one = measure(once())
    val three = measure { once(); once(); once() }
    assert(three._1 == 3 * one._1, s"bytes: expected ${3 * one._1}, got ${three._1}")
    assert(three._2 == 3 * one._2, s"exchanges: expected ${3 * one._2}, got ${three._2}")
  }

  // a tally registered while an earlier action's events are still queued
  // must not count that action: register drains the bus first
  test("a tally registered right after an action counts nothing of it") {
    val df = (1 to 5000).map(i => (i % 13, i.toLong)).toDF("k", "v")
      .groupBy("k").agg(sum("v"))
    // holds the shared listener queue at each completed stage, so the
    // action's later events are still queued when the tally registers
    val slow = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Thread.sleep(200)
    }
    spark.sparkContext.addSparkListener(slow)
    try {
      df.write.format("noop").mode("overwrite").save()
      val tally = PlanMetrics.register(spark)
      try assert(tally.drainAndRead((0L, 0L, 0L)) == ((0L, 0L, 0L)))
      finally PlanMetrics.unregister(spark, tally)
    } finally spark.sparkContext.removeSparkListener(slow)
  }

  // the round-8 gap: localCheckpoint materializes through a job that
  // never fires QueryExecutionListener, so the old execution-listener
  // tally recorded 0 bytes for exactly the iterative operators (and
  // streaming micro-batches) that shuffle the most — the stage-level
  // listener must see them
  test("localCheckpoint shuffle bytes are captured (stage-level path)") {
    val df = (1 to 20000).map(i => (i % 89, i.toLong)).toDF("k", "v")
      .groupBy("k").agg(sum("v").as("s"))
    val (bytes, _, _) = measure {
      val cp = df.localCheckpoint(eager = true)
      cp.unpersist(blocking = true)
    }
    assert(bytes > 0,
      "stage listener missed the checkpoint job's shuffle bytes")
  }

  // the callsite rule: a stage belongs to the first graft frame of the
  // stack that submitted it — here the spec line issuing each action
  test("actions from two lines land under two callsites summing to the total") {
    val df = (1 to 5000).map(i => (i % 13, i.toLong)).toDF("k", "v")
      .groupBy("k").agg(sum("v"))
    val tally = PlanMetrics.register(spark)
    try {
      val b0 = tally.snapshot()
      val mark = tally.stagesSeen
      df.write.format("noop").mode("overwrite").save()
      df.write.format("noop").mode("overwrite").save()
      val (bytes, _, _) = tally.drainAndRead(b0)
      val sites = tally.callsites(mark)
      assert(sites.size == 2, s"expected two callsites, got ${sites.map(_._1)}")
      assert(sites.forall(_._1.contains("PlanMetricsSpec.scala:")), sites.map(_._1))
      assert(bytes > 0)
      assert(sites.map(_._2.shuffleBytes).sum == bytes)
      assert(sites.forall { case (_, c) =>
        c.series.size == c.stages && c.series.sum == c.shuffleBytes })
    } finally PlanMetrics.unregister(spark, tally)
  }
}
