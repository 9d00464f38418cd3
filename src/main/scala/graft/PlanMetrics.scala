package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The deterministic half of the bench signal. Wall-clock on a shared
  * local[32] host swings ±20% run-to-run (three same-day full runs
  * measured 137/172/145 s; round 8's driver run carried a contiguous
  * contention window that fabricated 56 "regressions"), but what a plan
  * *does* is a pure function of plan + data. Bench records, per query:
  *
  *  - '''shuffle bytes''' — captured at STAGE level via a SparkListener
  *    on the shared SparkContext, NOT a QueryExecutionListener: stage
  *    events fire for every job in the JVM, which is what makes the
  *    number right for streaming micro-batches (no QueryExecutionListener
  *    callback fires for them, and child sessions created by
  *    `SparkSession.newSession` never see a parent-registered execution
  *    listener at all — round 8 recorded a silent 0.0 for all st*
  *    queries this way) and for lineage-materializing actions like
  *    `localCheckpoint` that bypass the execution-listener path too.
  *  - '''exchange count + plan node count''' — summed over every batch
  *    QueryExecution the bracket triggers, via an execution listener.
  *    This is the plan-SIZE axis: an iterative operator that stops
  *    truncating its lineage shows up here as a node-count explosion
  *    (round 7's d10 printed 450-exchange replay plans) even when its
  *    byte volume barely moves. Streaming micro-batch plans do NOT
  *    reach this listener — Bench omits those entries rather than
  *    emitting a misleading 0 (the bytes axis covers st* instead).
  *
  * The same stage listener attributes each stage to its '''callsite'''
  * (see [[Callsite]]), which is how `graft.tools.Probe` answers "which
  * operator line spends the task time and moves the bytes".
  *
  * Capture point matters: an action like `df.write` plans and executes
  * its own QueryExecution, leaving the frame's own `queryExecution`
  * un-run (its accumulators read 0; the first cut of this file made
  * exactly that mistake). Listener delivery is asynchronous on both
  * buses — bracket a measured region with `snapshot()` ... then
  * `drainAndRead(before)` OUTSIDE any timed region.
  */
object PlanMetrics {

  /** expands what `SparkPlan.children` hides: AQE roots hand off to
    * their final executedPlan, query stages to their wrapped subtree.
    * Subquery plans are not traversed — omitting them consistently
    * keeps the number comparable across rounds. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
    case q: QueryStageExec => p +: allNodes(q.plan)
    case _ => p +: p.children.flatMap(allNodes)
  }

  /** shuffle bytes written by ONE already-executed plan (spec-level
    * cross-check for the stage tally; not the bench capture path) */
  private[graft] def shuffleBytesOf(plan: SparkPlan): Long =
    allNodes(plan)
      .flatMap(_.metrics.get("shuffleBytesWritten"))
      .map(_.value).filter(_ > 0).sum

  /** shuffle exchanges in one executed plan (hash/range/single-partition
    * — `Exchange` covers shuffle and broadcast; broadcast is counted too,
    * deliberately: a broadcast that silently becomes a shuffle or
    * vice-versa is exactly a plan-shape change the axis should see) */
  private[graft] def exchangesOf(plan: SparkPlan): Int =
    allNodes(plan).count(_.isInstanceOf[Exchange])

  private[graft] def nodeCountOf(plan: SparkPlan): Int = allNodes(plan).size

  /** The stages one callsite triggered: their count, summed executor run
    * time, summed shuffle bytes written, and `series`, each stage's
    * shuffle bytes in stage-id order — the per-round view of an
    * iterative loop whose every round issues its jobs from one line.
    * Shuffle WRITE is the attribution-friendly side: each byte is
    * written once, by the map stage whose callsite produced it. */
  final case class Callsite(stages: Int, runMs: Long, shuffleBytes: Long,
                            series: Seq[Long])

  /** the first `graft.` frame of a callsite's long form: the operator
    * line, or the harness line that issued the action */
  private def graftFrame(stack: String): Option[String] =
    stack.split('\n').map(_.trim).find(_.contains("graft."))
      .map(_.stripPrefix("at "))

  /** Accumulates the three deterministic counters across every job /
    * batch query execution on the session's SparkContext, plus one
    * (stage id, callsite, executor run ms, shuffle bytes) record per
    * completed stage. */
  final class Tally private[PlanMetrics] () {
    private[PlanMetrics] val bytes = new AtomicLong(0L)
    private[PlanMetrics] val exchanges = new AtomicLong(0L)
    private[PlanMetrics] val nodes = new AtomicLong(0L)
    private val stageLog = ArrayBuffer.empty[(Int, String, Long, Long)]
    // AQE submits shuffle-map and broadcast stages from a pool thread
    // whose stack holds no graft frame, so a stage falls back to the
    // callsite of the SQL execution that submitted it
    private val execSite = TrieMap.empty[Long, String]
    private val stageExec = TrieMap.empty[Int, Long]

    private[PlanMetrics] val stageListener: SparkListener = new SparkListener {
      override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
        case e: SparkListenerSQLExecutionStart =>
          graftFrame(e.details).foreach(execSite(e.executionId) = _)
        case e: SparkListenerSQLExecutionEnd => execSite.remove(e.executionId)
        case _ => ()
      }

      override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit =
        Option(ev.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => stageExec(ev.stageInfo.stageId) = id.toLong)

      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val info = ev.stageInfo
        val m = info.taskMetrics
        val written = if (m != null) m.shuffleWriteMetrics.bytesWritten else 0L
        val runMs = if (m != null) m.executorRunTime else 0L
        bytes.addAndGet(written)
        val exec = stageExec.remove(info.stageId)
        val site = graftFrame(info.details)
          .orElse(exec.flatMap(execSite.get))
          .getOrElse(info.name.takeWhile(_ != '\n'))
        stageLog.synchronized {
          stageLog += ((info.stageId, site, runMs, written))
        }
      }
    }

    private[PlanMetrics] val execListener: QueryExecutionListener =
      new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
                               durationNs: Long): Unit = {
          exchanges.addAndGet(exchangesOf(qe.executedPlan).toLong)
          nodes.addAndGet(nodeCountOf(qe.executedPlan).toLong)
        }
        override def onFailure(funcName: String, qe: QueryExecution,
                               exception: Exception): Unit = ()
      }

    /** (bytes, exchanges, plan nodes) seen so far */
    def snapshot(): (Long, Long, Long) =
      (bytes.get(), exchanges.get(), nodes.get())

    /** wait (bounded) for BOTH async listener buses to go quiet, then
      * return the deltas accumulated since `before`. Runs OUTSIDE any
      * timed region. */
    def drainAndRead(before: (Long, Long, Long),
                     maxWaitMs: Long = 2000): (Long, Long, Long) = {
      val deadline = System.nanoTime() + maxWaitMs * 1000000L
      var last = snapshot()
      var stableSince = System.nanoTime()
      while (System.nanoTime() < deadline &&
             System.nanoTime() - stableSince < 150L * 1000000L) {
        Thread.sleep(10)
        val now = snapshot()
        if (now != last) { last = now; stableSince = System.nanoTime() }
      }
      val s = snapshot()
      (s._1 - before._1, s._2 - before._2, s._3 - before._3)
    }

    /** stages completed so far — the mark to pass to [[callsites]] */
    def stagesSeen: Int = stageLog.synchronized(stageLog.size)

    /** per-callsite totals over the stages completed after mark `since`,
      * most executor time first. Read after `drainAndRead`, like the
      * counters. */
    def callsites(since: Int = 0): Seq[(String, Callsite)] = {
      val log = stageLog.synchronized(stageLog.drop(since).toVector)
      log.groupBy(_._2).toSeq.map { case (site, stages) =>
        val byId = stages.sortBy(_._1)
        site -> Callsite(byId.size, byId.map(_._3).sum, byId.map(_._4).sum,
          byId.map(_._4))
      }.sortBy(-_._2.runMs)
    }
  }

  def register(spark: SparkSession): Tally = {
    val t = new Tally
    spark.sparkContext.addSparkListener(t.stageListener)
    spark.listenerManager.register(t.execListener)
    t
  }

  def unregister(spark: SparkSession, t: Tally): Unit = {
    spark.sparkContext.removeSparkListener(t.stageListener)
    spark.listenerManager.unregister(t.execListener)
  }
}
