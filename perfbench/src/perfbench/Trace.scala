package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span and counter store for the traced run.
  *
  * The three listener classes below are registered through Spark's own
  * configuration keys (`spark.extraListeners`,
  * `spark.sql.queryExecutionListeners`,
  * `spark.sql.streaming.streamingQueryListeners`), so every session of
  * the context reports here, including the child sessions the streaming
  * queries create. They record only while `recording` is set; the
  * untraced passes of a traced run leave it off, which is what
  * `trace.overhead_ratio` compares against. Events carry wall-clock
  * milliseconds and are attributed to operations by time: a run has one
  * client, so operations never overlap.
  */
object Trace {
  @volatile var recording = false

  final case class Task(stage: Int, launch: Long, runMs: Long, cpuNs: Long,
                        gcMs: Long, swBytes: Long, swRecords: Long, fetchWaitMs: Long,
                        spillBytes: Long, inRecords: Long, outBytes: Long,
                        outRecords: Long)
  final case class Stage(id: Int, submit: Long, end: Long)
  final case class Job(start: Long)
  final case class Phase(name: String, start: Long, end: Long)
  final case class Plan(at: Long, nodes: Int, exchanges: Int, scanBytes: Long)
  final case class Batch(at: Long, durationMs: Long, stateRows: Long)
  final case class Storage(at: Long, block: String, bytes: Long)

  val tasks = new ConcurrentLinkedQueue[Task]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val phases = new ConcurrentLinkedQueue[Phase]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  val storage = new ConcurrentLinkedQueue[Storage]()

  def clear(): Unit = Seq(tasks, stages, jobs, phases, plans, batches, storage)
    .foreach(_.clear())

  /** AQE roots hand off to their final plan, query stages to the subtree
    * they wrap; subqueries are not traversed */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
    case q: QueryStageExec => p +: allNodes(q.plan)
    case _ => p +: p.children.flatMap(allNodes)
  }

  class Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (recording) jobs.add(Job(e.time))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (recording) {
        val i = e.stageInfo
        for (s <- i.submissionTime; c <- i.completionTime)
          stages.add(Stage(i.stageId, s, c))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (recording && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.add(Task(e.stageId, e.taskInfo.launchTime,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          m.shuffleReadMetrics.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
      }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      if (recording) {
        val i = e.blockUpdatedInfo
        if (i.blockId.isRDD) storage.add(Storage(System.currentTimeMillis(),
          i.blockId.name, if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L))
      }
  }

  class Plans extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) {
        qe.tracker.phases.foreach { case (n, p) =>
          phases.add(Phase(n, p.startTimeMs, p.endTimeMs)) }
        val nodes = allNodes(qe.executedPlan)
        plans.add(Plan(System.currentTimeMillis(), nodes.size,
          nodes.count(_.isInstanceOf[Exchange]),
          nodes.flatMap(_.metrics.get("filesSize")).map(_.value).sum))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  class Streams extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (recording) batches.add(Batch(System.currentTimeMillis(),
        e.progress.batchDuration, e.progress.stateOperators.map(_.numRowsTotal).sum))
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** system properties that make every session built after this call
    * register the listeners above */
  def install(): Unit = {
    System.setProperty("spark.extraListeners", classOf[Jobs].getName)
    System.setProperty("spark.sql.queryExecutionListeners", classOf[Plans].getName)
    System.setProperty("spark.sql.streaming.streamingQueryListeners",
      classOf[Streams].getName)
  }

  // ---- analysis -------------------------------------------------------

  /** total length of the union of `spans`, clipped to [lo, hi] */
  def covered(spans: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    c.foreach { case (a, b) =>
      if (cs.isNaN || a > ce) { if (!cs.isNaN) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  /** Layer self time of one operation, in ms, partitioning [start, end]:
    * running stages first, then Catalyst phases not under a stage, then
    * the build call's remaining time (DataFrame construction), and what
    * is left is the scheduling gap. The four parts sum to the
    * operation's wall by construction. */
  def selfTimes(start: Double, buildEnd: Double, end: Double): Map[String, Double] = {
    val st = stages.asScala.toSeq.map(s => (s.submit.toDouble, s.end.toDouble))
    val ph = phases.asScala.toSeq.map(p => (p.start.toDouble, p.end.toDouble))
    val stageMs = covered(st, start, end)
    val catalystMs = covered(st ++ ph, start, end) - stageMs
    val underBuild = covered(st ++ ph :+ ((start, buildEnd)), start, end)
    val queriesMs = underBuild - stageMs - catalystMs
    Map("stages" -> stageMs, "catalyst" -> catalystMs, "queries" -> queriesMs,
      "gap" -> (end - start - underBuild))
  }
}
