package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer figures of one traced pass, from the spans and counters
  * [[Trace]] recorded. Every figure is a total over the pass's
  * operations; `run.py` reports the median over traced passes. */
object Layers {
  private val MB = 1048576.0

  def of(ops: Seq[Main.Sample], c: Counters, cpus: Int, noopS: Double): Map[String, Double] = {
    val lo = ops.map(_.startMs).min
    val hi = ops.map(_.endMs).max
    def in(t: Double) = t >= lo - 1 && t <= hi + 1
    val tasks = Trace.tasks.asScala.toSeq.filter(t => in(t.launch.toDouble))
    val stages = Trace.stages.asScala.toSeq.filter(s => in(s.submit.toDouble))
    val jobs = Trace.jobs.asScala.toSeq.filter(j => in(j.start.toDouble))
    val phases = Trace.phases.asScala.toSeq.filter(p => in(p.start.toDouble))
    val plans = Trace.plans.asScala.toSeq.filter(p => in(p.at.toDouble))
    val batches = Trace.batches.asScala.toSeq.filter(b => in(b.at.toDouble))
    val wallS = ops.map(o => o.endMs - o.startMs).sum / 1e3

    val self = ops.map(o => Trace.selfTimes(o.startMs, o.buildMs, o.endMs))
    def selfS(k: String) = self.map(_(k)).sum / 1e3
    // time under running stages, split in proportion to how the task
    // slots (cores x that time) were spent; task launch and result
    // handling overhead and idle slots count as stage_idle
    val stageS = selfS("stages")
    val slots = Map(
      "executor_cpu" -> tasks.map(_.cpuNs).sum / 1e9,
      "executor_gc" -> tasks.map(_.gcMs).sum / 1e3,
      "shuffle_wait" -> tasks.map(_.fetchWaitMs).sum / 1e3,
      "executor_other" -> tasks.map(t =>
        math.max(0L, t.runMs - t.gcMs - t.fetchWaitMs - t.cpuNs / 1000000)).sum / 1e3)
    val idle = math.max(0.0, stageS * cpus - slots.values.sum)
    val stageSplit = (slots + ("stage_idle" -> idle)).map { case (k, v) =>
      k -> (if (stageS == 0) 0.0 else stageS * v / (slots.values.sum + idle)) }
    // codegen compiles on the Spark driver run outside stages and phases:
    // taken out of the gap, never more than the gap
    val codegenS = math.min(c.compileNs / 1e9, selfS("gap"))

    val submit = stages.map(s => s.id -> s.submit).toMap
    val taskWaitS = tasks.flatMap(t => submit.get(t.stage).map(s => math.max(0L, t.launch - s)))
      .sum / 1e3
    val skew = tasks.groupBy(_.stage).values.filter(_.size > 1).map { ts =>
      val d = ts.map(_.runMs.toDouble)
      if (d.sum == 0) 1.0 else d.max / (d.sum / d.size)
    }.foldLeft(1.0)(math.max)

    // bytes held by cached RDD blocks, replayed in event order
    var held = Map.empty[String, Long]
    var peak = 0L
    Trace.storage.asScala.toSeq.sortBy(_.at).foreach { e =>
      held = if (e.bytes > 0) held.updated(e.block, e.bytes) else held - e.block
      if (in(e.at.toDouble)) peak = math.max(peak, held.values.sum)
    }

    def phase(n: String) = phases.filter(_.name == n).map(p => p.end - p.start).sum / 1e3
    val outRecords = tasks.map(_.outRecords).sum
    val isEtl = ops.exists(_.name == "etl")
    val etlWall = ops.filter(_.name == "etl").map(o => o.endMs - o.startMs).sum / 1e3

    Map(
      "queries.build_s" -> ops.map(o => o.buildMs - o.startMs).sum / 1e3,
      "queries.build_jobs" -> jobs.count(j =>
        ops.exists(o => j.start >= o.startMs - 1 && j.start <= o.buildMs + 1)).toDouble,
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "catalyst.plan_nodes" -> plans.map(_.nodes).sum.toDouble,
      "catalyst.exchanges" -> plans.map(_.exchanges).sum.toDouble,
      "plans.graft_rules_s" -> c.graftRuleNs / 1e9,
      "plans.graft_rules_hit_ratio" ->
        (if (c.graftRuns == 0) 0.0 else c.graftEffective.toDouble / c.graftRuns),
      "codegen.compiles" -> c.compiles.toDouble,
      "codegen.compile_s" -> c.compileNs / 1e9,
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> stages.size.toDouble,
      "scheduler.tasks" -> tasks.size.toDouble,
      "scheduler.task_wait_s" -> taskWaitS,
      "scheduler.gap_s" -> (selfS("gap") - codegenS),
      "executor.run_s" -> tasks.map(_.runMs).sum / 1e3,
      "executor.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "executor.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "executor.busy_ratio" -> tasks.map(_.runMs).sum / 1e3 / (wallS * cpus),
      "executor.stage_skew" -> skew,
      "shuffle.write_mb" -> tasks.map(_.swBytes).sum / MB,
      "shuffle.records" -> tasks.map(_.swRecords).sum.toDouble,
      "shuffle.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3,
      "shuffle.spill_mb" -> tasks.map(_.spillBytes).sum / MB,
      "cache.stored_mb_peak" -> peak / MB,
      // file bytes the scans planned to read (task input metrics under-count
      // the vectorized parquet reader)
      "scan.input_mb" -> plans.map(_.scanBytes).sum / MB,
      "scan.rows" -> tasks.map(_.inRecords).sum.toDouble,
      "scan.tasks" -> tasks.count(_.inRecords > 0).toDouble,
      "sink.output_mb" -> tasks.map(_.outBytes).sum / MB,
      "sink.files" -> tasks.count(_.outRecords > 0).toDouble,
      "sink.bytes_per_row" ->
        (if (outRecords == 0) 0.0 else tasks.map(_.outBytes).sum.toDouble / outRecords),
      "sink.s" -> (if (isEtl) etlWall - noopS else 0.0),
      "tripmetrics.noop_s" -> noopS,
      "streaming.batches" -> batches.size.toDouble,
      "streaming.batch_s" -> batches.map(_.durationMs).sum / 1e3,
      "streaming.state_rows" -> batches.map(_.stateRows).sum.toDouble,
      "jvm.gc_s" -> c.gcMs / 1e3,
      "self.queries_s" -> selfS("queries"),
      "self.catalyst_s" -> selfS("catalyst"),
      "self.codegen_s" -> codegenS,
      "self.wall_s" -> wallS) ++ stageSplit.map { case (k, v) => s"self.${k}_s" -> v }
  }
}

/** minimal JSON writer for maps, sequences, strings and numbers */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
