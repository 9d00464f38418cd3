package graft.tools

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec,
  SparkPlan, TakeOrderedAndProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, SortMergeJoinExec}

import graft.GraftSession
import graft.queries.{Q, Registry}

/** The standing gate over every registered query: one pass that checks
  * what the physical plan looks like and what happens when its code is
  * generated. For each query it runs setup and run once, then
  *
  *  - reads the static `executedPlan` for the plan anti-patterns that
  *    break at scale: cartesian products, global sorts that are not
  *    top-ks (`Exchange rangepartitioning`), single-partition funnels
  *    that are not final aggregates. These GATE columns match over the
  *    full rendered plan string: an anti-pattern anywhere, including
  *    inside a repeated cached-plan rendering, must flag. The
  *    INFORMATIVE columns (shuffles, joins, top-ks, scans, pushdown) walk
  *    the node tree with each distinct InMemoryRelation's build plan
  *    counted ONCE ([[runtimeNodes]]): the rendered string repeats the
  *    cached lineage at every reference (g11 once read 787 "shuffles"
  *    where the listener observed ~20 runtime exchanges);
  *  - writes the same frame to a noop sink while a log tap watches for
  *    Spark's codegen degradation: "Failed to compile the generated Java
  *    code" / "Whole-stage codegen disabled for plan" (Janino refused the
  *    method, the stage falls back to interpreted eval — measured 8x
  *    slower on the simhash explode before DedupOps.simHashCandidates
  *    was restructured) and "Found too long generated codes" (a method
  *    over `spark.sql.codegen.hugeMethodLimit`: whole-stage codegen is
  *    dropped for the plan). Spark logs the last one at INFO, so the
  *    sweep raises the WholeStageCodegenExec logger to INFO and restores
  *    it afterwards. The rows stay correct either way, which is why
  *    nothing but a standing gate makes the slowdown visible;
  *  - clears the cache, whether the query passed or threw.
  *
  * Usage: `runMain graft.tools.Audit <sfDir>` over `Registry.selected()`
  * (`SPARK_GRAFT_ONLY` narrows it). Prints one line per query and exits
  * 1 if any query is flagged, degraded or threw.
  */
object Audit {

  /** one query's line, and whether it fails the gate */
  final case class Finding(name: String, line: String, failed: Boolean)

  private val markers = Seq(
    "Whole-stage codegen disabled for plan",
    "Found too long generated codes",
    "Failed to compile the generated Java code")

  /** Audits `queries` in order on `spark` without stopping it, printing
    * each finding as it is made. A query that throws is a failed
    * finding; the sweep goes on to the next. */
  def sweep(spark: SparkSession, queries: Seq[Q], dir: String): Seq[Finding] = {
    val hits = ArrayBuffer.empty[String]
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val tap = new AbstractAppender(
      "graft-audit", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (markers.exists(m.contains))
          hits.synchronized { hits += m.linesIterator.next().take(160) }
      }
    }
    val codegenLogger = classOf[WholeStageCodegenExec].getName
    val level = LogManager.getLogger(codegenLogger).getLevel
    tap.start()
    ctx.getConfiguration.getRootLogger.addAppender(tap, Level.INFO, null)
    ctx.updateLoggers()
    Configurator.setLevel(codegenLogger, Level.INFO)
    try queries.map { q =>
      val mark = hits.synchronized(hits.size)
      val finding =
        try {
          val df = q.setupAndRun(spark, dir)
          val (columns, flags) = planColumns(df.queryExecution.executedPlan)
          df.write.format("noop").mode("overwrite").save()
          val degraded = hits.synchronized(hits.drop(mark).toList)
          val codegen = degraded.headOption.fold(" codegen-clean")(
            m => s" DEGRADED: $m")
          Finding(q.name, f"${q.name}%-26s $columns$codegen",
            flags || degraded.nonEmpty)
        } catch { case NonFatal(e) =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          Finding(q.name, f"${q.name}%-26s ERROR: " +
            msg.linesIterator.nextOption().getOrElse("").take(160), true)
        } finally spark.catalog.clearCache()
      println(finding.line)
      finding
    } finally {
      Configurator.setLevel(codegenLogger, level)
      ctx.getConfiguration.getRootLogger.removeAppender(tap.getName)
      ctx.updateLoggers()
      tap.stop()
    }
  }

  /** the plan columns of one static executed plan, and whether a gate
    * column flags it */
  private def planColumns(physical: SparkPlan): (String, Boolean) = {
    val plan = physical.toString
    def n(feature: String): Int = feature.r.findAllMatchIn(plan).size
    // ---- GATE columns: full-string match, anti-patterns anywhere ----
    val cartesian = n("CartesianProduct")
    val globalSort = n("Exchange rangepartitioning")
    val singleParts = badSinglePartitions(plan)
    // ---- INFORMATIVE columns: runtime-shape node walk ---------------
    val (nodes, cacheRefs, cacheDistinct) = runtimeNodes(physical)
    val exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    val bhj = nodes.count(_.isInstanceOf[BroadcastHashJoinExec])
    val smj = nodes.count(_.isInstanceOf[SortMergeJoinExec])
    val topk = nodes.count(_.isInstanceOf[TakeOrderedAndProjectExec])
    val nlj = nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec])
    // pushdown visibility: file scans, and how many of them reached the
    // reader with at least one pushed filter (informative, not a gate:
    // full-table aggregates legitimately push nothing)
    val parquetScans = nodes.collect {
      case f: FileSourceScanExec
          if f.relation.fileFormat.toString.toLowerCase.contains("parquet")
        => f }
    val scans = parquetScans.size
    val pushedScans = parquetScans.count(
      _.metadata.get("PushedFilters").exists(v => v != "[]"))
    // an operator that drops to the RDD API hides its shuffles behind a
    // `Scan ExistingRDD` leaf — the audit cannot see inside, so the
    // shuffle count is a LOWER bound, reported as such, never as 0
    val rddOpaque = nodes.exists(_.isInstanceOf[RDDScanExec])
    val notes = new StringBuilder
    if (cartesian > 0) notes ++= " CARTESIAN!"
    if (globalSort > 0) notes ++= " GLOBAL-SORT!"
    if (singleParts > 0) notes ++= " SINGLE-PARTITION!"
    if (rddOpaque) notes ++= " rdd-opaque(shuffle count is a lower bound)"
    // repeated cached-plan references: counted once above, shown here
    if (cacheRefs > 0) notes ++= s" cached=$cacheRefs/$cacheDistinct"
    val shufflesShown = if (rddOpaque) s">=$exchanges" else f"$exchanges%2d"
    (f"shuffles=$shufflesShown bhj=$bhj nlj=$nlj smj=$smj topk=$topk " +
      f"scans=$scans pushed=$pushedScans$notes",
      cartesian + globalSort + singleParts > 0)
  }

  /** every node reachable at runtime, each distinct cached build plan
    * visited ONCE: descends AdaptiveSparkPlanExec's current plan,
    * subquery plans, and InMemoryTableScan relations (identity-deduped
    * on the shared cacheBuilder, so N scans of one persisted frame
    * count its lineage once — matching what executes). Returns the
    * nodes plus (cache references, distinct cached plans). */
  private def runtimeNodes(plan: SparkPlan): (Seq[SparkPlan], Int, Int) = {
    val seenCached = new java.util.IdentityHashMap[AnyRef, AnyRef]()
    val out = ArrayBuffer.empty[SparkPlan]
    var refs = 0
    def walk(p: SparkPlan): Unit = p.foreach { node =>
      out += node
      node.subqueries.foreach(walk)
      node match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: InMemoryTableScanExec =>
          refs += 1
          val key = s.relation.cacheBuilder
          if (!seenCached.containsKey(key)) {
            seenCached.put(key, key)
            walk(s.relation.cachedPlan)
          }
        case _ => ()
      }
    }
    walk(plan)
    (out.toSeq, refs, seenCached.size)
  }

  /** `Exchange SinglePartition` lines that funnel anything other than a
    * partial aggregate (or a local limit) into one task: the plan shape
    * an unpartitioned `Window.orderBy` produces, where EVERY row flows
    * through a single task. A final global aggregate's SinglePartition
    * exchange is fine — its input is one pre-aggregated row per upstream
    * task, bounded by task count not data size — so exchanges whose
    * immediate child is a partial aggregate ("partial_" in the agg
    * function list) or a LocalLimit are whitelisted. */
  private[graft] def badSinglePartitions(plan: String): Int = {
    val lines = plan.split('\n')
    lines.indices.count { i =>
      lines(i).contains("Exchange SinglePartition") && {
        val child = if (i + 1 < lines.length) lines(i + 1) else ""
        !(child.contains("partial_") || child.contains("LocalLimit"))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(dir) = args
    val queries = Registry.selected()
    val spark = GraftSession.getOrCreate("graft-audit")
    val findings = try sweep(spark, queries, dir) finally spark.stop()
    val failed = findings.filter(_.failed).map(_.name)
    if (failed.nonEmpty) {
      System.err.println(s"flagged: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
