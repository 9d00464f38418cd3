package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{GraftSession, Pipeline}
import graft.ops.TripMetrics
import graft.queries.{Q, Registry}

/** The benchmark's JVM side: one workload, one client, a closed loop.
  *
  * `perfbench.Main <workload> <seed> <seconds> <trace> <workDir> <setupReps>`
  *
  * `workDir` holds the generated inputs (`star/` or `taxi/`, and
  * `etl_expected.txt`); the JVM writes `jvm.json` (raw timings, checks
  * and per-pass layer figures) and each query's result, from an untimed
  * check after the timed section, under `check/`. `run.py` turns that
  * into the reported metrics.
  */
object Main {

  /** the operations of each workload; README.md says why these */
  val Workloads: Map[String, Seq[String]] = Map(
    "query_mix" -> Seq("q04_join_factfact", "q31_sql_frontend", "s01_cosine_topk",
      "e24_asof_native", "st01_stream_tumbling", "g04_connected_components"),
    "etl_zstd" -> Seq("etl"))

  /** One public call plus its action. `run` returns System.nanoTime() at
    * the end of the call (the DataFrame construction), before the action;
    * `check` writes, untimed, the output the checks read. */
  trait Op {
    def name: String
    def setup(s: SparkSession): Unit = ()
    def run(s: SparkSession): Long
    def check(s: SparkSession): Unit = ()
  }

  final class QueryOp(q: Q, work: String) extends Op {
    def name: String = q.name
    private val star = s"$work/star"
    override def setup(s: SparkSession): Unit = q.setup.foreach(_(s, star))
    def run(s: SparkSession): Long = {
      val df = q.run(s, star)
      val built = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      built
    }
    override def check(s: SparkSession): Unit =
      q.run(s, star).write.mode("overwrite").parquet(s"$work/check/$name")
  }

  /** the paper's pipeline into a real zstd sink; the written row count
    * Pipeline observes must equal the generator's non-null row count */
  final class EtlOp(work: String, expected: Array[Long]) extends Op {
    def name: String = "etl"
    val in: String = s"$work/taxi"
    val out: String = s"$work/etl_out"
    def run(s: SparkSession): Long = {
      val start = System.nanoTime()
      val m = Pipeline.runWithMetrics(s, in, out)
      if (m.rowsWritten != expected(0))
        throw new IllegalStateException(
          s"wrote ${m.rowsWritten} rows, the input has ${expected(0)} non-null rows")
      start
    }
    /** the same transform into a noop sink: the sink's share of the op */
    def noop(s: SparkSession): Unit =
      TripMetrics.withTripMetrics(s.read.parquet(in))
        .write.format("noop").mode("overwrite").save()
  }

  final case class Sample(pass: Int, traced: Boolean, name: String,
                          startMs: Double, buildMs: Double, endMs: Double,
                          error: Option[String])

  // wall-clock ms with nanoTime resolution, comparable with the
  // millisecond timestamps Spark's listener events carry
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def msOf(nano: Long): Double = epochMs0 + (nano - nano0) / 1e6

  /** A full collection, a pause in which Spark's ContextCleaner drops the
    * checkpoints, shuffles and broadcasts it released (so that clean-up
    * does not run inside the next pass), and a second collection; returns
    * the heap then in use, the live set. */
  def settle(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  /** fixed pure-CPU job, one partition per core: no I/O, no shuffle, so
    * its time tracks only how much of the host this process has */
  def sentinel(s: SparkSession, cpus: Int): Double = {
    def chain(c: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
      if (n == 0) c else chain(xxhash64(c), n - 1)
    val t0 = System.nanoTime()
    s.range(0L, 2000000L * cpus, 1L, cpus)
      .select(sum(chain(col("id"), 16).cast("double")))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def errorText(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
      .replaceAll("\\s+", " ").take(300)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, repsS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val setupReps = repsS.toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "1").toInt
    val names = Workloads(workload)
    val expected = new String(Files.readAllBytes(Paths.get(s"$work/etl_expected.txt")))
      .trim.split("\\s+").map(_.toLong)
    val etl = new EtlOp(work, expected)
    val byName = Registry.all.map(q => q.name -> q).toMap
    val ops: Seq[Op] = names.map {
      case "etl" => etl
      case n => new QueryOp(byName(n), work)
    }
    if (traced) Trace.install()

    // ---- set-up, several times: session, the queries' one-time input
    //      staging, and a warm-up that runs every operation once, as timed
    val setups = ArrayBuffer[Map[String, Double]]()
    val checkErrors = scala.collection.mutable.LinkedHashMap[String, String]()
    var spark: SparkSession = null
    for (rep <- 0 until setupReps) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = GraftSession.getOrCreate(s"perfbench-$workload")
      val t1 = System.nanoTime()
      ops.foreach(_.setup(spark))
      val t2 = System.nanoTime()
      ops.foreach { op =>
        try op.run(spark) catch { case e: Throwable => checkErrors(op.name) = errorText(e) }
        spark.catalog.clearCache()
      }
      val t3 = System.nanoTime()
      setups += Map("create_s" -> (t1 - t0) / 1e9, "queries_setup_s" -> (t2 - t1) / 1e9,
        "warmup_s" -> (t3 - t2) / 1e9, "setup_s" -> (t3 - t0) / 1e9)
    }
    val s = spark
    val sentinelBefore = sentinel(s, cpus)

    // ---- timed section: whole passes, order permuted by the seed, until
    //      the next pass would end past `seconds`; in a traced run odd
    //      passes record and even passes do not. Between passes, outside
    //      their wall, `settle` reads the heap's live set.
    val rng = new java.util.Random(seed)
    val samples = ArrayBuffer[Sample]()
    val passes = ArrayBuffer[Map[String, Any]]()
    val layerPasses = ArrayBuffer[Map[String, Double]]()
    val liveHeap = ArrayBuffer[Double]()
    val minPasses = if (traced) 2 else 1
    settle()
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    var pass = 0
    while (pass < minPasses || elapsed * (pass + 1) / pass <= seconds) {
      val rec = traced && pass % 2 == 1
      val order = ops.toBuffer
      java.util.Collections.shuffle(order.asJava, rng)
      val before = if (rec) Some(Counters.read()) else None
      if (rec) { Trace.clear(); Trace.recording = true }
      val p0 = System.nanoTime()
      val passSamples = order.map { op =>
        val a = System.nanoTime()
        var b = a
        val err = try { b = op.run(s); None }
          catch { case e: Throwable => Some(errorText(e)) }
        val c = System.nanoTime()
        s.catalog.clearCache()
        Sample(pass, rec, op.name, msOf(a), msOf(b), msOf(c), err)
      }
      val p1 = System.nanoTime()
      var noopS = 0.0
      if (rec && workload == "etl_zstd") {
        val n0 = System.nanoTime(); etl.noop(s); noopS = (System.nanoTime() - n0) / 1e9
      }
      if (rec) {
        org.apache.spark.PerfbenchBus.drain(s.sparkContext)
        Trace.recording = false
        layerPasses += Layers.of(passSamples.toSeq, Counters.read() - before.get,
          cpus, noopS)
      }
      samples ++= passSamples
      passes += Map("pass" -> pass, "traced" -> rec, "wall_s" -> (p1 - p0) / 1e9)
      liveHeap += settle()
      pass += 1
    }
    val sentinelAfter = sentinel(s, cpus)

    // ---- untimed checks: each query's result written for the DuckDB
    //      compare, the ETL output read back
    ops.foreach { op =>
      try op.check(s) catch { case e: Throwable => checkErrors(op.name) = errorText(e) }
      s.catalog.clearCache()
    }
    val etlReadback: Option[Map[String, Long]] = if (workload != "etl_zstd") None else {
      val r = s.read.parquet(etl.out).agg(count(lit(1)),
        sum(round(col("trip_duration") * 60).cast("long")),
        sum(col("is_airport_trip").cast("long")),
        sum(col("is_peak_hour").cast("long"))).head()
      val got = (0 until 4).map(i => if (r.isNullAt(i)) -1L else r.getLong(i))
      val keys = Seq("rows_out", "duration_s_sum", "airport_trips", "peak_trips")
      keys.zip(got).zip(expected).foreach { case ((k, g), e) =>
        if (g != e) checkErrors("etl") = s"read back $k = $g, expected $e" }
      Some(keys.zip(got).toMap)
    }
    val oracle = ops.collect { case q: QueryOp => q.name }
      .flatMap(n => byName(n).oracle.map(n -> _)).toMap

    val out = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "setups" -> setups.toSeq,
      "sentinel_s" -> Seq(sentinelBefore, sentinelAfter),
      "samples" -> samples.toSeq.map(x => Map("pass" -> x.pass, "traced" -> x.traced,
        "name" -> x.name, "wall_s" -> (x.endMs - x.startMs) / 1e3,
        "build_s" -> (x.buildMs - x.startMs) / 1e3, "error" -> x.error.orNull)),
      "passes" -> passes.toSeq,
      "layers" -> layerPasses.toSeq,
      "heap_peak_mb" -> liveHeap.max,
      "check_errors" -> checkErrors.toMap,
      "etl_readback" -> etlReadback.orNull,
      "oracle" -> oracle)
    Files.write(Paths.get(s"$work/jvm.json"), Json(out).getBytes("UTF-8"))
    s.stop()
  }
}

/** process-wide counters read before and after a traced pass */
final case class Counters(gcMs: Long, compiles: Long, compileNs: Long,
                          graftRuleNs: Long, graftRuns: Long, graftEffective: Long) {
  def -(o: Counters): Counters = Counters(gcMs - o.gcMs, compiles - o.compiles,
    compileNs - o.compileNs, graftRuleNs - o.graftRuleNs, graftRuns - o.graftRuns,
    graftEffective - o.graftEffective)
}

object Counters {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
  import org.apache.spark.sql.catalyst.rules.RuleExecutor

  // "<rule>   <effective ns> / <total ns>   <effective runs> / <total runs>"
  private val Row = """^\s*(\S+)\s+(\d+) / (\d+)\s+(\d+) / (\d+)\s*$""".r

  def read(): Counters = {
    var (ns, runs, eff) = (0L, 0L, 0L)
    RuleExecutor.dumpTimeSpent().split("\n").foreach {
      case Row(rule, _, total, e, r) if rule.startsWith("graft.") =>
        ns += total.toLong; runs += r.toLong; eff += e.toLong
      case _ =>
    }
    Counters(Main.gcMs(), CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime, ns, runs, eff)
  }
}
