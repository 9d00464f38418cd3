package graft

import graft.queries.{Q, Registry}
import org.apache.spark.metrics.source.CodegenMetrics

/** Repeated operations reuse their compiled classes (GraftSession's
  * codegen cache settings). Spark counts one compilation per generated
  * class it compiles, process-wide, in `CodegenMetrics`; a class served
  * from the cache adds nothing. */
class CodegenCacheSpec extends SparkSpec {

  /** the operations of perfbench's `query_mix` workload */
  private val mix = Seq("q04_join_factfact", "q31_sql_frontend",
    "s01_cosine_topk", "e24_asof_native", "st01_stream_tumbling",
    "g04_connected_components").map(Registry.byName)

  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  /** one operation as perfbench runs it: build, then a noop-sink action */
  private def runOnce(q: Q): Unit =
    try q.run(spark, sfTiny).write.format("noop").mode("overwrite").save()
    finally spark.catalog.clearCache()

  // Spark's default cache holds 100 classes; one interleaved pass needs
  // more than that, so each pass evicted the classes the next one needed.
  // Without GraftSession's settings the second pass compiled 113 classes
  // (first pass: 128).
  test("a second interleaved pass over the query_mix queries compiles nothing") {
    mix.foreach(_.setup.foreach(_(spark, sfTiny)))
    val first = compiles(mix.foreach(runOnce))
    val second = compiles(mix.foreach(runOnce))
    assert(first > 0, "the first pass compiled nothing: the counter is not live")
    assert(second == 0,
      s"second pass compiled $second classes (first pass: $first)")
  }

  // each replay runs in a fresh child session; with per-session artifact
  // classloaders every call recompiled the executor-side classes: the
  // second call compiled 14 without GraftSession's settings
  test("a second st01_stream_tumbling replay compiles nothing") {
    val st01 = Registry.byName("st01_stream_tumbling")
    runOnce(st01)
    val second = compiles(runOnce(st01))
    assert(second == 0, s"second replay compiled $second classes")
  }
}
