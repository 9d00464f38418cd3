package graft

import org.apache.spark.sql.{GraftPlanBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for test suites — one session per JVM (Spark
  * getOrCreate reuses it across suites in the forked test JVM). The
  * engine's own configuration (GraftSession.builder) with a fixed thread
  * and shuffle-partition count, so specs run under the settings the
  * mains run under. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  val sfTiny = "/root/testdata/sf0.001"

  /** Spark jobs submitted while `body` runs, counted by a listener
    * after draining the events queued before and by it */
  def jobsDuring[T](body: => T): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    GraftPlanBridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; GraftPlanBridge.drainListeners(spark); jobs.get }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  /** runs `body` with one session conf set, restoring its prior value */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

object SparkSpec {

  /** one root per test JVM; Spark's shutdown hook deletes it, with
    * everything in it, when the JVM exits */
  private lazy val root: java.nio.file.Path =
    GraftPlanBridge.tempDirDeletedAtExit("graft_spec")

  /** a fresh directory `<tag><random>` under the per-JVM root: a spec's
    * scratch files never outlive the test run */
  def tempDir(tag: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(root, tag)
}
