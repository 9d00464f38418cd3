package graft

import org.apache.spark.sql.SparkSession
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

  /** runs `body` with one session conf set, restoring its prior value */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
