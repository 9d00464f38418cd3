package graft

import org.apache.spark.sql.functions._

import graft.queries.{Q, Registry}
import graft.tools.Audit

/** The audit sweep. Its single-partition detector: an unpartitioned
  * `Window.orderBy` funnels EVERY row through one task and must be
  * flagged; a final global aggregate's SinglePartition exchange (input =
  * one pre-aggregated row per upstream task) must NOT be — both pinned
  * against real executed-plan text, not synthetic strings. Its codegen
  * tap must see the INFO-level huge-method fallback, and one throwing
  * query must fail the sweep without stopping it. */
class AuditSpec extends SparkSpec {
  import spark.implicits._

  test("unpartitioned Window.orderBy is flagged as a bad single partition") {
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 100).toDF("x")
      .withColumn("rn", row_number().over(Window.orderBy(col("x"))))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange SinglePartition"),
      s"expected the anti-pattern plan to contain the exchange:\n$plan")
    assert(Audit.badSinglePartitions(plan) > 0,
      s"detector missed the unpartitioned window:\n$plan")
  }

  test("final global aggregate's SinglePartition exchange is whitelisted") {
    val df = (1 to 100).toDF("x").agg(sum(col("x")).as("s"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange SinglePartition"),
      s"expected a global-agg plan to contain the exchange:\n$plan")
    assert(Audit.badSinglePartitions(plan) == 0,
      s"detector flagged a legitimate partial->final aggregate:\n$plan")
  }

  private val q04 = Registry.byName("q04_join_factfact")

  test("a query over the huge-method limit is flagged as degraded") {
    val clean = Audit.sweep(spark, Seq(q04), sfTiny)
    assert(clean.map(_.failed) == Seq(false), clean)
    assert(clean.head.line.contains("codegen-clean"), clean)
    // Spark logs this fallback at INFO, below the WARN the specs log at
    spark.conf.set("spark.sql.codegen.hugeMethodLimit", "100")
    val degraded =
      try Audit.sweep(spark, Seq(q04), sfTiny)
      finally spark.conf.unset("spark.sql.codegen.hugeMethodLimit")
    assert(degraded.map(_.failed) == Seq(true), degraded)
    assert(degraded.head.line.contains("DEGRADED: Found too long generated codes"),
      degraded)
  }

  test("a throwing query is an error line and the sweep goes on") {
    val boom = Q("boom", (_, _) => throw new IllegalStateException("boom!"))
    val findings = Audit.sweep(spark, Seq(boom, q04), sfTiny)
    assert(findings.map(_.name) == Seq("boom", q04.name))
    assert(findings.map(_.failed) == Seq(true, false), findings)
    assert(findings.head.line.contains("ERROR: boom!"), findings)
  }
}
