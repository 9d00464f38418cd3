package graft

import org.apache.spark.sql.functions._
import graft.expressions.VectorExpressions
import graft.functions.VectorFunctions

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = {
    VectorExpressions.registerAll(spark)
    Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (2L, Seq(0.1, 0.2), Seq(0.3, 0.7)),
      (3L, Seq.empty[Double], Seq.empty[Double])
    ).toDF("id", "a", "b")
  }

  test("vec_dot matches the HOF fold bit-for-bit") {
    val r = df.select(col("id"),
      call_function("vec_dot", col("a"), col("b")).as("native"),
      VectorFunctions.dot(col("a"), col("b")).as("hof")).collect()
    r.foreach { row =>
      assert(java.lang.Double.doubleToLongBits(row.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(row.getDouble(2)),
        s"mismatch for id=${row.getLong(0)}")
    }
    assert(r.find(_.getLong(0) == 1L).get.getDouble(1) == 32.0)
    assert(r.find(_.getLong(0) == 3L).get.getDouble(1) == 0.0)
  }

  test("vec_dot runs inside whole-stage codegen") {
    // a parquet-backed frame — over a local relation the optimizer folds
    // the projection away before any codegen node exists
    val dir = SparkSpec.tempDir("graft_vec").toString + "/t"
    df.write.parquet(dir)
    val plan = spark.read.parquet(dir)
      .select(call_function("vec_dot", col("a"), col("b")))
      .queryExecution.executedPlan.treeString
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen stage
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("vec_dot")), plan)
  }

  test("vec_dot rejects non-double-array inputs at analysis time") {
    intercept[Exception] {
      df.select(call_function("vec_dot", col("id"), col("a"))).collect()
    }
  }
}
