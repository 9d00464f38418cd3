package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into three spark-private members a library needs:
  *
  *  - `Dataset.ofRows`, the one entry point that hands a constructed
  *    LogicalPlan back to the session: a library that contributes its
  *    own logical operators (graft.plans.AsOfJoin) needs it;
  *  - `SparkContext.listenerBus`, whose `waitUntilEmpty` is the exact
  *    drain for the measurement listeners (graft.PlanMetrics);
  *  - `Utils.createTempDir`, which registers the directory with Spark's
  *    shutdown-delete hook (graft.io.Scratch's root).
  *
  * Shimming them from inside the org.apache.spark.sql package is the
  * established pattern for Spark-extension libraries; this object is
  * the ONLY code in the repo living outside the graft namespace, and
  * each member must stay a one-liner. */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** blocks until every event posted so far has reached every listener
    * (stage and SQL-execution events, and the QueryExecutionListeners,
    * which ride the same shared queue); throws a TimeoutException after
    * 10 s */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** a new directory `<prefix>-<uuid>` under `java.io.tmpdir` that
    * Spark's shutdown hook deletes, with everything in it, at JVM exit */
  def tempDirDeletedAtExit(prefix: String): java.nio.file.Path =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix).toPath
}
