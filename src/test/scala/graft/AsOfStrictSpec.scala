package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import graft.plans.{AsOfJoinExec, BroadcastAsOfJoinExec}

/** Strict-inequality as-of (`strict = true`, DuckDB's `>`/`<` ASOF
  * comparators, pandas allow_exact_matches=False): exact time ties are
  * excluded from matching. Pinned on a TIE-RICH fixture (every key has
  * right rows exactly AT many left times) against the definitional
  * equality: on integer times, strict-at-t ≡ non-strict-at-(t-1)
  * backward and non-strict-at-(t+1) forward — both physical tiers
  * (shuffled merge + broadcast binary-search) must agree with it and
  * with each other. */
class AsOfStrictSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.functions._

  // tie-rich: left times {10,20,30} per key; right rows at EXACTLY
  // those times plus strictly-between ones, so strict vs non-strict
  // differ on every tied probe
  private lazy val left = {
    val s = spark
    import s.implicits._
    (for (k <- Seq("a", "b"); t <- Seq(10L, 20L, 30L); i <- 0 to 1)
      yield (k, t, s"$k-$t-$i")).toDF("k", "t", "tag")
  }
  private lazy val right = {
    val s = spark
    import s.implicits._
    (for (k <- Seq("a", "b"); rt <- Seq(5L, 10L, 15L, 20L, 25L, 30L))
      yield (k, rt, s"v$rt")).toDF("k", "rt", "v")
  }

  private def run(l: DataFrame, fwd: Boolean, strict: Boolean,
                  outer: Boolean = false): Seq[(String, Long, String)] =
    graft.operators.JoinOps.asOfJoin(l, right,
      "k", "k", "t", "rt", Seq("v"),
      leftOuter = outer, forward = fwd, strict = strict)
      .select(col("k"), col("t"), col("asof_v"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq
      .sortBy(x => (x._1, x._2, Option(x._3).getOrElse("")))

  private def withThreshold[A](v: String)(f: => A): A = {
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
    try f finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("strict backward == non-strict at t-1 on the tie-rich fixture") {
    for (thr <- Seq("-1", "10485760")) withThreshold(thr) {
      val strict = run(left, fwd = false, strict = true)
      val shifted = run(left.withColumn("t", col("t") - 1), fwd = false,
        strict = false).map { case (k, t, v) => (k, t + 1, v) }.sorted
      assert(strict == shifted, s"threshold=$thr")
      // and the tie really bites: at t=10 strict picks v5, non-strict v10
      assert(strict.contains(("a", 10L, "v5")))
      assert(run(left, fwd = false, strict = false)
        .contains(("a", 10L, "v10")))
    }
  }

  test("strict forward == non-strict at t+1; outer pads past the last tie") {
    for (thr <- Seq("-1", "10485760")) withThreshold(thr) {
      val strict = run(left, fwd = true, strict = true, outer = true)
      val shifted = run(left.withColumn("t", col("t") + 1), fwd = true,
        strict = false, outer = true)
        .map { case (k, t, v) => (k, t - 1, v) }
        .sortBy(x => (x._1, x._2, Option(x._3).getOrElse("")))
      assert(strict == shifted, s"threshold=$thr")
      // t=30 has no strictly-future right row -> null pad (non-strict
      // would match v30 exactly at the tie)
      assert(strict.filter(_._2 == 30L).forall(_._3 == null))
    }
  }

  test("both physical tiers plan and agree under strict") {
    val planned = withThreshold("10485760") {
      val df = graft.operators.JoinOps.asOfJoin(left, right,
        "k", "k", "t", "rt", Seq("v"), strict = true)
      assert(collectFirst(df.queryExecution.executedPlan) {
        case b: BroadcastAsOfJoinExec => b.strict }.contains(true))
      df.collect().toSeq
    }
    val shuffled = withThreshold("-1") {
      val df = graft.operators.JoinOps.asOfJoin(left, right,
        "k", "k", "t", "rt", Seq("v"), strict = true)
      assert(collectFirst(df.queryExecution.executedPlan) {
        case e: AsOfJoinExec => e.strict }.contains(true))
      df.collect().toSeq
    }
    assert(planned.toSet == shuffled.toSet && planned.nonEmpty)
  }

  test("parser syntax: > and < set strict and match the Scala API") {
    left.createOrReplaceTempView("ass_l")
    right.createOrReplaceTempView("ass_r")
    val viaSql = spark.sql(
      """SELECT l.k, l.t, r.v AS asof_v FROM ass_l l
        |ASOF JOIN ass_r r ON l.k = r.k AND l.t > r.rt""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSeq.sorted
    assert(viaSql == run(left, fwd = false, strict = true))
    val fwdSql = spark.sql(
      """SELECT l.k, l.t, r.v AS asof_v FROM ass_l l
        |ASOF JOIN ass_r r ON l.k = r.k AND l.t < r.rt""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSeq.sorted
    assert(fwdSql == run(left, fwd = true, strict = true))
  }

  test("strict composes with tolerance: staleness measured from the strict match") {
    // at t=20 strict matches v15 (gap 5); tolerance 4 kills it, 5 keeps it
    val keep = graft.operators.JoinOps.asOfJoin(left, right,
      "k", "k", "t", "rt", Seq("v"), strict = true, tolerance = Some(5L))
      .filter(col("t") === 20L).select("asof_v").distinct().collect()
    assert(keep.map(_.getString(0)).toSeq == Seq("v15"))
    val drop = graft.operators.JoinOps.asOfJoin(left, right,
      "k", "k", "t", "rt", Seq("v"), strict = true, tolerance = Some(4L))
      .filter(col("t") === 20L).collect()
    assert(drop.isEmpty)
  }
}
