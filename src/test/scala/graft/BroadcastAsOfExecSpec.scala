package graft

import org.apache.spark.sql.DataFrame
import graft.operators.JoinOps

/** BroadcastAsOfJoinExec + the cost-based AsOfJoinStrategy pick: under
  * the autoBroadcast threshold the native as-of plans the broadcast
  * exec (fact side exchange-free); at threshold -1 it plans the
  * shuffled merge exec; the two execs agree row-for-row across the
  * whole contract matrix, including the normalized-key paths (string
  * and composite struct keys through the one-field UnsafeProjection). */
class BroadcastAsOfExecSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  private def withThreshold[T](v: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    try { spark.conf.set(key, v); body }
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private lazy val fixture: (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5)
    val l = (1 to 1500).map { i =>
      (i.toLong,
        if (i % 41 == 0) None else Some("k" + rnd.nextInt(25)),
        if (i % 43 == 0) None else Some(rnd.nextInt(90000).toLong))
    }.toDF("id", "k", "t")
    val r = (1 to 400).map { i =>
      (if (i % 37 == 0) None else Some("k" + rnd.nextInt(25)),
        if (i % 39 == 0) None else Some(i.toLong * 223 + 7),
        rnd.nextDouble())
    }.toDF("k", "rt", "v")
    (l, r)
  }

  test("strategy picks broadcast under threshold, shuffled at -1") {
    val (l, r) = fixture
    def run() = JoinOps.asOfJoin(l, r, "k", "k", "t", "rt",
      rightVals = Seq("rt", "v"))
    val bPlan = finalPlan(run())
    assert(bPlan.contains("BroadcastAsOfJoin"), bPlan)
    assert(!"Exchange hashpartitioning".r.findAllIn(bPlan).hasNext,
      s"fact side must reach the broadcast as-of with no shuffle:\n$bPlan")
    withThreshold("-1") {
      val sPlan = finalPlan(run())
      assert(sPlan.contains("AsOfJoin") &&
        !sPlan.contains("BroadcastAsOfJoin"), sPlan)
      assert("Exchange hashpartitioning".r.findAllIn(sPlan).size == 2,
        s"shuffled exec keeps its two EnsureRequirements exchanges:\n$sPlan")
    }
  }

  test("broadcast == shuffled across direction x shape x tolerance " +
      "on the null-mixed string-key fixture") {
    val (l, r) = fixture
    for (fwd <- Seq(false, true); outer <- Seq(false, true);
         tol <- Seq(None, Some(15000L))) {
      def run() = JoinOps.asOfJoin(l, r, "k", "k", "t", "rt",
        rightVals = Seq("rt", "v"), leftOuter = outer, forward = fwd,
        tolerance = tol)
      val b = canon(run())
      val s = withThreshold("-1")(canon(run()))
      assert(b == s, s"fwd=$fwd outer=$outer tol=$tol")
    }
  }

  test("broadcast == shuffled on SQL NULLs and keys absent from the " +
      "dim side") {
    val s = spark
    import s.implicits._
    val l = Seq(
      (1L, java.lang.Long.valueOf(0L), java.lang.Long.valueOf(100L)),
      (2L, null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(50L)),
      (3L, java.lang.Long.valueOf(0L), null.asInstanceOf[java.lang.Long]),
      (4L, java.lang.Long.valueOf(9L), java.lang.Long.valueOf(70L)))
      .toDF("id", "k", "t")
    val r = Seq(
      (java.lang.Long.valueOf(0L), java.lang.Long.valueOf(90L), 1.0),
      (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(40L), 2.0),
      (java.lang.Long.valueOf(0L), null.asInstanceOf[java.lang.Long], 3.0))
      .toDF("k", "rt", "v")
    for (fwd <- Seq(false, true); outer <- Seq(false, true)) {
      def run() = JoinOps.asOfJoin(l, r, "k", "k", "t", "rt",
        rightVals = Seq("v"), leftOuter = outer, forward = fwd)
      assert(finalPlan(run()).contains("BroadcastAsOfJoin"))
      val b = canon(run())
      assert(b == withThreshold("-1")(canon(run())),
        s"fwd=$fwd outer=$outer")
      // only id 1 (key 0, t 100 >= rt 90) matches backward; nothing
      // matches forward; outer keeps all four rows
      val matched = if (fwd) Seq.empty[String] else Seq("[1,0,100,1.0]")
      assert(b.filterNot(_.endsWith(",null]")) == matched, b)
      assert(b.size == (if (outer) 4 else matched.size), b)
    }
  }

  test("broadcast == shuffled on timestamp times with tolerance in " +
      "micros") {
    val s = spark
    import s.implicits._
    val l = Seq((1L, "a", "2024-01-01 10:00:00"),
      (2L, "a", "2024-01-02 10:00:00"))
      .toDF("id", "k", "ts").withColumn("ts", to_timestamp(col("ts")))
    val r = Seq(("a", "2024-01-01 09:30:00", 1.0),
      ("a", "2024-01-02 07:00:00", 2.0))
      .toDF("k", "rts", "v").withColumn("rts", to_timestamp(col("rts")))
    for (tol <- Seq(None, Some(3600000000L))) { // 1 h in micros
      def run() = JoinOps.asOfJoin(l, r, "k", "k", "ts", "rts",
        rightVals = Seq("v"), leftOuter = true, tolerance = tol)
      assert(finalPlan(run()).contains("BroadcastAsOfJoin"))
      val b = canon(run())
      assert(b == withThreshold("-1")(canon(run())), s"tol=$tol")
      // the 3 h-stale match of id 2 survives only without the bound
      val v2 = b.find(_.startsWith("[2,")).get
      assert(v2.endsWith(if (tol.isEmpty) ",2.0]" else ",null]"), v2)
    }
  }

  test("composite struct keys through the ASOF SQL syntax broadcast") {
    val s = spark
    import s.implicits._
    Seq((1L, "a", 1, 100L), (2L, "a", 2, 100L), (3L, "b", 1, 50L))
      .toDF("id", "k1", "k2", "t").createOrReplaceTempView("bax_l")
    Seq(("a", 1, 60L, 10.0), ("a", 2, 70L, 20.0), ("b", 1, 80L, 30.0))
      .toDF("k1", "k2", "rt", "v").createOrReplaceTempView("bax_r")
    val q = """SELECT l.id, r.v FROM bax_l l
              |ASOF LEFT JOIN bax_r r
              |ON l.k1 = r.k1 AND l.k2 = r.k2 AND l.t >= r.rt
              |ORDER BY l.id""".stripMargin
    val df = spark.sql(q)
    val plan = finalPlan(df)
    assert(plan.contains("BroadcastAsOfJoin"), plan)
    val b = df.collect().map(x =>
      (x.getLong(0), if (x.isNullAt(1)) null else x.getDouble(1))).toSeq
    val sRes = withThreshold("-1") {
      spark.sql(q).collect().map(x =>
        (x.getLong(0), if (x.isNullAt(1)) null else x.getDouble(1))).toSeq
    }
    assert(b == sRes)
    assert(b == Seq((1L, 10.0), (2L, 20.0), (3L, null)))
  }
}
