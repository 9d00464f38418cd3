package graft

import org.apache.spark.sql.AnalysisException
import graft.plans.{AsOfJoin, AsOfSyntax}

/** Parser-level ASOF JOIN syntax (AsOfSyntax.scala): the text rewrite,
  * the resolution rule's decomposition, and end-to-end equality with the
  * Scala-API operator the rule must plan into. */
class AsOfSyntaxSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def setup(): Unit = {
    val s = spark
    import s.implicits._
    Seq((1L, "a", 100L), (2L, "a", 250L), (3L, "b", 90L), (4L, "c", 500L))
      .toDF("id", "k", "t").createOrReplaceTempView("asx_l")
    Seq(("a", 80L, 1.0), ("a", 200L, 2.0), ("a", 300L, 3.0),
      ("b", 100L, 4.0), ("c", 100L, 5.0))
      .toDF("k", "rt", "v").createOrReplaceTempView("asx_r")
  }

  // ---- the text rewrite in isolation ---------------------------------

  test("rewrite leaves ASOF-free text byte-identical") {
    val q = "SELECT * FROM t JOIN u ON t.k = u.k WHERE t.x > 1"
    assert(AsOfSyntax.rewrite(q) eq q)
  }

  test("rewrite ignores asof inside strings, comments, identifiers") {
    val q = "SELECT 'ASOF JOIN', `asof` -- ASOF JOIN\nFROM asof_tbl"
    assert(AsOfSyntax.rewrite(q) == q)
  }

  test("rewrite splices the marker and drops TOLERANCE") {
    val out = AsOfSyntax.rewrite(
      "SELECT * FROM l ASOF JOIN r ON l.k = r.k AND l.t >= r.rt TOLERANCE 50")
    assert(out.contains("__graft_asof(50) AND"))
    assert(!out.toLowerCase.contains("asof join"))
    assert(!out.toUpperCase.contains("TOLERANCE"))
  }

  test("rewrite rejects unsupported shapes loudly") {
    intercept[AnalysisException] {
      AsOfSyntax.rewrite("SELECT * FROM l ASOF RIGHT JOIN r ON l.k = r.k")
    }
    intercept[AnalysisException] {
      AsOfSyntax.rewrite("SELECT * FROM l ASOF JOIN r USING (k)")
    }
  }

  test("asof as a bare identifier passes through untouched") {
    // column, alias position (not before JOIN), type name, ORDER BY —
    // none of these are the join modifier, none may error or change
    for (q <- Seq(
      "SELECT asof FROM snapshots",
      "SELECT s.asof, s.v FROM snapshots s ORDER BY asof",
      "CREATE TABLE t (asof TIMESTAMP, v DOUBLE)",
      "SELECT * FROM t WHERE asof > DATE '2024-01-01'"))
      assert(AsOfSyntax.rewrite(q) == q, q)
  }

  test("a tolerance COLUMN outside the ON region is never consumed") {
    val q = "SELECT * FROM l ASOF JOIN r ON l.k = r.k AND l.t >= r.rt " +
      "WHERE tolerance > 100"
    val out = AsOfSyntax.rewrite(q)
    assert(out.contains("WHERE tolerance > 100"), out)
    assert(out.contains("__graft_asof() AND"), out)
    // and no spurious "must be followed by an integer" on ORDER BY
    val q2 = "SELECT * FROM l ASOF JOIN r ON l.k = r.k AND l.t >= r.rt " +
      "ORDER BY tolerance"
    assert(AsOfSyntax.rewrite(q2).contains("ORDER BY tolerance"))
  }

  test("composite keys with DIFFERENT column names and mixed widths") {
    val s = spark
    import s.implicits._
    Seq((1L, "a", 1, 100L), (2L, "a", 2, 100L))
      .toDF("id", "kx", "ky", "t").createOrReplaceTempView("asx_l3")
    // right key ky2 is BIGINT where left ky is INT: one side widens,
    // and the names differ on both components
    Seq(("a", 1L, 50L, 10.0), ("a", 2L, 60L, 20.0))
      .toDF("ka", "kb", "rt", "v").createOrReplaceTempView("asx_r3")
    val rows = spark.sql(
      """SELECT l.id, r.v FROM asx_l3 l
        |ASOF JOIN asx_r3 r
        |ON l.kx = r.ka AND l.ky = r.kb AND l.t >= r.rt
        |ORDER BY l.id""".stripMargin).collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 10.0), (2L, 20.0)))
  }

  // ---- end-to-end through spark.sql ----------------------------------

  test("backward inner ASOF JOIN matches the Scala-API operator") {
    setup()
    val sqlRes = spark.sql(
      """SELECT l.id, l.k, l.t, r.rt, r.v FROM asx_l l
        |ASOF JOIN asx_r r ON l.k = r.k AND l.t >= r.rt
        |ORDER BY l.id""".stripMargin)
    // the plan must contain the native node, not a plain join
    assert(sqlRes.queryExecution.optimizedPlan.collect {
      case _: AsOfJoin => true }.nonEmpty)
    val api = graft.operators.JoinOps.asOfJoin(
      spark.table("asx_l"), spark.table("asx_r"),
      leftKey = "k", rightKey = "k", leftTime = "t", rightTime = "rt",
      rightVals = Seq("rt", "v"))
      .select(col("id"), col("k"), col("t"),
        col("asof_rt").as("rt"), col("asof_v").as("v"))
      .orderBy("id")
    assert(sqlRes.collect().toSeq == api.collect().toSeq)
  }

  test("ASOF LEFT JOIN null-pads unmatched left rows") {
    setup()
    val rows = spark.sql(
      """SELECT l.id, r.v FROM asx_l l
        |ASOF LEFT JOIN asx_r r ON l.k = r.k AND l.t >= r.rt
        |ORDER BY l.id""".stripMargin).collect()
    assert(rows.length == 4)
    // id=3 (k=b, t=90) has no right row at-or-before 90 -> null pad
    assert(rows.find(_.getLong(0) == 3L).get.isNullAt(1))
    assert(rows.find(_.getLong(0) == 4L).get.getDouble(1) == 5.0)
  }

  test("forward direction from a flipped inequality") {
    setup()
    val rows = spark.sql(
      """SELECT l.id, r.rt FROM asx_l l
        |ASOF JOIN asx_r r ON l.k = r.k AND l.t <= r.rt
        |ORDER BY l.id""".stripMargin).collect()
    // id=1 (a,100): earliest rt >= 100 is 200; id=2 (a,250): 300
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 200L), (2L, 300L), (3L, 100L)))
  }

  test("TOLERANCE bounds staleness like the exec's native bound") {
    setup()
    val rows = spark.sql(
      """SELECT l.id, r.rt FROM asx_l l
        |ASOF JOIN asx_r r ON l.k = r.k AND l.t >= r.rt TOLERANCE 50
        |ORDER BY l.id""".stripMargin).collect()
    // id=2 (a,250) matches rt=200 (gap 50, inside); id=4 (c,500) gap 400
    // drops; id=1 (a,100) matches 80 (gap 20)
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 80L), (2L, 200L)))
    // a bound above Int.MaxValue is a BIGINT literal and still reaches
    // the exec: nothing is that stale, so the three unbounded matches stay
    assert(spark.sql("""SELECT l.id FROM asx_l l ASOF JOIN asx_r r
      ON l.k = r.k AND l.t >= r.rt TOLERANCE 7200000000""").count() == 3)
  }

  test("multiple key equalities compose into a struct key") {
    val s = spark
    import s.implicits._
    Seq((1L, "a", 1, 100L), (2L, "a", 2, 100L))
      .toDF("id", "k1", "k2", "t").createOrReplaceTempView("asx_l2")
    Seq(("a", 1, 50L, 10.0), ("a", 2, 60L, 20.0))
      .toDF("k1", "k2", "rt", "v").createOrReplaceTempView("asx_r2")
    val rows = spark.sql(
      """SELECT l.id, r.v FROM asx_l2 l
        |ASOF JOIN asx_r2 r
        |ON l.k1 = r.k1 AND l.k2 = r.k2 AND l.t >= r.rt
        |ORDER BY l.id""".stripMargin).collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 10.0), (2L, 20.0)))
  }

  test("OR conditions and missing inequalities fail with named errors") {
    setup()
    val e1 = intercept[AnalysisException] {
      spark.sql("SELECT * FROM asx_l l ASOF JOIN asx_r r " +
        "ON l.k = r.k OR l.t >= r.rt").collect()
    }
    assert(e1.getMessage.contains("ASOF JOIN"))
    val e2 = intercept[AnalysisException] {
      spark.sql("SELECT * FROM asx_l l ASOF JOIN asx_r r " +
        "ON l.k = r.k").collect()
    }
    assert(e2.getMessage.contains("time inequality"))
  }

  test("strict comparators decompose: > is backward-no-ties") {
    setup()
    // id=4 (k=c, t=500) matches rt=100 either way; with a right row AT
    // the probe time the strict form must skip it — asx_r has (b,100)
    // and asx_l has (b,90): non-strict forward t<=rt matches 100,
    // strict forward t<rt also matches 100 (90<100); use the self-tie:
    // strict backward from (a,250) skips nothing (no tie) -> same as
    // non-strict, while (a,100)'s own t exists? asx_r has no rt=100 for
    // a, so pin the decomposition flag itself plus AsOfStrictSpec's
    // tie-rich equality
    val df = spark.sql("SELECT l.id, r.v FROM asx_l l " +
      "ASOF JOIN asx_r r ON l.k = r.k AND l.t > r.rt")
    val nodes = df.queryExecution.optimizedPlan.collect {
      case a: AsOfJoin => (a.forward, a.strict) }
    assert(nodes == Seq((false, true)))
    val fwdNodes = spark.sql("SELECT l.id, r.v FROM asx_l l " +
      "ASOF JOIN asx_r r ON l.k = r.k AND l.t < r.rt")
      .queryExecution.optimizedPlan.collect {
        case a: AsOfJoin => (a.forward, a.strict) }
    assert(fwdNodes == Seq((true, true)))
  }

  test("self-join through the syntax: analyzer dedup keeps sides apart") {
    setup()
    val rows = spark.sql(
      """SELECT a.id, b.t FROM asx_l a
        |ASOF JOIN asx_l b ON a.k = b.k AND a.t >= b.t
        |ORDER BY a.id""".stripMargin).collect()
    // every row at least matches itself (t >= t, same key)
    assert(rows.length == 4)
  }

  // ---- round-16 advice closures ---------------------------------------

  test("a NULL composite-key component never matches (SQL equality)") {
    val s = spark
    import s.implicits._
    // both sides carry (k1='a', k2=NULL) rows: under SQL equality
    // `l.k2 = r.k2` a NULL never equals a NULL, so id=2 must NOT match —
    // an unguarded CreateStruct key would pair the NULL fields up
    Seq((1L, "a", Some(1L), 100L), (2L, "a", None, 100L))
      .toDF("id", "k1", "k2", "t").createOrReplaceTempView("asxn_l")
    Seq(("a", Some(1L), 50L, 10.0), ("a", None, 50L, 99.0))
      .toDF("k1", "k2", "rt", "v").createOrReplaceTempView("asxn_r")
    val inner = spark.sql(
      """SELECT l.id, r.v FROM asxn_l l
        |ASOF JOIN asxn_r r
        |ON l.k1 = r.k1 AND l.k2 = r.k2 AND l.t >= r.rt
        |ORDER BY l.id""".stripMargin).collect()
    assert(inner.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 10.0)))
    // outer: the NULL-component row is retained, null-padded
    val outer = spark.sql(
      """SELECT l.id, r.v FROM asxn_l l
        |ASOF LEFT JOIN asxn_r r
        |ON l.k1 = r.k1 AND l.k2 = r.k2 AND l.t >= r.rt
        |ORDER BY l.id""".stripMargin).collect()
    assert(outer.length == 2 && outer.find(_.getLong(0) == 2L).get.isNullAt(1))
  }

  test("a plain JOIN before the ASOF's ON errs instead of mis-binding") {
    val e = intercept[AnalysisException] {
      AsOfSyntax.rewrite(
        "SELECT * FROM a ASOF JOIN b JOIN c ON b.x = c.x AND b.t >= c.t")
    }
    assert(e.getMessage.contains("no ON clause before the next JOIN"))
    // but a plain join whose ON already closed the ASOF's region is fine
    val ok = AsOfSyntax.rewrite(
      "SELECT * FROM a ASOF JOIN b ON a.k = b.k AND a.t >= b.t " +
        "JOIN c ON b.x = c.x")
    assert(ok.contains("__graft_asof() AND") && ok.contains("JOIN c ON"))
  }

  test("TOLERANCE rejects signed and non-adjacent literals") {
    val e = intercept[AnalysisException] {
      AsOfSyntax.rewrite("SELECT * FROM l ASOF JOIN r " +
        "ON l.k = r.k AND l.t >= r.rt TOLERANCE -5")
    }
    assert(e.getMessage.contains("nonnegative integer"))
  }

  test("a dotted x.tolerance inside the ON region is a column, not the clause") {
    val q = "SELECT * FROM l ASOF JOIN r " +
      "ON l.k = r.k AND l.t >= r.rt AND r.tolerance = 5"
    val out = AsOfSyntax.rewrite(q)
    assert(out.contains("r.tolerance = 5"), out)
    assert(out.contains("__graft_asof() AND"), out)
  }

  test("syntax errors carry a user error class, not INTERNAL_ERROR") {
    val e = intercept[AnalysisException] {
      AsOfSyntax.rewrite("SELECT * FROM l ASOF RIGHT JOIN r ON l.k = r.k")
    }
    assert(e.getCondition == "USER_RAISED_EXCEPTION", e.getCondition)
    assert(!e.getMessage.toLowerCase.contains("bug"), e.getMessage)
  }

  // ---- the syntax plans one node and runs no job at analysis --------

  test("ASOF JOIN text on a hot key runs no job at analysis and plans " +
      "one node, whatever spark.graft.asof.auto says") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(61)
    (1 to 2000).map { i =>
      val k = if (rnd.nextDouble() < 0.8) 0L else 1L + rnd.nextInt(20)
      (i.toLong, k, rnd.nextInt(100000).toLong)
    }.toDF("id", "k", "t").createOrReplaceTempView("skx_l")
    (1 to 2000).map { i =>
      val k = if (rnd.nextDouble() < 0.8) 0L else 1L + rnd.nextInt(20)
      (k, i.toLong * 66 + 1, rnd.nextDouble())
    }.toDF("k", "rt", "v").createOrReplaceTempView("skx_r")
    try {
      val text = """SELECT * FROM skx_l l
        ASOF JOIN skx_r r ON l.k = r.k AND l.t >= r.rt"""
      // the key is no graft conf: a session that still sets it gets the
      // same one-node plan as any other
      withConf("spark.graft.asof.auto", "true") {
        val jobs = jobsDuring(spark.sql(text))
        assert(jobs == 0, s"$jobs jobs ran while analysing the text")
        val nodes = spark.sql(text).queryExecution.optimizedPlan.collect {
          case a: AsOfJoin => a }
        assert(nodes.size == 1, nodes)
      }
    } finally {
      spark.catalog.dropTempView("skx_l")
      spark.catalog.dropTempView("skx_r")
    }
  }
}
