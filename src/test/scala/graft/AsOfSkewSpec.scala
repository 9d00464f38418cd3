package graft

import org.apache.spark.sql.DataFrame
import graft.operators.JoinOps

/** Two claims about as-of joins under key skew, both pinned:
  *
  *  1. AQE's skew-join optimization does NOT split the native
  *     AsOfJoinExec's exchanges — OptimizeSkewedJoin pattern-matches the
  *     built-in SortMergeJoin/ShuffledHashJoin execs only. The spec
  *     proves the harness would see a split (positive control on a plain
  *     SMJ with the same data and thresholds), then shows the as-of plan
  *     unchanged.
  *  2. asOfJoinTimeSliced — the documented mitigation — equals
  *     asOfJoin row-for-row on a Zipf-skewed fixture, across
  *     inner/outer, tolerance, null keys/times, and slice widths that
  *     leave some slices empty.
  */
class AsOfSkewSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  /** Zipf-ish: key 0 owns ~80% of rows; payload pads partition bytes so
    * tiny skew thresholds trigger on the control join */
  private def skewed(n: Int, seed: Int): (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    val pad = "x" * 64
    val lRows = (1 to n).map { i =>
      val k = if (rnd.nextDouble() < 0.8) 0L else 1L + rnd.nextInt(20)
      (i.toLong, k, rnd.nextInt(100000).toLong, pad)
    }
    // rt is globally unique (odd, strictly increasing): duplicate
    // (key, rt) pairs would make BOTH plans' tie-break unspecified
    // (documented contract), so equality could not be asserted
    val rRows = (1 to n).map { i =>
      val k = if (rnd.nextDouble() < 0.8) 0L else 1L + rnd.nextInt(20)
      (k, i.toLong * 66 + 1, rnd.nextDouble(), pad)
    }
    (lRows.toDF("id", "k", "t", "lpad"), rRows.toDF("k", "rt", "v", "rpad"))
  }

  private def withSkewConfs[T](body: => T): T = {
    val c = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k =>
      k -> c.getOption(k))
    try {
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
      c.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      body
    } finally saved.foreach { case (k, v) =>
      v.fold(c.unset(k))(c.set(k, _)) }
  }

  test("pin: AQE splits the control SMJ but NOT the as-of exec") {
    val (l, r) = skewed(4000, seed = 7)
    withSkewConfs {
      // positive control: same data, plain equi-join -> skew split fires
      val smj = l.join(r, "k")
      // run THIS queryExecution's map stages so AQE finalizes its plan;
      // the iterator is never read, so none of the ~10M joined rows
      // reaches the driver
      smj.toLocalIterator()
      val smjPlan = smj.queryExecution.executedPlan.toString
      assert(smjPlan.contains("skew=true"),
        s"control SMJ did not skew-split — thresholds wrong?\n$smjPlan")
      // the native as-of exec: same data, same thresholds -> no split
      val aoj = JoinOps.asOfJoin(l, r, "k", "k", "t", "rt",
        rightVals = Seq("rt", "v"))
      aoj.toLocalIterator()
      val aojPlan = aoj.queryExecution.executedPlan.toString
      assert(aojPlan.contains("AsOfJoin"), aojPlan)
      assert(!aojPlan.contains("skew=true"),
        "AsOfJoinExec unexpectedly skew-split — update the scaladoc " +
          s"claim and retire asOfJoinTimeSliced's rationale\n$aojPlan")
    }
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("time-sliced == native on the skewed fixture (inner)") {
    val (l, r) = skewed(3000, seed = 11)
    val native = JoinOps.asOfJoin(l, r, "k", "k", "t", "rt",
      rightVals = Seq("rt", "v"))
    val sliced = JoinOps.asOfJoinTimeSliced(l, r, "k", "k", "t", "rt",
      rightVals = Seq("rt", "v"), sliceWidth = 10000L)
    assert(canon(sliced) == canon(native))
  }

  test("time-sliced == native with LEFT OUTER + tolerance + nulls") {
    val s = spark
    import s.implicits._
    val l = Seq(
      (1L, java.lang.Long.valueOf(0L), java.lang.Long.valueOf(100L)),
      (2L, java.lang.Long.valueOf(0L), java.lang.Long.valueOf(25000L)),
      (3L, null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(50L)),
      (4L, java.lang.Long.valueOf(0L), null.asInstanceOf[java.lang.Long]),
      (5L, java.lang.Long.valueOf(3L), java.lang.Long.valueOf(99999L)),
      (6L, java.lang.Long.valueOf(4L), java.lang.Long.valueOf(10L)))
      .toDF("id", "k", "t")
    val r = Seq(
      (java.lang.Long.valueOf(0L), java.lang.Long.valueOf(90L), 1.0),
      (java.lang.Long.valueOf(0L), java.lang.Long.valueOf(60L), 2.0),
      (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(40L), 3.0),
      (java.lang.Long.valueOf(3L), null.asInstanceOf[java.lang.Long], 4.0),
      (java.lang.Long.valueOf(3L), java.lang.Long.valueOf(70000L), 5.0))
      .toDF("k", "rt", "v")
    for (outer <- Seq(false, true); tol <- Seq(None, Some(5000L));
         fwd <- Seq(false, true)) {
      val native = JoinOps.asOfJoin(l, r, "k", "k", "t", "rt",
        rightVals = Seq("rt", "v"), leftOuter = outer, forward = fwd,
        tolerance = tol)
      val sliced = JoinOps.asOfJoinTimeSliced(l, r, "k", "k", "t", "rt",
        rightVals = Seq("rt", "v"), sliceWidth = 1000L,
        leftOuter = outer, forward = fwd, tolerance = tol)
      assert(canon(sliced) == canon(native),
        s"outer=$outer tol=$tol fwd=$fwd")
    }
  }

  test("time-sliced forward == native forward on the skewed fixture") {
    val (l, r) = skewed(2000, seed = 19)
    val native = JoinOps.asOfJoin(l, r, "k", "k", "t", "rt",
      rightVals = Seq("rt", "v"), forward = true)
    val sliced = JoinOps.asOfJoinTimeSliced(l, r, "k", "k", "t", "rt",
      rightVals = Seq("rt", "v"), sliceWidth = 7000L, forward = true)
    assert(canon(sliced) == canon(native))
  }

  test("time-sliced == native on timestamp time columns") {
    val s = spark
    import s.implicits._
    val l = Seq((1L, "a", "2024-01-01 10:00:00"),
      (2L, "a", "2024-01-03 10:00:00"), (3L, "b", "2024-01-02 00:00:00"))
      .toDF("id", "k", "ts").withColumn("ts", to_timestamp(col("ts")))
    val r = Seq(("a", "2024-01-01 09:00:00", 1.0),
      ("a", "2024-01-02 09:00:00", 2.0), ("b", "2024-01-01 23:00:00", 3.0))
      .toDF("k", "rts", "v").withColumn("rts", to_timestamp(col("rts")))
    val native = JoinOps.asOfJoin(l, r, "k", "k", "ts", "rts",
      rightVals = Seq("rts", "v"))
    val sliced = JoinOps.asOfJoinTimeSliced(l, r, "k", "k", "ts", "rts",
      rightVals = Seq("rts", "v"), sliceWidth = 86400000000L) // 1 day
    assert(canon(sliced) == canon(native))
  }

  test("time-sliced == native when carry sources sit 2+ empty slices " +
      "away") {
    val s = spark
    import s.implicits._
    // key 0's right rows sit at t 5, 7 and 500, 503, so at width 50 its
    // right side occupies slices 0 and 10 only: left rows in slices 2-9
    // carry from 2-9 empty slices back (backward) or ahead (forward).
    // t 500 on both sides is an exact tie for strict to exclude; key 2
    // has no right rows at all
    val l = (Seq(1L, 6L, 100L, 200L, 300L, 400L, 499L, 500L, 501L, 700L,
        900L).map(t => (0L, t)) ++
      Seq(10L, 250L, 251L, 600L).map(t => (1L, t)) ++ Seq((2L, 50L)))
      .zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      .toDF("id", "k", "t")
    val r = Seq((0L, 5L, 1.0), (0L, 7L, 2.0), (0L, 500L, 3.0),
      (0L, 503L, 4.0), (1L, 250L, 5.0)).toDF("k", "rt", "v")
    for (fwd <- Seq(false, true); strict <- Seq(false, true);
         w <- Seq(1L, 30L, 50L, 100L)) {
      val native = JoinOps.asOfJoin(l, r, "k", "k", "t", "rt",
        rightVals = Seq("rt", "v"), forward = fwd, strict = strict)
      val sliced = JoinOps.asOfJoinTimeSliced(l, r, "k", "k", "t", "rt",
        rightVals = Seq("rt", "v"), sliceWidth = w, forward = fwd,
        strict = strict)
      assert(canon(sliced) == canon(native),
        s"fwd=$fwd strict=$strict width=$w")
    }
  }

  // ---- round-16: automatic skew routing --------------------------------

  private def asOfNodes(df: DataFrame): Seq[graft.plans.AsOfJoin] =
    df.queryExecution.optimizedPlan.collect {
      case a: graft.plans.AsOfJoin => a }

  test("auto routing picks the sliced plan for hot keys and equals native") {
    val (l, r) = skewed(3000, seed = 23)
    for (outer <- Seq(false, true); fwd <- Seq(false, true)) {
      val native = JoinOps.asOfJoin(l, r, "k", "k", "t", "rt",
        rightVals = Seq("rt", "v"), leftOuter = outer, forward = fwd)
      val auto = JoinOps.asOfJoinAuto(l, r, "k", "k", "t", "rt",
        rightVals = Seq("rt", "v"), leftOuter = outer, forward = fwd)
      // key 0 owns ~80% of 3000 rows >> total/parallelism, so the plan
      // must carry THREE as-of joins: the sliced one (struct (k, slice)
      // composite key) for the hot split, its carry-in join (atomic key,
      // slice index as time) and the native cold path
      val nodes = asOfNodes(auto)
      assert(nodes.size == 3, s"outer=$outer fwd=$fwd:\n$nodes")
      assert(nodes.count(_.leftKey.dataType
        .isInstanceOf[org.apache.spark.sql.types.StructType]) == 1)
      assert(canon(auto) == canon(native), s"outer=$outer fwd=$fwd")
    }
  }

  test("auto routing with NO hot keys degenerates to the single native plan") {
    val s = spark
    import s.implicits._
    // uniform: every key appears twice — nothing crosses total/par
    val l = (1 to 200).map(i => (i.toLong, i.toLong % 100, i * 10L))
      .toDF("id", "k", "t")
    val r = (1 to 200).map(i => (i.toLong % 100, i * 7L + 1, i * 1.0))
      .toDF("k", "rt", "v")
    val auto = JoinOps.asOfJoinAuto(l, r, "k", "k", "t", "rt",
      rightVals = Seq("rt", "v"))
    assert(asOfNodes(auto).size == 1)
    assert(canon(auto) == canon(JoinOps.asOfJoin(l, r, "k", "k",
      "t", "rt", rightVals = Seq("rt", "v"))))
  }

  test("auto routing honors targetRowsPerTask and strict composes") {
    val (l, r) = skewed(1500, seed = 29)
    // absurdly high target -> no hot keys even on the Zipf fixture
    val cold = JoinOps.asOfJoinAuto(l, r, "k", "k", "t", "rt",
      rightVals = Seq("v"), targetRowsPerTask = 10000000L)
    assert(asOfNodes(cold).size == 1)
    // tiny target -> hot routing; strict threads through both branches
    val auto = JoinOps.asOfJoinAuto(l, r, "k", "k", "t", "rt",
      rightVals = Seq("v"), strict = true, targetRowsPerTask = 50L)
    assert(asOfNodes(auto).size == 3)
    assert(canon(auto) == canon(JoinOps.asOfJoin(l, r, "k", "k",
      "t", "rt", rightVals = Seq("v"), strict = true)))
  }

  test("auto routing survives a hot key whose times are all NULL") {
    val s = spark
    import s.implicits._
    // key 0 has the most rows but every time is NULL: it can never
    // match, so it must not enter the hot-key arithmetic (an unfiltered
    // histogram would surface null mn/mx into the driver's getLong) —
    // it routes cold and, under outer, pads
    val l = ((1 to 80).map(i =>
        (i.toLong, java.lang.Long.valueOf(0L),
          null.asInstanceOf[java.lang.Long])) ++
      (1 to 60).map(i =>
        (100L + i, java.lang.Long.valueOf(1L),
          java.lang.Long.valueOf(i * 10L))))
      .toDF("id", "k", "t")
    val r = (1 to 30).map(i => (1L, i * 17L + 1, i * 1.0))
      .toDF("k", "rt", "v")
    for (outer <- Seq(false, true)) {
      val native = JoinOps.asOfJoin(l, r, "k", "k", "t", "rt",
        rightVals = Seq("v"), leftOuter = outer)
      val auto = JoinOps.asOfJoinAuto(l, r, "k", "k", "t", "rt",
        rightVals = Seq("v"), leftOuter = outer, targetRowsPerTask = 20L)
      // key 1 (60 rows, real times) is the only hot key -> the hot
      // route's 3 nodes
      assert(asOfNodes(auto).size == 3, s"outer=$outer")
      assert(canon(auto) == canon(native), s"outer=$outer")
    }
  }

  // ---- round-17: sketch-fed detection and caps -------------------------

  /** the exact hot-key plan from a plain groupBy histogram over (k, t),
    * sharing no code with asOfSkewPlan: keys with more than `target`
    * rows, capped at the top max(4*par, 64) by (count desc, key asc),
    * and w19's width — the MIN over hot keys of span / ceil(n/target) */
  private def histogramPlan(l: DataFrame, target: Long): (Set[Any], Long) = {
    val maxHot = math.max(4 * spark.sparkContext.defaultParallelism, 64)
    val hot = l.filter(col("k").isNotNull && col("t").isNotNull)
      .groupBy("k")
      .agg(count(lit(1)).as("n"), min("t").as("mn"), max("t").as("mx"))
      .filter(col("n") > target)
      .orderBy(col("n").desc, col("k").asc).limit(maxHot).collect()
    val width = hot.map { r =>
      val slices = (r.getLong(1) + target - 1) / target
      val span = r.getLong(3) - r.getLong(2) + 1
      math.max(1L, (span + slices - 1) / slices)
    }.min
    (hot.map(_.get(0)).toSet, width)
  }

  test("sketch and exact histogram find the SAME hot set and width") {
    val (l, _) = skewed(3000, seed = 37)
    val sketch = JoinOps.asOfSkewPlan(l, "k", "t", targetRowsPerTask = 50L)
    assert(sketch.isDefined)
    val (hot, width) = histogramPlan(l, 50L)
    assert(sketch.get._1.toSet == hot,
      s"hot sets diverge: exact=$hot sketch=${sketch.get._1}")
    assert(sketch.get._2 == width,
      s"widths diverge: exact=$width sketch=${sketch.get._2}")
  }

  test("explicit target finer than the sketch can certify falls back " +
      "to the exact histogram") {
    val s = spark
    import s.implicits._
    // 10000 rows > 4096 x (target + 1): err = 10000/4096 = 2 > target 1,
    // so the sketch cannot prove every key above 1 row is present. 5000
    // keys of 2 rows each are ALL hot, more than the sketch holds: a
    // plan built from sketch candidates would pick its 64 from whichever
    // keys survived the sketch, while the exact histogram picks keys
    // 0..63 (count ties break on the key)
    val rnd = new scala.util.Random(41)
    val l = (0 until 10000).map(i =>
      (i.toLong, (i % 5000).toLong, rnd.nextInt(100000).toLong))
      .toDF("id", "k", "t")
    val fb = JoinOps.asOfSkewPlan(l, "k", "t", targetRowsPerTask = 1L)
    assert(fb.isDefined)
    val (hot, width) = histogramPlan(l, 1L)
    assert(fb.get._1.toSet == hot)
    assert(fb.get._2 == width)
  }

  test("hot set is capped at top-K by count; routing stays correct") {
    val s = spark
    import s.implicits._
    // 400 keys x ~5 rows each, target=1: EVERY key crosses the bar —
    // the round-16 shape where the driver list and the isin literal
    // grew key-cardinality-sized (advice r16); the cap bounds both,
    // and the un-capped remainder routes cold, which must not change
    // results
    val l = (1 to 2000).map(i =>
      (i.toLong, (i % 400).toLong, (i * 13 % 10000).toLong))
      .toDF("id", "k", "t")
    val r = (1 to 1200).map(i =>
      ((i % 400).toLong, i * 17L + 1, i * 1.0)).toDF("k", "rt", "v")
    val maxHot = math.max(
      4 * spark.sparkContext.defaultParallelism, 64)
    val plan = JoinOps.asOfSkewPlan(l, "k", "t", targetRowsPerTask = 1L)
    assert(plan.isDefined)
    assert(plan.get._1.size <= maxHot,
      s"hot set ${plan.get._1.size} > cap $maxHot")
    val native = JoinOps.asOfJoin(l, r, "k", "k", "t", "rt",
      rightVals = Seq("rt", "v"))
    val auto = JoinOps.asOfJoinAuto(l, r, "k", "k", "t", "rt",
      rightVals = Seq("rt", "v"), targetRowsPerTask = 1L)
    assert(canon(auto) == canon(native))
  }

  test("auto == native across strict x tolerance x outer x forward " +
      "with hot routing live") {
    val (l, r) = skewed(1500, seed = 43)
    for (outer <- Seq(false, true); fwd <- Seq(false, true);
         strict <- Seq(false, true); tol <- Seq(None, Some(5000L))) {
      val native = JoinOps.asOfJoin(l, r, "k", "k", "t", "rt",
        rightVals = Seq("rt", "v"), leftOuter = outer, forward = fwd,
        tolerance = tol, strict = strict)
      val auto = JoinOps.asOfJoinAuto(l, r, "k", "k", "t", "rt",
        rightVals = Seq("rt", "v"), leftOuter = outer, forward = fwd,
        tolerance = tol, strict = strict, targetRowsPerTask = 50L)
      assert(asOfNodes(auto).size == 3,
        s"outer=$outer fwd=$fwd strict=$strict tol=$tol: routing dead")
      assert(canon(auto) == canon(native),
        s"outer=$outer fwd=$fwd strict=$strict tol=$tol")
    }
  }

  test("degenerate widths: one giant slice and one-row slices") {
    val (l, r) = skewed(500, seed = 3)
    val native = canon(JoinOps.asOfJoin(l, r, "k", "k", "t", "rt",
      rightVals = Seq("v")))
    for (w <- Seq(1L, 1000000000L)) {
      val sliced = JoinOps.asOfJoinTimeSliced(l, r, "k", "k", "t", "rt",
        rightVals = Seq("v"), sliceWidth = w)
      assert(canon(sliced) == native, s"width=$w")
    }
  }
}
