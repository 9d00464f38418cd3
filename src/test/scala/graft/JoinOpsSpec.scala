package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.JoinOps

class JoinOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asOfJoinBackward picks the latest right row at or before left time") {
    val quotes = Seq( // key, time, price
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 10:05:00"), 101.0),
      (2L, ts("2024-01-01 10:03:00"), 50.0))
      .toDF("qk", "qts", "price")
    val trades = Seq( // key, time
      (1L, ts("2024-01-01 10:04:00")), // -> 100.0 (10:00 quote)
      (1L, ts("2024-01-01 10:05:00")), // -> 101.0 (equal time is inclusive)
      (2L, ts("2024-01-01 10:02:00")), // no prior quote -> dropped
      (3L, ts("2024-01-01 10:10:00"))) // no quotes at all -> dropped
      .toDF("k", "tts")
    val r = AsOfReference.asOfJoinBackward(trades, quotes,
        "k", "qk", "tts", "qts", Seq("qts", "price"))
      .orderBy("k", "tts").collect()
      .map(x => (x.getLong(0), x.getTimestamp(2).toString, x.getDouble(3)))
    assert(r.toSeq == Seq(
      (1L, "2024-01-01 10:00:00.0", 100.0),
      (1L, "2024-01-01 10:05:00.0", 101.0)))
  }

  test("asOfJoinNative equals the composed form and plans AsOfJoinExec") {
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 10:05:00"), 101.0),
      (2L, ts("2024-01-01 10:03:00"), 50.0))
      .toDF("qk", "qts", "price")
    val trades = Seq(
      (1L, ts("2024-01-01 10:04:00")),
      (1L, ts("2024-01-01 10:05:00")),
      (2L, ts("2024-01-01 10:02:00")),
      (3L, ts("2024-01-01 10:10:00")))
      .toDF("k", "tts")
    val native = JoinOps.asOfJoin(trades, quotes,
      "k", "qk", "tts", "qts", Seq("qts", "price"))
    // the exec's nodeName strips the Exec suffix; the executed plan
    // contains only physical nodes, so this is the custom exec
    assert(native.queryExecution.executedPlan.toString
      .contains("AsOfJoin"), "native plan must use the custom exec")
    val got = native.orderBy("k", "tts").collect()
      .map(x => (x.getLong(0), x.getTimestamp(2).toString, x.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, "2024-01-01 10:00:00.0", 100.0),
      (1L, "2024-01-01 10:05:00.0", 101.0)))
  }

  test("asOfJoinNative matches asOfJoinBackward on a dense random-ish mix") {
    // deterministic pseudo-random mix: many keys, duplicate times on the
    // left, right rows interleaved before/after/equal — the shapes the
    // streaming merge state machine must survive; includes null keys and
    // null times on both sides (never match, never crash)
    val lefts = (0 until 400).map { i =>
      (if (i % 29 == 0) None else Some((i * 7 % 13).toLong),
        if (i % 31 == 0) None
        else Some(new Timestamp(1700000000000L + (i * 997 % 5000) * 1000L)),
        i.toLong)
    }.toDF("k", "ts", "lid")
    val rights = (0 until 300).map { i =>
      (if (i % 23 == 0) None else Some((i * 5 % 13).toLong),
        if (i % 37 == 0) None
        else Some(new Timestamp(1700000000000L + (i * 611 % 5000) * 1000L)),
        i.toDouble)
    }.toDF("rk", "rts", "v")
    val a = JoinOps.asOfJoin(lefts, rights,
        "k", "rk", "ts", "rts", Seq("rts", "v")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getTimestamp(3), r.getDouble(4))).toSet
    val b = AsOfReference.asOfJoinBackward(lefts, rights,
        "k", "rk", "ts", "rts", Seq("rts", "v")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getTimestamp(3), r.getDouble(4))).toSet
    assert(a.nonEmpty, "fixture must produce matches")
    assert(a == b, s"native != composed: only-native ${a -- b}, " +
      s"only-composed ${b -- a}")
  }

  test("leftOuter as-of retains unmatched left rows null-padded (both forms)") {
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 10:05:00"), 101.0),
      (2L, ts("2024-01-01 10:03:00"), 50.0))
      .toDF("qk", "qts", "price")
    val trades = Seq(
      (Some(1L), Some(ts("2024-01-01 10:04:00"))), // -> 100.0
      (Some(2L), Some(ts("2024-01-01 10:02:00"))), // no prior -> null pad
      (Some(3L), Some(ts("2024-01-01 10:10:00"))), // no quotes -> null pad
      (None, Some(ts("2024-01-01 10:10:00"))),     // null key -> retained
      (Some(1L), None))                            // null time -> retained
      .toDF("k", "tts")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0),
        Option(r.getTimestamp(1)).map(_.toString).getOrElse("-"),
        Option(r.getTimestamp(2)).map(_.toString).getOrElse("-"),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))
    }.toSeq.sorted
    val composed = rows(AsOfReference.asOfJoinBackward(trades, quotes,
      "k", "qk", "tts", "qts", Seq("qts", "price"), leftOuter = true))
    val native = rows(JoinOps.asOfJoin(trades, quotes,
      "k", "qk", "tts", "qts", Seq("qts", "price"), leftOuter = true))
    assert(composed.size == 5, s"every left row must survive: $composed")
    assert(native == composed,
      s"native-outer != composed-outer:\n$native\n$composed")
    // the unmatched rows carry nulls, the matched one its quote
    assert(composed.count(r => r._3 == "-" && r._4 == -1.0) == 4)
    assert(composed.contains(
      (1L, "2024-01-01 10:04:00.0", "2024-01-01 10:00:00.0", 100.0)))
  }

  test("leftOuter native equals composed on the dense null-mixed mix") {
    val lefts = (0 until 400).map { i =>
      (if (i % 29 == 0) None else Some((i * 7 % 13).toLong),
        if (i % 31 == 0) None
        else Some(new Timestamp(1700000000000L + (i * 997 % 5000) * 1000L)),
        i.toLong)
    }.toDF("k", "ts", "lid")
    val rights = (0 until 300).map { i =>
      (if (i % 23 == 0) None else Some((i * 5 % 13).toLong),
        if (i % 37 == 0) None
        else Some(new Timestamp(1700000000000L + (i * 611 % 5000) * 1000L)),
        i.toDouble)
    }.toDF("rk", "rts", "v")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (if (r.isNullAt(0)) Long.MinValue else r.getLong(0),
        Option(r.getTimestamp(1)).map(_.getTime).getOrElse(-1L), r.getLong(2),
        Option(r.getTimestamp(3)).map(_.getTime).getOrElse(-1L),
        // -1 sentinel, not NaN: tuple equality unboxes doubles, and
        // NaN != NaN would make identical sets compare unequal
        if (r.isNullAt(4)) -1.0 else r.getDouble(4))
    }.toSet
    val a = rows(JoinOps.asOfJoin(lefts, rights,
      "k", "rk", "ts", "rts", Seq("rts", "v"), leftOuter = true))
    val b = rows(AsOfReference.asOfJoinBackward(lefts, rights,
      "k", "rk", "ts", "rts", Seq("rts", "v"), leftOuter = true))
    assert(a.size == 400, s"outer must retain all 400 left rows, got ${a.size}")
    assert(a == b, s"native != composed: only-native ${a -- b}, " +
      s"only-composed ${b -- a}")
  }

  test("forward as-of picks the earliest future right row (both forms)") {
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 10:05:00"), 101.0),
      (1L, ts("2024-01-01 10:04:00"), 99.5),
      (2L, ts("2024-01-01 10:03:00"), 50.0))
      .toDF("qk", "qts", "price")
    val trades = Seq(
      (1L, ts("2024-01-01 10:01:00")), // next: 10:04 -> 99.5
      (1L, ts("2024-01-01 10:04:00")), // equal time matches -> 99.5
      (1L, ts("2024-01-01 10:06:00")), // nothing after -> dropped (inner)
      (2L, ts("2024-01-01 10:02:00"))) // next: 10:03 -> 50.0
      .toDF("k", "tts")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getLong(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getDouble(3))
    }.toSet
    val want = Set(
      (1L, "2024-01-01 10:01:00.0", "2024-01-01 10:04:00.0", 99.5),
      (1L, "2024-01-01 10:04:00.0", "2024-01-01 10:04:00.0", 99.5),
      (2L, "2024-01-01 10:02:00.0", "2024-01-01 10:03:00.0", 50.0))
    val composed = rows(AsOfReference.asOfJoinForward(trades, quotes,
      "k", "qk", "tts", "qts", Seq("qts", "price")))
    val native = rows(JoinOps.asOfJoin(trades, quotes,
      "k", "qk", "tts", "qts", Seq("qts", "price"), forward = true))
    assert(composed == want, s"composed: $composed")
    assert(native == want, s"native: $native")
  }

  test("forward native equals composed on the dense null-mixed mix, " +
      "both outer and inner") {
    val lefts = (0 until 400).map { i =>
      (if (i % 29 == 0) None else Some((i * 7 % 13).toLong),
        if (i % 31 == 0) None
        else Some(new Timestamp(1700000000000L + (i * 997 % 5000) * 1000L)),
        i.toLong)
    }.toDF("k", "ts", "lid")
    val rights = (0 until 300).map { i =>
      (if (i % 23 == 0) None else Some((i * 5 % 13).toLong),
        if (i % 37 == 0) None
        else Some(new Timestamp(1700000000000L + (i * 611 % 5000) * 1000L)),
        i.toDouble)
    }.toDF("rk", "rts", "v")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (if (r.isNullAt(0)) Long.MinValue else r.getLong(0),
        Option(r.getTimestamp(1)).map(_.getTime).getOrElse(-1L), r.getLong(2),
        Option(r.getTimestamp(3)).map(_.getTime).getOrElse(-1L),
        if (r.isNullAt(4)) -1.0 else r.getDouble(4))
    }.toSet
    for (outer <- Seq(false, true)) {
      val a = rows(JoinOps.asOfJoin(lefts, rights,
        "k", "rk", "ts", "rts", Seq("rts", "v"),
        leftOuter = outer, forward = true))
      val b = rows(AsOfReference.asOfJoinForward(lefts, rights,
        "k", "rk", "ts", "rts", Seq("rts", "v"), leftOuter = outer))
      assert(a == b, s"outer=$outer: only-native ${a -- b}, " +
        s"only-composed ${b -- a}")
      if (outer) assert(a.size == 400)
    }
  }

  test("STRING-keyed as-of: native equals composed, plans the exec, " +
      "runs via ASOF JOIN") {
    // same dense mix as the bigint tests with the key mapped to a
    // symbol-like string ('k3'); null keys stay null. String ordering
    // groups keys differently than long ordering did, but as-of
    // semantics only need SOME total order — equality is what matches.
    val lefts = (0 until 400).map { i =>
      (if (i % 29 == 0) None else Some("k" + (i * 7 % 13)),
        if (i % 31 == 0) None
        else Some(new Timestamp(1700000000000L + (i * 997 % 5000) * 1000L)),
        i.toLong)
    }.toDF("k", "ts", "lid")
    val rights = (0 until 300).map { i =>
      (if (i % 23 == 0) None else Some("k" + (i * 5 % 13)),
        if (i % 37 == 0) None
        else Some(new Timestamp(1700000000000L + (i * 611 % 5000) * 1000L)),
        i.toDouble)
    }.toDF("rk", "rts", "v")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (Option(r.getString(0)).getOrElse("-"),
        Option(r.getTimestamp(1)).map(_.getTime).getOrElse(-1L), r.getLong(2),
        Option(r.getTimestamp(3)).map(_.getTime).getOrElse(-1L),
        if (r.isNullAt(4)) -1.0 else r.getDouble(4))
    }.toSet
    for (outer <- Seq(false, true); fwd <- Seq(false, true)) {
      val native = JoinOps.asOfJoin(lefts, rights,
        "k", "rk", "ts", "rts", Seq("rts", "v"),
        leftOuter = outer, forward = fwd)
      assert(native.queryExecution.executedPlan.toString
        .contains("AsOfJoin"), "string keys must still plan the native exec")
      val a = rows(native)
      val b = rows(if (fwd)
        AsOfReference.asOfJoinForward(lefts, rights,
          "k", "rk", "ts", "rts", Seq("rts", "v"), leftOuter = outer)
      else
        AsOfReference.asOfJoinBackward(lefts, rights,
          "k", "rk", "ts", "rts", Seq("rts", "v"), leftOuter = outer))
      assert(a == b, s"outer=$outer fwd=$fwd: only-native ${(a -- b).take(3)}, " +
        s"only-composed ${(b -- a).take(3)}")
      if (outer) assert(a.size == 400)
    }
    // through the ASOF JOIN syntax: analysis type checks pass, result
    // matches
    lefts.createOrReplaceTempView("jos_sl")
    rights.createOrReplaceTempView("jos_sr")
    val sqlDf = spark.sql("""SELECT l.k, l.ts, l.lid, r.rts, r.v
      FROM jos_sl l ASOF JOIN jos_sr r ON l.k = r.rk AND l.ts >= r.rts""")
    assert(rows(sqlDf) ==
      rows(JoinOps.asOfJoin(lefts, rights,
        "k", "rk", "ts", "rts", Seq("rts", "v"))))
  }

  test("COMPOSITE struct-keyed as-of: native equals composed") {
    // two-column equality key carried as ONE struct column on both
    // sides — the documented composite-key path
    val lefts = (0 until 300).map { i =>
      ((i * 7 % 5).toLong, "s" + (i % 3),
        new Timestamp(1700000000000L + (i * 997 % 4000) * 1000L), i.toLong)
    }.toDF("k1", "k2", "ts", "lid")
      .withColumn("sk", struct(col("k1"), col("k2")))
    val rights = (0 until 200).map { i =>
      ((i * 3 % 5).toLong, "s" + (i * 2 % 3),
        new Timestamp(1700000000000L + (i * 611 % 4000) * 1000L), i.toDouble)
    }.toDF("rk1", "rk2", "rts", "v")
      .withColumn("rsk", struct(col("rk1").as("k1"), col("rk2").as("k2")))
      .select("rsk", "rts", "v")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k1"), col("k2"), col("ts"), col("lid"),
        col("asof_rts"), col("asof_v")).collect().map { r =>
        (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime,
          r.getLong(3),
          Option(r.getTimestamp(4)).map(_.getTime).getOrElse(-1L),
          if (r.isNullAt(5)) -1.0 else r.getDouble(5))
      }.toSet
    val a = rows(JoinOps.asOfJoin(lefts, rights,
      "sk", "rsk", "ts", "rts", Seq("rts", "v"), leftOuter = true))
    val b = rows(AsOfReference.asOfJoinBackward(lefts, rights,
      "sk", "rsk", "ts", "rts", Seq("rts", "v"), leftOuter = true))
    assert(a.size == 300 && a == b,
      s"only-native ${(a -- b).take(3)}, only-composed ${(b -- a).take(3)}")
  }

  test("tolerance caps match staleness: stale drops (inner) or " +
      "null-pads (outer); native equals composed") {
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 10:05:00"), 101.0),
      (2L, ts("2024-01-01 09:00:00"), 50.0))
      .toDF("qk", "qts", "price")
    val trades = Seq(
      (1L, ts("2024-01-01 10:06:00")),  // 1 min stale -> 101.0
      (1L, ts("2024-01-01 10:04:00")),  // 4 min stale -> 100.0
      (2L, ts("2024-01-01 10:02:00")))  // 62 min stale -> BEYOND 10 min
      .toDF("k", "tts")
    val tol = Some(600000000L) // 10 minutes in micros
    // inner: the stale trade DROPS
    val inner = JoinOps.asOfJoin(trades, quotes,
      "k", "qk", "tts", "qts", Seq("price"), tolerance = tol)
    assert(inner.collect().map(_.getDouble(2)).sorted.toSeq ==
      Seq(100.0, 101.0), "stale match must drop under inner")
    // outer: the stale trade survives NULL-padded
    val outer = JoinOps.asOfJoin(trades, quotes,
      "k", "qk", "tts", "qts", Seq("price"), leftOuter = true,
      tolerance = tol)
    val padRow = outer.filter(col("k") === 2L).collect()
    assert(padRow.length == 1 && padRow(0).isNullAt(2),
      "stale match must null-pad under outer, not drop")
    // native == composed with tolerance across the dense mix, all shapes
    val lefts = (0 until 400).map { i =>
      (if (i % 29 == 0) None else Some((i * 7 % 13).toLong),
        if (i % 31 == 0) None
        else Some(new Timestamp(1700000000000L + (i * 997 % 5000) * 1000L)),
        i.toLong)
    }.toDF("k", "ts", "lid")
    val rights = (0 until 300).map { i =>
      (if (i % 23 == 0) None else Some((i * 5 % 13).toLong),
        if (i % 37 == 0) None
        else Some(new Timestamp(1700000000000L + (i * 611 % 5000) * 1000L)),
        i.toDouble)
    }.toDF("rk", "rts", "v")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (if (r.isNullAt(0)) Long.MinValue else r.getLong(0),
        Option(r.getTimestamp(1)).map(_.getTime).getOrElse(-1L), r.getLong(2),
        Option(r.getTimestamp(3)).map(_.getTime).getOrElse(-1L),
        if (r.isNullAt(4)) -1.0 else r.getDouble(4))
    }.toSet
    // 800s bound: bites on the 0..5000s time span without zeroing matches
    val denseTol = Some(800000000L)
    for (outer2 <- Seq(false, true); fwd <- Seq(false, true)) {
      val a = rows(JoinOps.asOfJoin(lefts, rights,
        "k", "rk", "ts", "rts", Seq("rts", "v"),
        leftOuter = outer2, forward = fwd, tolerance = denseTol))
      val b = rows(if (fwd)
        AsOfReference.asOfJoinForward(lefts, rights,
          "k", "rk", "ts", "rts", Seq("rts", "v"),
          leftOuter = outer2, tolerance = denseTol)
      else
        AsOfReference.asOfJoinBackward(lefts, rights,
          "k", "rk", "ts", "rts", Seq("rts", "v"),
          leftOuter = outer2, tolerance = denseTol))
      assert(a == b, s"outer=$outer2 fwd=$fwd: only-native ${(a -- b).take(3)}" +
        s", only-composed ${(b -- a).take(3)}")
      if (outer2) assert(a.size == 400)
    }
  }

  test("ASOF JOIN analysis-time type discipline: INT keys widen, bad " +
      "types fail by name") {
    Seq((1, ts("2024-01-01 10:04:00"), 7.0))
      .toDF("ik", "tts", "x").createOrReplaceTempView("jos_it")
    Seq((1L, ts("2024-01-01 10:00:00"), 100.0))
      .toDF("qk", "qts", "price").createOrReplaceTempView("jos_iq")
    // INT left key vs BIGINT right key: widened, joins fine
    val widened = spark.sql("""SELECT r.price FROM jos_it l
      ASOF JOIN jos_iq r ON l.ik = r.qk AND l.tts >= r.qts""")
    assert(widened.collect().map(_.getDouble(0)).toSeq == Seq(100.0))
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)
    // STRING key vs BIGINT key: fails at analysis naming both columns,
    // not in a running task
    Seq(("1", ts("2024-01-01 10:04:00")))
      .toDF("sk", "tts").createOrReplaceTempView("jos_sk")
    val keyErr = intercept[Exception] {
      spark.sql("""SELECT * FROM jos_sk l
        ASOF JOIN jos_iq r ON l.sk = r.qk AND l.tts >= r.qts""")
    }
    Seq("`sk`", "`qk`").foreach(c => assert(msgs(keyErr).contains(c),
      s"want the key columns named, got: ${msgs(keyErr)}"))
    // a CAST the user writes is kept: the same columns then join
    val cast = spark.sql("""SELECT r.price FROM jos_sk l ASOF JOIN jos_iq r
      ON CAST(l.sk AS BIGINT) = r.qk AND l.tts >= r.qts""")
    assert(cast.collect().map(_.getDouble(0)).toSeq == Seq(100.0))
    // BIGINT time vs TIMESTAMP time: the analyzer's own type check
    // rejects the inequality, naming both time columns
    Seq((1L, 5L)).toDF("k", "btime").createOrReplaceTempView("jos_bt")
    val timeErr = intercept[Exception] {
      spark.sql("""SELECT * FROM jos_bt l
        ASOF JOIN jos_iq r ON l.k = r.qk AND l.btime >= r.qts""")
    }
    Seq("btime", "qts").foreach(c => assert(msgs(timeErr).contains(c),
      s"want the time columns named, got: ${msgs(timeErr)}"))
  }

  test("intervalOverlapJoin equals the inequality join, exactly once") {
    // seeded random intervals spanning 0-5 bins at binSec=60 — exercises
    // same-bin, adjacent-bin, and multi-bin-span pairs plus touching
    // endpoints (closed-interval semantics)
    val rnd = new scala.util.Random(42)
    val base = ts("2024-01-01 00:00:00").getTime
    def mk(n: Int, p: String) = (1 to n).map { i =>
      val st = base + rnd.nextInt(3600) * 1000L
      val en = st + rnd.nextInt(300) * 1000L // 0..5 min long
      (i.toLong, new Timestamp(st), new Timestamp(en))
    }.toDF(s"${p}_id", s"${p}_st", s"${p}_en")
    val l = mk(120, "l")
    val r = mk(90, "r")
    val binned = JoinOps.intervalOverlapJoin(l, r,
        "l_st", "l_en", "r_st", "r_en", binSec = 60L)
      .select("l_id", "r_id").collect().map(x => (x.getLong(0), x.getLong(1)))
    val naive = l.join(r,
        col("l_st") <= col("r_en") && col("r_st") <= col("l_en"))
      .select("l_id", "r_id").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(binned.length == binned.toSet.size, "pair emitted more than once")
    assert(binned.toSet == naive.toSet)
    assert(naive.nonEmpty)
  }

  test("intervalOverlapJoin is exact across the 1970 epoch (floor binning)") {
    // the ADVICE r7 fix, pinned: `div` truncates toward zero, which would
    // make bin 0 span (-binSec, +binSec) and break the one-bin-per-pair
    // dedup filter for intervals straddling the epoch; floor division
    // keeps every bin uniformly binSec wide. Random intervals centered
    // on 1970-01-01 exercise negative, positive, and straddling spans.
    val rnd = new scala.util.Random(9)
    def mk(n: Int, p: String) = (1 to n).map { i =>
      val st = (rnd.nextInt(7200) - 3600) * 1000L // ±1h around the epoch
      val en = st + rnd.nextInt(300) * 1000L
      (i.toLong, new Timestamp(st), new Timestamp(en))
    }.toDF(s"${p}_id", s"${p}_st", s"${p}_en")
    val l = mk(120, "l")
    val r = mk(90, "r")
    val binned = JoinOps.intervalOverlapJoin(l, r,
        "l_st", "l_en", "r_st", "r_en", binSec = 60L)
      .select("l_id", "r_id").collect().map(x => (x.getLong(0), x.getLong(1)))
    val naive = l.join(r,
        col("l_st") <= col("r_en") && col("r_st") <= col("l_en"))
      .select("l_id", "r_id").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(binned.length == binned.toSet.size,
      "pair emitted more than once around the epoch")
    assert(binned.toSet == naive.toSet)
    assert(naive.nonEmpty)
  }

  test("intervalOverlapJoin keeps endpoint-touching pairs (closed intervals)") {
    val l = Seq((1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00")))
      .toDF("l_id", "l_st", "l_en")
    val r = Seq(
      (10L, ts("2024-01-01 10:30:00"), ts("2024-01-01 11:00:00")), // touches
      (11L, ts("2024-01-01 10:30:01"), ts("2024-01-01 11:00:00"))) // misses
      .toDF("r_id", "r_st", "r_en")
    val got = JoinOps.intervalOverlapJoin(l, r,
        "l_st", "l_en", "r_st", "r_en", binSec = 3600L)
      .select("r_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(10L))
  }

  test("rangeJoinBinnedLeft: unmatched lefts pad exactly once, matched " +
      "lefts never pad, equals the plain left range join") {
    val lefts = Seq(
      (1L, ts("2024-01-01 10:30:00")),  // 1 click in window
      (2L, ts("2024-01-01 12:00:00")),  // 0 clicks -> pad once
      (3L, ts("2024-01-01 10:59:00")))  // 2 clicks
      .toDF("p_id", "p_ts")
    val rights = Seq(
      ts("2024-01-01 10:00:00"), ts("2024-01-01 10:45:00"))
      .map(Tuple1(_)).toDF("c_ts")
    val out = JoinOps.rangeJoinBinnedLeft(lefts, rights,
        "p_ts", "c_ts", windowSec = 3600L)
      .collect().map(r => (r.getLong(0),
        Option(r.getTimestamp(2)).map(_.toString).getOrElse("-")))
    // the bin explode probes 2 bins per left row: a naive outer join
    // would pad p_id=2 twice and pad p_id=1/3 from their unmatched bin
    assert(out.sorted.toSeq == Seq(
      (1L, "2024-01-01 10:00:00.0"),
      (2L, "-"),
      (3L, "2024-01-01 10:00:00.0"), (3L, "2024-01-01 10:45:00.0")),
      s"got ${out.sorted.toSeq}")
    // oracle-shape equality on a denser mix
    val l2 = (0 until 120).map(i =>
      (i.toLong, new Timestamp(1700000000000L + (i * 977 % 7200) * 1000L)))
      .toDF("p_id", "p_ts")
    val r2 = (0 until 40).map(i =>
      Tuple1(new Timestamp(1700000000000L + (i * 373 % 7200) * 1000L)))
      .toDF("c_ts")
    val got = JoinOps.rangeJoinBinnedLeft(l2, r2, "p_ts", "c_ts", 600L)
      .collect().map(r => (r.getLong(0),
        Option(r.getTimestamp(2)).map(_.getTime).getOrElse(-1L))).toSet
    val want = l2.join(r2,
        r2("c_ts") >= l2("p_ts") - expr("INTERVAL 600 SECONDS") &&
          r2("c_ts") <= l2("p_ts"), "left")
      .collect().map(r => (r.getLong(0),
        Option(r.getTimestamp(2)).map(_.getTime).getOrElse(-1L))).toSet
    assert(got == want,
      s"only-binned ${(got -- want).take(3)}, only-plain ${(want -- got).take(3)}")
  }

  test("rangeJoinBinnedLeft: duplicate left rows and NULL left columns " +
      "pad/match independently (the round-14 footguns)") {
    // two IDENTICAL unmatched rows must pad TWICE; an identical matched
    // pair must match twice and never pad; a NULL-bearing matched row
    // must not pad (null-unsafe tuple equality broke both before the
    // internal id tag)
    val lefts = Seq(
      (java.lang.Long.valueOf(2L), ts("2024-01-01 12:00:00")), // unmatched dup
      (java.lang.Long.valueOf(2L), ts("2024-01-01 12:00:00")), // unmatched dup
      (java.lang.Long.valueOf(1L), ts("2024-01-01 10:30:00")), // matched dup
      (java.lang.Long.valueOf(1L), ts("2024-01-01 10:30:00")), // matched dup
      (null.asInstanceOf[java.lang.Long], ts("2024-01-01 10:30:00"))) // NULL col, matched
      .toDF("p_id", "p_ts")
    val rights = Seq(Tuple1(ts("2024-01-01 10:00:00"))).toDF("c_ts")
    val out = JoinOps.rangeJoinBinnedLeft(lefts, rights,
        "p_ts", "c_ts", windowSec = 3600L)
      .collect().map(r => (Option(r.get(0)), r.get(2) != null))
    assert(out.length == 5, s"got ${out.toSeq}")
    assert(out.count(_ == (Some(2L), false)) == 2, s"got ${out.toSeq}")
    assert(out.count(_ == (Some(1L), true)) == 2, s"got ${out.toSeq}")
    assert(out.count(_ == (None, true)) == 1, s"got ${out.toSeq}")
  }

  test("saltedJoin equals the plain join") {
    val fact = (1 to 1000).map(i => (i.toLong % 3, i.toLong)).toDF("k", "v")
    val dim = Seq((0L, "zero"), (1L, "one"), (2L, "two")).toDF("k", "name")
    val salted = JoinOps.saltedJoin(fact, dim, "k", salt = 8, saltBy = col("v"))
      .select("k", "v", "name").collect().toSet
    val plain = fact.join(dim, "k").select("k", "v", "name").collect().toSet
    assert(salted == plain && salted.size == 1000)
  }

  test("saltedJoin spreads a hot key across shuffle join partitions") {
    // broadcast would sidestep the shuffle entirely and AQE coalesces
    // the tiny post-shuffle partitions back to one (default-on in Spark
    // 4) — disable both so the spread measurement sees the raw
    // hash-partitioned join, which is the skew regime salting exists for
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val fact = (1 to 2000).map(i => (0L, i.toLong)).toDF("k", "v")
      val dim = Seq((0L, "zero")).toDF("k", "name")
      def spreadOf(df: org.apache.spark.sql.DataFrame): Long =
        df.groupBy(spark_partition_id().as("pid")).count()
          .filter(col("count") > 0).count()
      // control: the unsalted shuffle join pins the hot key to 1 reducer
      assert(spreadOf(fact.join(dim, "k")) == 1)
      val spread = spreadOf(
        JoinOps.saltedJoin(fact, dim, "k", salt = 8, saltBy = col("v")))
      assert(spread > 1, s"hot key stayed on $spread partition(s)")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("saltedJoin shrinks the max task's shuffle input by ~salt") {
    // the spread test above proves the hot key lands on >1 reducer; this
    // one proves salting helps where it matters at scale — the LARGEST
    // task's shuffle input (the straggler that OOMs/stalls a 1000-exec
    // job) drops to ~1/salt of the unsalted join's hot-key task.
    // Measured from real task metrics, not wall time.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // >= salt reducers, so the salted hot key CAN fan out fully
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    val maxRead = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null)
          maxRead.getAndAccumulate(m.shuffleReadMetrics.recordsRead, math.max)
      }
    }
    // task-end events arrive on the listener bus after the action
    // returns — poll until the max is stable instead of racing it
    def settledMax(): Long = {
      var last = -1L
      var stable = 0
      val deadline = System.nanoTime() + 10e9.toLong
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val cur = maxRead.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      last
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val hot = 4000
      val salt = 16
      val fact = (1 to hot).map(i => (0L, i.toLong)).toDF("k", "v")
      val dim = Seq((0L, "zero")).toDF("k", "name")
      fact.join(dim, "k").write.format("noop").mode("overwrite").save()
      val plainMax = settledMax()
      // the unsalted join funnels every fact row through ONE task
      assert(plainMax >= hot, s"control broken: plain max task read $plainMax")
      maxRead.set(0)
      JoinOps.saltedJoin(fact, dim, "k", salt, saltBy = col("v"))
        .write.format("noop").mode("overwrite").save()
      val saltedMax = settledMax()
      // ideal is hot/salt (+1 dim replica); murmur placement of the 16
      // (key, salt) pairs over 16 reducers is uneven (deterministic for
      // fixed data), so pin the scale claim that matters: the straggler
      // task shrank by at least 4x
      assert(saltedMax * 4 <= plainMax,
        s"salted max task read $saltedMax, want <= ${plainMax / 4} " +
          s"(ideal ~${hot / salt} at salt=$salt, plain hot task $plainMax)")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }
}
