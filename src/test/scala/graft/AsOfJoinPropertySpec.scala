package graft

import org.apache.spark.sql.functions._
import graft.operators.JoinOps

/** AsOfReference.asOfJoinBackward (the composed reference) and
  * JoinOps.asOfJoin vs a trusted driver-side scan on seeded random
  * data: for every left row, the match must be exactly the right row
  * with the greatest time <= the left time on the same key, and left
  * rows with no eligible right row are dropped. Quote times are
  * distinct per key — the operator (like ASOF JOIN generally) does not
  * define which of two exactly-tied right rows wins. */
class AsOfJoinPropertySpec extends SparkSpec {
  import spark.implicits._

  test("asOfJoinBackward matches per-row max-time-at-or-before search") {
    val rng = new scala.util.Random(11)
    val trades = (1 to 60).map { i =>
      (i.toLong, rng.nextInt(5).toLong, rng.nextInt(500).toLong)
    } // (trade_id, key, t)
    val quotes = rng.shuffle((0 until 500).toList).take(120).zipWithIndex
      .map { case (t, i) => (1000L + i, (t % 5).toLong, t.toLong) }
    // (quote_id, key, qt) — t distinct across ALL quotes, hence per key

    val l = trades.toDF("trade_id", "k", "t")
    val r = quotes.toDF("quote_id", "qk", "qt")
    val got = AsOfReference.asOfJoinBackward(l, r,
        leftKey = "k", rightKey = "qk",
        leftTime = "t", rightTime = "qt", rightVals = Seq("quote_id"))
      .select("trade_id", "asof_quote_id").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap

    val want = trades.flatMap { case (tid, k, t) =>
      val eligible = quotes.filter(q => q._2 == k && q._3 <= t)
      if (eligible.isEmpty) None
      else Some(tid -> eligible.maxBy(_._3)._1)
    }.toMap

    assert(got == want,
      s"diff: ${(got.toSet diff want.toSet).take(5)} / " +
        s"${(want.toSet diff got.toSet).take(5)}")
  }

  test("asOfJoinNative == driver-side reference across the full flag " +
      "matrix (direction x outer x strict x tolerance x physical tier)") {
    val rng = new scala.util.Random(23)
    // trade times drawn from the same small range as quote times, so
    // exact ties occur and the strict flag has something to exclude;
    // quote times stay globally distinct (tie-break among RIGHT rows is
    // the one contractually-unspecified axis)
    val trades = (1 to 80).map { i =>
      (i.toLong, rng.nextInt(5).toLong, rng.nextInt(400).toLong)
    }
    val quotes = rng.shuffle((0 until 400).toList).take(100).zipWithIndex
      .map { case (t, i) => (1000L + i, (t % 5).toLong, t.toLong) }
    val l = trades.toDF("trade_id", "k", "t")
    val r = quotes.toDF("quote_id", "qk", "qt")
    def reference(fwd: Boolean, outer: Boolean, strict: Boolean,
                  tol: Option[Long]): Map[Long, Option[Long]] =
      trades.flatMap { case (tid, k, t) =>
        val eligible = quotes.filter { case (_, qk, qt) =>
          qk == k &&
            (if (fwd) { if (strict) qt > t else qt >= t }
             else { if (strict) qt < t else qt <= t }) &&
            tol.forall(b => (if (fwd) qt - t else t - qt) <= b)
        }
        val pick =
          if (eligible.isEmpty) None
          else Some(if (fwd) eligible.minBy(_._3)._1
                    else eligible.maxBy(_._3)._1)
        if (pick.isEmpty && !outer) None else Some(tid -> pick)
      }.toMap
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      for (thr <- Seq("-1", "10485760"); fwd <- Seq(false, true);
           outer <- Seq(false, true); strict <- Seq(false, true);
           tol <- Seq(None, Some(40L))) {
        conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        val got = JoinOps.asOfJoin(l, r, "k", "qk", "t", "qt",
            rightVals = Seq("quote_id"), leftOuter = outer,
            forward = fwd, tolerance = tol, strict = strict)
          .select("trade_id", "asof_quote_id").collect()
          .map(x => x.getLong(0) ->
            (if (x.isNullAt(1)) None else Some(x.getLong(1)))).toMap
        val want = reference(fwd, outer, strict, tol)
        assert(got == want,
          s"thr=$thr fwd=$fwd outer=$outer strict=$strict tol=$tol: " +
            s"${(got.toSet diff want.toSet).take(3)} / " +
            s"${(want.toSet diff got.toSet).take(3)}")
      }
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }
}
