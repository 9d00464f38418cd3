package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The as-of join composed from stock Catalyst operators — union both
  * inputs, then a keyed window with last(ignoreNulls) — kept ONLY as
  * the reference the equality specs compare `JoinOps.asOfJoin` against:
  * an independent implementation of the same contract (direction,
  * LEFT OUTER, tolerance, SQL-null semantics, `asof_<v>` output) that
  * shares no code with the native node or its execs. */
object AsOfReference {

  /** Backward as-of join: for each left row, the most recent right row
    * with rightTime <= leftTime on the same key. Inner semantics by
    * default (left rows with no prior right row are dropped);
    * `leftOuter = true` retains them with null `asof_*` columns — the
    * ASOF LEFT JOIN shape, including SQL LEFT JOIN null-key behavior: a
    * NULL key/time never matches but the left row itself survives.
    *
    * Implementation: tag and union both inputs, then per-key
    * last-non-null over the merged time order — right rows sort before
    * left rows at equal timestamps so "<=" is inclusive.
    *
    * `rightVals` are the right-side columns to carry; they appear
    * prefixed with `asof_`. */
  def asOfJoinBackward(left: DataFrame, right: DataFrame,
                       leftKey: String, rightKey: String,
                       leftTime: String, rightTime: String,
                       rightVals: Seq[String],
                       leftOuter: Boolean = false,
                       tolerance: Option[Long] = None): DataFrame =
    asOfJoinComposed(left, right, leftKey, rightKey, leftTime, rightTime,
      rightVals, leftOuter, forward = false, tolerance)

  /** Forward as-of join: for each left row, the EARLIEST right row with
    * rightTime >= leftTime on the same key (pandas merge_asof
    * direction='forward' — "the next event after this one": next quote
    * after an order, next maintenance slot after a failure). The exact
    * time-mirror of [[asOfJoinBackward]]: the merged window scans time
    * DESCENDING so last-non-null picks the nearest FUTURE right row;
    * everything else (null semantics, leftOuter, cost shape) is
    * identical. */
  def asOfJoinForward(left: DataFrame, right: DataFrame,
                      leftKey: String, rightKey: String,
                      leftTime: String, rightTime: String,
                      rightVals: Seq[String],
                      leftOuter: Boolean = false,
                      tolerance: Option[Long] = None): DataFrame =
    asOfJoinComposed(left, right, leftKey, rightKey, leftTime, rightTime,
      rightVals, leftOuter, forward = true, tolerance)

  /** a time column as a raw long in its own units (micros for
    * timestamps) — the units `tolerance` is stated in */
  private def timeAsLong(c: Column,
                         dt: org.apache.spark.sql.types.DataType): Column =
    dt match {
      case org.apache.spark.sql.types.TimestampType => unix_micros(c)
      case _ => c.cast("long")
    }

  private def asOfJoinComposed(left: DataFrame, right: DataFrame,
                               leftKey: String, rightKey: String,
                               leftTime: String, rightTime: String,
                               rightVals: Seq[String],
                               leftOuter: Boolean,
                               forward: Boolean,
                               tolerance: Option[Long] = None): DataFrame = {
    val leftCols = left.columns.toSeq
    require(tolerance.isEmpty || !rightVals.contains("_mt"),
      "rightVals may not contain the reserved name _mt when tolerance is set")
    // the right payload travels as ONE nullable struct: null on left rows,
    // non-null on every right row (even when individual fields are null),
    // so one last(ignoreNulls) both finds the match and keeps its fields
    // atomic — per-column fills could tear values from different rows.
    // With a tolerance, the match's own time rides INSIDE the struct
    // (field _mt) so the staleness check reads the time of the exact row
    // last() picked — a separate column could tear.
    val mtCols: Seq[Column] = if (tolerance.isDefined)
      Seq(timeAsLong(col(rightTime), right.schema(rightTime).dataType)
        .as("_mt"))
    else Nil
    val mtFields: Seq[org.apache.spark.sql.types.StructField] =
      if (tolerance.isDefined)
        Seq(org.apache.spark.sql.types.StructField("_mt",
          org.apache.spark.sql.types.LongType))
      else Nil
    val payload = struct(mtCols ++ rightVals.map(col): _*)
    val l = left
      .withColumn("_k", col(leftKey)).withColumn("_t", col(leftTime))
      .withColumn("_is_left", lit(1))
      .withColumn("_p", lit(null).cast(
        org.apache.spark.sql.types.StructType(
          mtFields ++ rightVals.map(v => right.schema(v)))))
    val rAligned = leftCols.foldLeft(
      right.withColumn("_k", col(rightKey)).withColumn("_t", col(rightTime))
        .withColumn("_is_left", lit(0)).withColumn("_p", payload))(
      (df, c) => if (df.columns.contains(c)) df
        else df.withColumn(c, lit(null).cast(left.schema(c).dataType)))
      .select(l.columns.map(col).toSeq: _*)

    // SQL join null semantics: a NULL key or time never matches. Without
    // this filter the window partitioning would group null-key rows
    // TOGETHER (groupBy-style null equality) and happily as-of-match
    // them — the divergence the native exec's equality spec caught.
    val merged = l.unionByName(rAligned)
      .filter(col("_k").isNotNull && col("_t").isNotNull)
    // right rows sort before left rows at equal timestamps (either
    // direction), so the time inequality stays inclusive
    val tOrder = if (forward) col("_t").desc else col("_t").asc
    val w = Window.partitionBy(col("_k"))
      .orderBy(tOrder, col("_is_left").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val windowed0 = merged
      .withColumn("_p", last(col("_p"), ignoreNulls = true).over(w))
      .filter(col("_is_left") === 1)
    // staleness cap: a match farther than `tolerance` (in the time
    // column's own units) from the left row is NO match — nulled here,
    // BEFORE the inner/outer resolution, so inner drops and outer
    // null-pads, exactly like the never-matched case
    val windowed = tolerance.map { tol =>
      val lt = timeAsLong(col("_t"), left.schema(leftTime).dataType)
      val diff = if (forward) col("_p._mt") - lt else lt - col("_p._mt")
      windowed0.withColumn("_p",
        when(col("_p").isNotNull && diff <= tol, col("_p")))
    }.getOrElse(windowed0)
    val resolved =
      if (!leftOuter) windowed.filter(col("_p").isNotNull)
      // outer: unmatched left rows keep their null payload; null-key/time
      // left rows (excluded from the window above) rejoin here, also
      // null-padded — they carry _p = null already
      else windowed.unionByName(
        l.filter(col("_k").isNull || col("_t").isNull))
    resolved.select(leftCols.map(col) ++
      rightVals.map(v => col(s"_p.$v").as(s"asof_$v")): _*)
  }
}
