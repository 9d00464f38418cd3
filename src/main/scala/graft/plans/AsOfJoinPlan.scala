package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeMap, AttributeReference, BindReferences, Cast, Descending, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, TimestampType}

/** Native as-of join — the whole-operator Catalyst tier
  * (logical node + strategy + physical exec, injected through
  * SparkSessionExtensions): for each left row, the latest right row with
  * rightTime <= leftTime on the same key (backward, the default), or
  * with `forward = true` the EARLIEST right row with rightTime >=
  * leftTime (the pandas merge_asof direction='forward' shape — "the
  * next quote after the order", schedule-lookup joins). INNER semantics
  * (unmatched left rows drop) by default; `leftOuter = true` retains
  * every left row and null-pads the right columns when no matching
  * right row exists — the enrichment-pipeline shape (DuckDB's ASOF LEFT
  * JOIN), where losing unmatched facts silently would corrupt
  * downstream counts. Forward is the exact time-mirror of backward:
  * both sides sort time-DESCENDING inside each key and the one merge
  * comparison flips, nothing else.
  *
  * `tolerance` (Some(bound), in the time column's own units — micros
  * for timestamps) is the pandas `merge_asof(tolerance=...)` staleness
  * cap: a backward match additionally requires
  * `leftTime - rightTime <= bound` (forward mirrored,
  * `rightTime - leftTime <= bound`). A too-stale match behaves exactly
  * like no match: the left row DROPS under inner semantics and
  * null-pads under `leftOuter` — which a post-filter on the joined
  * result cannot express (it would turn outer pads into drops).
  *
  * `strict` excludes exact time ties: backward matches require
  * rightTime < leftTime (vs <=), forward rightTime > leftTime — the
  * DuckDB `ASOF JOIN ... ON l.t > r.t` strict-comparator form (pandas
  * merge_asof(allow_exact_matches=False)). One comparison flips in the
  * merge consume loop / the broadcast exec's binary-search bound;
  * unconsumed tie rows stay in the lookahead for later left rows, so
  * tolerance, outer pads, and null semantics are untouched. On integer
  * times, strict at t is definitionally non-strict at t-1 — the
  * equality AsOfStrictSpec pins on a tie-rich fixture.
  *
  * Why a physical operator instead of the stock-operator composition
  * (tag and union both inputs, then a keyed window with a
  * last(ignoreNulls) frame — kept in the test tree as the reference the
  * equality specs compare against): the composition pads every left
  * row with a null struct and every right row with null left columns
  * before its one shuffle, buffers each key group in the window, and
  * filters the unioned frame back apart afterwards. The native exec
  * shuffles each side as-is (same total rows moved, no padding), sorts
  * each side by (key, time) — both via EnsureRequirements, so AQE still
  * plans and coalesces the exchanges — and then streams BOTH sorted
  * iterators once per partition with O(1) state (one lookahead row +
  * one matched-row copy). No buffering, no padding, no re-filtering.
  * AQE's skew-JOIN splitting, however, does NOT apply here:
  * OptimizeSkewedJoin pattern-matches only the built-in SortMergeJoin/
  * ShuffledHashJoin execs (pinned by AsOfSkewSpec with a positive
  * control), so a hot key serializes onto one task — the documented
  * mitigation is `JoinOps.asOfJoinAuto`, which splits hot keys across
  * time slices with per-slice carry-in rows and feeds THIS exec a
  * composite (key, slice) key; its carry-ins are an as-of join on this
  * exec too. The `ASOF JOIN` syntax always plans this node as written:
  * it runs no job at analysis.
  *
  * Contract and bounds:
  *  - key expressions may be ANY orderable type (atomic — bigint,
  *    string, date, decimal — or a struct of orderables for COMPOSITE
  *    keys: pass `struct(colA, colB)` on both sides), same type on both
  *    sides (integral keys widen to bigint first); [[AsOfJoin.build]]
  *    raises the check when the node is built, naming the columns.
  *    Non-bigint keys compare through the type's interpreted
  *    ordering (a virtual call per merge step vs the bigint primitive
  *    compare); the sorts still dominate either way;
  *  - time expressions must be LongType or TimestampType (micros-backed
  *    long; integral times widen to bigint), the SAME type on both sides
  *    — event time is a totally-ordered physical axis, so the engine's
  *    convention stays narrow on purpose;
  *  - rows with a NULL key or time never match (skipped on both sides,
  *    the composed operator's na-semantics);
  *  - ties: among right rows with equal (key, time) the one latest in
  *    the sort order wins — same pick as the composed window form;
  *  - volcano-mode (no codegen): the merge is a per-partition streaming
  *    pass whose cost is (|L|+|R|) comparisons after the sorts, which
  *    dominate (measured: interpreted output projection = 0.24% of
  *    e24's wall, SURVEY.md).
  *
  * Build the node with [[AsOfJoin.build]], the one constructor both
  * front ends share (`JoinOps.asOfJoin` and the `ASOF JOIN` syntax).
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    leftOuter: Boolean, forward: Boolean,
    tolerance: Option[Long], strict: Boolean) extends BinaryNode {
  // outer: the right side's attributes become nullable in the output —
  // downstream IsNotNull simplification would otherwise wrongly prune
  // the null-padded rows
  override def output: Seq[Attribute] =
    left.output ++ (if (leftOuter) right.output.map(_.withNullability(true))
                    else right.output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {

  /** integral keys and times widen to bigint, so an INT column against
    * a BIGINT one just works; every other type passes through */
  def widen(e: Expression): Expression = e.dataType match {
    case IntegerType | ShortType | ByteType => Cast(e, LongType)
    case _ => e
  }

  /** The one constructor of the [[AsOfJoin]] node. `left` and `right`
    * are resolved plans; the key and time expressions reference their
    * outputs.
    *
    * The right side is fresh-aliased: when both inputs derive from the
    * same source (the self-join case) their outputs share exprIds, and
    * the analyzer's DeduplicateRelations only rewrites built-in Join
    * nodes — without the alias the optimizer resolves right-side
    * references against the LEFT's identical ids and prunes the right
    * child's columns away. The node's output is `left.output` followed
    * by the fresh right attributes, positionally aligned with
    * `right.output`.
    *
    * Keys and times widen ([[widen]]) and are type-checked HERE, when
    * the node is built, so a bad type fails naming its columns instead
    * of surfacing from a running task. `fail` raises in the caller's
    * error class. */
  def build(left: LogicalPlan, right: LogicalPlan,
      leftKey: Expression, rightKey: Expression,
      leftTime: Expression, rightTime: Expression,
      leftOuter: Boolean, forward: Boolean,
      tolerance: Option[Long], strict: Boolean,
      fail: String => Nothing): AsOfJoin = {
    def name(e: Expression): String = e match {
      case a: Attribute => a.name
      case other => other.sql
    }
    val (lk, rk) = (widen(leftKey), widen(rightKey))
    if (!DataType.equalsIgnoreNullability(lk.dataType, rk.dataType))
      fail(s"key columns `${name(leftKey)}` (${lk.dataType.sql}) and " +
        s"`${name(rightKey)}` (${rk.dataType.sql}) must have the same type")
    if (!RowOrdering.isOrderable(lk.dataType))
      fail(s"key type ${lk.dataType.sql} is not orderable")
    val (lt, rt) = (widen(leftTime), widen(rightTime))
    def isTime(e: Expression) =
      e.dataType == LongType || e.dataType == TimestampType
    val times = s"time columns `${name(leftTime)}` (${lt.dataType.sql}) " +
      s"and `${name(rightTime)}` (${rt.dataType.sql})"
    if (!isTime(lt) || !isTime(rt))
      fail(s"$times must be bigint or timestamp")
    // a bigint-vs-timestamp mix would compare raw units against micros —
    // silently garbage if the bigint is millis/seconds
    if (lt.dataType != rt.dataType)
      fail(s"$times must have the SAME type — cast one side so the " +
        "units are explicit")
    tolerance.filter(_ < 0L).foreach(t =>
      fail(s"tolerance must be >= 0, got $t"))
    val fresh = Project(right.output.map(a => Alias(a, a.name)()), right)
    val renamed = AttributeMap(right.output.zip(fresh.output))
    def onFresh(e: Expression): Expression = e.transform {
      case a: AttributeReference => renamed.getOrElse(a, a)
    }
    AsOfJoin(left, fresh, lk, onFresh(rk), lt, onFresh(rt),
      leftOuter, forward, tolerance, strict)
  }
}

/** Planner rule mapping the logical [[AsOfJoin]] to a physical exec;
  * injected by [[graft.GraftExtensions]]. COST-BASED, the way Spark's
  * own JoinSelection picks BroadcastHashJoin over SortMergeJoin: when
  * the right side's estimated size fits under
  * `spark.sql.autoBroadcastJoinThreshold`, plan
  * [[BroadcastAsOfJoinExec]] (fact side untouched, dim side broadcast);
  * otherwise the shuffled streaming-merge [[AsOfJoinExec]]. Setting the
  * threshold to -1 forces the shuffled plan, same switch as for
  * built-in joins. */
class AsOfJoinStrategy(session: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoin =>
      val threshold = session.sessionState.conf.autoBroadcastJoinThreshold
      if (threshold > 0 && j.right.stats.sizeInBytes <= threshold)
        BroadcastAsOfJoinExec(j.leftKey, j.rightKey, j.leftTime,
          j.rightTime, j.leftOuter, j.forward, j.tolerance, j.strict,
          planLater(j.left), planLater(j.right)) :: Nil
      else
        AsOfJoinExec(j.leftKey, j.rightKey, j.leftTime, j.rightTime,
          j.leftOuter, j.forward, j.tolerance, j.strict,
          planLater(j.left), planLater(j.right)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    leftOuter: Boolean, forward: Boolean,
    tolerance: Option[Long], strict: Boolean,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  // key/time types and the tolerance sign were checked by AsOfJoin.build
  override def output: Seq[Attribute] =
    left.output ++ (if (leftOuter) right.output.map(_.withNullability(true))
                    else right.output)

  // both sides clustered by their key: EnsureRequirements co-partitions
  // the two shuffles (the SortMergeJoin mechanism), so zipPartitions
  // below sees aligned key ranges
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = {
    // forward scans time DESC inside each key; the merge then keeps the
    // last consumed right row >= t, i.e. the EARLIEST future one
    val tDir = if (forward) Descending else Ascending
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, tDir)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, tDir)))
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lk = BindReferences.bindReference(leftKey, lOut)
    val lt = BindReferences.bindReference(leftTime, lOut)
    val rk = BindReferences.bindReference(rightKey, rOut)
    val rt = BindReferences.bindReference(rightTime, rOut)
    val keyOrdering =
      TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val outAttrs = output
    val outer = leftOuter
    val fwd = forward
    val noTies = strict
    // staleness cap folded to a primitive: Long.MaxValue = "no bound",
    // so the merge has ONE comparison either way instead of an Option
    // branch per row
    val tol = tolerance.getOrElse(Long.MaxValue)
    // outer: bind against nullability-WIDENED right attributes — binding
    // keys on exprId, but BoundReference takes its nullability from this
    // schema, and a non-nullable one would codegen away the isNullAt
    // check and read the pad row's null double as 0.0
    val bindSchema =
      if (outer) lOut ++ rOut.map(_.withNullability(true)) else lOut ++ rOut
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val joiner = UnsafeProjection.create(outAttrs, bindSchema)
      val joined = new JoinedRow
      // outer's pad row: one all-null GenericInternalRow reused for every
      // unmatched left row (the projection copies, so sharing is safe)
      val nullRight: InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          rOut.length)
      new Iterator[InternalRow] {
        // O(1) merge state: the right lookahead + the latest matching
        // right row (copied — iterators reuse row objects). Key VALUES
        // are copied out too (InternalRow.copyValue): a string/struct
        // key points into the row's buffer, which the next iterator
        // step overwrites.
        private var rHead: InternalRow = _
        private var rHeadKey: Any = _
        private var rHeadTime = 0L
        private var rHeadValid = false
        private var matched: InternalRow = _
        private var matchedKey: Any = _
        private var matchedTime = 0L
        private var nextOut: InternalRow = _
        advanceRight()

        private def advanceRight(): Unit = {
          rHeadValid = false
          while (!rHeadValid && rIter.hasNext) {
            val r = rIter.next()
            val k = rk.eval(r)
            val t = rt.eval(r)
            if (k != null && t != null) {
              rHead = r
              rHeadKey = InternalRow.copyValue(k)
              rHeadTime = t.asInstanceOf[Long]
              rHeadValid = true
            }
          }
        }

        private def findNext(): Unit = {
          nextOut = null
          while (nextOut == null && lIter.hasNext) {
            val l = lIter.next()
            val kRaw = lk.eval(l)
            val tRaw = lt.eval(l)
            if (kRaw != null && tRaw != null) {
              val k = kRaw
              val t = tRaw.asInstanceOf[Long]
              // consume right rows up to (k, t] in sort order — or (k, t)
              // when strict: equal-time rows are NOT consumed at this
              // left row (they stay in the lookahead for later, larger-t
              // left rows), which is exactly the tie exclusion (time DESC
              // when forward — the comparison mirrors); the LAST one with
              // the same key becomes (or stays) the match
              var cmp = if (rHeadValid) keyOrdering.compare(rHeadKey, k)
                        else 0
              while (rHeadValid && (cmp < 0 ||
                  (cmp == 0 &&
                    (if (fwd) { if (noTies) rHeadTime > t else rHeadTime >= t }
                     else { if (noTies) rHeadTime < t else rHeadTime <= t })))) {
                if (cmp == 0) {
                  matched = rHead.copy()
                  matchedKey = rHeadKey
                  matchedTime = rHeadTime
                }
                advanceRight()
                if (rHeadValid) cmp = keyOrdering.compare(rHeadKey, k)
              }
              // a match must share the key AND sit inside the staleness
              // bound; a stale match is NO match (drop / null-pad), which
              // is what a post-filter can't express for the outer shape
              val fresh = matched != null &&
                keyOrdering.compare(matchedKey, k) == 0 &&
                (if (fwd) matchedTime - t else t - matchedTime) <= tol
              if (fresh)
                nextOut = joiner(joined(l, matched))
              else if (outer)
                nextOut = joiner(joined(l, nullRight))
            } else if (outer) {
              // SQL LEFT JOIN: a NULL key/time never MATCHES but the left
              // row itself is retained, null-padded
              nextOut = joiner(joined(l, nullRight))
            }
          }
        }

        override def hasNext: Boolean = {
          if (nextOut == null) findNext()
          nextOut != null
        }
        override def next(): InternalRow = {
          if (nextOut == null) findNext()
          val out = nextOut
          nextOut = null
          out
        }
      }
    }
  }
}
