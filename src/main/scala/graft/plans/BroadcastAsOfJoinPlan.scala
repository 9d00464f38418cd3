package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Broadcast physical tier for [[AsOfJoin]] — chosen by
  * [[AsOfJoinStrategy]] on STATS, exactly the way Spark's own planner
  * picks BroadcastHashJoin over SortMergeJoin: when the right side's
  * estimated size fits under `spark.sql.autoBroadcastJoinThreshold`,
  * shuffling the (possibly 100 TB) left side to co-partition with a
  * dim-sized history table is strictly wasted motion. This exec asks
  * EnsureRequirements for a `BroadcastDistribution(IdentityBroadcastMode)`
  * on the right and NOTHING on the left: the fact side reaches the join
  * with zero exchanges, whatever partitioning it arrived with.
  *
  * Each task builds a per-partition index from the broadcast rows —
  * key → time-sorted array of right rows (the BroadcastNestedLoopJoin
  * trade: per-task build of a dim-sized structure instead of a shuffle
  * of the fact side) — and probes it with BINARY SEARCH per left row:
  * O(log history) per probe instead of a linear scan of the key's
  * history, with no array materialization per key on the build side.
  *
  * Key lookup equality is normalized through one-field
  * [[UnsafeProjection]]s on BOTH sides: UnsafeRow equality is byte-wise,
  * and the two sides' key expressions may otherwise produce differently-
  * represented but equal values (a GenericInternalRow struct from an
  * interpreted CreateStruct vs an UnsafeRow field view). Same output
  * contract, null semantics (NULL key/time never matches; inner drops,
  * outer pads), direction mirror, tolerance bound, and tie behavior
  * (among equal (key, time): last in build order ≈ unspecified, as
  * documented on [[AsOfJoin]]) as [[AsOfJoinExec]] — pinned by
  * equality specs in BroadcastAsOfExecSpec. */
case class BroadcastAsOfJoinExec(
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    leftOuter: Boolean, forward: Boolean,
    tolerance: Option[Long], strict: Boolean,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  // key/time types and the tolerance sign were checked by AsOfJoin.build
  override def output: Seq[Attribute] =
    left.output ++ (if (leftOuter) right.output.map(_.withNullability(true))
                    else right.output)

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) ::
      Nil

  // the whole point of this exec is that the fact side's layout
  // survives the join — forward its partitioning AND ordering (every
  // left attribute is in the output), the BroadcastHashJoin pattern:
  // a downstream aggregation keyed on a pre-shuffled/bucketed fact key
  // must not re-Exchange
  override def outputPartitioning:
      org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    left.outputPartitioning
  override def outputOrdering:
      Seq[org.apache.spark.sql.catalyst.expressions.SortOrder] =
    left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
    copy(left = newLeft, right = newRight)

  /** one key's history: times ascending, rows aligned */
  private final class History(val times: Array[Long],
                              val rows: Array[InternalRow])

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lt = BindReferences.bindReference(leftTime, lOut)
    val rt = BindReferences.bindReference(rightTime, rOut)
    val lKeyExpr = leftKey
    val rKeyExpr = rightKey
    val outAttrs = output
    val outer = leftOuter
    val fwd = forward
    // copied to a local BEFORE the mapPartitions closure, like every
    // other field here — referencing the field inside would capture
    // and serialize `this` (the whole SparkPlan)
    val noTies = strict
    val tol = tolerance.getOrElse(Long.MaxValue)
    val bcast = right.executeBroadcast[Array[InternalRow]]()
    val bindSchema =
      if (outer) lOut ++ rOut.map(_.withNullability(true)) else lOut ++ rOut
    left.execute().mapPartitions { lIter =>
      // per-task index build over the broadcast rows: dim-sized by the
      // strategy's stats bound, so build cost is bounded like BNLJ's
      // per-task scans; rows in the broadcast array are driver-collected
      // copies, safe to reference
      val rKeyProj = UnsafeProjection.create(Seq(rKeyExpr), rOut)
      val buf = mutable.HashMap.empty[UnsafeRow,
        mutable.ArrayBuffer[(Long, InternalRow)]]
      bcast.value.foreach { r =>
        val keyRow = rKeyProj(r)
        val t = rt.eval(r)
        if (!keyRow.isNullAt(0) && t != null) {
          // look up with the REUSED projection row; copy only on first
          // insert — one key allocation per distinct key, not per row
          val entries = buf.getOrElse(keyRow, null)
          val target =
            if (entries != null) entries
            else {
              val fresh =
                mutable.ArrayBuffer.empty[(Long, InternalRow)]
              buf.put(keyRow.copy(), fresh)
              fresh
            }
          target += ((t.asInstanceOf[Long], r))
        }
      }
      val index: mutable.HashMap[UnsafeRow, History] = buf.map {
        case (k, entries) =>
          // stable sort: equal-time rows keep build order (tie behavior
          // is unspecified either way — see AsOfJoin's contract)
          val sorted = entries.sortBy(_._1)
          k -> new History(sorted.map(_._1).toArray,
            sorted.map(_._2).toArray)
      }
      val lKeyProj = UnsafeProjection.create(Seq(lKeyExpr), lOut)
      val joiner = UnsafeProjection.create(outAttrs, bindSchema)
      val joined = new JoinedRow
      val nullRight: InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          rOut.length)

      // backward: rightmost time <= t (< t when strict); forward:
      // leftmost time >= t (> t when strict) — strict flips only the
      // binary-search bound, excluding exact ties
      def probe(h: History, t: Long): Int = {
        var lo = 0
        var hi = h.times.length - 1
        var found = -1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          val ok =
            if (fwd) { if (noTies) h.times(mid) > t else h.times(mid) >= t }
            else { if (noTies) h.times(mid) < t else h.times(mid) <= t }
          if (ok) { found = mid; if (fwd) hi = mid - 1 else lo = mid + 1 }
          else { if (fwd) lo = mid + 1 else hi = mid - 1 }
        }
        found
      }

      lIter.flatMap { l =>
        val keyRow = lKeyProj(l)
        val tRaw = lt.eval(l)
        if (keyRow.isNullAt(0) || tRaw == null) {
          if (outer) Iterator.single(joiner(joined(l, nullRight)))
          else Iterator.empty
        } else {
          val t = tRaw.asInstanceOf[Long]
          val hit = index.get(keyRow) match {
            case Some(h) =>
              val i = probe(h, t)
              if (i >= 0 &&
                (if (fwd) h.times(i) - t else t - h.times(i)) <= tol)
                h.rows(i)
              else null
            case None => null
          }
          if (hit != null) Iterator.single(joiner(joined(l, hit)))
          else if (outer) Iterator.single(joiner(joined(l, nullRight)))
          else Iterator.empty
        }
      }
    }
  }
}
