package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Budget-bounded corpus selection without a global sort.
  *
  * The curation finale "take the best documents until the token budget
  * is spent" is semantically a prefix of the corpus ordered by
  * (quality DESC, doc_id ASC) — exactly the plan shape (range-
  * partitioning exchange + running-sum window over everything) that
  * the audit bans, because at 100 TB every row would flow through the
  * sort. [[tokenBudgetSelect]] is the scale-right form: recursive
  * histogram splitting confines the exact running-sum window to ONE
  * boundary bucket of bounded size, while every bucket strictly better
  * than the boundary is selected by a pushed-down filter with no
  * ordering at all.
  *
  * Input contract: `scored` has columns `doc_id` (unique, non-negative
  * BIGINT), `n_tok` (non-negative BIGINT token count), `q9`
  * (non-negative BIGINT quality surrogate, bounded range — t39 uses
  * floor(quality*1e9) in [0, 1e9]). Selection order is (q9 DESC,
  * doc_id ASC); the result is the maximal prefix whose running `n_tok`
  * sum stays <= budget — row-for-row identical to the full-sort cumsum
  * (the DuckDB oracle of t39 IS that cumsum).
  *
  * Why the recursion terminates with a BOUNDED window on any input:
  *  - q9 phase: bucket key `q9 div quantum` is monotone in q9, so
  *    walking buckets best-first preserves selection order; the
  *    boundary bucket re-histograms at quantum/64 until its rows fit
  *    `maxBoundaryRows` or it collapses to a single q9 value.
  *  - doc phase (the constant-quality corpus that defeats any quality
  *    histogram): once the boundary bucket holds ONE q9 value, order
  *    within it is doc_id ASC — and doc_id is unique, so splitting on
  *    `doc_id div dq` (dq sized from the bucket's observed id span for
  *    <= ~201 buckets/level) shrinks the boundary by ~200x per level
  *    and ALWAYS reaches a bucket under `maxBoundaryRows`.
  * Each level is one keyed aggregation (map-side partial combine, one
  * shuffle of <= a few hundred rows) plus a <= ~256-row driver collect
  * — model-sized, never data-sized. The final window partitions by the
  * boundary bucket key (a hash exchange, not SinglePartition), so one
  * task processes <= maxBoundaryRows rows and the audit stays clean.
  *
  * Cache contract: the recursion filters the SAME `scored` frame once
  * per level — callers doing deep recursion should persist `scored`
  * first (caller-owned lifecycle, the DedupOps contract; Bench/Verify
  * clearCache() after every query action).
  */
object SelectOps {

  /** one recursion level, for specs/observability: which phase split,
    * at what quantum, how many histogram buckets the driver saw, and
    * how many rows the boundary bucket held (0 = no boundary, i.e.
    * everything fit). `windowed` marks the terminal level whose
    * boundary went through the exact running-sum window. */
  final case class BudgetLevel(depth: Int, phase: String, quantum: Long,
                               nBuckets: Int, boundaryRows: Long,
                               windowed: Boolean)

  def tokenBudgetSelect(scored: DataFrame, budget: Long,
                        maxBoundaryRows: Long = 1000000L,
                        maxDepth: Int = 16,
                        q9Quantum: Long = 4000000L): DataFrame =
    tokenBudgetSelectTrace(scored, budget, maxBoundaryRows, maxDepth,
      q9Quantum)._1

  /** [[tokenBudgetSelect]] plus the per-level ledger. */
  def tokenBudgetSelectTrace(scored: DataFrame, budget: Long,
                             maxBoundaryRows: Long = 1000000L,
                             maxDepth: Int = 16,
                             q9Quantum: Long = 4000000L)
      : (DataFrame, Seq[BudgetLevel]) = {
    require(maxBoundaryRows > 0 && maxDepth >= 1 && q9Quantum >= 1)
    val levels = scala.collection.mutable.ArrayBuffer[BudgetLevel]()
    val picked = scala.collection.mutable.ArrayBuffer[DataFrame]()

    // exact spend of the residual budget inside ONE bounded bucket:
    // partitionBy the (single-valued) bucket key keeps the exchange a
    // hash partitioning — the audit-whitelisted funnel shape — and the
    // window input is the bucket, never the corpus
    def windowSpend(bsub: DataFrame, keyCol: Column,
                    remaining: Long): DataFrame = {
      val w = Window.partitionBy(keyCol)
        .orderBy(col("q9").desc, col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bsub.withColumn("_cum", sum(col("n_tok")).over(w))
        .filter(col("_cum") <= remaining).drop("_cum")
    }

    var sub = scored
    var remaining = budget
    var depth = 0
    var phase = "q9"          // then "doc" once a single q9 value remains
    var quantum = q9Quantum
    var result: DataFrame = null
    while (result == null) {
      val keyCol =
        if (phase == "q9") expr(s"q9 div $quantum")
        else expr(s"doc_id div $quantum")
      // bucket histogram: token mass + row count decide the boundary;
      // min/max of q9 and doc_id decide how the NEXT level may split
      case class B(b: Long, btok: Long, brows: Long,
                   minQ: Long, maxQ: Long, minD: Long, maxD: Long)
      val hist = sub.groupBy(keyCol.as("_b"))
        .agg(sum(col("n_tok")).as("btok"), count(lit(1)).as("brows"),
          min(col("q9")).as("minQ"), max(col("q9")).as("maxQ"),
          min(col("doc_id")).as("minD"), max(col("doc_id")).as("maxD"))
        .collect()
        .map(r => B(r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      require(hist.forall(b => b.b >= 0 && b.minD >= 0),
        "tokenBudgetSelect requires non-negative q9 and doc_id " +
          "(integer `div` bucketing is order-aligned only there)")
      // selection order over buckets: quality phase walks best-first
      // (desc), the doc phase ascends (doc_id ASC is the tiebreak)
      val ordered =
        if (phase == "q9") hist.sortBy(-_.b) else hist.sortBy(_.b)
      var above = 0L
      var boundary: Option[B] = None
      for (b <- ordered if boundary.isEmpty)
        if (above + b.btok <= remaining) above += b.btok
        else boundary = Some(b)
      boundary match {
        case None => // the whole subset fits the residual budget
          levels += BudgetLevel(depth, phase, quantum, ordered.length,
            0L, windowed = false)
          result = sub
        case Some(bk) =>
          val better =
            if (phase == "q9") keyCol > bk.b else keyCol < bk.b
          picked += sub.filter(better)
          val bsub = sub.filter(keyCol === bk.b)
          remaining -= above
          val terminal =
            bk.brows <= maxBoundaryRows || depth + 1 >= maxDepth
          levels += BudgetLevel(depth, phase, quantum, ordered.length,
            bk.brows, windowed = terminal)
          if (terminal) result = windowSpend(bsub, keyCol, remaining)
          else if (phase == "q9" && bk.minQ == bk.maxQ) {
            // constant quality inside the boundary: no q9 split can
            // refine further — switch to the unique tiebreak key
            phase = "doc"
            quantum = math.max(1L, (bk.maxD - bk.minD + 200L) / 200L)
            sub = bsub
          } else if (phase == "q9") {
            quantum = math.max(1L, quantum / 64L)
            sub = bsub
          } else {
            quantum = math.max(1L, (bk.maxD - bk.minD + 200L) / 200L)
            sub = bsub
          }
          depth += 1
      }
    }
    (picked.foldLeft(result)(_ unionByName _), levels.toSeq)
  }

  /** Efraimidis–Spirakis (2006) weighted-sampling-without-replacement
    * key, quantized for cross-engine exactness: a row with weight w and
    * uniform draw u gets key u^(1/w); taking the k LARGEST keys is an
    * exact weight-proportional sample without replacement. Comparing
    * -ln(u)/w ASCENDING is the same order without the overflow-prone
    * power, and multiplying by an INVERSE-weight column keeps the
    * expression one ln away from exact: `-ln(u) * invW`. The single
    * transcendental is quantized at `quantum` (default 1e6 — coarse
    * enough that a 1-ulp libm disagreement between JVM and a C engine
    * cannot flip the rounded key, the t23/t24 ln discipline) so a
    * DuckDB oracle replays the key bit-for-bit; ties break on the
    * caller's id column downstream. u must lie in (0, 1], invW > 0. */
  def esSampleKeyQ(u: Column, invW: Column,
                   quantum: Double = 1e6): Column =
    floor((-log(u)) * invW * lit(quantum) + lit(0.5)).cast("long")
}
