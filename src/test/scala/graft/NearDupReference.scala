package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-dup clustering by min-label propagation, kept ONLY as the
  * reference the specs compare `DedupOps.nearDupClusters` (star
  * contraction) against: an independent fixpoint over the same contract
  * (minimum reachable doc_id as `cluster_id`) that shares no code with
  * `GraphOps.ccWithRounds`, and whose round count grows with the
  * component diameter where contraction's grows with log n. */
object NearDupReference {

  /** (labels, rounds): every doc in a pair labeled with the minimum
    * doc_id reachable through pairs, by min-label propagation to a
    * fixpoint. Per round one shuffle join (edges x labels) and one keyed
    * min-agg; rounds = component diameter. */
  def clustersWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      // cache lifecycle: scoped to this call — unpersisted below
      .persist(MEMORY_AND_DISK)
    // seed with the 1-hop minimum (least of self and all neighbors) —
    // one aggregation that replaces the identity init plus the first
    // propagation round
    var labels = edges.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), first(col("src"))).as("label"))
      // cache lifecycle: scoped to this call — unpersisted below
      .persist(MEMORY_AND_DISK)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      // coalesce: sum() over an empty frame is null — an empty pair list
      // (clean corpus) must converge immediately, not NPE. decimal(38,0)
      // accumulation: a bigint sum wraps silently in non-ANSI mode, and
      // the monotonicity argument below only holds without overflow
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var rounds = 0
    while (!converged) {
      val prop = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("label"))
      // LAZY localCheckpoint, not persist: persist bounds memory but the
      // logical plan still chains round over round, and consumers that
      // re-run the closure (d10 stacks a join+agg on top) were printing
      // 450+-exchange plans whose Catalyst re-analysis grows with every
      // fixpoint round. Checkpointing pins each round to a single RDD
      // scan; eager=false because the labelSum convergence action below
      // materializes it anyway — one pass per round, not two (under AQE
      // the cut still runs the map stages below it when it is built).
      // Superseded rounds are reclaimed by the ContextCleaner.
      val next = labels.unionByName(prop)
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint(false)
      // labels only ever decrease, so the label sum is strictly monotone:
      // equal sums == fixpoint — a one-column agg over the cached frame
      // instead of a join-and-diff per round
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels.unpersist()
      labels = next
      rounds += 1
    }
    edges.unpersist()
    (labels.select(col("id").as("doc_id"), col("label").as("cluster_id")),
      rounds)
  }
}
