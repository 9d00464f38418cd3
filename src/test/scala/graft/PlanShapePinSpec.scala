package graft

import graft.queries.Registry

/** Pins the shuffle budget of headline queries — the structural scale
  * property the audit reports, promoted to a regression test. Bounds are
  * UPPER bounds (a plan may legitimately improve); a failure means an
  * edit added an Exchange to a plan that was shuffle-lean, exactly the
  * regression that costs the most at 100 TB. Counts come from the
  * executed plan string, same matcher as the audit. */
class PlanShapePinSpec extends SparkSpec {

  // query -> max allowed exchanges (hash/range/single-partition)
  private val budget: Map[String, Int] = Map(
    "p01_tripmetrics_core" -> 0, // pure projection: NO shuffle, ever
    "t01_token_stats" -> 0,      // per-doc metrics are row-local
    "q09_topk" -> 0,             // top-k must collapse to TakeOrdered
    "w01_scd2_merge" -> 0,       // broadcast merge, no exchange
    "q01_agg" -> 1,              // one keyed aggregation
    "d01_exact_dedup" -> 1,      // one hash-group on content hash
    "h01_pricing_summary" -> 1,
    "e01_tumbling_window" -> 1,
    "q03_join_broadcast" -> 1,   // dims broadcast; one agg shuffle
    "q20_star_join" -> 1,        // star: ALL dims broadcast
    "q04_join_factfact" -> 2,    // fact-fact join + final agg
    "s01_cosine_topk" -> 1,      // scoring is broadcast NLJ + one window
    "m10_image_resize" -> 0,     // three codec passes, all row-local
    "t25_bpe_encode" -> 1,       // encode row-local; one token agg
    "d16_substring_dedup" -> 7,  // distinct, df cap, semi, pair join, agg
    "g10_kcore" -> 4,            // rounds pre-checkpointed; one tagged
                                 // distinct-count + anchor join tail
    "d18_weighted_sample" -> 0,  // scan + TakeOrdered: keys are row-local
    "s18_jl_distortion" -> 2,    // projection row-local; pair join + agg
    "s22_filtered_ann" -> 1,     // predicate joins broadcast; one window
    "ds08_join_size_estimate" -> 7, // 3 sketch aggs + 2 exact sides + union
    // round-13 operators: pin the shapes the scale story depends on
    "e26_asof_left" -> 2,        // exec's two EnsureRequirements exchanges
    "e27_asof_forward" -> 2,     // same two, time sort mirrored
    "e25_asof_sql_tvf" -> 2,     // SQL route must not add a shuffle
    "e28_linear_attribution" -> 1, // (user,bin)-keyed join + final agg
    "t41_temperature_sample" -> 1, // ES keys row-local; TakeOrdered cut
    "d25_symspell_join" -> 2,    // variant equi-join + pair distinct
    "w17_winsorize_cuts" -> 2,   // per-type window + broadcast recount
    // round-15 operators
    "e37_asof_broadcast" -> 0,   // broadcast as-of exec: the fact side
                                 // reaches the join exchange-free
    "e38_asof_broadcast_fwd" -> 0, // same, fully-loaded variant
    "e34_asof_syntax" -> 2,      // parser route = the native exec's two
                                 // exchanges (broadcast tier at tiny SF
                                 // may drop them; 2 is the ceiling)
    "e36_asof_time_sliced" -> 8, // slicing premium: rep/carry aggs +
                                 // the composite-key exec's exchanges
    "w19_asof_slice_plan" -> 2,  // key histogram + broadcast total
    // round-16 operators
    "e41_asof_syntax_strict" -> 2, // strict rides the same native exec:
                                   // the two EnsureRequirements
                                   // exchanges are the ceiling
    "e42_asof_auto_skew" -> 8,   // histogram agg + the hot branch's
                                 // slicing premium + the cold native
                                 // path (5 observed at sf0.001; slack
                                 // for a different hot-key split)
    "w20_time_travel_ts" -> 1)   // two snapshot scans + one broadcast
                                 // join; resolution is metadata-only

  private def exchanges(plan: String): Int =
    "Exchange (hash|range)partitioning".r.findAllMatchIn(plan).size +
      "Exchange SinglePartition".r.findAllMatchIn(plan).size

  test("headline query shuffle budgets hold") {
    val over = budget.toSeq.sortBy(_._1).flatMap { case (name, max) =>
      val plan = Registry.queries(name)(spark, sfTiny)
        .queryExecution.executedPlan.toString
      val n = exchanges(plan)
      if (n > max) Some(s"$name: $n exchanges (budget $max)") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  // w06 audits four FK relationships; only the two tiny-by-design
  // parents (nation, customer) may carry a FORCED broadcast hint. The
  // part/supplier parent key sets grow with SF — a forced hint there
  // overrides AQE into an executor OOM at 100x, so this pins them to
  // hint-free joins (AQE still broadcasts at small SF on its own).
  test("w06 large-parent audits carry no forced broadcast hint") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val plan = Registry.queries("w06_referential_audit")(spark, sfTiny)
      .queryExecution.optimizedPlan
    val hinted = plan.collect { case j: Join =>
      Seq(j.hint.leftHint, j.hint.rightHint).flatten
        .count(_.strategy.isDefined)
    }.sum
    assert(hinted == 2,
      s"expected exactly 2 hinted joins (the tiny-parent orphan audits), got $hinted")
  }
}
