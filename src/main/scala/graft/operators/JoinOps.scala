package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

/** Join operators beyond the built-in surface: the as-of join family,
  * binned range and interval-overlap joins, a bloom semi-join reduction
  * and a salted equi-join for skewed keys.
  *
  * The as-of join has ONE entry, [[JoinOps.asOfJoin]], which builds the
  * native [[graft.plans.AsOfJoin]] node; the planner then picks the exec
  * from stats (broadcast when the right side is dimension-sized,
  * shuffled streaming merge otherwise). [[JoinOps.asOfJoinAuto]] is the
  * skew path over that same node: it time-slices hot keys and leaves
  * cold keys on the plain node. The `ASOF JOIN` SQL syntax always plans
  * the plain node.
  * The other joins are compositions of stock Catalyst operators, chosen
  * for their scale shape: the range joins equi-join on time bins
  * instead of running an inequality join; the salted join trades k-fold
  * duplication of the build side for breaking a hot key across k
  * reducers.
  */
object JoinOps {

  /** As-of join: for each left row, the latest right row with
    * rightTime <= leftTime on the same key (backward, the default), or
    * with `forward = true` the EARLIEST right row with rightTime >=
    * leftTime (pandas merge_asof direction='forward'). Inner semantics
    * by default (left rows with no match drop); `leftOuter = true`
    * retains them with null `asof_*` columns — the ASOF LEFT JOIN shape,
    * including SQL LEFT JOIN null-key behavior: a NULL key/time never
    * matches but the left row itself survives. `tolerance` (time-column
    * units; micros for timestamps) caps the match's staleness — pandas
    * merge_asof(tolerance=...): a too-distant match drops (inner) or
    * null-pads (leftOuter), identical to never-matched. `strict`
    * excludes exact time ties (DuckDB's `>`/`<` comparators).
    *
    * Key columns may be ANY orderable type (bigint, string, date,
    * decimal, or a struct for composite keys), the same type on both
    * sides; time columns bigint or timestamp, the same type on both
    * sides. Integral keys and times widen to bigint. Output is
    * `left.columns ++ asof_<rightVals>`.
    *
    * Planned as the native [[graft.plans.AsOfJoin]] node (built by
    * [[graft.plans.AsOfJoin.build]]): the strategy broadcasts a right
    * side under `spark.sql.autoBroadcastJoinThreshold` (the fact side
    * reaches the join with zero exchanges — a stream-static join when
    * the left is a stream) and otherwise co-partitions both sides for a
    * streaming merge. e24 gates it against the DuckDB ASOF JOIN oracle,
    * e30 the tolerance form; the equality specs compare it with the
    * composed union+window reference in the test tree. The `ASOF JOIN`
    * SQL syntax builds the same node (e25, e29, e32, e34). */
  def asOfJoin(left: DataFrame, right: DataFrame,
               leftKey: String, rightKey: String,
               leftTime: String, rightTime: String,
               rightVals: Seq[String],
               leftOuter: Boolean = false,
               forward: Boolean = false,
               tolerance: Option[Long] = None,
               strict: Boolean = false): DataFrame = {
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(plan: LogicalPlan, n: String) =
      plan.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    val plan = graft.plans.AsOfJoin.build(lPlan, rPlan,
      attr(lPlan, leftKey), attr(rPlan, rightKey),
      attr(lPlan, leftTime), attr(rPlan, rightTime),
      leftOuter, forward, tolerance, strict,
      msg => throw new IllegalArgumentException(s"asOfJoin: $msg"))
    // positional rename: output = left columns ++ right columns, which
    // may share names — rename right side to asof_<name>, then cut to
    // the requested payload
    val renamed = org.apache.spark.sql.GraftPlanBridge
      .ofRows(left.sparkSession, plan)
      .toDF(left.columns.toSeq ++ right.columns.map("asof_" + _): _*)
    renamed.select(left.columns.map(col).toSeq ++
      rightVals.map(v => col(s"asof_$v")): _*)
  }

  /** Time-sliced skew-split as-of join — the hot-key path under
    * [[asOfJoinAuto]] (and e36's fixed-width gate). AQE's skew-join
    * optimization pattern-matches only the built-in
    * SortMergeJoin/ShuffledHashJoin execs, so the native as-of exec's
    * ClusteredDistribution exchanges are OUTSIDE runtime skew splitting
    * (pinned by AsOfSkewSpec): one key carrying half the rows lands on
    * one task. This operator partitions the TIME axis into
    * `sliceWidth`-wide slices and joins on the composite key
    * `(key, slice)` — a hot key now spreads across as many tasks as it
    * has active slices.
    *
    * Salting an as-of join needs more than duplicating the build side: a
    * left row's match may live in an EARLIER slice. Correctness comes
    * from carry-ins — for every (key, slice) the left side occupies, the
    * representative of the latest earlier slice that has right rows
    * (that slice's latest row) is replicated into that slice. The latest
    * right row at-or-before each left time is then either in the same
    * slice (kept as-is) or the carry-in, never lost. Picking the latest
    * earlier slice is itself an as-of join: occupied left slices against
    * per-slice representatives, keyed by key, timed by slice index,
    * strict. It runs on the native exec over AGGREGATED frames (one row
    * per (key, slice)), so the extra work is metadata-scale.
    *
    * Same output contract and null semantics as [[asOfJoin]]
    * (NULL key/time never matches; inner drops, `leftOuter` pads) — the
    * composite struct key is nulled whenever either component is null so
    * struct ordering cannot resurrect SQL-null equality. `forward` is
    * the exact mirror: the carried row is the representative of the
    * earliest LATER slice, each slice represented by its earliest row.
    * `tolerance` composes unchanged: a carried row that is too stale
    * fails the exec's bound exactly like the unsliced plan.
    * Ties on (key, rightTime) are broken by the payload struct order
    * here vs physical order natively — both unspecified contracts;
    * callers needing determinism must dedup (key, time) first.
    *
    * `sliceWidth` is in the time column's own units (micros for
    * timestamps, via unix_micros — NOT the seconds a timestamp->long
    * cast would give). [[asOfSlicePlan]] sizes it from the key
    * histogram. */
  private[graft] def asOfJoinTimeSliced(left: DataFrame, right: DataFrame,
                         leftKey: String, rightKey: String,
                         leftTime: String, rightTime: String,
                         rightVals: Seq[String],
                         sliceWidth: Long,
                         leftOuter: Boolean = false,
                         forward: Boolean = false,
                         tolerance: Option[Long] = None,
                         strict: Boolean = false): DataFrame = {
    require(sliceWidth > 0, s"sliceWidth must be > 0, got $sliceWidth")
    // reserved internal names — fail loud instead of silently shadowing
    Seq("__t", "__slice", "__kk").foreach(n =>
      require(!left.columns.contains(n) && !right.columns.contains(n),
        s"asOfJoinTimeSliced reserves the column name `$n`; rename the " +
          "caller's column first"))
    // exact floor division on longs: pmod keeps negatives correct and
    // `div` is INTEGRAL division — `/` would route through double and
    // round above 2^53; the subtraction makes the quotient exact
    def slice(tCol: String): Column =
      expr(s"($tCol - pmod($tCol, ${sliceWidth}L)) div ${sliceWidth}L")
    // composite key fields are aliased (k, s) at every construction site:
    // the exec compares struct types INCLUDING field names, and
    // unionByName matches nested names
    def compositeKey(k: Column, s: Column): Column =
      when(k.isNull || s.isNull, lit(null))
        .otherwise(struct(k.as("k"), s.as("s")))

    val lS = left.withColumn("__t", micros(left, leftTime))
      .withColumn("__slice", slice("__t"))
      .withColumn("__kk", compositeKey(col(leftKey), col("__slice")))
    val rS = right.withColumn("__t", micros(right, rightTime))
      .withColumn("__slice", slice("__t"))
      .withColumn("__kk", compositeKey(col(rightKey), col("__slice")))
      .filter(col("__kk").isNotNull) // null key/time never matches anyway

    // one representative per (key, slice): the slice's LATEST right row
    // backward / EARLIEST forward (payload struct breaks rt ties
    // deterministically)
    val payload = struct(right.columns.map(col).toIndexedSeq: _*)
    val repPerSlice = rS
      .groupBy(col(rightKey).as("__k"), col("__slice").as("__rs"))
      .agg((if (forward) min_by(payload, struct(col("__t"), payload))
            else max_by(payload, struct(col("__t"), payload))).as("__row"))
    // slices the LEFT occupies (only these can emit output)
    val leftSlices = lS.filter(col("__kk").isNotNull)
      .select(col(leftKey).as("__k"), col("__slice").as("__ls")).distinct()
    // carried row per occupied slice: the representative of the latest
    // strictly earlier slice (forward: earliest strictly later). The
    // representatives are unique per (key, slice), so no tie arises
    val carries = asOfJoin(leftSlices, repPerSlice, "__k", "__k",
        "__ls", "__rs", Seq("__row"), forward = forward, strict = true)
      .select((right.columns.map(c => col(s"asof___row.$c")) ++
        Seq(col("__ls").as("__slice"))).toIndexedSeq: _*)
      // rebuild the composite key in the DESTINATION slice (the carried
      // row's key/time are non-null by construction)
      .withColumn("__kk", compositeKey(col(rightKey), col("__slice")))
    val rAug = rS.select((right.columns.map(col) ++
        Seq(col("__slice"), col("__kk"))).toIndexedSeq: _*)
      .unionByName(carries)

    // strict threads straight through: a carried row always comes from
    // a DIFFERENT slice (strictly earlier backward, strictly later
    // forward), so its time can never tie with a left time in the
    // destination slice — only the within-slice merge needs the tie
    // exclusion, and the native exec applies it
    asOfJoin(lS, rAug, leftKey = "__kk", rightKey = "__kk",
        leftTime = leftTime, rightTime = rightTime,
        rightVals = rightVals, leftOuter = leftOuter,
        forward = forward, tolerance = tolerance, strict = strict)
      .select((left.columns.map(col) ++
        rightVals.map(v => col(s"asof_$v"))).toIndexedSeq: _*)
  }

  /** Auto-skew-routed as-of join — the last rung of the as-of planning
    * ladder: the physical TIER is already cost-based
    * ([[graft.plans.AsOfJoinStrategy]] picks broadcast vs shuffled merge
    * from stats), but Spark's AQE cannot split the custom exec's skewed
    * partitions (OptimizeSkewedJoin pattern-matches only the built-in
    * join execs — pinned in AsOfSkewSpec), so a hot key serializes onto
    * one task. This operator detects hot keys and routes them:
    *
    *  1. [[asOfSkewPlan]] detects hot keys — a Misra-Gries
    *     pass (ds04's `mg_topk_agg`): O(capacity) state per partition,
    *     NO keyed shuffle, so skew detection never pays a
    *     key-cardinality exchange over a 100 TB input — and sizes the
    *     slices with [[asOfSlicePlan]] over just the candidate keys (a
    *     pruned second pass); the MIN width across hot keys becomes the
    *     global sliceWidth. When an explicit `targetRowsPerTask` is
    *     finer than the sketch can certify, the second pass drops its
    *     candidate filter (one full keyed histogram — the w19 gate
    *     shape);
    *  2. keys above `targetRowsPerTask` (default: left total /
    *     defaultParallelism — w14's hot bar) are HOT, capped at the
    *     top max(4*parallelism, 64) by count (the remainder routes
    *     cold — still correct, just unsplit), so the driver-side list
    *     and the isin literal stay metadata-scale even when a caller
    *     passes a test-scale target that thousands of keys exceed;
    *  3. both inputs split on hot-key membership (an isin predicate —
    *     it folds into the scan as an In filter, no extra shuffle):
    *     hot rows route through the time-sliced form at the planned
    *     width, cold rows through [[asOfJoin]] (which keeps the
    *     cost-based broadcast/shuffled choice), results union.
    *
    * No hot keys → the plain native plan, zero routing overhead beyond
    * the detection pass. Requires an ATOMIC key column (the detection
    * collect and the isin literal need a scalar); composite keys:
    * pre-concat. NULL left keys route cold, preserving the exec's null
    * semantics (never match; outer still pads). Detection runs jobs when
    * this is called, so it is a DataFrame call, never an analysis rule:
    * a SQL caller routes its tables with
    * `asOfJoinAuto(spark.table(l), spark.table(r), ...)`, and the
    * `ASOF JOIN` syntax always plans the plain node. */
  def asOfJoinAuto(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTime: String, rightTime: String,
                   rightVals: Seq[String],
                   leftOuter: Boolean = false,
                   forward: Boolean = false,
                   tolerance: Option[Long] = None,
                   strict: Boolean = false,
                   targetRowsPerTask: Long = 0L): DataFrame = {
    require(!left.schema(leftKey).dataType
      .isInstanceOf[org.apache.spark.sql.types.StructType],
      "asOfJoinAuto requires an atomic key column — composite keys: " +
        "pre-concat them into one column")
    def native(l: DataFrame, r: DataFrame): DataFrame =
      asOfJoin(l, r, leftKey, rightKey, leftTime, rightTime,
        rightVals, leftOuter, forward, tolerance, strict)
    asOfSkewPlan(left, leftKey, leftTime, targetRowsPerTask) match {
      case None => native(left, right)
      case Some((hotKeys, sliceWidth)) =>
        val lHot = left.filter(col(leftKey).isInCollection(hotKeys))
        val lCold = left.filter(col(leftKey).isNull ||
          !col(leftKey).isInCollection(hotKeys))
        val rHot = right.filter(col(rightKey).isInCollection(hotKeys))
        val rCold = right.filter(col(rightKey).isNull ||
          !col(rightKey).isInCollection(hotKeys))
        asOfJoinTimeSliced(lHot, rHot, leftKey, rightKey, leftTime,
            rightTime, rightVals, sliceWidth, leftOuter, forward,
            tolerance, strict)
          .unionByName(native(lCold, rCold))
    }
  }

  /** Hot-key detection + slice sizing for [[asOfJoinAuto]]: returns the
    * hot keys (capped, count-descending) and the global sliceWidth, or
    * None when nothing crosses the target. Two passes, NO
    * key-cardinality shuffle:
    *
    *  1. one Misra-Gries `mg_topk_agg` pass over `xxhash64(key)` (any
    *     atomic key type sketches through its hash; a hash collision
    *     can only ADD a candidate, which the exact pass 2 then rejects)
    *     plus the grand total, partial-aggregated to O(capacity) per
    *     partition — the only state that crosses the wire. MG's
    *     deterministic bounds make the candidate set a SUPERSET of the
    *     true hot set whenever target >= total/capacity: every key with
    *     true count > total/capacity is present, and est >= true -
    *     total/capacity, so filtering est > target - total/capacity
    *     keeps every truly-hot key;
    *  2. [[asOfSlicePlan]] over ONLY candidate-key rows (the isin on the
    *     hash folds into the scan; map-side combine leaves
    *     <= |candidates| rows to shuffle) supplies the exact counts the
    *     width arithmetic needs — estimates never size slices.
    *
    * CAP CAVEAT: the candidate list is truncated at 4*maxHot by MG
    * ESTIMATED count, which need not follow true-count order, so past
    * the truncation (> 4*max(4*par, 64) candidates) a truly-hot key can
    * lose to a near-hot false candidate and route cold, unsplit.
    * Results stay correct (routing is result-invariant); below it the
    * superset guarantee holds, and AsOfSkewSpec pins the sketch's hot
    * set against an exact histogram.
    *
    * Fallback: an explicit target below total/capacity is finer than
    * the sketch can certify, so pass 2 drops the candidate filter and
    * aggregates every row — one full keyed histogram, the w19 gate
    * shape. Default targets never fall back: capacity is floored at
    * parallelism, so total/parallelism >= total/capacity always
    * certifies. */
  private[graft] def asOfSkewPlan(left: DataFrame, leftKey: String,
      leftTime: String, targetRowsPerTask: Long): Option[(Seq[Any], Long)] = {
    val par = left.sparkSession.sparkContext.defaultParallelism
    val maxHot = math.max(4 * par, 64)
    // NULL key/time rows are excluded on purpose: they never match in
    // the exec, so they cannot make a key hot — and a key whose times
    // are ALL null would otherwise surface a null span into the planner
    val filtered = left.filter(
      col(leftKey).isNotNull && micros(left, leftTime).isNotNull)
    val cap = math.max(4096, par)
    val sk = filtered.select(xxhash64(col(leftKey)).as("__h"))
      .agg(expr(s"mg_topk_agg(__h, $cap)").as("__mg"),
        count(lit(1)).as("__total")).head()
    val total = sk.getLong(1)
    if (total == 0L) return None
    val target =
      if (targetRowsPerTask > 0) targetRowsPerTask
      else math.max(total / par, 1L)
    val err = total / cap // MG bound: true(x) - est(x) <= total/cap
    val rows =
      if (target < err) filtered // only reachable with explicit target
      else {
        val cand = sk.getMap[Long, Long](0).toSeq
          .filter(_._2 > target - err)
          .sortBy { case (h, c) => (-c, h) }.take(4 * maxHot).map(_._1)
        if (cand.isEmpty) return None
        filtered.filter(xxhash64(col(leftKey)).isInCollection(cand))
      }
    // top-K by count INSIDE the query (TakeOrdered, not a global sort),
    // so the collect stays metadata-scale even when a small target lets
    // thousands of keys through; keys past the cap just route cold. The
    // secondary sort on the key makes count ties at the cap boundary
    // pick the same hot set on every run
    val hot = asOfSlicePlan(
        rows.select(col(leftKey).as("key"), micros(left, leftTime).as("tus")),
        lit(target))
      .orderBy(col("n_rows").desc, col("key").asc).limit(maxHot)
      .select(col("key"), col("slice_width")).collect()
    // global width = MIN, so the hottest key's tasks hit ~target rows
    if (hot.isEmpty) None
    else Some((hot.map(_.get(0)).toSeq, hot.map(_.getLong(1)).min))
  }

  /** The hot-key slice planner, shared by [[asOfSkewPlan]] and the w19
    * gate (w14's histogram->plan arithmetic on the time axis). `keyed`
    * has columns `key` and `tus` (a long time in its own units); keys
    * with more than `target` rows are hot. Per hot key it returns
    * `(key, n_rows, n_slices, t_min, t_max, slice_width)` with
    * n_slices = ceil(n_rows / target) and slice_width =
    * max(1, ceil((t_max - t_min + 1) / n_slices)): the width at which
    * each of the key's (key, slice) tasks sees ~target rows. Both
    * ceilings divide in double, as the DuckDB oracle of w19 does. */
  private[graft] def asOfSlicePlan(keyed: DataFrame,
                                   target: Column): DataFrame =
    // the target is one value, so grouping on it splits nothing; it
    // carries the target through the aggregate as one column, which
    // plans a subquery target once instead of once per use
    keyed.groupBy(col("key"), target.as("target"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("tus")).as("t_min"), max(col("tus")).as("t_max"))
      .filter(col("n_rows") > col("target"))
      .select(col("key"), col("n_rows"),
        ceil(col("n_rows") / col("target").cast("double")).as("n_slices"),
        col("t_min"), col("t_max"))
      .withColumn("slice_width", greatest(lit(1L),
        ceil((col("t_max") - col("t_min") + 1) /
          col("n_slices").cast("double"))))

  /** a time column as a long in its own units (micros for timestamps) */
  private def micros(df: DataFrame, c: String): Column =
    if (df.schema(c).dataType == org.apache.spark.sql.types.TimestampType)
      unix_micros(col(c))
    else col(c).cast("long")

  /** Binned range join: pairs (l, r) with
    * rightTime in [leftTime - windowSec, leftTime]. Instead of an
    * inequality join (nested-loop at any scale), both sides are bucketed
    * into windowSec-wide time bins and equi-joined on the bin — the left
    * side probes its own and the previous bin, which covers every pair a
    * window of that length can span — then the exact range predicate
    * filters within the bin pairs. One shuffle on the bin key; cost is
    * linear in events-per-bin, not in the cross product. Column names
    * must be disjoint between the two inputs. Optional `keys` add
    * equality predicates INTO the bin join (e.g. same-user pairs only),
    * which shrinks both the shuffle groups and the within-bin pairing —
    * at scale the keyed form is the one to use whenever an equality key
    * exists (e28 attribution: (user, bin) groups instead of whole
    * bins). */
  def rangeJoinBinned(left: DataFrame, right: DataFrame,
                      leftTime: String, rightTime: String,
                      windowSec: Long,
                      keys: Seq[(String, String)] = Nil): DataFrame = {
    require(left.columns.toSet.intersect(right.columns.toSet).isEmpty,
      "left/right column names must be disjoint")
    val binMicros = windowSec * 1000000L
    val lBin = expr(s"unix_micros($leftTime) div $binMicros")
    val l = left.withColumn("_bin", explode(array(lBin - 1, lBin)))
    val r = right.withColumn("_bin", expr(s"unix_micros($rightTime) div $binMicros"))
    val cond = keys.foldLeft(l("_bin") === r("_bin")) {
      case (c, (lk, rk)) => c && l(lk) === r(rk)
    }
    l.join(r, cond)
      .filter(col(rightTime) >= col(leftTime) - expr(s"INTERVAL $windowSec SECONDS") &&
        col(rightTime) <= col(leftTime))
      .drop(l("_bin")).drop(r("_bin"))
  }

  /** LEFT OUTER [[rangeJoinBinned]]: left rows with NO right row in
    * their window survive null-padded — the shape that keeps zero-touch
    * facts visible (e28's inner form silently drops a purchase with no
    * prior-hour click, corrupting a "credit per purchase" denominator).
    *
    * The bin-explode makes a naive outer join WRONG two ways: a left row
    * probes TWO bins, so (a) it would pad once per unmatched bin
    * (duplicates), and (b) a row matched in one bin would ALSO pad from
    * its other bin. So the outer form composes from the inner result —
    * and identifies unmatched left ROWS by an internal
    * monotonically_increasing_id tag, not by tuple equality: duplicate
    * left rows each pad/match independently and NULLs in left columns
    * are inert (the round-14 footguns, closed here instead of pushed
    * onto callers — the anti-join now compares one non-null long). The
    * tag requires `left`'s row order to be deterministic per partition
    * (any scan-rooted plan is; a nondeterministically-ordered input —
    * e.g. fresh round-robin repartition — is the one remaining caller
    * contract, shared by every id-tagging operator). Cost: the inner
    * result projected to one long + distinct, one long-keyed anti-join
    * over `left`, union — all keyed shuffles on scalar keys. */
  def rangeJoinBinnedLeft(left: DataFrame, right: DataFrame,
                          leftTime: String, rightTime: String,
                          windowSec: Long,
                          keys: Seq[(String, String)] = Nil): DataFrame = {
    // fail LOUD, not by silently overwriting and dropping a caller
    // column that happens to use the operator's internal tag name
    require(!left.columns.contains("_rjid"),
      "rangeJoinBinnedLeft reserves the column name `_rjid` for its " +
        "internal row tag; rename the caller's column first")
    val tagged = left.withColumn("_rjid", monotonically_increasing_id())
    val inner = rangeJoinBinned(tagged, right, leftTime, rightTime,
      windowSec, keys)
    val pads = tagged.join(inner.select(col("_rjid")).distinct(),
      Seq("_rjid"), "left_anti")
    val padded = right.columns.foldLeft(pads)((df, c) =>
      df.withColumn(c, lit(null).cast(right.schema(c).dataType)))
    inner.unionByName(padded).drop("_rjid")
  }

  /** Bloom semi-join reduction: filter `fact` down to rows whose key
    * PROBABLY appears in `build`'s key set, using a bloom filter built
    * with [[graft.expressions.BloomAgg]] and probed per-row with
    * [[graft.expressions.BloomMightContain]].
    *
    * False negatives are impossible, so `bloomPreFilter(...)` followed by
    * the exact join is result-identical to the plain join — but the
    * shuffle the join needs now carries only probable matches (true
    * matches + ~fpp of the rest). The filter itself is a driver-side
    * scalar (one aggregate row, KBs–MBs regardless of build row count)
    * bound into the probe as a literal — the same life cycle as a
    * broadcast variable, reusable against any number of scans across
    * queries. Spark's own runtime bloom injection (RuntimeFilterSpec)
    * does this only within a single query's join. */
  def bloomPreFilter(fact: DataFrame, factKey: String,
                     build: DataFrame, buildKey: String,
                     expectedItems: Long, fpp: Double): DataFrame = {
    graft.expressions.VectorExpressions.registerAll(fact.sparkSession)
    val bytes = build
      .agg(call_function("bloom_agg", col(buildKey),
        lit(expectedItems), lit(fpp)).as("bf"))
      .head().getAs[Array[Byte]](0)
    fact.filter(call_function("bloom_contains", lit(bytes), col(factKey)))
  }

  /** Binned interval-overlap join: pairs (l, r) whose CLOSED intervals
    * [lStart, lEnd] and [rStart, rEnd] (timestamp columns) intersect,
    * i.e. lStart <= rEnd AND rStart <= lEnd.
    *
    * A naive inequality join is a nested-loop cross product at any
    * scale. Here each interval is exploded onto every `binSec`-wide time
    * bin it touches and the two sides are EQUI-joined on the bin — one
    * hash shuffle, cost linear in sum-of-per-bin pairs (the true output
    * work), not |L|·|R|. An overlapping pair co-occurs in every bin both
    * intervals share, so to emit it exactly once WITHOUT a distinct
    * (a second full shuffle), the pair is kept only in its canonical
    * bin — the bin holding the later of the two starts, which both
    * intervals provably cover when they overlap.
    *
    * Choose binSec near the typical interval length: duplication factor
    * is ceil(len/binSec)+1 per row. Column names must be disjoint.
    *
    * Binning uses exact FLOOR division (not `div`'s toward-zero
    * truncation), so pre-1970 timestamps get uniform binSec-wide bins
    * too — with `div`, bin 0 would span (-binSec, +binSec) and the
    * duplication-factor bound would silently degrade around the epoch. */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
                          lStart: String, lEnd: String,
                          rStart: String, rEnd: String,
                          binSec: Long): DataFrame = {
    require(left.columns.toSet.intersect(right.columns.toSet).isEmpty,
      "left/right column names must be disjoint")
    require(binSec > 0, "binSec must be positive")
    val binMicros = binSec * 1000000L
    // exact long floor-division: `div` truncates toward zero, so shift
    // the quotient down by one whenever a negative dividend leaves a
    // remainder (no IEEE double in the path — micros exceed 2^53 range)
    def floorBin(tsExpr: String) =
      s"((unix_micros($tsExpr) div $binMicros) - " +
        s"(CASE WHEN unix_micros($tsExpr) % $binMicros < 0 THEN 1 ELSE 0 END))"
    def spannedBins(st: String, en: String) =
      expr(s"sequence(${floorBin(st)}, ${floorBin(en)})")
    val l = left.withColumn("_bin", explode(spannedBins(lStart, lEnd)))
    val r = right.withColumn("_bin", explode(spannedBins(rStart, rEnd)))
    l.join(r, "_bin")
      .filter(col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd))
      .filter(col("_bin") ===
        expr(floorBin(s"greatest($lStart, $rStart)")))
      .drop("_bin")
  }

  /** Salted equi-join for skewed fact keys: the dimension side is
    * replicated `salt` times, the fact side picks a deterministic salt
    * from row identity, and the join key becomes (key, salt) — a hot key
    * now lands on `salt` reducers instead of one. Results are identical
    * to the unsalted join. (AQE's skew-join handles most cases at
    * runtime; explicit salting remains the tool when one logical key
    * exceeds what any single task can hold.) */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salt: Int,
                 saltBy: Column): DataFrame = {
    require(salt > 1, "salt must be > 1")
    val saltedFact = fact.withColumn("_salt", pmod(xxhash64(saltBy), lit(salt)))
    val saltedDim = dim
      .withColumn("_salt", explode(array((0 until salt).map(i => lit(i.toLong)): _*)))
    saltedFact.join(saltedDim,
      saltedFact(key) === saltedDim(key) && saltedFact("_salt") === saltedDim("_salt"))
      .drop(saltedDim(key)).drop("_salt")
  }
}
