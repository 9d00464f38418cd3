package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType

/** SQL-frontend surface for the native [[AsOfJoin]] operator: a
  * table-valued function registered through
  * `SparkSessionExtensions.injectTableFunction`, so a pure `spark.sql`
  * user reaches [[AsOfJoinExec]] without touching the Scala API —
  * closing the one gap where a custom physical operator existed but only
  * DataFrame callers could plan it:
  *
  * {{{
  *   SELECT * FROM asof_join('trades', 'quotes',
  *                           'sym_id', 'sym_id', 'ts', 'ts',
  *                           'ts', 'px')          -- right payload cols
  *   SELECT * FROM asof_join_left(...)            -- LEFT OUTER variant
  *   SELECT * FROM asof_join_forward(...)         -- earliest ts >= left
  *   SELECT * FROM asof_join_forward_left(...)    -- both combined
  *   SELECT * FROM asof_join_strict...(...)       -- ties excluded (>/<);
  *     -- _strict, _strict_left, _strict_forward, _strict_forward_left
  *   SELECT * FROM asof_join_auto...(...)         -- hot-key skew routing;
  *     -- the SAME eight direction/shape suffixes as above
  *     -- (optional 2nd integer after the tolerance = targetRowsPerTask,
  *     --  or the NAMED form 'target=50000' in the option region — no
  *     --  tolerance sentinel needed)
  *     -- COST NOTE for pure-SQL users: the _auto family detects hot
  *     -- keys AT ANALYSIS TIME, so even plan-only operations over SQL
  *     -- containing it — EXPLAIN, df.schema, re-analyzing a wrapping
  *     -- view — execute the detection scans against the inputs.
  *     -- EXPLAIN the non-auto sibling to inspect shape for free.
  *   -- INLINE SUBQUERIES instead of temp views, and an optional
  *   -- tolerance (integer literal, time-column units) before the
  *   -- payload list:
  *   SELECT * FROM asof_join(
  *     'SELECT event_id, user_id, ts FROM events WHERE ...',
  *     'SELECT user_id, ts, value FROM events WHERE ...',
  *     'user_id', 'user_id', 'ts', 'ts', 600000000, 'ts', 'value')
  * }}}
  *
  * Arguments (string literals — the TVF builder runs at resolution
  * time, before any child plan exists to resolve column references
  * against): left table, right table — each either a temp-view/catalog
  * NAME or an inline SQL QUERY (dispatched on shape; queries parse via
  * the session-independent Catalyst parser and resolve in the same
  * analyzer fixed point) — left key, right key, left time, right time,
  * optionally a tolerance (the ONE non-string argument, an integer
  * literal type-dispatched from the payload list; pandas
  * merge_asof(tolerance=...) semantics per [[AsOfJoin]]), then one or
  * more right payload column names, which surface as `asof_<name>` —
  * the exact output contract of `JoinOps.asOfJoin`, so e24/e25
  * share one oracle.
  *
  * Resolution happens in two steps because a TVF builder only sees
  * literal arguments: the builder emits an [[UnresolvedAsOfJoin]]
  * placeholder over two `UnresolvedRelation`s; the analyzer's builtin
  * rules resolve those children in the same fixed-point batch, and the
  * injected [[ResolveAsOfJoin]] rule then rewrites the placeholder to
  * `Project(left ++ asof_-aliased payload, <node>)`, the node built by
  * [[AsOfJoin.build]] exactly as `JoinOps.asOfJoin` builds it. */
object AsOfJoinTvf {

  /** placeholder emitted by the TVF builder; never survives analysis.
    * `auto = true` marks the `asof_join_auto` family: the resolver then
    * routes through [[AsOfJoin.routeAuto]] (hot keys time-sliced, cold
    * keys native) instead of planning one [[AsOfJoin]];
    * `autoTarget > 0` is its explicit targetRowsPerTask. */
  case class UnresolvedAsOfJoin(
      left: LogicalPlan, right: LogicalPlan,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightVals: Seq[String], leftOuter: Boolean,
      forward: Boolean, tolerance: Option[Long] = None,
      strict: Boolean = false, auto: Boolean = false,
      autoTarget: Long = 0L) extends BinaryNode {
    override lazy val resolved: Boolean = false
    override def output: Seq[Attribute] = Nil
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): UnresolvedAsOfJoin =
      copy(left = newLeft, right = newRight)
  }

  private def strArg(fn: String, args: Seq[Expression], i: Int): String =
    args(i) match {
      case Literal(v, StringType) if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be a string literal, got $other")
    }

  private def build(fn: String, leftOuter: Boolean, forward: Boolean,
      strict: Boolean = false, auto: Boolean = false)(
      args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 7,
      s"$fn(leftTable, rightTable, leftKey, rightKey, leftTime, " +
        "rightTime, [toleranceMicros,] rightVal...) needs at least 7 " +
        s"arguments, got ${args.length}")
    // a table argument may be a NAME ('quotes', 'db.quotes') or an
    // INLINE QUERY ('SELECT user_id, ts FROM events WHERE ...') — the
    // round-13 "temp views required" friction. Dispatch on shape: names
    // are identifier chains; anything else parses as a plan with the
    // session-independent Catalyst parser, and the analyzer resolves it
    // in the same fixed-point batch as a relation would.
    def rel(text: String): LogicalPlan = {
      val t = text.trim
      if (t.matches("[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)*"))
        org.apache.spark.sql.catalyst.analysis.UnresolvedRelation(
          t.split('.').toSeq)
      else
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parsePlan(t)
    }
    // optional 7th argument: an INTEGER literal = tolerance in the time
    // column's units (micros for timestamps) — type-dispatched so the
    // string payload list stays unambiguous. Match on the TYPES, not
    // typeName strings: LongType.typeName is "long" (its simpleString is
    // "bigint"), so a name list silently rejected any tolerance above
    // Int.MaxValue micros (~35.8 minutes).
    def intLit(i: Int): Option[Long] =
      if (i >= args.length) None
      else args(i) match {
        case Literal(v, org.apache.spark.sql.types.LongType |
            org.apache.spark.sql.types.IntegerType |
            org.apache.spark.sql.types.ShortType |
            org.apache.spark.sql.types.ByteType) if v != null =>
          Some(v.toString.toLong)
        case _ => None
      }
    val (tol, valIdx0) = intLit(6) match {
      case Some(t) => (Some(t), 7)
      case None => (None, 6)
    }
    // the auto family takes a targetRowsPerTask in the option region:
    // either a SECOND integer after the tolerance, or the NAMED string
    // form 'target=N' (with or without a tolerance before it) — so a
    // caller who wants a target with no tolerance bound writes
    // 'target=50000' instead of the 9223372036854775807 sentinel
    // (still accepted: see the normalization below)
    def namedTarget(i: Int): Option[Long] =
      if (i >= args.length) None
      else args(i) match {
        case Literal(v, StringType)
            if v != null && v.toString.matches("(?i)target=\\d+") =>
          val t = Some(v.toString.substring(7).toLong)
          if (!auto) throw new IllegalArgumentException(
            s"$fn: 'target=N' (targetRowsPerTask) is only meaningful " +
              "for the asof_join_auto family")
          t
        case _ => None
      }
    val (autoTarget, valIdx) = namedTarget(valIdx0) match {
      case Some(t) => (t, valIdx0 + 1)
      case None if auto && valIdx0 == 7 => intLit(7) match {
        case Some(t) => (t, 8)
        case None => (0L, valIdx0)
      }
      case None => (0L, valIdx0)
    }
    require(args.length > valIdx,
      s"$fn: at least one right payload column is required")
    // a tolerance of Long.MaxValue means "no bound" — normalize to None
    // so the planned node is identical to the unbounded form. Applied to
    // EVERY family on purpose: the exec's own None is defined as
    // MaxValue internally (AsOfJoinPlan.scala `tolerance.getOrElse(
    // Long.MaxValue)`, with the staleness difference computed on the
    // match side, never `time - MaxValue`), so Some(MaxValue) and None
    // are one plan by construction — pinned for the non-auto family in
    // AsOfSkewSpec's optional-integers test.
    val tolN = tol.filter(_ != Long.MaxValue)
    UnresolvedAsOfJoin(rel(strArg(fn, args, 0)), rel(strArg(fn, args, 1)),
      strArg(fn, args, 2), strArg(fn, args, 3),
      strArg(fn, args, 4), strArg(fn, args, 5),
      (valIdx until args.length).map(strArg(fn, args, _)),
      leftOuter, forward, tolN, strict, auto, autoTarget)
  }

  /** registration tuples for `SparkSessionExtensions.injectTableFunction`;
    * the `_strict` family excludes exact time ties (DuckDB's `>`/`<`
    * comparators, pandas allow_exact_matches=False) — same arguments,
    * same output contract. The `_auto` family adds hot-key skew routing
    * (`JoinOps.asOfJoinAuto`) across the SAME eight direction/shape
    * combinations: same arguments plus an optional targetRowsPerTask
    * (second integer after the tolerance, or the named 'target=N'
    * string); identical results by construction, different physical
    * plan under skew. */
  def functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan)] =
    Seq(("asof_join", false, false, false, false),
      ("asof_join_left", true, false, false, false),
      ("asof_join_forward", false, true, false, false),
      ("asof_join_forward_left", true, true, false, false),
      ("asof_join_strict", false, false, true, false),
      ("asof_join_strict_left", true, false, true, false),
      ("asof_join_strict_forward", false, true, true, false),
      ("asof_join_strict_forward_left", true, true, true, false),
      ("asof_join_auto", false, false, false, true),
      ("asof_join_auto_left", true, false, false, true),
      ("asof_join_auto_forward", false, true, false, true),
      ("asof_join_auto_forward_left", true, true, false, true),
      ("asof_join_auto_strict", false, false, true, true),
      ("asof_join_auto_strict_left", true, false, true, true),
      ("asof_join_auto_strict_forward", false, true, true, true),
      ("asof_join_auto_strict_forward_left", true, true, true, true)).map {
      case (name, outer, fwd, strict, auto) =>
        (FunctionIdentifier(name),
          new ExpressionInfo(classOf[AsOfJoin].getName, name),
          build(name, outer, fwd, strict, auto) _)
    }
}

/** Analyzer rule (injected via `injectResolutionRule`) completing
  * [[AsOfJoinTvf.UnresolvedAsOfJoin]] once both relations resolved:
  * argument names resolve against the children with the session
  * resolver, [[AsOfJoin.build]] makes the node (the `_auto` family then
  * goes through [[AsOfJoin.routeAuto]] — its hot-key detection RUNS at
  * analysis, see there), and the payload columns surface as
  * `asof_<name as typed>`. */
object ResolveAsOfJoin extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case AsOfJoinTvf.UnresolvedAsOfJoin(l, r, lk, rk, lt, rt, rv, outer,
          fwd, tol, strict, auto, autoTarget)
          if l.resolved && r.resolved =>
        def fail(msg: String): Nothing =
          throw new IllegalArgumentException(s"asof_join: $msg")
        def attr(out: Seq[Attribute], n: String, side: String): Attribute =
          out.find(a => conf.resolver(a.name, n)).getOrElse(fail(
            s"column `$n` not found in the $side table " +
              s"(${out.map(_.name).mkString(", ")})"))
        val aoj = AsOfJoin.build(l, r,
          attr(l.output, lk, "left"), attr(r.output, rk, "right"),
          attr(l.output, lt, "left"), attr(r.output, rt, "right"),
          outer, fwd, tol, strict, fail)
        val joined = if (auto) AsOfJoin.routeAuto(aoj, autoTarget) else aoj
        // payload attrs come from the joined output (NOT r.output): outer
        // mode rewrites their nullability there
        val (leftOut, rightOut) = joined.output.splitAt(l.output.size)
        Project(leftOut ++ rv.map(v =>
          Alias(attr(rightOut, v, "right"), s"asof_$v")()), joined)
    }
}
