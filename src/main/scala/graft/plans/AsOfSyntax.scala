package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, CreateStruct, EqualTo, Expression, ExpressionInfo, GreaterThan, GreaterThanOrEqual, If, IsNull, LeafExpression, LessThan, LessThanOrEqual, Literal, Or, PredicateHelper, Unevaluable}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, IntegerType, LongType, ShortType, StructType}

/** Parser-level `ASOF JOIN` syntax — the SQL frontend for the native
  * [[AsOfJoin]] operator. It gives `spark.sql` users DuckDB's native
  * join syntax, so the SAME query text runs verbatim on both engines:
  *
  * {{{
  *   SELECT ... FROM purchases p
  *   ASOF JOIN clicks c                 -- inner; also ASOF LEFT JOIN
  *     ON p.user_id = c.user_id
  *    AND p.ts >= c.ts                  -- >= : backward; <= : forward
  *                                      -- > / < : same, excluding ties
  *    TOLERANCE 600000000               -- optional staleness bound
  *                                      --   (graft extension, not DuckDB)
  * }}}
  *
  * The text always plans the one [[AsOfJoin]] node and runs no job at
  * analysis, EXPLAIN included. Hot-key splitting needs runtime key
  * counts, so it is a DataFrame call:
  * `JoinOps.asOfJoinAuto(spark.table(l), spark.table(r), ...)`.
  *
  * Mechanism (three small pieces, each doing what it is best at):
  *
  *  1. [[GraftSqlParser]] (via `injectParser`) pre-rewrites the TEXT at
  *     the token level: `ASOF` is dropped from the join keywords and the
  *     join's `ON` condition gains a leading `__graft_asof([tol]) AND`
  *     marker conjunct. Spark's own ANTLR parser then parses the result
  *     as an ordinary join — no grammar fork, and every other statement
  *     passes through byte-identical (the rewriter exits on a cheap
  *     substring probe before lexing anything).
  *  2. `__graft_asof` is a registered function (`injectFunction`) whose
  *     builder emits [[AsOfSyntax.AsOfMarker]], an [[Unevaluable]]
  *     boolean leaf — so the analyzer resolves the join and its
  *     condition with zero special-casing, including exprId
  *     deduplication for self-joins.
  *  3. [[ResolveAsOfSyntax]] (via `injectResolutionRule`) fires once the
  *     marked [[Join]] is fully resolved: it splits the condition's
  *     conjuncts, classifies each equality by which side its references
  *     come from (multiple equalities compose into a struct key — the
  *     exec orders any orderable type), reads the single time inequality
  *     for direction (`l >= r` backward, `l <= r` forward), and
  *     replaces the Join with the node [[AsOfJoin.build]] makes for the
  *     Scala API too. Output attributes (and outer-side
  *     nullability) are aliased back to the Join's exactly, so parent
  *     operators' resolved references survive the swap.
  *
  * Bounds, stated rather than discovered: all four DuckDB comparators
  * are accepted — `>=`/`<=` (the non-strict pandas/DuckDB default) and
  * the strict `>`/`<` forms, which set the exec's tie-excluding
  * `strict` flag; `USING` and non-inner/left join types are rejected
  * at parse; an `OR` in the condition fails decomposition with a named
  * error. A marker that somehow survives analysis is [[Unevaluable]], so
  * failure is loud, never a silently-wrong plain join.
  *
  * Reservation contract: ONLY the exact token sequences
  * `ASOF [INNER|LEFT [OUTER]] JOIN` are claimed — `asof` as a column,
  * alias, or type name anywhere else passes through untouched. The one
  * deliberate overlap is an alias named `asof` IMMEDIATELY before JOIN
  * (`FROM t asof JOIN u`): ASOF is a join modifier in that position in
  * DuckDB's own grammar (effectively reserved), and the decomposition
  * rule errors loudly unless the ON clause is genuinely as-of-shaped.
  * `TOLERANCE` is consumed only while an ASOF join's ON region is still
  * open — any same-depth clause keyword (WHERE/GROUP/ORDER/...) closes
  * it, so a COLUMN named tolerance in later clauses is never eaten, and
  * a DOTTED `x.tolerance` inside the ON region is recognized as a
  * column and passes through. The one residual reservation: a BARE
  * (unqualified) `tolerance` compared inside a still-open ASOF ON
  * region errs loudly ("must be followed by a nonnegative integer") —
  * qualify the column to use it there. A plain JOIN at the same depth
  * while an ASOF join still awaits its ON errs loudly rather than
  * binding the next ON to the wrong join (the stacked nested-join
  * form — parenthesize the nested join instead).
  */
object AsOfSyntax {

  /** boolean marker conjunct carrying the optional tolerance; planted by
    * the text rewrite, consumed by [[ResolveAsOfSyntax]], never executed */
  case class AsOfMarker(tolerance: Option[Long]) extends LeafExpression
      with Unevaluable {
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = false
  }

  /** registration tuple for `SparkSessionExtensions.injectFunction` */
  def markerFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) =
    (FunctionIdentifier("__graft_asof"),
      new ExpressionInfo(classOf[AsOfMarker].getName, "__graft_asof"),
      (args: Seq[Expression]) => args match {
        case Seq() => AsOfMarker(None)
        case Seq(Literal(v, LongType | IntegerType | ShortType | ByteType))
            if v != null =>
          AsOfMarker(Some(v.toString.toLong))
        case other => throw new IllegalArgumentException(
          "__graft_asof is the internal ASOF JOIN marker: zero arguments " +
            s"or one integer tolerance literal, got $other")
      })

  // USER_RAISED_EXCEPTION renders as the bare message: these are the
  // user's own SQL mistakes (wrong join type, missing ON, a strict
  // inequality), and INTERNAL_ERROR would wrap them in Spark's "this is
  // a bug, please file a report" framing
  private[plans] def err(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      "USER_RAISED_EXCEPTION", Map("errorMessage" -> s"ASOF JOIN: $msg"))

  // ---------------------------------------------------------------------
  // token-level text rewrite
  // ---------------------------------------------------------------------

  private case class Tok(text: String, start: Int, end: Int, depth: Int) {
    def isWord(w: String): Boolean = text.equalsIgnoreCase(w)
  }

  /** lex just enough SQL to walk word tokens at known paren depth:
    * strings / quoted identifiers / comments are skipped opaquely, so an
    * `ASOF` inside a literal or comment never triggers the rewrite */
  private def lex(sql: String): IndexedSeq[Tok] = {
    val toks = ArrayBuffer.empty[Tok]
    var i = 0
    var depth = 0
    val n = sql.length
    while (i < n) {
      val c = sql.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        // quoted literal/identifier; doubled quote chars escape themselves
        var j = i + 1
        var done = false
        while (j < n && !done) {
          if (sql.charAt(j) == c) {
            if (j + 1 < n && sql.charAt(j + 1) == c) j += 2
            else { done = true; j += 1 }
          } else j += 1
        }
        i = j
      } else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        while (i < n && sql.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        // bracketed comments nest in Spark SQL
        var level = 1; var j = i + 2
        while (j + 1 < n && level > 0) {
          if (sql.charAt(j) == '/' && sql.charAt(j + 1) == '*') {
            level += 1; j += 2
          } else if (sql.charAt(j) == '*' && sql.charAt(j + 1) == '/') {
            level -= 1; j += 2
          } else j += 1
        }
        i = if (level == 0) j else n
      } else if (c == '(') { depth += 1; i += 1 }
      else if (c == ')') { depth -= 1; i += 1 }
      else if (Character.isLetter(c) || c == '_') {
        val s = i
        while (i < n && (Character.isLetterOrDigit(sql.charAt(i)) ||
          sql.charAt(i) == '_')) i += 1
        toks += Tok(sql.substring(s, i), s, i, depth)
      } else if (Character.isDigit(c)) {
        val s = i
        while (i < n && Character.isDigit(sql.charAt(i))) i += 1
        toks += Tok(sql.substring(s, i), s, i, depth)
      } else i += 1
    }
    toks.toIndexedSeq
  }

  /** one pending ASOF join during the walk: where to splice the marker
    * once its ON arrives, and the tolerance patched in if one follows */
  private final class Pending(val depth: Int) {
    var markerPos: Int = -1      // insertion offset (right after ON)
    var tol: Option[String] = None
    var closed: Boolean = false  // a clause boundary ended its ON region
    def awaitingOn: Boolean = markerPos < 0
  }

  /** is the word starting at `start` the tail of a dotted reference
    * (`r.tolerance`)? Scan back over whitespace: a `.` means it is a
    * qualified COLUMN, never the TOLERANCE clause keyword */
  private def isDottedRef(sql: String, start: Int): Boolean = {
    var i = start - 1
    while (i >= 0 && Character.isWhitespace(sql.charAt(i))) i -= 1
    i >= 0 && sql.charAt(i) == '.'
  }

  /** same-depth words that cannot appear inside an ON condition — seeing
    * one closes every ON-matched pending join at that depth, so a later
    * bare `tolerance` column in a WHERE/ORDER BY is never consumed */
  private val clauseBoundary: Set[String] = Set(
    "WHERE", "GROUP", "ORDER", "HAVING", "WINDOW", "LIMIT", "QUALIFY",
    "UNION", "INTERSECT", "EXCEPT", "MINUS", "JOIN", "INNER", "LEFT",
    "RIGHT", "FULL", "CROSS", "SEMI", "ANTI", "NATURAL", "LATERAL",
    "ASOF", "ON", "USING", "DISTRIBUTE", "CLUSTER", "SORT", "PIVOT",
    "UNPIVOT", "TABLESAMPLE")

  /** rewrite `ASOF [INNER|LEFT [OUTER]] JOIN ... ON cond [TOLERANCE n]`
    * to `[LEFT] JOIN ... ON __graft_asof([n]) AND cond`; text without a
    * (lexed) ASOF JOIN returns unchanged — and `identical(eq)` unchanged,
    * so the fast path costs one substring scan */
  def rewrite(sql: String): String = {
    // cheap probe: "asof" must appear as a bare word somewhere
    val lower = sql.toLowerCase(java.util.Locale.ROOT)
    if (!lower.contains("asof")) return sql
    val toks = lex(sql)
    val dels = ArrayBuffer.empty[(Int, Int)]          // ranges to blank out
    val pend = ArrayBuffer.empty[Pending]             // open asof joins
    var k = 0
    var sawAsof = false
    while (k < toks.length) {
      val t = toks(k)
      // is this ASOF the join modifier, or just an identifier named
      // `asof` (a column, an alias, a type name)? ONLY the exact keyword
      // sequences ASOF [INNER|LEFT [OUTER]] JOIN (plus the explicitly-
      // rejected directions) are claimed; anything else passes through
      // untouched — `SELECT asof FROM t` and `CREATE TABLE t (asof
      // TIMESTAMP)` stay valid. Note `FROM t asof JOIN u` IS claimed:
      // ASOF immediately before JOIN is a join modifier in DuckDB's own
      // grammar too (effectively reserved in that position), and the
      // decomposition rule then errors loudly unless the ON clause is
      // genuinely as-of-shaped.
      val asofJoin: Int = if (!t.isWord("ASOF")) -1 else {
        var j = k + 1
        if (j < toks.length && toks(j).isWord("INNER")) j += 1
        else if (j < toks.length && toks(j).isWord("LEFT")) {
          j += 1
          if (j < toks.length && toks(j).isWord("OUTER")) j += 1
        } else if (j < toks.length && (toks(j).isWord("RIGHT") ||
          toks(j).isWord("FULL") || toks(j).isWord("SEMI") ||
          toks(j).isWord("ANTI") || toks(j).isWord("CROSS")) &&
          j + 1 < toks.length && toks(j + 1).isWord("JOIN"))
          err(s"only ASOF [INNER|LEFT [OUTER]] JOIN is supported, " +
            s"got ASOF ${toks(j).text.toUpperCase} JOIN")
        if (j < toks.length && toks(j).isWord("JOIN")) j else -1
      }
      if (asofJoin >= 0) {
        dels += ((t.start, t.end))                    // drop the ASOF word
        pend += new Pending(t.depth)
        sawAsof = true
        k = asofJoin + 1
      } else if (t.isWord("ON") &&
        pend.exists(p => p.depth == t.depth && p.awaitingOn && !p.closed)) {
        pend.findLast(p => p.depth == t.depth && p.awaitingOn).get
          .markerPos = t.end
        k += 1
      } else if (t.isWord("USING") &&
        pend.exists(p => p.depth == t.depth && p.awaitingOn && !p.closed)) {
        err("USING is not supported for ASOF JOIN — spell the key " +
          "equalities and the time inequality in an ON clause")
      } else if (t.isWord("TOLERANCE") && !isDottedRef(sql, t.start) &&
        pend.exists(p => p.depth == t.depth && !p.awaitingOn &&
          !p.closed && p.tol.isEmpty)) {
        // the literal must be an UNSIGNED digit run directly adjacent:
        // `TOLERANCE -5` must not silently become tolerance 5 (the `-`
        // is never tokenized, so only the whitespace check sees it)
        if (k + 1 >= toks.length || !toks(k + 1).text.forall(_.isDigit) ||
          !sql.substring(t.end, toks(k + 1).start).forall(_.isWhitespace))
          err("TOLERANCE must be followed by a nonnegative integer " +
            "literal (time-column units; micros for timestamps)")
        val p = pend.findLast(p => p.depth == t.depth && !p.awaitingOn &&
          !p.closed && p.tol.isEmpty).get
        p.tol = Some(toks(k + 1).text)
        p.closed = true
        dels += ((t.start, toks(k + 1).end))          // drop both tokens
        k += 2
      } else {
        // a plain JOIN at the same depth while an ASOF join still has no
        // ON: binding the NEXT ON to the pending ASOF would plant the
        // marker on the wrong join (the stacked `a ASOF JOIN b JOIN c
        // ON .. ON ..` form) — err loudly instead; a genuinely nested
        // join belongs in parentheses, where its depth differs
        if (t.isWord("JOIN") &&
          pend.exists(p => p.depth == t.depth && p.awaitingOn))
          err("this ASOF JOIN has no ON clause before the next JOIN — " +
            "every ASOF JOIN needs its own ON; parenthesize a nested " +
            "join if you meant one")
        // a clause boundary ends the ON region of every matched pending
        // join at this depth — a `tolerance` COLUMN referenced later in
        // the statement must never be eaten as the staleness bound
        if (clauseBoundary.contains(t.text.toUpperCase(
            java.util.Locale.ROOT)))
          pend.foreach(p =>
            if (p.depth == t.depth && !p.awaitingOn) p.closed = true)
        k += 1
      }
    }
    if (!sawAsof) return sql                          // "asof" was a name
    pend.find(_.awaitingOn).foreach(_ =>
      err("ASOF JOIN requires an ON clause"))
    // apply edits back-to-front so earlier offsets stay valid
    val inserts = pend.map(p =>
      (p.markerPos, s" __graft_asof(${p.tol.getOrElse("")}) AND"))
    val edits: Seq[(Int, Int, String)] =
      (dels.map { case (s, e) => (s, e, "") } ++
        inserts.map { case (pos, txt) => (pos, pos, txt) }).toSeq
    edits.sortBy(-_._1).foldLeft(sql) { case (acc, (s, e, txt)) =>
      acc.substring(0, s) + txt + acc.substring(e)
    }
  }
}

/** Delegating parser (injected via `injectParser`) applying
  * [[AsOfSyntax.rewrite]] to statement-level text before Spark's own
  * parser sees it; every other entry point passes straight through. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    delegate.parsePlan(AsOfSyntax.rewrite(sqlText))
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(AsOfSyntax.rewrite(sqlText))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

/** Analyzer rule completing the parser rewrite: a resolved [[Join]]
  * whose condition carries [[AsOfSyntax.AsOfMarker]] becomes the native
  * [[AsOfJoin]] node. Runs AFTER Spark's own resolution of the join
  * (children, condition, self-join exprId dedup) — the rule only ever
  * sees fully-typed expressions, so every error below names columns and
  * types instead of surfacing from a running task. */
object ResolveAsOfSyntax extends Rule[LogicalPlan] with PredicateHelper {
  import AsOfSyntax.AsOfMarker

  private def fail(msg: String): Nothing = AsOfSyntax.err(msg)

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case j @ Join(l, r, joinType, Some(cond), _)
          if j.resolved && cond.exists(_.isInstanceOf[AsOfMarker]) =>
        val leftOuter = joinType match {
          case Inner => false
          case LeftOuter => true
          case other => fail(s"join type ${other.sql} is not supported " +
            "(ASOF [INNER|LEFT] JOIN only)")
        }
        // which side does an expression read from? (the analyzer already
        // deduplicated self-join exprIds, so the sets are disjoint)
        def side(e: Expression): Int =
          if (e.references.isEmpty) -1
          else if (e.references.subsetOf(l.outputSet)) 0
          else if (e.references.subsetOf(r.outputSet)) 1
          else -1
        val eqs = ArrayBuffer.empty[(Expression, Expression)]
        var time: Option[(Expression, Expression, Boolean, Boolean)] = None
        var tol: Option[Long] = None
        def setTime(lt: Expression, rt: Expression, fwd: Boolean,
                    strict: Boolean): Unit = {
          if (time.isDefined) fail("exactly ONE time inequality is " +
            "expected in the ON condition, found a second one")
          time = Some((lt, rt, fwd, strict))
        }
        splitConjunctivePredicates(cond).foreach {
          case m: AsOfMarker => tol = m.tolerance
          case EqualTo(a, b) if side(a) == 0 && side(b) == 1 => eqs += ((a, b))
          case EqualTo(a, b) if side(a) == 1 && side(b) == 0 => eqs += ((b, a))
          case GreaterThanOrEqual(a, b) if side(a) == 0 && side(b) == 1 =>
            setTime(a, b, fwd = false, strict = false) // l.t >= r.t : latest past right
          case GreaterThanOrEqual(a, b) if side(a) == 1 && side(b) == 0 =>
            setTime(b, a, fwd = true, strict = false)  // r.t >= l.t : earliest future
          case LessThanOrEqual(a, b) if side(a) == 0 && side(b) == 1 =>
            setTime(a, b, fwd = true, strict = false)
          case LessThanOrEqual(a, b) if side(a) == 1 && side(b) == 0 =>
            setTime(b, a, fwd = false, strict = false)
          // strict comparators (DuckDB accepts them in ASOF): same
          // direction reading, ties excluded by the exec
          case GreaterThan(a, b) if side(a) == 0 && side(b) == 1 =>
            setTime(a, b, fwd = false, strict = true)  // l.t > r.t : latest strictly-past
          case GreaterThan(a, b) if side(a) == 1 && side(b) == 0 =>
            setTime(b, a, fwd = true, strict = true)
          case LessThan(a, b) if side(a) == 0 && side(b) == 1 =>
            setTime(a, b, fwd = true, strict = true)   // l.t < r.t : earliest strictly-future
          case LessThan(a, b) if side(a) == 1 && side(b) == 0 =>
            setTime(b, a, fwd = false, strict = true)
          case other => fail("the ON condition must be a conjunction of " +
            "side-separable equalities and ONE time inequality; cannot " +
            s"place `${other.sql}`")
        }
        // implicit coercion casts come off (a user-written CAST stays), so
        // a string key against a bigint one fails in AsOfJoin.build,
        // naming both columns, instead of casting in a running task
        def uncoerced(e: Expression): Expression = e match {
          case c: Cast if c.getTagValue(Cast.USER_SPECIFIED_CAST).isEmpty =>
            uncoerced(c.child)
          case other => other
        }
        val (ltE, rtE, fwd, strict) = time.getOrElse(fail(
          "no time inequality (l.t >= r.t, l.t <= r.t, or the strict " +
            "forms) in the ON clause"))
        if (eqs.isEmpty) fail("at least one key equality is required " +
          "(the operator partitions by key; an unkeyed as-of would " +
          "serialize the whole input through one task)")
        // several equalities compose into ONE struct key — the exec
        // orders any orderable type, structs included. Components are
        // widened one by one and aliased POSITIONALLY (_1, _2, ...):
        // CreateStruct would derive field names from the attributes, and
        // differently-NAMED but same-typed key columns (l.k1 = r.kA) — or
        // a widening Cast on one side only — would then fail the struct
        // type check on field names alone. The whole struct nulls out
        // when ANY component is NULL (mirroring JoinOps.compositeKey): a
        // bare CreateStruct is non-null even with a NULL field, and the
        // exec's struct ordering would then match NULL = NULL key
        // components where SQL equality (and DuckDB) would not
        def mkKey(parts: Seq[Expression]): Expression =
          if (parts.size == 1) parts.head
          else {
            val struct = CreateStruct(parts.zipWithIndex.map { case (p, i) =>
              Alias(AsOfJoin.widen(p), s"_${i + 1}")()
            })
            val anyNull = parts.map(IsNull(_): Expression).reduce(Or(_, _))
            If(anyNull, Literal.create(null, struct.dataType), struct)
          }
        val planned = AsOfJoin.build(l, r,
          mkKey(eqs.map(e => uncoerced(e._1)).toSeq),
          mkKey(eqs.map(e => uncoerced(e._2)).toSeq),
          uncoerced(ltE), uncoerced(rtE), leftOuter, fwd, tol, strict, fail)
        // back onto the Join's own exprIds (the node fresh-aliases the
        // right side), so parents' resolved references survive the swap;
        // outer widens right-side nullability exactly as Join(LeftOuter)
        Project(j.output.zip(planned.output).map { case (orig, now) =>
          if (orig.exprId == now.exprId) now
          else Alias(now, orig.name)(exprId = orig.exprId,
            qualifier = orig.qualifier,
            explicitMetadata = Some(orig.metadata))
        }, planned)
    }
}
