package graft.functions

import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.BooleanType

/** Scalar tranche 20 — the IN-operator function family and `_CAST`.
  *
  * The reference registers the IN operator's function-call spellings as
  * 16 scalar names (ref `src/Functions/in.cpp:33-48`, template axes
  * <negative, global, null_is_skipped, ignore_set>):
  *
  *  - `in` / `notIn`: NULL handling via the default-nulls wrapper —
  *    a NULL left operand yields NULL (pinned by the reference's own
  *    01280_null_in golden: `count(in(NULL, []))` = 0 because count
  *    skips NULLs); NULL elements of the set are never matched.
  *  - `nullIn` / `notNullIn`: the transform_null_in forms — NULL is an
  *    ordinary value, so the result is never NULL and
  *    `nullIn(NULL, tuple(NULL))` = 1 (same golden: count = 1).
  *  - `global*`: distributed-IN spellings; on a single engine the set
  *    side is already global, so they alias the local forms — the same
  *    collapse the reference itself performs on a non-distributed table.
  *  - `*IgnoreSet`: type-analysis shims that never consult the set and
  *    return a zero column (ref `in.cpp:54` comment) — BEFORE the
  *    negation is applied, so `notInIgnoreSet` is also 0; the
  *    null-skipped forms still pass NULL rows through the default-nulls
  *    wrapper.
  *
  * The set argument follows the house tuple convention (tuple math =
  * ARRAY, ClickHouseCompat): an ARRAY expression, with build-time
  * support for `named_struct`/`array` literal shapes. Results are
  * engine-idiomatic BOOLEAN (the reference's UInt8 0/1).
  *
  * `_CAST(x, 'TypeName')` (ref `src/Functions/CastOverloadResolver.cpp`)
  * is the parser's internal cast spelling with a reference type name —
  * a front over Catalyst `Cast` through the same `ChTypes.toSpark`
  * mapping the format readers use.
  */
object ScalarTranche20 {

  /** A set element that is statically NULL: the bare literal, or SQL's
    * typed spelling `CAST(NULL AS T)`, which reaches the registry as a
    * (possibly nested) Cast over the null literal before resolution.
    */
  @annotation.tailrec
  private def isNullElem(e: Expression): Boolean = e match {
    case Literal(null, _) => true
    case c: Cast => isNullElem(c.child)
    case _ => false
  }

  /** Membership core over an element list: null elements are skipped
    * for the match itself but drive the nullAware NULL-operand branch.
    */
  private def inOverElems(
      x: Expression,
      elems: Seq[Expression],
      negative: Boolean,
      nullAware: Boolean): Expression = {
    val nonNullElems = elems.filterNot(isNullElem)
    val hasNullElem: Expression = elems
      .map(e => IsNull(e): Expression)
      .reduceOption(Or).getOrElse(Literal(false))
    val base: Expression =
      if (nonNullElems.isEmpty) Literal(false)
      else Coalesce(Seq(In(x, nonNullElems), Literal(false)))
    val core =
      if (nullAware) If(IsNull(x), hasNullElem, base)
      else If(IsNull(x), Literal.create(null, BooleanType), base)
    if (negative) Not(core) else core
  }

  /** Membership core over an arbitrary ARRAY-typed set expression.
    * A NULL set argument follows each family's null posture: the
    * default-nulls forms (in/notIn) yield NULL — any NULL argument
    * NULL-masks the row, same as a NULL operand — while the
    * transform_null_in forms never return NULL and treat a NULL set as
    * empty (the reference's ColumnSet can't be NULL, so this edge is
    * ours to define; empty is the non-surprising reading).
    */
  private def inOverArray(
      x: Expression,
      set: Expression,
      negative: Boolean,
      nullAware: Boolean): Expression = {
    val contains = Coalesce(Seq(
      UnresolvedFunction("array_contains", Seq(set, x), isDistinct = false),
      Literal(false)))
    val core =
      if (nullAware) {
        val v = UnresolvedNamedLambdaVariable(Seq("e"))
        val hasNullElem = Coalesce(Seq(
          UnresolvedFunction("exists",
            Seq(set, LambdaFunction(IsNull(v), Seq(v))), isDistinct = false),
          Literal(false)))
        If(IsNull(x), hasNullElem, contains)
      } else If(Or(IsNull(x), IsNull(set)),
        Literal.create(null, BooleanType), contains)
    if (negative) Not(core) else core
  }

  private def inExpr(
      cs: Seq[Expression],
      negative: Boolean,
      nullAware: Boolean): Expression = {
    require(cs.length == 2, s"in-family functions take (x, set): got ${cs.length}")
    val x = cs.head
    cs(1) match {
      case CreateArray(elems, _) => inOverElems(x, elems, negative, nullAware)
      case ns: CreateNamedStruct => // tuple literal shape
        inOverElems(x, ns.valExprs, negative, nullAware)
      case set => inOverArray(x, set, negative, nullAware)
    }
  }

  /** `in` alone is ALSO a Spark builtin that the Column API depends on:
    * `Column.isin(...)` resolves through the registry as variadic
    * `in(x, v1, v2, ...)`. Shadowing it with the strict 2-arg reference
    * form would break every `.isin` call in the session, so `in` keeps
    * Spark-native semantics (`In(x, rest)`) for every shape EXCEPT the
    * reference's literal set spellings — `in(x, array(...))` /
    * `in(x, tuple(...))` — which can't be produced by `.isin` with
    * scalar values. A non-literal array set (`in(x, arr_col)`) therefore
    * keeps builtin equality semantics; use `nullIn`/`globalIn` (no
    * builtin conflict) for reference semantics over computed sets.
    *
    * Blast radius of the literal-shape carve-out: the `x IN (...)`
    * OPERATOR never reaches the registry (the parser builds `In`
    * directly), so only the explicit function-call spelling
    * `in(arr_col, array(...))` — native array-EQUALITY before this
    * front — changes meaning, to element membership. That spelling is
    * the reference's own IN semantics for its tests; native equality
    * remains reachable as `arr_col IN (array(...))` or `arr_col =
    * array(...)`.
    */
  private def builtinCompatibleIn(cs: Seq[Expression]): Expression = cs match {
    case Seq(x, CreateArray(elems, _)) =>
      inOverElems(x, elems, negative = false, nullAware = false)
    case Seq(x, ns: CreateNamedStruct) =>
      inOverElems(x, ns.valExprs, negative = false, nullAware = false)
    case _ =>
      require(cs.length >= 2, s"in requires at least 2 arguments: got ${cs.length}")
      In(cs.head, cs.tail)
  }

  /** The ignore-set shims: zero column regardless of the set or the
    * negation; the null-skipped axis still NULL-masks NULL operands.
    */
  private def ignoreSetExpr(cs: Seq[Expression], nullAware: Boolean): Expression = {
    require(cs.length == 2, s"in-family functions take (x, set): got ${cs.length}")
    if (nullAware) Literal(false)
    else If(IsNull(cs.head), Literal.create(null, BooleanType), Literal(false))
  }

  def register(r: FunctionSurface.Registrar): Unit = {
    for (global <- Seq(false, true)) {
      val g = if (global) "global" else ""
      def n(s: String) = if (global) s.capitalize else s
      if (global)
        r.expr("globalIn")(cs => inExpr(cs, negative = false, nullAware = false))
      else
        r.expr("in")(builtinCompatibleIn)
      r.expr(s"$g${n("notIn")}")(cs => inExpr(cs, negative = true, nullAware = false))
      r.expr(s"$g${n("nullIn")}")(cs => inExpr(cs, negative = false, nullAware = true))
      r.expr(s"$g${n("notNullIn")}")(cs => inExpr(cs, negative = true, nullAware = true))
      r.expr(s"$g${n("inIgnoreSet")}")(cs => ignoreSetExpr(cs, nullAware = false))
      r.expr(s"$g${n("notInIgnoreSet")}")(cs => ignoreSetExpr(cs, nullAware = false))
      r.expr(s"$g${n("nullInIgnoreSet")}")(cs => ignoreSetExpr(cs, nullAware = true))
      r.expr(s"$g${n("notNullInIgnoreSet")}")(cs => ignoreSetExpr(cs, nullAware = true))
    }

    r.expr("_CAST") { cs =>
      require(cs.length == 2, s"_CAST(x, 'TypeName'): got ${cs.length} arguments")
      require(cs(1).foldable, "_CAST type name must be a constant string")
      val (dt, _) = graft.sources.ChTypes.toSpark(String.valueOf(cs(1).eval(null)))
      Cast(cs.head, dt)
    }

    // `transform` is the reference's lookup-substitution scalar
    // (`src/Functions/transform.cpp`, stateful 00141/00143:
    // `transform(x, [2,3], ['a','b'][, default])`) AND Spark's
    // higher-order array map builtin. Same carve-out shape as `in`:
    // the lambda spelling keeps native semantics (ArrayTransform —
    // every SQL macro in the compat registry that says
    // `transform(arr, x -> ...)` still resolves); the 3/4-arg
    // value-list spellings get the reference's lookup via
    // `array_position` (NOT a map build): FIRST match wins on
    // duplicate src entries, NULL src entries simply never match
    // (map_from_arrays would THROW on both under the default dedup
    // policy), and a matched NULL dst value is returned as the match —
    // never conflated with no-match (review r20 pass 3).
    def transformLookup(x: Expression, src: Expression, dst: Expression,
        miss: Expression): Expression = {
      def pos = Cast(UnresolvedFunction("array_position", Seq(src, x),
        isDistinct = false), org.apache.spark.sql.types.IntegerType)
      CaseWhen(Seq((GreaterThan(pos, Literal(0)),
        UnresolvedFunction("element_at", Seq(dst, pos), isDistinct = false))),
        Some(miss))
    }
    r.expr("transform") { cs =>
      cs match {
        case Seq(arr, l: LambdaFunction) => ArrayTransform(arr, l)
        case Seq(x, src, dst) => transformLookup(x, src, dst, x)
        case Seq(x, src, dst, d) => transformLookup(x, src, dst, d)
        case other => throw new IllegalArgumentException(
          s"transform takes (arr, lambda) or (x, src, dst[, default]): got ${other.length}")
      }
    }
  }
}
