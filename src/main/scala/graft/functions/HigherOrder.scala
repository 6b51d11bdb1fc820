package graft.functions

import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** ClickHouse higher-order array/map functions as native Catalyst
  * rewrites.
  *
  * The reference's lambda-taking functions (arrayMap/arrayFilter/
  * arraySort(f, xs)/arrayFill/arraySplit/..., ref
  * src/Functions/array/FunctionArrayMapped.h and the per-name files
  * under src/Functions/array/) cannot be expressed as SQL
  * `CREATE FUNCTION` macros: a lambda is not a SQL-typed parameter, and
  * the macro layer also pins array element types (ARRAY<DOUBLE>).
  * Instead each name is registered directly in the session
  * FunctionRegistry as a builder that rewrites the ClickHouse
  * (lambda, array...) argument order into Spark's own higher-order
  * expressions (ArrayTransform/ArrayFilter/ArrayAggregate/ZipWith/
  * MapFilter...), which codegen and type-coerce like any built-in and
  * stay generic over the element type.
  *
  * Truthiness: ClickHouse predicates accept UInt8 lambdas (`x -> x % 2`);
  * the builders insert a Cast to BOOLEAN on every predicate lambda body,
  * which maps nonzero → true with identical semantics.
  *
  * Documented deviations (each noted at its builder):
  *  - arrayFirst/arrayLast return NULL when nothing matches, where the
  *    reference returns the element type's default value (0, '').
  *  - arrayShiftLeft/Right without an explicit default pad with NULLs
  *    rather than the type default.
  *  - arrayPartialSort fully sorts: the reference only promises the
  *    first k positions are sorted and leaves the tail order
  *    unspecified, so a full sort is a conforming implementation.
  */
object HigherOrder {

  private def lv(name: String): UnresolvedNamedLambdaVariable =
    UnresolvedNamedLambdaVariable(Seq(name))

  /** Rebuild a user lambda with its body cast to BOOLEAN (CH UInt8
    * truthiness). A non-lambda single argument (the reference's
    * `arrayExists(xs)` form) becomes `x -> CAST(x AS BOOLEAN)`.
    */
  private def boolLambda(f: Expression): LambdaFunction = f match {
    case LambdaFunction(body, args, hidden) =>
      LambdaFunction(Cast(body, BooleanType), args, hidden)
    case other =>
      throw new IllegalArgumentException(
        s"expected a lambda, got ${other.sql}")
  }

  private def identityBoolLambda: LambdaFunction = {
    val x = lv("__x")
    LambdaFunction(Cast(x, BooleanType), Seq(x))
  }

  /** Apply a lambda elementwise over one or two parallel arrays
    * (ClickHouse allows arrayMap(f, xs, ys)); result is the array of
    * lambda results.
    */
  private def mapped(f: Expression, arrays: Seq[Expression]): Expression = {
    val lam = f match {
      case l: LambdaFunction => l
      case other => throw new IllegalArgumentException(
        s"expected a lambda, got ${other.sql}")
    }
    arrays match {
      case Seq(a)    => ArrayTransform(a, lam)
      case Seq(a, b) => ZipWith(a, b, lam)
      case _ => throw new IllegalArgumentException(
        "higher-order array functions support at most 2 parallel arrays")
    }
  }

  /** Elementwise predicate flags (array<boolean>) for f over arrays. */
  private def flags(f: Expression, arrays: Seq[Expression]): Expression =
    mapped(boolLambda(f), arrays)

  /** Empty array with the same element type as `arr`. */
  private def emptyLike(arr: Expression): Expression =
    Slice(arr, Literal(1), Literal(0))

  /** NULL literal carrying `arr`'s element type (for padding). */
  private def nullElem(arr: Expression): Expression =
    ElementAt(emptyLike(arr), Literal(1), None, false)

  private def last(arr: Expression): Expression =
    ElementAt(arr, Literal(-1), None, false)

  private def one(arr: Expression): Expression =
    ElementAt(arr, Literal(1), None, false)

  /** zip the data array with predicate flags into array<struct<x, fl>>
    * so the flag expression is evaluated once, not once per aggregate
    * step.
    */
  private def zipFlags(data: Expression, fl: Expression): Expression = {
    val x = lv("__zx"); val b = lv("__zb")
    ZipWith(data, fl,
      LambdaFunction(
        CreateNamedStruct(Seq(Literal("x"), x, Literal("fl"), b)),
        Seq(x, b)))
  }

  private def fld(e: Expression, n: String): Expression =
    UnresolvedExtractValue(e, Literal(n))

  // Spark's analyzer requires any function CALLED with a lambda argument
  // to resolve to a HigherOrderFunction at the TOP of the returned tree
  // (INVALID_LAMBDA_FUNCTION_CALL otherwise). Builders for lambda forms
  // therefore always return an ArrayAggregate/Transform* whose argument
  // contains the user lambda; plain (no-lambda) forms are free to return
  // any expression.

  /** count of true flags — aggregate so the top node is a HOF. */
  private def countTrue(fl: Expression): Expression = {
    val acc = lv("__acc"); val b = lv("__b")
    new ArrayAggregate(fl, Literal(0L),
      LambdaFunction(Add(acc, If(b, Literal(1L), Literal(0L))), Seq(acc, b)))
  }

  /** first/last element whose flag is true (NULL when none — the
    * reference returns the element-type default; documented deviation).
    */
  private def firstLastMatch(f: Expression, arrays: Seq[Expression],
      first: Boolean): Expression = {
    val data = arrays.head
    val zipped = zipFlags(data, flags(f, arrays))
    val acc = lv("__acc"); val e = lv("__e"); val s = lv("__s")
    val hit = CreateNamedStruct(Seq(
      Literal("f"), Literal(true), Literal("v"), fld(e, "x")))
    val step =
      if (first) If(fld(acc, "f"), acc, If(fld(e, "fl"), hit, acc))
      else If(fld(e, "fl"), hit, acc)
    ArrayAggregate(
      zipped,
      CreateNamedStruct(Seq(
        Literal("f"), Literal(false), Literal("v"), nullElem(data))),
      LambdaFunction(step, Seq(acc, e)),
      LambdaFunction(fld(s, "v"), Seq(s)))
  }

  /** min/max over the lambda-mapped values: aggregate with a null seed
    * (Least/Greatest skip nulls), so the top node is a HOF.
    */
  private def minMaxMapped(f: Expression, arrays: Seq[Expression],
      min: Boolean): Expression = {
    val data = mapped(f, arrays)
    val acc = lv("__acc"); val x = lv("__x")
    val step =
      if (min) Least(Seq(acc, x)) else Greatest(Seq(acc, x))
    new ArrayAggregate(data, nullElem(mapped(f, arrays)),
      LambdaFunction(step, Seq(acc, x)))
  }

  /** 1-based index of the first/last true flag, 0 when none. */
  private def matchIndex(fl: Expression, first: Boolean): Expression = {
    val acc = lv("__acc"); val b = lv("__b"); val s = lv("__s")
    val pos1 = Add(fld(acc, "p"), Literal(1L))
    val res =
      if (first) If(GreaterThan(fld(acc, "r"), Literal(0L)), fld(acc, "r"),
        If(b, pos1, Literal(0L)))
      else If(b, pos1, fld(acc, "r"))
    ArrayAggregate(
      fl,
      CreateNamedStruct(Seq(
        Literal("p"), Literal(0L), Literal("r"), Literal(0L))),
      LambdaFunction(
        CreateNamedStruct(Seq(Literal("p"), pos1, Literal("r"), res)),
        Seq(acc, b)),
      LambdaFunction(fld(s, "r"), Seq(s)))
  }

  // ---- per-name builders -------------------------------------------------

  /** arrayFill(f, xs): elements where f is false take the value of the
    * nearest preceding element where f was true (the first element is
    * always kept). Ref src/Functions/array/arrayFill.cpp.
    */
  private def arrayFill(f: Expression, arrays: Seq[Expression],
      reverse: Boolean = false): Expression = {
    val data = arrays.head
    val zipped0 = zipFlags(data, flags(f, arrays))
    val zipped = if (reverse) Reverse(zipped0) else zipped0
    val acc = lv("__acc"); val e = lv("__e"); val s = lv("__s")
    val merge = LambdaFunction(
      Concat(Seq(acc, CreateArray(Seq(
        If(Or(fld(e, "fl"), EqualTo(Size(acc), Literal(0))),
          fld(e, "x"), last(acc)))))),
      Seq(acc, e))
    if (reverse)
      ArrayAggregate(zipped, emptyLike(data), merge,
        LambdaFunction(Reverse(s), Seq(s)))
    else new ArrayAggregate(zipped, emptyLike(data), merge)
  }

  /** arraySplit(f, xs): cut BEFORE each element where f is true; a true
    * flag on the first element does not open a leading empty group.
    * Ref src/Functions/array/arraySplit.cpp.
    */
  private def arraySplit(f: Expression, arrays: Seq[Expression],
      reverse: Boolean = false): Expression = {
    val data = arrays.head
    val zipped0 = zipFlags(data, flags(f, arrays))
    val zipped = if (reverse) Reverse(zipped0) else zipped0
    val acc = lv("__acc"); val e = lv("__e"); val s = lv("__s"); val g = lv("__g")
    val newGroup = CreateArray(Seq(CreateArray(Seq(fld(e, "x")))))
    val appendToLast =
      Concat(Seq(
        Slice(acc, Literal(1), Subtract(Size(acc), Literal(1))),
        CreateArray(Seq(Concat(Seq(last(acc), CreateArray(Seq(fld(e, "x")))))))))
    val zero = Slice(CreateArray(Seq(data)), Literal(1), Literal(0))
    val merge = LambdaFunction(
      If(EqualTo(Size(acc), Literal(0)),
        newGroup,
        If(fld(e, "fl"), Concat(Seq(acc, newGroup)), appendToLast)),
      Seq(acc, e))
    if (reverse)
      // undo the input reversal: reverse the group list and each group
      ArrayAggregate(zipped, zero, merge,
        LambdaFunction(
          Reverse(ArrayTransform(s, LambdaFunction(Reverse(g), Seq(g)))),
          Seq(s)))
    else new ArrayAggregate(zipped, zero, merge)
  }

  /** arraySort(f, xs): Schwartzian transform — sort structs of
    * (key, value) lexicographically, then project the value back out.
    * Equal keys tie-break on the value itself (the reference's stable
    * sort keeps input order instead; documented deviation).
    */
  private def sortByKey(f: Expression, arr: Expression,
      reverse: Boolean = false): Expression = {
    val lam = f match {
      case l: LambdaFunction if l.arguments.size == 1 => l
      case _ => throw new IllegalArgumentException(
        "arraySort(f, xs) expects a single-argument lambda")
    }
    val x = lam.arguments.head
    val keyed = ArrayTransform(arr,
      LambdaFunction(
        CreateNamedStruct(Seq(Literal("k"), lam.function, Literal("v"), x)),
        lam.arguments))
    val sorted0 = new ArraySort(keyed)
    // keep the reverse INSIDE the final transform so the top node stays
    // a HigherOrderFunction (the analyzer's lambda-call check)
    val sorted = if (reverse) Reverse(sorted0) else sorted0
    val s = lv("__s")
    ArrayTransform(sorted, LambdaFunction(fld(s, "v"), Seq(s)))
  }

  /** arrayCumSum([f,] xs) — running sums; NonNegative clamps each
    * running total at zero (ref arrayCumSumNonNegative.cpp). Accumulates
    * in DOUBLE regardless of the element type so the zero array and the
    * merge result carry the same type (ArrayAggregate requires exact
    * type equality; the replaced SQL macro pinned DOUBLE too).
    */
  private def cumSum(data0: Expression, nonNegative: Boolean): Expression = {
    val d = lv("__d")
    val data = ArrayTransform(data0,
      LambdaFunction(Cast(d, DoubleType), Seq(d)))
    val acc = lv("__acc"); val x = lv("__x")
    val running = Add(Coalesce(Seq(last(acc), Literal(0.0))), x)
    val step =
      if (nonNegative) Greatest(Seq(Literal(0.0), running)) else running
    new ArrayAggregate(
      data,
      emptyLike(data),
      LambdaFunction(Concat(Seq(acc, CreateArray(Seq(step)))), Seq(acc, x)))
  }

  /** arrayReduce('agg', xs) — constant aggregate-combinator name applied
    * over array elements (ref src/Functions/array/arrayReduce.cpp).
    */
  private def arrayReduce(nameExpr: Expression, arr: Expression): Expression = {
    val agg = nameExpr match {
      case Literal(s, StringType) if s != null => s.toString.toLowerCase
      case _ => throw new IllegalArgumentException(
        "arrayReduce expects a constant aggregate-function name")
    }
    val acc = lv("__acc"); val x = lv("__x")
    def sum = new ArrayAggregate(arr, Cast(Literal(0), DoubleType),
      LambdaFunction(Add(acc, x), Seq(acc, x)))
    agg match {
      case "sum"                   => sum
      case "avg"                   => Divide(sum, Cast(Size(arr), DoubleType))
      case "min"                   => ArrayMin(arr)
      case "max"                   => ArrayMax(arr)
      case "count"                 => Size(arr)
      case "uniq" | "uniqexact"    => Size(ArrayDistinct(arr))
      case "any"                   => one(arr)
      case "anylast"               => last(arr)
      case "grouparray"            => arr
      case "groupuniqarray"        => ArrayDistinct(arr)
      case other => throw new IllegalArgumentException(
        s"arrayReduce: unsupported aggregate '$other'")
    }
  }

  /** range(n) / range(start, end[, step]) — end-exclusive, step > 0
    * (matching the reference's unsigned contract; ref
    * src/Functions/array/range.cpp). Spark's Sequence is end-INCLUSIVE,
    * so the last element is computed explicitly.
    */
  private def rangeExpr(children: Seq[Expression]): Expression = children match {
    case Seq(n) =>
      val seq = new Sequence(Literal(0L), Subtract(Cast(n, LongType), Literal(1L)))
      If(LessThanOrEqual(n, Literal(0)), Slice(seq, Literal(1), Literal(0)), seq)
    case Seq(s, e) =>
      val seq = new Sequence(Cast(s, LongType), Subtract(Cast(e, LongType), Literal(1L)))
      If(GreaterThanOrEqual(s, e), Slice(seq, Literal(1), Literal(0)), seq)
    case Seq(s, e, st) =>
      val sL = Cast(s, LongType); val eL = Cast(e, LongType); val stL = Cast(st, LongType)
      val lastIncl = Add(sL,
        Multiply(IntegralDivide(Subtract(Subtract(eL, sL), Literal(1L)), stL), stL))
      val seq = new Sequence(sL, lastIncl, stL)
      If(GreaterThanOrEqual(s, e), Slice(seq, Literal(1), Literal(0)), seq)
    case _ => throw new IllegalArgumentException("range expects 1-3 arguments")
  }

  private def shiftLeft(c: Seq[Expression]): Expression = {
    val arr = c.head; val n = Cast(c(1), IntegerType)
    val pad = if (c.size > 2) c(2) else nullElem(arr)
    Concat(Seq(
      Slice(arr, Add(n, Literal(1)), GreaterestZero(Subtract(Size(arr), n))),
      ArrayRepeat(pad, LeastOf(n, Size(arr)))))
  }

  private def shiftRight(c: Seq[Expression]): Expression = {
    val arr = c.head; val n = Cast(c(1), IntegerType)
    val pad = if (c.size > 2) c(2) else nullElem(arr)
    Concat(Seq(
      ArrayRepeat(pad, LeastOf(n, Size(arr))),
      Slice(arr, Literal(1), GreaterestZero(Subtract(Size(arr), n)))))
  }

  private def GreaterestZero(e: Expression): Expression =
    Greatest(Seq(Literal(0), e))
  private def LeastOf(a: Expression, b: Expression): Expression =
    Least(Seq(a, b))

  // ---- registry ----------------------------------------------------------

  /** name → builder over the CH-ordered children. */
  private val builders: Map[String, Seq[Expression] => Expression] = Map(
    "arrayMap"    -> { c => mapped(c.head, c.tail) },
    "arrayFilter" -> { c => ArrayFilter(c(1), boolLambda(c.head)) },
    "arrayExists" -> { c =>
      if (c.size == 1) ArrayExists(c.head, identityBoolLambda)
      else ArrayExists(c(1), boolLambda(c.head)) },
    "arrayAll" -> { c =>
      if (c.size == 1) ArrayForAll(c.head, identityBoolLambda)
      else ArrayForAll(c(1), boolLambda(c.head)) },
    "arrayCount" -> { c =>
      if (c.size == 1) Size(ArrayFilter(c.head, identityBoolLambda))
      else countTrue(flags(c.head, c.tail)) },
    // NULL (not the type default) when no element matches — deviation
    // for the bare names; the OrNull forms below are therefore the
    // EXACT reference contract (arrayFirstLastOrNull.cpp) and the bare
    // names alias them.
    "arrayFirst" -> { c => firstLastMatch(c.head, c.tail, first = true) },
    "arrayLast"  -> { c => firstLastMatch(c.head, c.tail, first = false) },
    "arrayFirstOrNull" -> { c => firstLastMatch(c.head, c.tail, first = true) },
    "arrayLastOrNull"  -> { c => firstLastMatch(c.head, c.tail, first = false) },
    // 1-based position of the first/last match, 0 when none (matching
    // the reference).
    "arrayFirstIndex" -> { c =>
      matchIndex(flags(c.head, c.tail), first = true) },
    "arrayLastIndex" -> { c =>
      matchIndex(flags(c.head, c.tail), first = false) },
    "arraySort" -> { c =>
      if (c.size == 1) new ArraySort(c.head) else sortByKey(c.head, c(1)) },
    "arrayReverseSort" -> { c =>
      if (c.size == 1) Reverse(new ArraySort(c.head))
      else sortByKey(c.head, c(1), reverse = true) },
    // Full sort is conforming: the tail's order is unspecified.
    "arrayPartialSort"        -> { c => new ArraySort(c(1)) },
    "arrayPartialReverseSort" -> { c => Reverse(new ArraySort(c(1))) },
    "arrayFill"         -> { c => arrayFill(c.head, c.tail) },
    "arrayReverseFill"  -> { c => arrayFill(c.head, c.tail, reverse = true) },
    "arraySplit"        -> { c => arraySplit(c.head, c.tail) },
    "arrayReverseSplit" -> { c => arraySplit(c.head, c.tail, reverse = true) },
    "arrayReduce"       -> { c => arrayReduce(c.head, c(1)) },
    // Dense first-appearance ranks; O(n·d) per row over d distinct
    // values — per-row arrays are small by construction.
    "arrayEnumerateDense" -> { c =>
      val x = lv("__x")
      ArrayTransform(c.head,
        LambdaFunction(ArrayPosition(ArrayDistinct(c.head), x), Seq(x))) },
    "arrayShuffle"      -> { c => Shuffle(c.head) },
    "arrayRandomSample" -> { c =>
      Slice(Shuffle(c.head), Literal(1), Cast(c(1), IntegerType)) },
    "arrayShiftLeft"    -> shiftLeft _,
    "arrayShiftRight"   -> shiftRight _,
    "range"             -> rangeExpr _,
    // Generic (any element type) takeovers of the former ARRAY<DOUBLE>
    // SQL macros, plus their lambda forms: arraySum(f, xs) etc.
    "arraySum" -> { c =>
      val data = if (c.size == 1) c.head else mapped(c.head, c.tail)
      val acc = lv("__acc"); val x = lv("__x")
      new ArrayAggregate(data, Cast(Literal(0), DoubleType),
        LambdaFunction(Add(acc, x), Seq(acc, x))) },
    "arrayAvg" -> { c =>
      val data = if (c.size == 1) c.head else mapped(c.head, c.tail)
      val acc = lv("__acc"); val x = lv("__x"); val s = lv("__s")
      ArrayAggregate(data, Cast(Literal(0), DoubleType),
        LambdaFunction(Add(acc, x), Seq(acc, x)),
        LambdaFunction(Divide(s, Cast(Size(c.last), DoubleType)), Seq(s))) },
    "arrayMin" -> { c =>
      if (c.size == 1) ArrayMin(c.head)
      else minMaxMapped(c.head, c.tail, min = true) },
    "arrayMax" -> { c =>
      if (c.size == 1) ArrayMax(c.head)
      else minMaxMapped(c.head, c.tail, min = false) },
    // arrayUniq(a1, a2, ...) counts distinct TUPLES across the parallel
    // arrays (no lambda form in the reference).
    "arrayUniq" -> { c =>
      val data = c match {
        case Seq(a) => a
        case Seq(a, b) =>
          val x = lv("__x"); val y = lv("__y")
          ZipWith(a, b, LambdaFunction(
            CreateNamedStruct(Seq(Literal("a"), x, Literal("b"), y)),
            Seq(x, y)))
        case _ => throw new IllegalArgumentException(
          "arrayUniq supports at most 2 parallel arrays")
      }
      Size(ArrayDistinct(data)) },
    "arrayCumSum" -> { c =>
      cumSum(if (c.size == 1) c.head else mapped(c.head, c.tail), nonNegative = false) },
    "arrayCumSumNonNegative" -> { c =>
      cumSum(if (c.size == 1) c.head else mapped(c.head, c.tail), nonNegative = true) },
    // map family (ref src/Functions/mapFilter.cpp, map.cpp): CH puts the
    // (k, v) lambda first.
    "mapKeys"     -> { c => MapKeys(c.head) },
    "mapValues"   -> { c => MapValues(c.head) },
    "mapContains" -> { c => MapContainsKey(c.head, c(1)) },
    "mapFilter"   -> { c => MapFilter(c(1), boolLambda(c.head)) },
    // mapApply((k, v) -> struct(k2, v2), m): staged as three map HOFs so
    // the top node is a HigherOrderFunction — first pack the new entry
    // into the value slot, then lift its fields into key and value.
    "mapApply" -> { c =>
      val lam = c.head match {
        case l: LambdaFunction if l.arguments.size == 2 => l
        case _ => throw new IllegalArgumentException(
          "mapApply expects a two-argument lambda returning struct(k, v)")
      }
      val k = lv("__k"); val s = lv("__s")
      val k2 = lv("__k2"); val s2 = lv("__s2")
      val packed = TransformValues(c(1), lam)
      val rekeyed = TransformKeys(packed,
        LambdaFunction(GetStructField(s, 0), Seq(k, s)))
      TransformValues(rekeyed,
        LambdaFunction(GetStructField(s2, 1), Seq(k2, s2))) },
    // tupleElement(t, n) — 1-based constant index (struct fields are
    // col1, col2, ... exactly like the reference's tuple()), or a
    // constant field name.
    "tupleElement" -> { c =>
      c(1) match {
        case Literal(n, _: IntegerType | _: LongType | _: ShortType | _: ByteType) =>
          UnresolvedExtractValue(c.head, Literal(s"col$n"))
        case Literal(s, StringType) if s != null =>
          UnresolvedExtractValue(c.head, Literal(s.toString))
        case _ => throw new IllegalArgumentException(
          "tupleElement expects a constant index or field name")
      } }
  )

  /** Names whose former SQL-macro definitions this module replaces (the
    * macros pinned ARRAY<DOUBLE>/MAP<STRING,DOUBLE> signatures; the
    * native builders are generic).
    */
  def register(r: FunctionSurface.Registrar): Unit = builders.foreach {
    case (name, builder) => r.expr(name)(builder)
  }
}
