package graft.functions

import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.functions.udf

/** Scalar tranche 19 — the block-order family and the last cheap
  * residuals:
  *
  *  - `neighbor` / `runningDifference[StartingWithFirstValue]` /
  *    `runningAccumulate` (ref `src/Functions/neighbor.cpp`,
  *    `runningDifference.h`, `runningAccumulate.cpp`): the reference
  *    computes these over BLOCK order and deprecates them in favor of
  *    window functions because that order is undefined. The engine gives
  *    them a DEFINED order instead: a window ordered by
  *    `monotonically_increasing_id()` — (partition index, row-in-
  *    partition), i.e. layout order, the exact thing "block order" is
  *    when it works. Registered as plan-time builders that expand to
  *    pre-built WindowExpressions, so the names work WITHOUT an OVER
  *    clause, like the reference. The window is unpartitioned —
  *    single-partition execution, the same funnel the reference's
  *    single-threaded block walk implies; for scale, use explicit
  *    window functions with a real ORDER BY (q10/q11/e04).
  *  - `replicate(x, arr)` (ref `src/Functions/replicate.cpp`): constant
  *    array of `arr`'s shape — expands to `transform(arr, _ -> x)`.
  *  - `fuzzBits(s, p)` (ref `src/Functions/fuzzBits.cpp`): each BIT of
  *    the string flips independently with probability p.
  *  - `detectLanguageUnknown`: the detectLanguage front that returns
  *    'un' rather than throwing on undetectable input (ours already
  *    does — alias).
  */
object ScalarTranche19 {

  /** Layout-order window spec: order by monotonically_increasing_id =
    * (partition index, row index) — deterministic for a fixed layout.
    */
  private def layoutSpec(frame: WindowFrame): WindowSpecDefinition =
    WindowSpecDefinition(Nil,
      SortOrder(MonotonicallyIncreasingID(), Ascending) :: Nil, frame)

  def register(r: FunctionSurface.Registrar): Unit = {
    FuzzyRegex.register(r)
    HashId.register(r)

    // neighbor(col, offset[, default]): value at layout-row + offset;
    // outside the relation -> explicit default, else the NON-null type
    // zero (0 / ''). Spark nullability is storage metadata, not the
    // reference's Nullable TYPE — a parquet Int64 is still Int64, so
    // its default is 0; pass an explicit NULL default for Nullable
    // semantics.
    r.expr("neighbor") { cs =>
      require(cs.length == 2 || cs.length == 3,
        s"neighbor(column, offset[, default]): got ${cs.length} arguments")
      val off = cs(1) match {
        case e if e.foldable => e.eval(null).asInstanceOf[Number].intValue()
        case _ => throw new IllegalArgumentException(
          "neighbor: offset must be a constant")
      }
      val dflt = cs.lift(2).getOrElse(
        ScalarTranche18.TypeIntrospection(cs.head, "zeroValue"))
      val fn =
        if (off >= 0) Lead(cs.head, Literal(off), dflt, ignoreNulls = false)
        else Lag(cs.head, Literal(-off), dflt, ignoreNulls = false)
      WindowExpression(fn, layoutSpec(UnspecifiedFrame))
    }

    // runningDifference: col - LAST NON-NULL col in layout order (the
    // reference's 00653 golden: NULL rows emit NULL, non-null rows diff
    // against the most recent non-null, the first non-null emits the
    // type default 0) — lag with ignoreNulls = the last-non-null scan
    def lagNonNull(c: Expression): Expression =
      WindowExpression(Lag(c, Literal(1), Literal(null), ignoreNulls = true),
        layoutSpec(UnspecifiedFrame))
    r.expr("runningDifference") { cs =>
      val prev = lagNonNull(cs.head)
      If(IsNull(cs.head), Literal.create(null, org.apache.spark.sql.types.NullType),
        If(IsNull(prev),
          ScalarTranche18.TypeIntrospection(cs.head, "zeroValue"),
          Subtract(cs.head, prev)))
    }
    r.expr("runningDifferenceStartingWithFirstValue") { cs =>
      val prev = lagNonNull(cs.head)
      If(IsNull(cs.head), Literal.create(null, org.apache.spark.sql.types.NullType),
        If(IsNull(prev), cs.head, Subtract(cs.head, prev)))
    }

    // runningAccumulate(state): running fold of a -State column. The
    // engine's scalar states (sumState/countState) fold by SUM — the
    // running prefix aggregate in layout order.
    r.expr("runningAccumulate") { cs =>
      WindowExpression(Sum(cs.head).toAggregateExpression(),
        layoutSpec(SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)))
    }

    // replicate(x, arr) -> transform(arr, _ -> x)
    r.expr("replicate") { cs =>
      val v = UnresolvedNamedLambdaVariable(Seq("__replicate_elem"))
      UnresolvedFunction("transform",
        Seq(cs(1), LambdaFunction(cs.head, Seq(v))), isDistinct = false)
    }

    // fuzzBits(s, prob): independent per-bit flips (ISO-8859-1 carries
    // bytes byte-faithfully through the String surface, like the
    // reinterpret family)
    r.udf("fuzzBits", udf((s: String, p: Double) => {
      if (s == null) null
      else {
        require(p >= 0.0 && p <= 1.0, s"fuzzBits: probability $p out of [0,1]")
        val rnd = java.util.concurrent.ThreadLocalRandom.current()
        val bytes = s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        var i = 0
        while (i < bytes.length) {
          var bit = 0
          while (bit < 8) {
            if (rnd.nextDouble() < p) bytes(i) = (bytes(i) ^ (1 << bit)).toByte
            bit += 1
          }
          i += 1
        }
        new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
      }
    }))

    // the non-throwing front IS our detectLanguage (it already returns
    // 'un' for undetectable input) — alias by expansion
    r.expr("detectLanguageUnknown")(cs =>
      UnresolvedFunction("detectLanguage", cs, isDistinct = false))

    // tid (src/Functions/serverConstants.cpp family): the executing
    // thread's id — per-task introspection, like blockNumber
    r.udf("tid", udf(() => Thread.currentThread().getId))

    // caseWithExpression(x, w1, r1, ..., [else]) — the parser-internal
    // form of CASE x WHEN; Catalyst has the exact twin. `caseWithExpr`
    // is the reference's second registered spelling
    // (caseWithExpression.cpp:113; round-20 extraction reconciliation).
    r.expr("caseWithExpression")(cs => CaseKeyWhen(cs.head, cs.tail))
    r.expr("caseWithExpr")(cs => CaseKeyWhen(cs.head, cs.tail))

    // caseWithoutExpr[ession](c1, v1, c2, v2, ..., [else]) — the
    // parser-internal CASE WHEN spellings, registered as aliases of the
    // reference's variadic multiIf (multiIf.cpp:470-471); Catalyst's
    // CaseWhen is the exact twin (round-20 extraction reconciliation).
    def caseWithout(cs: Seq[Expression]): Expression = {
      // the reference's multiIf demands an ODD count >= 3 — the else
      // branch is mandatory (multiIf.cpp arity check); mirroring the
      // error posture rather than silently yielding NULL
      require(cs.length >= 3 && cs.length % 2 == 1,
        "caseWithoutExpression needs cond/value pairs plus a mandatory " +
          s"else branch (odd argument count >= 3): got ${cs.length}")
      CaseWhen(cs.init.grouped(2).map { case Seq(c, v) => (c, v) }.toSeq,
        Some(cs.last))
    }
    r.expr("caseWithoutExpr")(caseWithout)
    r.expr("caseWithoutExpression")(caseWithout)
  }
}
