package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Scalar tranche 21 — the last honestly-implementable residual names:
  *
  *  - `validateNestedArraySizes(cond, arr1, arr2, …)` (ref
  *    `src/Functions/validateNestedArraySizes.cpp`): where `cond` is
  *    true the array arguments must share their per-row length or the
  *    row THROWS with the reference's sizes-don't-match shape; returns
  *    1 (true) otherwise — the Nested-structure invariant check.
  *  - `globalVariable(name)` (ref `globalVariable.cpp:82-86`): the
  *    MySQL-compat shim with the reference's exact 4-entry map
  *    (max_allowed_packet 67108864, version '5.7.30', version_comment
  *    '', transaction_isolation 'READ-UNCOMMITTED'), lowercased lookup,
  *    unknown name → Int32 0.
  *  - `getMacro(name)` (ref `getMacro.cpp`): server-config macro
  *    lookup, resolved per EXECUTION like the reference (Macros::
  *    getValue runs per query, not per parse). Two spellings with
  *    honest cluster semantics: `spark.graft.macros.<name>` is read
  *    from the execution-time SQLConf — Spark propagates only
  *    `spark.`-prefixed session confs into tasks, so this one stays
  *    fresh across conf changes, view reuse, and cached plans —
  *    while the legacy `graft.macros.<name>` can't reach executors and
  *    is therefore captured once at analysis (documented staleness).
  *    Non-foldable but DETERMINISTIC — it stays legal everywhere a
  *    constant is (JOIN conditions, ORDER BY, grouping keys, like the
  *    reference). One documented freshness carve-out follows from
  *    determinism: ConvertToLocalRelation evaluates projections over
  *    LocalRelation (VALUES) inputs at optimization time, so a RETAINED
  *    DataFrame over VALUES bakes the then-current value; scans and
  *    OneRowRelation plans stay fresh, and a re-issued query is always
  *    fresh. Missing macro throws at first eval.
  *  - `logTrace(msg)` (ref `logTrace.cpp`): logs the constant message
  *    at TRACE and returns 0.
  *  - `buildId()` (ref `buildId.cpp`): the engine has no ELF build
  *    hash; returns `spark-<version>` — a stable per-build identifier,
  *    documented analog.
  */
object ScalarTranche21 {

  case class ValidateNestedArraySizes(children: Seq[Expression])
      extends Expression with CodegenFallback {
    require(children.length >= 3,
      s"validateNestedArraySizes needs more than two arguments; passed ${children.length}")
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      if (children.head.dataType != BooleanType)
        TypeCheckResult.TypeCheckFailure(
          s"first argument must be BOOLEAN, got ${children.head.dataType.sql}")
      else children.tail.zipWithIndex.collectFirst {
        case (c, i) if !c.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] =>
          TypeCheckResult.TypeCheckFailure(
            s"argument ${i + 2} must be ARRAY, got ${c.dataType.sql}")
      }.getOrElse(TypeCheckResult.TypeCheckSuccess)
    }
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = {
      val cond = children.head.eval(input)
      if (cond != null && cond.asInstanceOf[Boolean]) {
        var first = -1
        var i = 1
        while (i < children.length) {
          val v = children(i).eval(input)
          // a NULL array on a validated row is itself an invariant
          // violation — name it rather than coercing to length 0
          if (v == null) throw new IllegalArgumentException(
            s"validateNestedArraySizes: array argument ${i + 1} is NULL on a validated row")
          val len = v.asInstanceOf[ArrayData].numElements()
          if (i == 1) first = len
          else if (len != first) throw new IllegalArgumentException(
            s"Elements ${i - 1} and $i of Nested data structure (Array columns) " +
              s"have different array sizes ($first and $len respectively)")
          i += 1
        }
      }
      true
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(children = newChildren)
  }

  /** Execution-time trace logging (the reference logs per executed
    * block, `logTrace.cpp`; a per-row eval would flood, so this logs
    * once per expression INSTANCE per task — the engine's closest unit
    * of "block"). Non-foldable so constant folding can't reduce it to
    * a plan-time literal and skip the execution-time side effect.
    */
  case class LogTraceExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = org.apache.spark.sql.types.ShortType
    override def nullable: Boolean = false
    override def foldable: Boolean = false
    @transient private var logged = false
    override def eval(input: InternalRow): Any = {
      if (!logged) {
        logged = true
        val msg = child.eval(input)
        org.slf4j.LoggerFactory.getLogger("FunctionLogTrace")
          .trace(if (msg == null) "" else msg.toString)
      }
      0.toShort
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Macro lookup resolved at execution, once per task (the value is
    * lazily cached on the deserialized instance — zero per-row cost,
    * fresh per execution because tasks deserialize a new instance).
    * `analysisValue` is the active-session value at analysis time: the
    * fallback for the un-prefixed conf key, which Spark never ships to
    * executors. foldable=false keeps ConstantFolding from baking the
    * value into a reused plan; the expression stays DETERMINISTIC (its
    * value is constant within one execution) so it remains legal in
    * every operator position a constant is — JOIN conditions, ORDER BY,
    * grouping keys — exactly like the reference's getMacro (flipping
    * deterministic off was tried and regressed those placements).
    * Known carve-out: ConvertToLocalRelation folds projections over
    * VALUES/LocalRelation inputs at optimization time (it only spares
    * Unevaluable expressions), so a retained DataFrame over VALUES
    * captures the value once — see the object doc.
    */
  case class GetMacroExpr(name: String, analysisValue: Option[String])
      extends LeafExpression with CodegenFallback {
    override def dataType: DataType = org.apache.spark.sql.types.StringType
    override def nullable: Boolean = false
    override def foldable: Boolean = false
    @transient private lazy val macroValue: UTF8String = {
      val conf = org.apache.spark.sql.internal.SQLConf.get
      val v = Option(conf.getConfString(s"spark.graft.macros.$name", null))
        .orElse(Option(conf.getConfString(s"graft.macros.$name", null)))
        .orElse(analysisValue)
        .getOrElse(throw new IllegalArgumentException(
          s"No macro '$name' in config (set graft.macros.$name)"))
      UTF8String.fromString(v)
    }
    override def eval(input: InternalRow): Any = macroValue
  }

  private val globalVariables: Map[String, Any] = Map(
    "max_allowed_packet" -> 67108864,
    "version" -> "5.7.30",
    "version_comment" -> "",
    "transaction_isolation" -> "READ-UNCOMMITTED")

  def register(r: FunctionSurface.Registrar): Unit = {
    def constStr(e: Expression, what: String): String = {
      require(e.foldable, s"$what must be a constant string")
      String.valueOf(e.eval(null))
    }

    r.expr("validateNestedArraySizes")(cs => ValidateNestedArraySizes(cs))

    r.expr("globalVariable") { cs =>
      require(cs.length == 1, "globalVariable(name)")
      globalVariables.get(constStr(cs.head, "globalVariable name")
          .toLowerCase(java.util.Locale.ROOT)) match {
        case Some(s: String) => Literal(UTF8String.fromString(s),
          org.apache.spark.sql.types.StringType)
        case Some(i: Int) => Literal(i)
        case _ => Literal(0) // the reference's unknown-name Int32 0
      }
    }

    r.expr("getMacro") { cs =>
      require(cs.length == 1, "getMacro(name)")
      val name = constStr(cs.head, "getMacro name")
      GetMacroExpr(name,
        SparkSession.active.conf.getOption(s"graft.macros.$name")
          .orElse(SparkSession.active.conf.getOption(s"spark.graft.macros.$name")))
    }

    r.expr("logTrace") { cs =>
      require(cs.length == 1, "logTrace(message)")
      LogTraceExpr(cs.head)
    }

    r.expr("buildId") { _ =>
      Literal(UTF8String.fromString(s"spark-${org.apache.spark.SPARK_VERSION}"),
        org.apache.spark.sql.types.StringType)
    }
  }
}
