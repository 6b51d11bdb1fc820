package graft.functions

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.OutputFormats

/** `formatRow('Format', x, y, …)` / `formatRowNoNewline(…)` — render a
  * single row with any output format as a scalar String (ref
  * `src/Functions/formatRow.cpp`; golden `01420_format_row`). Column
  * names in named formats (JSONEachRow/TSKV/…) come from the argument
  * expressions, exactly like the reference uses the argument column
  * names. Row-wise formats append one `\n` (formatRow) or none
  * (formatRowNoNewline); framed formats (JSON/XML/Vertical/…) render
  * their whole frame around the one row, reusing the same rows-based
  * writers the format surface pins to the reference goldens.
  *
  * Non-codegen (CodegenFallback): compat surface, not an engine hot
  * path — bulk exports go through `OutputFormats.lines`.
  */
case class FormatRow(noNewline: Boolean, children: Seq[Expression],
    frozenNames: Option[Seq[String]] = None)
    extends Expression with CodegenFallback {

  override def prettyName: String = if (noNewline) "formatRowNoNewline" else "formatRow"
  override def nullable: Boolean = false
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.size < 2)
      TypeCheckResult.TypeCheckFailure(s"$prettyName needs a format and at least one value")
    else if (!children.head.isInstanceOf[Literal] ||
        children.head.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: format must be a string literal")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val formatName: String =
    children.head.eval(null).asInstanceOf[UTF8String].toString

  private lazy val valueExprs = children.tail

  /** Argument column names, captured BEFORE the optimizer inlines
    * attributes or binding strips them (the reference names output
    * fields after the argument columns).
    */
  private def currentNames: Seq[String] = frozenNames.getOrElse(
    children.tail.map {
      case n: NamedExpression => n.name
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => u.name
      case other => other.sql
    })

  private lazy val schema: StructType = StructType(
    currentNames.zip(valueExprs).map { case (name, e) =>
      StructField(name, e.dataType, nullable = true)
    })

  private lazy val converters =
    valueExprs.map(e => CatalystTypeConverters.createToScalaConverter(e.dataType))

  private lazy val settings = OutputFormats.Settings()

  override def eval(input: InternalRow): Any = {
    val row = org.apache.spark.sql.Row.fromSeq(
      valueExprs.zip(converters).map { case (e, conv) => conv(e.eval(input)) })
    var out = OutputFormats.writeRows(schema, Array(row), formatName, settings)
    if (noNewline) out = out.stripSuffix("\n")
    UTF8String.fromString(out)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren, frozenNames = Some(currentNames))
}

object FormatRow {
  def register(r: FunctionSurface.Registrar): Unit = {
    for ((name, noNl) <- Seq("formatRow" -> false, "formatRowNoNewline" -> true))
      r.expr(name)(children => FormatRow(noNl, children))
  }
}
