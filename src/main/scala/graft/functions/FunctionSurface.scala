package graft.functions

import java.util.Locale

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.{CapturesConfig, FunctionIdentifier}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.SQLFunctionExpression
import org.apache.spark.sql.catalyst.catalog.SQLFunction
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.execution.SparkSqlParser
import org.apache.spark.sql.execution.command.CreateSQLFunctionCommand
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.internal.SQLConf

/** The engine's whole SQL-visible function surface: one ordered,
  * immutable list built once per JVM and injected into every session by
  * [[graft.engine.GraftExtensions]] — the graft analogue of the
  * reference's one-time factory registration at server start
  * (`/root/reference/src/Functions/registerFunctions.cpp:9-15`). A
  * session (and each of its `newSession()`s) therefore has every
  * function with no install step.
  *
  * Each module contributes its entries through a [[Registrar]]; building
  * the list throws on a definition that does not parse and on a name
  * registered twice (case-insensitively, as Spark resolves names).
  */
object FunctionSurface extends CapturesConfig {

  type Entry = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  /** Collects one build's entries in registration order. */
  final class Registrar private[FunctionSurface] {
    private[FunctionSurface] val entries = ArrayBuffer.empty[Entry]
    private lazy val parser = new SparkSqlParser()

    /** A Catalyst expression builder. */
    def expr(name: String)(builder: FunctionBuilder): Unit =
      entries += ((FunctionIdentifier(name),
        new ExpressionInfo(builder.getClass.getName, name), builder))

    /** A Scala lambda or aggregator wrapped by `functions.udf`/`udaf`. */
    def udf(name: String, f: UserDefinedFunction): Unit =
      expr(name)(org.apache.spark.sql.graft.shim.udfBuilder(name, f))

    /** A SQL-bodied function `name(params) RETURNS type RETURN body`,
      * parsed once here; the analyzer inlines each call exactly as it
      * does for `CREATE TEMPORARY FUNCTION`.
      */
    def sql(definition: String): Unit = {
      val cmd = parser.parsePlan(s"CREATE TEMPORARY FUNCTION $definition")
        .asInstanceOf[CreateSQLFunctionCommand]
      val returnType = SQLFunction.parseReturnTypeText(cmd.returnTypeText, false, parser)
        .getOrElse(throw new IllegalArgumentException(
          s"SQL function definition needs RETURNS: $definition"))
      val fn = SQLFunction(cmd.name, cmd.inputParamText.map(parser.parseTableSchema),
        returnType, cmd.exprText, cmd.queryText, cmd.comment, cmd.isDeterministic,
        cmd.containsSQL, isTableFunc = false, properties = Map.empty)
      val dataType = fn.getScalarFuncReturnType
      // each call carries the calling session's SQL confs, as CREATE
      // captures them (the body is parsed under them, e.g. its time zone)
      entries += ((fn.name, fn.toExpressionInfo, args => SQLFunctionExpression(
        fn.name.unquotedString, fn.copy(properties = sqlConfigsToProps(SQLConf.get,
          org.apache.spark.sql.catalyst.catalog.UserDefinedFunction.SQL_CONFIG_PREFIX)),
        args, Some(dataType))))
    }
  }

  /** Every entry, in registration order. */
  lazy val entries: Seq[Entry] = build { r =>
    GraftFunctions.register(r)
    ClickHouseCompat.register(r)
    graft.multimodal.Connections.register(r) // SQL getObject()
    graft.operators.Dictionaries.register(r) // dictGet<T> name surface
    graft.operators.JoinSetStorage.register(r) // joinGet / inSet surface
  }

  /** Collects the entries `contribute` registers; throws on a name
    * registered twice.
    */
  private[graft] def build(contribute: Registrar => Unit): Seq[Entry] = {
    val r = new Registrar
    contribute(r)
    val dups = r.entries.groupBy(_._1.funcName.toLowerCase(Locale.ROOT))
      .collect { case (n, es) if es.size > 1 => n }
    require(dups.isEmpty,
      s"function names registered more than once: ${dups.toSeq.sorted.mkString(", ")}")
    r.entries.toList
  }
}
