package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to `private[sql]` Column↔Expression conversion (Spark 4 moved
  * Column onto ColumnNode; the converter lives in
  * `org.apache.spark.sql.classic.ExpressionUtils`). Standard extension
  * pattern: a shim inside the `org.apache.spark.sql` package tree.
  */
object shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER Column → Expression conversion. `expression` returns a lazy
    * `ColumnNodeExpression` wrapper that only Dataset-side resolution
    * unwraps; expressions injected through the FUNCTION REGISTRY (the
    * ClickHouse-named aggregate fronts) need the real catalyst tree up
    * front so the analyzer can resolve the inner function calls.
    */
  def expressionEager(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Function-registry builder for a `functions.udf`/`udaf` value — the
    * builder `spark.udf.register` installs (`toScalaUDF` and
    * `ScalaAggregator` are `private[sql]`), usable without a session.
    */
  def udfBuilder(name: String, f: org.apache.spark.sql.expressions.UserDefinedFunction)
      : Seq[Expression] => Expression = f.withName(name) match {
    case a: org.apache.spark.sql.expressions.UserDefinedAggregator[_, _, _] =>
      cs => org.apache.spark.sql.execution.aggregate.ScalaAggregator(a, cs)
    case u: org.apache.spark.sql.expressions.SparkUserDefinedFunction =>
      cs => org.apache.spark.sql.classic.UserDefinedFunctionUtils.toScalaUDF(u, cs)
  }

  /** DataFrame over a raw logical plan (`Dataset.ofRows` is
    * `private[sql]`) — used by optimizer rules that graft an index-scan
    * sub-plan into an existing query tree.
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** DataFrame over an RDD of InternalRow
    * (`SparkSession.internalCreateDataFrame` is `private[sql]`) — lets
    * per-partition passes (running sums, local ranks) stay in Spark's
    * internal row format instead of round-tripping every row through an
    * external `Row` + ExpressionEncoder (r22, guide §1.2 per-task work).
    */
  def internalDf(
      spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Drain the listener bus (`private[spark]`) — lets tests assert
    * "no job ran during optimization" without sleeping.
    */
  def waitListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Propagate the task context onto a helper thread
    * (`TaskContext.setTaskContext` is `private[spark]`). Spark's own
    * PipedRDD does exactly this for its stdin-writer thread; without it,
    * consuming a columnar-scan iterator from the helper thread NPEs on
    * the missing per-task memory manager.
    */
  def setTaskContext(tc: org.apache.spark.TaskContext): Unit =
    org.apache.spark.TaskContext.setTaskContext(tc)
}
