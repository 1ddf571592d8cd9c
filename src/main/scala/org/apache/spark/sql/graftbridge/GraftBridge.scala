package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.AbstractDataType

/** Access shim for `private[sql]` Spark internals needed to expose custom
  * Catalyst expressions as user-facing Columns (the standard pattern for
  * Spark extension libraries — a bridge object inside the sql package
  * namespace), plus the `private[spark]` listener-bus drain. Only pure
  * adapters live here; all graft logic stays in the `graft.*` packages.
  */
object GraftBridge {
  /** Wrap a Catalyst expression as a Column (Spark 4 classic API). */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the Catalyst expression backing a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function builder into a live session's registry (the
    * post-creation analog of `SparkSessionExtensions.injectFunction`). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(ident, info, builder)

  /** Blocks until every listener has seen every event posted so far, so
    * a counter a listener keeps is complete for the actions that have
    * returned. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  type AbstractType = AbstractDataType
}
