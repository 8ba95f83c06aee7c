package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 moved `Column` onto `ColumnNode`s; the Expression<->Column
  * bridge lives in `private[sql]` `classic.ExpressionUtils`. This shim —
  * the standard pattern for Catalyst-extension libraries — re-exports
  * just the two converters graft needs.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER ColumnNode→Catalyst conversion via the session's converter.
    * [[expression]] returns a lazy `ColumnNodeExpression` wrapper with
    * no Catalyst children — fine for embedding in a plan, useless for
    * INSPECTING the tree (collecting referenced attributes). */
  def catalystExpression(spark: org.apache.spark.sql.SparkSession,
      c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .expression(c)

  /** `schema` with every field nullable, nested types included — what
    * a file-source read reports for data written with `schema`
    * (`StructType.asNullable` is `private[spark]`). */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** Drain the async listener bus (`private[spark]`) — profiling
    * tooling needs a real barrier before reading listener state; a
    * sleep races late events (ADVICE r16). */
  def waitListenerBusEmpty(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** DataFrame over a custom LogicalPlan (`Dataset.ofRows` is
    * `private[sql]`) — the entry point for graft's own logical
    * operators (e.g. `plans.SkylinePlan`). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
