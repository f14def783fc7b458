package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column ↔ Catalyst Expression converters —
  * the supported classic-mode path for libraries registering custom
  * codegen expressions (Spark 4 moved Column internals to ColumnNode;
  * `classic.ExpressionUtils` is the canonical converter).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** FULL ColumnNode → Expression conversion (not ExpressionUtils'
    * lazy wrapper): `functions.*` Columns carry UnresolvedFunction
    * NODES, which the wrapper leaves opaque — fine inside the DataFrame
    * API (plan conversion converts them), but a FunctionRegistry
    * builder's output goes straight into analysis, where an opaque
    * node is Unevaluable. This converter rewrites the whole node tree
    * into genuine Catalyst expressions the analyzer then resolves. */
  def toExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** DataFrame over a hand-built logical plan (e.g. a LogicalRelation
    * wrapping a custom FileIndex). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
