package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal private[sql] bridge: building a DataFrame from a custom
  * LogicalPlan requires `Dataset.ofRows`, and a Column from a custom
  * Expression (or the Expression inside a Column) requires
  * `ExpressionUtils`, all of which Spark keeps package-private — the standard extension-library pattern is
  * this one-object shim inside the org.apache.spark.sql namespace.
  * Nothing else in the engine lives outside the graft packages. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(expr: Expression): Column = classic.ExpressionUtils.column(expr)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
