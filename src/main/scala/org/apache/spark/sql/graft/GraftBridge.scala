package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** The `private[sql]` seam this library needs: constructing a DataFrame
  * from a custom [[LogicalPlan]] node, and converting between Columns and
  * Catalyst expressions. `Dataset.ofRows` is the canonical
  * entry (it runs the analyzer and wires a QueryExecution) but is
  * `private[sql]`, so this shim lives under `org.apache.spark.sql` — the
  * standard technique for Spark extension libraries that add whole-plan
  * operators. Nothing else in graft reaches into Spark internals' private
  * scope.
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column from a raw Catalyst expression: how every graft Column API
    * builds its native expression, so none depends on a session's function
    * registry (and expressions carrying non-Expression state, such as a
    * [[org.apache.spark.broadcast.Broadcast]] handle, need no SQL name). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  /** The inverse — unwrap a Column to its Catalyst expression. */
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)
}
