package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** The two private seams this library needs, both reachable only from
  * inside `org.apache.spark`, which is why this shim lives under
  * `org.apache.spark.sql` — the standard technique for Spark extension
  * libraries that add whole-plan operators:
  *   - `private[sql]`: constructing a DataFrame from a custom
  *     [[LogicalPlan]] node (`Dataset.ofRows` is the canonical entry: it
  *     runs the analyzer and wires a QueryExecution), and converting
  *     between Columns and Catalyst expressions;
  *   - `private[spark]`: `SparkContext.unpersistRDD`, which frees an RDD's
  *     blocks without `RDD.unpersist`'s per-call WARN about a locally
  *     checkpointed RDD (see [[unpersistRDD]]).
  * Nothing else in graft reaches into Spark internals' private scope.
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

  /** Free `rdd`'s persisted blocks without blocking: what `RDD.unpersist`
    * does, minus its WARN that a locally checkpointed RDD's lineage is
    * truncated — for a checkpoint released once nothing reads it again
    * that WARN is the expected case, logged once per release. */
  def unpersistRDD(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
