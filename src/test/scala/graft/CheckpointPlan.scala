package graft

import java.util.UUID
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener

/** The executed plan of the `localCheckpoint` action that materialized an
  * operator's result. A checkpoint is lineage-free, so the plan that did
  * the work is only visible to a [[QueryExecutionListener]].
  *
  * A checkpoint belongs to the operator if its analyzed plan reads the
  * operator's input, which carries a uniquely named column (pruned by the
  * optimizer, still present in the analyzed plan), or if every leaf of it
  * is a checkpoint made during the call (RDD ids only grow). So an event
  * from any other query on the shared session never matches; the result
  * schema picks the operator's final checkpoint over any intermediate one. */
object CheckpointPlan {

  def of(input: DataFrame)(op: DataFrame => DataFrame): (DataFrame, SparkPlan) = {
    val tag = "__plan_" + UUID.randomUUID().toString.replace("-", "")
    val spark = input.sparkSession
    val lastRddBefore = spark.sparkContext.emptyRDD[Int].id
    def ours(qe: QueryExecution): Boolean =
      qe.analyzed.find(_.output.exists(_.name == tag)).isDefined || {
        val leaves = qe.analyzed.collectLeaves()
        leaves.nonEmpty && leaves.forall {
          case lr: LogicalRDD => lr.rdd.id > lastRddBefore
          case _ => false
        }
      }
    val seen = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint" && ours(qe)) seen.put(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = op(input.withColumn(tag, lit(1)))
      // listener events arrive asynchronously; wait for the final checkpoint
      var plan: Option[SparkPlan] = None
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      while (plan.isEmpty && System.nanoTime() < deadline) {
        Option(seen.poll(1, TimeUnit.SECONDS))
          .filter(_.analyzed.schema == out.schema)
          .foreach(qe => plan = Some(qe.executedPlan match {
            case a: AdaptiveSparkPlanExec => a.executedPlan
            case p => p
          }))
      }
      assert(plan.isDefined, "no localCheckpoint action over the tagged input was observed")
      (out, plan.get)
    } finally spark.listenerManager.unregister(listener)
  }
}
