package graft.analytics

import java.util.concurrent.TimeoutException
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.control.NonFatal
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** The engine's one way to materialize a frame that is read more than
  * once: an eager `localCheckpoint`, released through [[releaseCheckpoint]]
  * by the code that made it, once nothing reads it again.
  *
  * Why not `persist`: under adaptive execution the first scan of a
  * persisted frame is a table-cache stage job of its own, so persist plus
  * a counting action costs 3 jobs where an observed eager checkpoint costs
  * 1, and a persisted frame's `InMemoryRelation` leaf hides the plan below
  * it from exchange reuse. A checkpoint is an RDD-scan leaf with neither
  * cost, and no CacheManager entry (`storageLevel` is NONE).
  *
  * The trade: a checkpoint has no lineage. Its blocks live on the
  * executors that computed them, so losing one of those executors fails
  * the query that reads the checkpoint instead of recomputing the lost
  * block. Operators, the composed pipelines, the CDC batch and the
  * backfill scan all accept that: a failed query reruns from its source
  * (SCALING.md § "One materialization rule").
  *
  * A frame checkpointed here is read through the returned frame only: a
  * persisted frame was also substituted into any later plan that rebuilt
  * the same subtree from the source, a checkpoint is not. */
private[graft] object Checkpoints {

  /** Deterministically free a checkpoint's blocks. `Dataset.unpersist`
    * is NOT this: it only uncaches CacheManager entries, and a
    * checkpoint's blocks are RDD-level persisted, never registered there,
    * so it frees nothing. The checkpointed RDD itself is reachable through
    * the LogicalRDD node the checkpoint returns; unpersisting THAT drops
    * the block set (spec-pinned via sc.getPersistentRDDs in
    * CheckpointsSpec). The blocks are freed through the SparkContext
    * ([[org.apache.spark.sql.graft.GraftBridge.unpersistRDD]]), not
    * `RDD.unpersist`, which would log a lineage-truncated WARN per release.
    * Idempotent, and a no-op on a frame that is not a checkpoint. Safe only
    * once nothing will read the frame again: a later action on a released
    * checkpoint has no lineage to recompute from. */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.filter(rdd => rdd.sparkContext.getPersistentRDDs.contains(rdd.id))
      .foreach(org.apache.spark.sql.graft.GraftBridge.unpersistRDD)

  /** How long observed metrics may take to arrive after their pass; they
    * come through the session's listener bus, normally within
    * milliseconds. Past this, [[observedCheckpoint]] recomputes them. */
  private val ObservedWait = 10.seconds

  /** Eager `localCheckpoint` of `df` whose one filling pass also computes
    * the aggregate `metrics` over `df`'s rows, returned as one Row: the
    * replacement for `persist` plus a counting action. A fresh Observation
    * serves each call: Spark refuses to reuse one. If the metrics have not
    * arrived within [[ObservedWait]], they are recomputed off the
    * checkpoint, so a slow listener bus costs a second pass, never a
    * blocked run; if that recount throws, the checkpoint is released
    * before the exception propagates. The pass's job carries the caller's
    * call site (`localCheckpoint at Dedup.scala:N`), not this module's, so
    * traces attribute it to the code that asked. */
  def observedCheckpoint(df: DataFrame, metrics: Column*): (DataFrame, Row) =
    observedCheckpointWith(df, metrics, awaitObserved(_, _))

  /** [[observedCheckpoint]] with the wait for the metrics as a parameter:
    * the seam through which CheckpointsSpec reaches the recount path. */
  private[analytics] def observedCheckpointWith(
      df: DataFrame, metrics: Seq[Column],
      await: (Observation, => Row) => Row): (DataFrame, Row) = {
    val obs = Observation()
    val sc = df.sparkSession.sparkContext
    val self = getClass.getName
    val caller = new Throwable().getStackTrace.find(_.getClassName != self).get
    val prevSite = sc.getLocalProperty("callSite.short")
    sc.setCallSite(s"localCheckpoint at ${caller.getFileName}:${caller.getLineNumber}")
    val cp = try df.observe(obs, metrics.head, metrics.tail: _*).localCheckpoint(true)
      finally sc.setLocalProperty("callSite.short", prevSite)
    val row = try await(obs, cp.agg(metrics.head, metrics.tail: _*).head())
      catch { case NonFatal(e) => releaseCheckpoint(cp); throw e }
    (cp, row)
  }

  /** The metrics of a fired `obs`, or `fallback` if they have not arrived
    * within [[ObservedWait]]. */
  def awaitObserved(obs: Observation, fallback: => Row): Row =
    awaitObserved(obs, fallback, ObservedWait)

  private[analytics] def awaitObserved(obs: Observation, fallback: => Row,
                                       wait: FiniteDuration): Row =
    try Await.result(obs.future, wait)
    catch { case _: TimeoutException => fallback }
}
