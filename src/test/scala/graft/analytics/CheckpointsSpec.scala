package graft.analytics

import scala.concurrent.duration._

import graft.SparkSpec
import org.apache.spark.sql.{Observation, Row}
import org.apache.spark.sql.functions.{count, lit, sum}
import org.apache.spark.storage.StorageLevel

/** The engine's one materialization module: eager checkpoints, their
  * observed filling pass, and their release. */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("releaseCheckpoint frees a localCheckpoint's blocks (Dataset.unpersist does not)") {
    // r17 review: Dataset.unpersist only uncaches CacheManager entries; a
    // localCheckpoint's blocks are RDD-level persisted and survive it —
    // the r16 "release" was a no-op. Assertions are id-specific (the
    // suite-shared context may host concurrent suites' RDDs).
    val df = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text").localCheckpoint(true)
    val sc = spark.sparkContext
    val rddId = df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.get
    assert(sc.getPersistentRDDs.contains(rddId),
      "a localCheckpoint'd frame must hold RDD-level persisted blocks")
    df.unpersist()
    assert(sc.getPersistentRDDs.contains(rddId),
      "Dataset.unpersist must NOT free checkpoint blocks (CacheManager path only) — " +
        "if this starts failing, Spark changed and releaseCheckpoint can be retired")
    Checkpoints.releaseCheckpoint(df)
    assert(!sc.getPersistentRDDs.contains(rddId),
      "releaseCheckpoint must deterministically drop the checkpointed RDD's blocks")
  }

  test("observedCheckpoint returns a materialized checkpoint and its pass's metrics") {
    val before = persistentIds
    val (cp, m) = Checkpoints.observedCheckpoint(
      (1L to 10L).toDF("x"), count(lit(1)), sum($"x"))
    assert(m == Row(10L, 55L))
    assert(cp.storageLevel == StorageLevel.NONE)
    assert((persistentIds -- before).size == 1, "one checkpoint holds the rows")
    assert(cp.count() == 10L)
    Checkpoints.releaseCheckpoint(cp)
    Checkpoints.releaseCheckpoint(cp) // idempotent
    assert((persistentIds -- before).isEmpty)
  }

  test("an Observation that never fires returns the fallback row after the bounded wait") {
    val t0 = System.nanoTime()
    val got = Checkpoints.awaitObserved(Observation(), Row(-1L), 300.millis)
    assert(got == Row(-1L))
    assert(System.nanoTime() - t0 >= 300.millis.toNanos, "the fallback came before the wait ran out")
  }

  test("observedCheckpoint releases its checkpoint when the recount throws") {
    val before = persistentIds
    val boom = intercept[IllegalStateException] {
      Checkpoints.observedCheckpointWith((1L to 10L).toDF("x"), Seq(count(lit(1))),
        (_, _) => throw new IllegalStateException("recount failed"))
    }
    assert(boom.getMessage == "recount failed")
    assert((persistentIds -- before).isEmpty, "the checkpoint's blocks outlived the failed call")
  }
}
