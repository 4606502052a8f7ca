package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions for the round-4 operators — each
  * operator's scale claim, checked against the executed plan (AQE-safe:
  * execute first, then descend into materialized stages). */
class Round4PlanSpec extends SparkSpec {
  private val d = sf("sf0.001")

  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  private def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p.collect { case x => x }.flatMap {
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(s) ++ allNodes(s.plan)
      case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        Seq(c) ++ allNodes(c.relation.cachedPlan) // persisted results hide their pipeline here
      case a: AdaptiveSparkPlanExec =>
        Seq(a) ++ allNodes(a.executedPlan) // cached plans nest their own AQE root
      case x => Seq(x)
    }

  /** Strict: no nested-loop join of any kind (for operators whose whole
    * point is replacing one with an equi-join). */
  private def assertNoNestedLoop(df: DataFrame): Unit = {
    val nodes = allNodes(finalPlan(df))
    assert(!nodes.exists(n => n.nodeName.contains("BroadcastNestedLoop") ||
      n.nodeName.contains("CartesianProduct")), finalPlan(df).toString)
  }

  /** Relaxed: a BROADCAST nested loop over a generated dimension (a grid
    * cross join, a one-row stats frame) is fine at any scale — only a
    * CartesianProduct (both sides shuffled) is a scale defect. */
  private def assertNoCartesian(df: DataFrame): Unit = {
    val nodes = allNodes(finalPlan(df))
    assert(!nodes.exists(_.nodeName.contains("CartesianProduct")), finalPlan(df).toString)
  }

  test("native as-of exec: two child shuffles feed the merge, no window, no union") {
    val df = Relational.asofSignupNative(spark, d)
    assert(df.collect().nonEmpty)
    val nodes = allNodes(finalPlan(df))
    assert(nodes.exists(_.nodeName.contains("AsofJoin")), finalPlan(df).toString)
    // the union-window composition this replaces would show Window + Union
    assert(!nodes.exists(_.nodeName.contains("Window")), finalPlan(df).toString)
    assert(!nodes.exists(_.nodeName.contains("Union")), finalPlan(df).toString)
  }

  test("containment dedup is equi-join only: no nested loop anywhere") {
    val docs = graft.Tables(spark, d).documents
    val df = graft.analytics.Dedup.ngramContainmentPairs(docs, 0.9,
      maxDf = Some(graft.analytics.Dedup.dfCapFor(docs.count())))
    assert(df.collect().nonEmpty)
    assertNoNestedLoop(df)
  }

  test("lateral top-2 decorrelates: no per-customer re-scan nested loop") {
    val df = Relational.q32Lateral(spark, d)
    assert(df.collect().nonEmpty)
    assertNoNestedLoop(df)
  }

  test("gapfill grid side broadcasts; the fact table aggregates once") {
    val df = Relational.q33Gapfill(spark, d)
    assert(df.collect().nonEmpty)
    val nodes = allNodes(finalPlan(df))
    assert(nodes.exists(_.nodeName.contains("BroadcastHashJoin")), finalPlan(df).toString)
    assertNoCartesian(df)
  }

  test("PQ assignment is a compiled projection: no join, no shuffle of the corpus for it") {
    // the codes come back checkpointed: the assignment lives in the plan of
    // the localCheckpoint action that materialized them
    val (df, codes) = graft.CheckpointPlan.of(graft.Tables(spark, d).embeddings)(
      graft.analytics.ProductQuantization.pqAssign(_))
    assert(df.collect().nonEmpty)
    // r18: the codebook argmin is graft_nearest_book_code over a broadcast
    // centroid table — the pre-r18 shape was a BroadcastHashJoin exploding
    // |subs| × k rows through a min_by aggregate; now NO join (of any
    // strategy) and NO exchange stands between the slice scan and the codes
    val nodes = allNodes(codes)
    assert(nodes.exists(_.toString.contains("graft_nearest_book_code")), codes.toString)
    assert(!nodes.exists(_.nodeName.contains("Join")), codes.toString)
    assert(!nodes.exists(_.nodeName.contains("Exchange")), codes.toString)
    assert(!nodes.exists(n => n.nodeName.contains("BroadcastNestedLoop") ||
      n.nodeName.contains("CartesianProduct")), codes.toString)
  }

  test("bigram LM scoring: count-table joins are equi, no shuffled cartesian") {
    // the result comes back checkpointed: the scoring joins live in the
    // plan of the localCheckpoint action that materialized it
    val (df, scoring) = graft.CheckpointPlan.of(graft.Tables(spark, d).documents)(
      graft.analytics.Search.bigramSurprisal(_))
    assert(df.collect().nonEmpty)
    val nodes = allNodes(scoring)
    assert(nodes.exists(_.nodeName.contains("Join")), scoring.toString)
    assert(!nodes.exists(_.nodeName.contains("CartesianProduct")), scoring.toString)
  }

  test("prefix dedup self-join is hash-keyed on the digest") {
    val df = graft.analytics.Dedup
      .prefixDupPairs(graft.Tables(spark, d).documents)
    assert(df.collect().nonEmpty)
    assertNoNestedLoop(df)
  }
}
