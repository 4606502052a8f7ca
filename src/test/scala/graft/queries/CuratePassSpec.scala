package graft.queries

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.storage.StorageLevel
import graft.{SparkSpec, Tables}
import graft.analytics.{Checkpoints, Dedup}

/** The composed curation pipelines share lineage-free corpus frames: eager
  * checkpoints whose filling pass also returns the counts the df cap needs,
  * so no table-cache stage jobs and no separate counting scans. */
class CuratePassSpec extends SparkSpec {

  /** Jobs `body` submits, counted under a job group of its own. */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"curate-pass-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("curateKept is a lineage-free checkpoint: no storage level, RDD-scan leaves only") {
    val kept = AnalyticsQueries.curateKept(spark, sf("sf0.001"))
    assert(kept.storageLevel == StorageLevel.NONE)
    val plan = kept.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val leaves = plan.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[RDDScanExec]),
      s"expected checkpoint-only leaves, got ${leaves.map(_.nodeName).mkString(", ")}\n$plan")
  }

  for (scale <- Seq("sf0.001", "sf0.01"))
    test(s"the curate pass's observed documents count is the table's count ($scale)") {
      val (kept, nDocs) = AnalyticsQueries.curateKeptCounted(spark, sf(scale))
      assert(nDocs == Tables(spark, sf(scale)).documents.count())
      Checkpoints.releaseCheckpoint(kept)
    }

  test("one pipeline_curate and one pipeline_full call on sf0.001 stay under their job bounds") {
    val dir = sf("sf0.001")
    // warm the table reads, so only the pipelines' own jobs are counted
    AnalyticsQueries.pipelineCurate(spark, dir): Unit
    AnalyticsQueries.pipelineFull(spark, dir): Unit
    val curate = jobsIn(AnalyticsQueries.pipelineCurate(spark, dir): Unit)
    val full = jobsIn(AnalyticsQueries.pipelineFull(spark, dir): Unit)
    // measured on local[4]: 17–18 and 45 jobs; with persisted corpus
    // frames (table-cache stage jobs, separate count scans) 40 and 59
    assert(curate <= 26, s"pipeline_curate ran $curate jobs")
    assert(full <= 52, s"pipeline_full ran $full jobs")
  }

  test("star contraction of an empty edge set is one checkpoint pass, no round") {
    // empty at run time, not at planning time: no optimizer shortcut
    val pairs = Tables(spark, sf("sf0.001")).documents.filter(col("doc_id") < 0)
      .select(col("doc_id").as("id_a"), col("doc_id").as("id_b"))
    var labels: org.apache.spark.sql.DataFrame = null
    val jobs = jobsIn { labels = Dedup.starContractionLabels(pairs) }
    assert(labels.isEmpty)
    // measured 1; with a separate count job and one round, 4
    assert(jobs <= 2, s"an empty edge set ran $jobs jobs")
  }
}
