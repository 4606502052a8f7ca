package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The sketch-calibrated gate's SEMANTIC guarantees, beyond the oracle's
  * value equality: the DDSketch p25 threshold sits at or below the exact
  * 25th percentile (bucket representatives are lower bounds), so the gate
  * keeps AT LEAST everything an exact-percentile gate would — and within
  * the 1/32 relative bucket width of exactly 75% of the corpus. */
class CalibratedGateSpec extends SparkSpec {

  test("calibrated p25 threshold under-approximates the exact percentile; kept fraction ~75%") {
    val docs = graft.Tables(spark, sf("sf0.01")).documents
    val scored = docs.select(col("doc_id"),
        graft.functions.GraftFunctions.qualityFast(col("text")).as("quality"))
      .withColumn("q_micro", round(col("quality") * 10000).cast("long"))
      .persist()
    val n = scored.count()

    val kept = graft.queries.AnalyticsQueries.textQualityCalibrated(spark, sf("sf0.01"))
      .persist()
    val threshold = kept.agg(min("p25")).head().getLong(0)

    // exact p25 via sort: the ceil(0.25n)-th smallest quality
    val rank = math.ceil(0.25 * n).toLong
    val exactP25 = scored.orderBy(col("q_micro"))
      .limit(rank.toInt).agg(max("q_micro")).head().getLong(0)

    // DDSketch representatives are bucket LOWER bounds: threshold <= exact,
    // and within one bucket width (1/32 relative) of it
    assert(threshold <= exactP25,
      s"sketch threshold $threshold above exact p25 $exactP25")
    assert(threshold.toDouble >= exactP25 * (1.0 - 1.0 / 32) - 1,
      s"sketch threshold $threshold more than a bucket below exact p25 $exactP25")

    // therefore the gate keeps at least what an exact gate keeps, and the
    // kept fraction lands in the p25 neighborhood
    val exactKept = scored.filter(col("q_micro") >= exactP25).count()
    val gateKept = kept.count()
    assert(gateKept >= exactKept)
    assert(gateKept >= (0.70 * n).toLong && gateKept <= (0.85 * n).toLong,
      s"kept $gateKept of $n outside the p25 neighborhood")
    kept.unpersist(); scored.unpersist(): Unit
  }
}
