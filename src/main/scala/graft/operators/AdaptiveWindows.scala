package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Auto-engagement for the [[ChunkedWindows]] skew mitigation (VERDICT r9
  * directive #6): the crossover was MEASURED in round 9
  * (SCALING.md § "Relational layer", "Measured crossover") — the chunked
  * form wins exactly when the hottest key's row count exceeds a few ×
  * (rows / cores), loses below (its boundary stages cost more than the
  * skew they remove: parity at ~5× a core's share, 1.9–3.7× wins at
  * ~10×). Engagement was manual; this wrapper makes the measured rule the
  * operator.
  *
  * The probe is ONE map-side-combinable aggregation
  * (`groupBy(key).count` → global max/sum): a corpus pass, but a narrow
  * all-longs one with no window and no join — at 100 TB it is the
  * cheapest question you can ask of a key distribution, and the answer
  * decides whether the expensive query that follows runs once (vanilla)
  * or as the three-stage chunked plan. A production pipeline would cache
  * the probe per (table, key) epoch; here it rides each call so the
  * decision is always measured, never stale.
  *
  * `factor` defaults to 5.0 — the measured parity point (hot rows ≈ 5× a
  * core's share ran 8.4 s → 8.5 s); above it the chunked form's win grows
  * with the skew, below it vanilla's single-window plan is cheaper.
  */
object AdaptiveWindows {

  /** (hottest key's row count, total rows) in one aggregation; (0, 0) on
    * an EMPTY frame — the agg row is then all nulls and the primitive
    * getters would NPE, where the vanilla forms simply return empty
    * (shared with [[graft.operators.Salting.wouldSalt]], whose probe is
    * this same question on a join key). */
  def hotKeyStats(events: DataFrame, keyCol: String = "user_id"): (Long, Long) = {
    val r = events.groupBy(col(keyCol)).count()
      .agg(max(col("count")).as("hot"), sum(col("count")).as("total"))
      .head()
    if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
  }

  /** The measured engagement rule: hottest key exceeds `factor` × a
    * core's even share. Parallelism defaults to the session's scheduler
    * width — the denominator that made the r9 crossover table. */
  def wouldChunk(events: DataFrame, keyCol: String = "user_id",
                 factor: Double = 5.0): Boolean = {
    val (hot, total) = hotKeyStats(events, keyCol)
    val par = events.sparkSession.sparkContext.defaultParallelism.toDouble
    hot > factor * total / par
  }

  // Vanilla single-window forms — the oracled defaults (cheapest plan on
  // balanced keys: one exchange, one window, no boundary joins). These are
  // the library's canonical DF-level forms; SkewSpec keeps independent
  // copies as the parity reference so a bug here cannot hide.

  def vanillaSessionize(ev: DataFrame, gapSec: Long = 1800L): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("es"), col("event_id"))
    ev.withColumn("es", col("ts").cast("long"))
      .withColumn("gap", col("es") - lag(col("es"), 1).over(w))
      .withColumn("new_s", when(col("gap") >= gapSec, 1).otherwise(0))
      .withColumn("session_idx", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  def vanillaTimeWeightedAvg(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    ev.select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("next_us", lead(col("us"), 1).over(w))
      .withColumn("dt_ms", expr("(next_us - us) div 1000"))
      .filter(col("dt_ms").isNotNull && col("dt_ms") > 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("dt_ms")).as("sum_dt_ms"),
        sum(col("cents") * col("dt_ms")).as("sum_w_cents"))
      .withColumn("twa",
        round(col("sum_w_cents").cast("double") / col("sum_dt_ms") / 100.0, 4))
      .select(col("user_id"), col("n"), col("sum_dt_ms"), col("twa"))
      .orderBy(col("user_id"))
  }

  def vanillaScd2(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
    ev.select(col("user_id"), col("event_type"),
        col("ts").cast("long").as("ts_s"), col("event_id"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to_s", lead(col("ts_s"), 1).over(w))
      .select(col("user_id"), col("version"), col("event_type"),
        col("ts_s").as("valid_from_s"), col("valid_to_s"))
      .orderBy(col("user_id"), col("version"))
  }

  // Adaptive entry points: probe once, dispatch per the measured rule.
  // Both branches emit identical rows (SkewSpec parity, both corpora) —
  // only the physical plan differs.

  def sessionize(events: DataFrame, gapSec: Long = 1800L,
                 chunkSec: Long = 86400L, factor: Double = 5.0): DataFrame =
    if (wouldChunk(events, "user_id", factor))
      ChunkedWindows.sessionize(events, gapSec, chunkSec)
    else vanillaSessionize(events, gapSec)

  def timeWeightedAvg(events: DataFrame, chunkSec: Long = 86400L,
                      factor: Double = 5.0): DataFrame =
    if (wouldChunk(events, "user_id", factor))
      ChunkedWindows.timeWeightedAvg(events, chunkSec)
    else vanillaTimeWeightedAvg(events)

  def scd2(events: DataFrame, chunkSec: Long = 86400L,
           factor: Double = 5.0): DataFrame =
    if (wouldChunk(events, "user_id", factor))
      ChunkedWindows.scd2(events, chunkSec)
    else vanillaScd2(events)
}
