package graft.pipeline

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.Checkpoints
import graft.sinks.BatchSink
import graft.streaming.{Dlq, StreamingPipeline}
import graft.streaming.StreamingPipeline.{RetryPolicy, SinkTables}

/** Historical backfill (SURVEY §3.2 — the `historical_data` binary).
  *
  * One batch job per (tenant, time range): bounded source scan with the
  * timestamp predicate pushed down (O2), a progress count via `observe`
  * (O3 — the reference's `count_documents` progress total plus the
  * `failed_docs` skip accounting at `historical_data/src/main.rs:374,
  * 511-513`), the shared O4–O9 transform chain, then the same routed
  * dual-table write with retry + DLQ as the live pipeline. The reference's
  * per-8000-row chunk loop disappears: partitions ARE the chunks, and the
  * JDBC sink batches inside each partition.
  */
object BackfillJob {

  /** O25: CLI date validation, reference format `%Y-%m-%dT%H:%M`
    * (`historical_data/src/main.rs:875-878`), end must not precede start. */
  private val CliFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm")
  def validateRange(start: String, end: String): (LocalDateTime, LocalDateTime) = {
    val s = LocalDateTime.parse(start, CliFormat)
    val e = LocalDateTime.parse(end, CliFormat)
    require(!e.isBefore(s), s"end ($end) must not be before start ($start)")
    (s, e)
  }

  final case class Result(input: Long, written: Long, skipped: Long, deadLettered: Long)

  /** The validated CLI range formatted as timestamp-literal pushdown
    * bounds ("yyyy-MM-dd HH:mm:ss") — the ONE place CLI strings become
    * source bounds, shared by [[run]] and `Main.backfill`'s range-scan
    * wiring so the format cannot drift from what [[validateRange]]
    * accepted. */
  def tsBounds(start: String, end: String): (String, String) = {
    val (s, e) = validateRange(start, end)
    val f = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    (s.format(f), e.format(f))
  }

  /** Variant for an already-transformed statement frame (the production
    * Mongo path: [[MongoStatements.statements]] over a range scan whose
    * time bounds were pushed to the source). Routes + writes against the
    * provided dimension; `skipped` is unknown here (malformed docs were
    * dropped inside the source transform) and reported as 0. */
  def runTransformed(statements: DataFrame, start: String, end: String,
                     sink: BatchSink, tables: SinkTables, dlq: Dlq,
                     dim: () => DataFrame,
                     policy: RetryPolicy = RetryPolicy()): Result = {
    validateRange(start, end): Unit
    val res = StreamingPipeline.processBatch(statements, dim(), sink, tables, dlq, policy)
    Result(res.routed, res.written, 0, res.deadLettered)
  }

  /** Run the backfill over an EVENTS-schema source DataFrame (ts /
    * event_id / props / user_id — tests inject a parquet scan over the
    * synthetic events table). The production Mongo path does NOT come
    * through here: a [[graft.sources.Sources.mongoRangeScan]] frame
    * carries the Mongo document schema and its time bounds are pushed to
    * the source, so `Main.backfill` transforms it with
    * [[MongoStatements.statements]] and calls [[runTransformed]]. */
  def run(source: DataFrame, start: String, end: String,
          sink: BatchSink, tables: SinkTables, dlq: Dlq,
          policy: RetryPolicy = RetryPolicy()): Result = {
    val (startTs, endTs) = tsBounds(start, end)
    val tsType = source.schema("ts").dataType
    // the bounded scan feeds the transform chain and the opt-out
    // dimension — checkpoint it or a large remote range scan runs twice;
    // the filling pass also counts it (O3: the reference's
    // count_documents progress total)
    val (bounded, counted) = Checkpoints.observedCheckpoint(source.filter(
        col("ts") >= lit(startTs).cast(tsType) && col("ts") <= lit(endTs).cast(tsType)),
      count(lit(1)))
    try {
      val input = counted.getLong(0)
      // the transformed total comes from processBatch's one routing pass
      val res = StreamingPipeline.processBatch(EventStatements.statements(bounded),
        EventStatements.optOutHashes(bounded), sink, tables, dlq, policy)
      // `written` counts rows the SINK accepted; dead-lettered rows are
      // reported separately (not silently claimed as written)
      Result(input, res.written, input - res.routed, res.deadLettered)
    } finally Checkpoints.releaseCheckpoint(bounded)
  }
}
