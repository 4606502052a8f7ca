package graft.streaming

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.analytics.Checkpoints
import graft.pipeline.{EventStatements, OptOutRouting}
import graft.sinks.BatchSink

/** The live CDC pipeline (SURVEY §3.1) as Structured Streaming.
  *
  * Reference mapping:
  *   - micro-batch trigger: flush on `size >= N || elapsed >= 5 s`
  *     (`/root/reference/src/main.rs:405-407`) → `Trigger.ProcessingTime(5s)`
  *     plus the source's rows-per-trigger cap (O15).
  *   - adaptive batch sizing (O16, `src/main.rs:192-233`): `Main.live`
  *     feeds each tenant query's measured throughput into a
  *     [[BatchSizeManager]] through an [[AdmissionListener]], and logs its
  *     suggested cap at every (re)start (the Mongo v10 connector has no
  *     per-trigger cap option to apply it to).
  *   - per-batch insert retry ×5 with doubling backoff from 1000 ms (O17,
  *     consts `src/main.rs:40-41`).
  *   - retry exhaustion → DLQ (O18), replayed on a 60 s cadence (O19).
  *   - resume tokens (O20): the streaming checkpoint commits AFTER a
  *     successful `foreachBatch`, same at-least-once contract as the
  *     reference's token-after-insert (`src/main.rs:426-439`); replays are
  *     absorbed by an idempotent sink (ReplacingMergeTree on `id` for
  *     ClickHouse — SURVEY §7.4).
  *   - opt-out dimension: re-resolved every micro-batch via `dimProvider`
  *     (replaces the TCP invalidation control plane O22 — SURVEY §3.3:
  *     per-micro-batch coherence needs no control plane).
  *   - skip counters (O5): `observe` metrics on the transformed stream.
  */
object StreamingPipeline {

  /** O17 constants (reference `MAX_RETRIES`/`INITIAL_RETRY_DELAY`). */
  final case class RetryPolicy(maxRetries: Int = 5, initialDelayMs: Long = 1000)

  /** True when `e` IS (or wraps) a thread interrupt. Spark wraps an
    * interrupt that lands mid-job in SparkException — a bare
    * `case _: InterruptedException` misses it, so a graceful stop that
    * cancels the job group mid-write would look like a retryable sink
    * failure: the retry loop would stall shutdown through every backoff
    * sleep and then dead-letter rows that were never unwritable. Checked
    * over the cause chain (shared with [[Dlq]]'s replay loop). */
  private[streaming] def isInterrupt(e: Throwable): Boolean = {
    var cur = e
    var depth = 0
    while (cur != null && depth < 10) {
      if (cur.isInstanceOf[InterruptedException]) return true
      cur = cur.getCause
      depth += 1
    }
    false
  }

  final case class SinkTables(tenant: String, db: String, main: String, optOut: String)

  /** Retrying write (O17): `maxRetries` TOTAL attempts with a doubling
    * sleep between them (reference gives up once `retry_count >=
    * MAX_RETRIES`, src/main.rs:717-739 — 5 attempts, 4 sleeps). Returns
    * true on success, false on exhaustion (→ DLQ); a (possibly
    * Spark-wrapped) interrupt rethrows with the flag restored so the
    * micro-batch fails and replays instead of dead-lettering. */
  def writeWithRetry(sink: BatchSink, df: DataFrame, table: String, policy: RetryPolicy): Boolean = {
    var attempt = 1
    var delay = policy.initialDelayMs
    while (true) {
      try { sink.write(df, table); return true }
      catch {
        // an interrupt — bare or Spark-wrapped (job cancellation during a
        // graceful stop) — must fail fast, never retry: the backoff sleeps
        // would stall shutdown. It RETHROWS rather than returning false:
        // false means "exhausted" and sends the split to the DLQ, but an
        // interrupted batch was never unwritable — failing the micro-batch
        // leaves it uncommitted, so the restart replays it
        case e: Throwable if isInterrupt(e) =>
          Thread.currentThread().interrupt()
          throw e
        case NonFatal(_) if attempt < policy.maxRetries =>
          Thread.sleep(delay)
          // saturating ×2, like the reference's `saturating_mul(2)` (src/main.rs:736)
          delay = if (delay > Long.MaxValue / 2) Long.MaxValue else delay * 2
          attempt += 1
        case NonFatal(_) => return false
      }
    }
    false
  }

  /** Per-micro-batch outcome (feeds backfill reporting + metrics):
    * rows the sink accepted, rows dead-lettered, and every routed row. */
  final case class BatchResult(written: Long, deadLettered: Long, routed: Long)

  /** Rows per writer task: the reference's live max insert batch
    * (`src/main.rs:39`, SURVEY §O16). */
  private val RowsPerWriteTask = 10000L

  /** One micro-batch: route against the freshly resolved opt-out dimension,
    * split, write both tables with retry, dead-letter on exhaustion. It
    * costs one broadcast of the dimension (the O11 existence probe), one
    * observed routing pass that keeps the routed rows and returns both
    * split counts, and one write per non-empty split, coalesced to one
    * writer task per [[RowsPerWriteTask]] rows (`coalesce` only merges
    * partitions, so a large backfill batch keeps its parallelism).
    *
    * The pass is an observed eager checkpoint
    * ([[graft.analytics.Checkpoints.observedCheckpoint]]), not `persist`
    * plus an action: adaptive execution materializes a persisted frame's
    * first scan in a job of its own, so that would cost two jobs. The
    * split counts are read only once that pass has succeeded. Keeping the
    * rows means the dimProvider's dimension query (often a remote read) and
    * the join run once per batch, and both splits see the same dimension
    * snapshot.
    * The kept rows have no lineage: if an executor holding them is lost,
    * the batch fails and replays from its uncommitted source offsets. */
  def processBatch(batch: DataFrame, dim: DataFrame, sink: BatchSink, tables: SinkTables,
                   dlq: Dlq, policy: RetryPolicy): BatchResult = {
    // the one pass over the batch; a failure here throws before any wait
    val (routed, metrics) = Checkpoints.observedCheckpoint(
      OptOutRouting.withOptOutFlag(batch, "hashed_id", dim, "hashed_id"),
      count_if(col("is_opt_out")).as("opt_out"), count(lit(1)).as("rows"))
    try {
      val (nOpt, total) = (metrics.getLong(0), metrics.getLong(1))
      val (main, opt) = OptOutRouting.split(routed)
      var written = 0L
      var dead = 0L
      Seq((main, total - nOpt, tables.main, false), (opt, nOpt, tables.optOut, true)).foreach {
        case (part, n, table, isOptOut) =>
          // skip fully-empty splits: nothing to insert, and an empty DLQ
          // batch would carry no routing metadata row to replay
          if (n > 0) {
            val sized = part.coalesce(((n + RowsPerWriteTask - 1) / RowsPerWriteTask).toInt)
            if (writeWithRetry(sink, sized, s"${tables.db}.$table", policy)) written += n
            else { dlq.append(sized, tables.tenant, tables.db, table, isOptOut); dead += n }
          }
      }
      BatchResult(written, dead, total)
    } finally Checkpoints.releaseCheckpoint(routed)
  }

  /** Build and start the per-tenant streaming query: O4–O9 transform chain
    * on the stream, O11–O14 + O17/O18 in foreachBatch, O20 checkpointing. */
  def start(source: DataFrame, dimProvider: () => DataFrame, sink: BatchSink,
            tables: SinkTables, dlq: Dlq, checkpoint: String,
            policy: RetryPolicy = RetryPolicy(),
            trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
            transform: DataFrame => DataFrame = EventStatements.statements(_),
            queryName: Option[String] = None): StreamingQuery = {
    val writer = transform(source)
      .observe("graft_metrics", count(lit(1)).as("rows_out"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, dimProvider(), sink, tables, dlq, policy): Unit
      }
    queryName.fold(writer)(writer.queryName).start()
  }
}
