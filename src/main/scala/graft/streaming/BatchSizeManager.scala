package graft.streaming

/** Adaptive micro-batch admission sizing (SURVEY §2 O16).
  *
  * Faithful port of the reference's `BatchSizeManager::adjust_batch_size`
  * semantics (`/root/reference/src/main.rs:192-233`): measure the processing
  * rate of the last batch; above `targetRate` double the size, otherwise
  * halve it; always clamp to `[minSize, maxSize]`.
  *
  * On Spark this is a *driver-side admission knob*, not an operator. Live
  * wiring (O16): `Main.live` builds one manager per tenant and registers an
  * [[AdmissionListener]] (keyed on the query name) that feeds every
  * micro-batch's measured throughput into [[adjust]]; [[suggest]] is read
  * by the query-building closure (`TenantRunner.run`'s `mkQuery`) at every
  * (re)start. Spark fixes source options for a query's lifetime, so the
  * cap takes effect at the next restart — supervision restarts and rolling
  * restarts, NOT mid-query (that niche is covered natively by AQE +
  * trigger-time backpressure; SURVEY §4). The Mongo v10 connector exposes
  * no per-trigger row cap, so `Main.live` logs the suggestion at each
  * restart; the file-stream analog takes a cap as `maxFilesPerTrigger`
  * (asserted end-to-end in StreamingSpec).
  *
  * Reference defaults: live `(initial, 1, 10000, 5000 rec/s)`; historical
  * `(initial, 5000, 8000, 10000 rec/s)` (`src/main.rs:350-351`,
  * `historical_data/src/main.rs:370-371`).
  */
final class BatchSizeManager(initialSize: Int, minSize: Int, maxSize: Int, targetRate: Double) {
  require(minSize >= 1 && maxSize >= minSize, "invalid batch size bounds")
  @volatile private var size: Int = math.min(math.max(initialSize, minSize), maxSize)

  def current: Int = size

  /** Record one processed batch; returns the new suggested size. */
  def adjust(processed: Long, elapsed: java.time.Duration): Int = {
    val secs = math.max(elapsed.toNanos / 1e9, 1e-9)
    val rate = processed / secs
    val next = if (rate > targetRate) size.toLong * 2 else size.toLong / 2
    size = math.min(math.max(next, minSize.toLong), maxSize.toLong).toInt
    size
  }

  /** The suggested per-trigger admission cap. */
  def suggest: Int = size
}

object BatchSizeManager {
  /** Reference live-binary defaults. */
  def live(initial: Int): BatchSizeManager = new BatchSizeManager(initial, 1, 10000, 5000.0)
  /** Reference historical-binary defaults. */
  def historical(initial: Int): BatchSizeManager = new BatchSizeManager(initial, 5000, 8000, 10000.0)
}

/** Feeds each micro-batch's measured throughput (input rows over trigger
  * execution time) into the [[BatchSizeManager]] — the Spark seam for the
  * reference's post-batch `adjust_batch_size` call (src/main.rs:441-443).
  * Scoped to one query by name so concurrent tenants each drive their own
  * manager. */
final class AdmissionListener(manager: BatchSizeManager, queryName: String)
    extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    if (queryName == p.name && p.numInputRows > 0) {
      // a progress event without a (positive) triggerExecution duration
      // carries no rate evidence — SKIP it rather than defaulting to 1 ms,
      // which would fabricate an astronomical throughput and double the
      // cap on nothing
      Option(p.durationMs.get("triggerExecution")).map(_.longValue())
        .filter(_ > 0L)
        .foreach(ms => manager.adjust(p.numInputRows, java.time.Duration.ofMillis(ms)): Unit)
    }
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
}
