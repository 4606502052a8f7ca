package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Event-time streaming operators beyond the reference's stateless chain
  * (SURVEY §2.1 lists watermarks/windows as absences the Spark engine gets
  * natively; these expose them deliberately).
  *
  * Scale notes: windowed counts shuffle on (window, key) with partial
  * aggregation; state size is bounded by the watermark — late data beyond
  * `delay` is dropped and its window state evicted. The stateful dedup
  * keeps one tiny state entry per key with a processing-time TTL, the
  * streaming analog of [[graft.analytics.Dedup.exact]] (SURVEY §7.4: state
  * must be bucketed/TTL'd at 100 TB — here TTL; bucketing is the key space
  * itself).
  */
object EventTimeOps {

  /** Tumbling event-time counts per event_type with a watermark: the
    * standard late-data-bounded windowed aggregate. */
  def windowedCounts(events: DataFrame, delay: String = "10 minutes",
                     windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Native gap-based session windows — the streaming analog of the batch
    * lag/cumsum sessionization (`w3_sessionize`, same 30-minute gap rule: an
    * event exactly `gap` after the previous one starts a NEW session, since
    * a session's window ends at last_ts + gap exclusive). In streaming,
    * state is one open session per (user, session) merged incrementally;
    * the watermark closes sessions and evicts their state, so append mode
    * emits each session exactly once. */
  def sessionAggregates(events: DataFrame, gap: String = "30 minutes",
                        delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(session_window(col("ts"), gap).as("s"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("user_id"), col("s.start").as("session_start"),
        col("s.end").as("session_end"), col("n_events"), col("sum_value"))

  /** EXACT streaming daily active users — the event-time twin of the DAU
    * leg of `q42_dau`, and the exact counterpart of the approximate
    * [[streamingHllRegisters]] cube: a watermarked per-(user, day)
    * `dropDuplicates` (state = one tiny entry per active user-day, evicted
    * when the watermark passes the day) feeds an ordinary windowed count,
    * so append mode emits each closed day's exact distinct-user count
    * once. Choose by cardinality: exact state grows with users/day, the
    * HLL cube's stays 256 registers — same answer surface, different
    * memory contract (parity on closed days proven in EventTimeSpec). */
  def streamingDau(events: DataFrame, delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .select(col("user_id"), window(col("ts"), "1 day").as("w"), col("ts"))
      .dropDuplicates("user_id", "w")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("dau"))
      .select((unix_timestamp(col("w.start")) / 86400).cast("long").as("day"),
        col("dau"))

  /** Streaming build of the [[graft.analytics.HllSketch]] register cube:
    * `max(rho)` per (cell, bucket) is an ordinary streaming aggregate, so
    * the distinct-count cube stays fresh under continuous ingest with
    * state bounded by (cells × 256 registers) — NOT by the number of
    * distinct users — and micro-batch boundaries cannot change the result
    * (max is associative/commutative; parity with the batch build is
    * EventTimeSpec-proven). Complete/update output keeps downstream range
    * queries answerable mid-stream; rho state never needs a watermark
    * because registers only grow toward a 53-bound. */
  def streamingHllRegisters(events: DataFrame, keys: Seq[String],
                            value: org.apache.spark.sql.Column): DataFrame =
    graft.analytics.HllSketch.registers(events, keys, value)

  /** Streaming build of the [[graft.analytics.QuantileSketch]] histogram
    * cube: the per-(cell, bucket) `count` is an ordinary streaming
    * aggregate (count is associative/commutative), so p50/p95/p99 over any
    * cell range stay answerable mid-stream from histogram rows alone, with
    * state bounded by (cells × ≤ ~512 buckets) — NOT by event volume — and
    * micro-batch boundaries cannot change the result (parity with the
    * batch build is EventTimeSpec-proven). The quantile walk itself
    * ([[graft.analytics.QuantileSketch.quantiles]]) runs as a batch query
    * over the sink's current histogram, exactly like range rollups over
    * the HLL cube. */
  def streamingQuantileHistogram(events: DataFrame, keys: Seq[String],
                                 amount: org.apache.spark.sql.Column): DataFrame =
    graft.analytics.QuantileSketch.histogram(events, keys, amount)

  /** Native watermark-bounded streaming dedup
    * (`dropDuplicatesWithinWatermark`): duplicates of a key arriving within
    * the watermark window are dropped; state for a key is evicted once the
    * watermark passes its event time, so state is bounded by (arrival rate ×
    * delay), not by the total key space — the event-time complement of
    * [[firstSeen]]'s processing-time TTL. Exactly-once semantics hold for
    * any duplicate arriving within `delay` of the original (the stream
    * contract: duplicates are retries/replays, which cluster in time). */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
                           tsCol: String = "ts",
                           delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  final case class Keyed(key: Long, payload: String)
  final case class SeenState(firstSeenMs: Long)

  final case class BandRow(band: Int, bv: Long, doc_id: Long, sig: Long)
  final case class BucketState(members: List[(Long, Long)])
  final case class DupPair(id_a: Long, id_b: Long, hamming: Long)

  /** Streaming near-dup detection — the stateful streaming form of
    * [[graft.analytics.Dedup.simhashPairs]] (SURVEY §7.4: state must be
    * bucketed + TTL'd at scale; here the bucketing IS the simhash band
    * key, so each state entry holds only one band-bucket's members).
    *
    * Each document fans out to `bands` rows keyed by (band, band-value);
    * `flatMapGroupsWithState` keeps the (doc_id, sig) members per bucket,
    * compares every arriving doc against the bucket's members (pigeonhole:
    * a pair with hamming ≤ maxHamming < bands shares ≥1 exact band), and
    * emits verified pairs. State is size-capped at `maxBucket` most-recent
    * members, and TTL'd when `ttlMs` is set — set it on CONTINUOUS streams
    * (ProcessingTime trigger) so unbounded key spaces can't grow state
    * forever; leave it None for bounded replays/backfills, because a
    * processing-time timeout makes Trigger.AvailableNow spin empty
    * timer-poll micro-batches after the data is exhausted instead of
    * terminating. Output is at-least-once per pair (a pair sharing >1 band
    * emits from each shared bucket — dedupe downstream, e.g.
    * `dropDuplicates` or an idempotent sink). */
  def streamingSimhashPairs(docs: DataFrame, maxHamming: Int = 3, bands: Int = 6,
                            ttlMs: Option[Long] = None, maxBucket: Int = 1000)
                           (implicit spark: SparkSession): Dataset[DupPair] = {
    require(maxHamming < bands, "banding needs maxHamming < bands (pigeonhole guarantee)")
    import spark.implicits._
    val banded = docs
      .select(col("doc_id"),
        graft.functions.GraftFunctions.simhashFast(col("text")).as("sig"))
      .select(col("doc_id"), col("sig"),
        // shared banding layout — batch/streaming parity by construction
        explode(graft.analytics.Dedup.signatureBands(col("sig"), bands)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bv").as("bv"), col("doc_id"), col("sig"))
      .as[BandRow]
    val timeoutConf =
      if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    banded.groupByKey(r => (r.band, r.bv))
      .flatMapGroupsWithState[BucketState, DupPair](
        org.apache.spark.sql.streaming.OutputMode.Append(), timeoutConf) {
        (_: (Int, Long), rows: Iterator[BandRow], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var members = state.getOption.map(_.members).getOrElse(Nil)
            val out = List.newBuilder[DupPair]
            rows.foreach { r =>
              members.foreach { case (id, sig) =>
                val h = java.lang.Long.bitCount(r.sig ^ sig)
                if (h <= maxHamming && id != r.doc_id) {
                  val (a, b) = if (id < r.doc_id) (id, r.doc_id) else (r.doc_id, id)
                  out += DupPair(a, b, h.toLong)
                }
              }
              members = (r.doc_id, r.sig) :: members
            }
            state.update(BucketState(members.take(maxBucket)))
            ttlMs.foreach(state.setTimeoutDuration)
            out.result().iterator
          }
      }
  }

  final case class SpanRow(chunk_hash: String, doc_id: Long, chunk_idx: Long,
                           n_tok: Long, occ_key: Long)
  final case class SpanState(firstKey: Long)
  final case class SpanVerdict(doc_id: Long, chunk_idx: Long, n_tok: Long, removed: Int)

  /** Streaming C4 span dedup — the stateful streaming twin of
    * [[graft.analytics.Dedup.spanDedupStats]], completing the batch/stream
    * pairing the simhash operator already has. Documents explode into
    * `spanTokens`-token spans (the SAME chunker and 128-bit `chunk_hash` as
    * the batch operator), the stream keys on the span hash, and
    * `flatMapGroupsWithState` keeps exactly ONE long per distinct span (the
    * keeper's occ_key — the minimal state for first-occurrence-wins; the
    * simhash bucket operator stores member lists, this stores a scalar).
    * Each arriving span is emitted with its keeper/removed verdict.
    *
    * Cross-micro-batch contract: FIRST ARRIVAL wins. Within a micro-batch,
    * rows are ranked by the shared [[graft.analytics.Dedup.spanOccKey]]
    * order, so verdicts never depend on partition order; across batches,
    * when arrival follows occ_key order (a backfill replaying in document
    * order — the EventTimeSpec parity case) the verdicts equal the batch
    * operator's global min-occ_key rule EXACTLY. Out-of-order arrival keeps
    * the earlier arrival as keeper — the standard streaming relaxation,
    * same as [[firstSeen]].
    *
    * State: one (hash → long) entry per distinct span seen; TTL it on
    * continuous streams via `ttlMs` (same Trigger.AvailableNow caveat as
    * [[streamingSimhashPairs]] — leave None for bounded replays). */
  def streamingSpanDedup(docs: DataFrame, spanTokens: Int = 16,
                         ttlMs: Option[Long] = None)
                        (implicit spark: SparkSession): Dataset[SpanVerdict] = {
    import spark.implicits._
    val spans = graft.analytics.Sampling.docChunksWithText(docs, size = spanTokens,
        stride = spanTokens, hashChars = 32)
      .select(col("chunk_hash"), col("doc_id"), col("chunk_idx"), col("n_tok"),
        graft.analytics.Dedup.spanOccKey(col("doc_id"), col("chunk_idx")).as("occ_key"))
      .as[SpanRow]
    val timeoutConf =
      if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    spans.groupByKey(_.chunk_hash)
      .flatMapGroupsWithState[SpanState, SpanVerdict](
        org.apache.spark.sql.streaming.OutputMode.Append(), timeoutConf) {
        (_: String, rows: Iterator[SpanRow], state: GroupState[SpanState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val rs = rows.toArray.sortBy(_.occ_key)
            val keeperKey = state.getOption.map(_.firstKey).getOrElse {
              state.update(SpanState(rs.head.occ_key))
              rs.head.occ_key
            }
            ttlMs.foreach(state.setTimeoutDuration)
            rs.iterator.map(r => SpanVerdict(r.doc_id, r.chunk_idx, r.n_tok,
              if (r.occ_key == keeperKey) 0 else 1))
          }
      }
  }

  final case class PackRow(shard: Long, doc_id: Long, n_tok: Long)
  final case class PackState(nextTok: Long)
  final case class PackPlacement(shard: Long, doc_id: Long, n_tok: Long,
                                 tok_start: Long, tok_end: Long,
                                 first_window: Long, last_window: Long)

  /** Streaming sequence packing — the stateful twin of
    * [[graft.analytics.Sampling.packSequences]] (an ingest packer: place
    * every arriving document at its shard's running token offset and cut
    * the stream into `windowTokens` context windows as it grows). State
    * per shard is ONE long — the next free token offset — so state size is
    * nShards longs at any corpus size, the smallest of the streaming
    * operators here.
    *
    * Cross-micro-batch contract: ARRIVAL order is placement order. Within
    * a micro-batch rows are placed in doc_id order, so placements never
    * depend on partition order; when arrival follows doc_id order per
    * shard (a backfill replaying in document order — the EventTimeSpec
    * parity case) placements equal the batch operator's EXACTLY. No TTL
    * knob: a shard's offset must never be evicted while the stream lives
    * (evicting it would restart the shard's stream at token 0). */
  def streamingPack(docs: DataFrame, windowTokens: Int, nShards: Int)
                   (implicit spark: SparkSession): Dataset[PackPlacement] = {
    import spark.implicits._
    val rows = docs.select(
        graft.analytics.Sampling.shardOf(col("doc_id"), nShards).as("shard"),
        col("doc_id"),
        graft.analytics.Sampling.strictTokenCount(col("text")).as("n_tok"))
      .filter(col("n_tok") > 0)
      .as[PackRow]
    rows.groupByKey(_.shard)
      .flatMapGroupsWithState[PackState, PackPlacement](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (shard: Long, it: Iterator[PackRow], state: GroupState[PackState]) =>
          var off = state.getOption.map(_.nextTok).getOrElse(0L)
          val out = it.toArray.sortBy(_.doc_id).map { r =>
            val start = off
            off += r.n_tok
            PackPlacement(shard, r.doc_id, r.n_tok, start, off,
              start / windowTokens, (off - 1) / windowTokens)
          }
          state.update(PackState(off))
          out.iterator
      }
  }

  final case class FunnelIn(user_id: Long, event_type: String, us: Long)
  /** Per-user funnel memory: min view time, plus every click/purchase that
    * could still participate as the view minimum moves (see pruning rule).
    * `seq` counts absorbed events so downstream can pick the LAST emission
    * per user without relying on sink ordering. */
  final case class FunnelState(minView: Long, clicks: List[Long],
                               purchases: List[Long], seq: Long)
  final case class FunnelProgress(user_id: Long, seq: Long, level: Long)

  /** Streaming conversion funnel — the stateful twin of the batch
    * `q39_funnel` (view → click → purchase, later stages strictly after the
    * previous and within `windowUs` of the FIRST view).
    *
    * Exact-parity design under out-of-order arrival: a late, EARLIER view
    * can retroactively move the whole window, so the state keeps (a) the
    * running min view and (b) every click/purchase that could still become
    * valid. The pruning rule that keeps (b) bounded: minView only ever
    * DECREASES, so the validity window (t1, t1+W] only moves LEFT — any
    * stamp > current minView+W can never enter it and is dropped. What
    * remains is at most one W-span of the user's activity, TTL'd by
    * processing time on continuous streams (same contract as
    * [[streamingSimhashPairs]]: leave None for bounded replays). `maxList`
    * caps hostile keys; the cap keeps the SMALLEST stamps, which are the
    * ones a left-moving window can still reach.
    *
    * Emission is append-only eventual consistency: each micro-batch emits
    * the user's recomputed level with a monotone `seq`; the row with the
    * max seq per user equals the batch answer over everything ingested
    * (EventTimeSpec proves equality against `q39_funnel`'s per-user
    * levels). Levels may go DOWN across emissions (a late earlier view
    * shrinking the window is the documented example) — which is exactly
    * why last-emission-wins, not max-level, is the read rule. */
  def streamingFunnel(events: DataFrame,
                      windowUs: Long = 7L * 86400L * 1000000L,
                      ttlMs: Option[Long] = None, maxList: Int = 10000)
                     (implicit spark: SparkSession): Dataset[FunnelProgress] = {
    import spark.implicits._
    val ev = events
      .select(col("user_id"), col("event_type"), expr("unix_micros(ts)").as("us"))
      .as[FunnelIn]
    val timeoutConf =
      if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        org.apache.spark.sql.streaming.OutputMode.Append(), timeoutConf) {
        (uid: Long, rows: Iterator[FunnelIn], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(FunnelState(Long.MaxValue, Nil, Nil, 0L))
            var n = 0L
            rows.foreach { r =>
              n += 1
              r.event_type match {
                case "view" =>
                  if (r.us < st.minView) st = st.copy(minView = r.us)
                case "click" => st = st.copy(clicks = r.us :: st.clicks)
                case "purchase" => st = st.copy(purchases = r.us :: st.purchases)
                case _ => () // other event types only mark the user as present
              }
            }
            val horizon =
              if (st.minView == Long.MaxValue) Long.MaxValue
              else st.minView + windowUs
            st = FunnelState(st.minView,
              st.clicks.filter(_ <= horizon).sorted.take(maxList),
              st.purchases.filter(_ <= horizon).sorted.take(maxList),
              st.seq + n)
            state.update(st)
            ttlMs.foreach(state.setTimeoutDuration)
            Iterator.single(FunnelProgress(uid, st.seq, funnelLevel(st, windowUs)))
          }
      }
  }

  final case class RetentionIn(user_id: Long, week: Long)
  /** Per-user retention memory: the distinct active weeks seen so far
    * (cohort = their min) plus the monotone emission counter. */
  final case class RetentionState(weeks: List[Long], seq: Long)
  /** One user's full activity snapshot: cohort week + every distinct
    * active week. Snapshots supersede each other per user (max `seq`
    * wins); the matrix is an aggregate over the latest snapshots. */
  final case class RetentionSnapshot(user_id: Long, seq: Long,
                                     cohort_week: Long, weeks: Seq[Long])

  /** Streaming weekly-cohort retention — the stateful twin of the batch
    * `q38_retention`.
    *
    * Why snapshots rather than (cohort, offset) increment rows: a late,
    * EARLIER event can retroactively lower a user's cohort week, which
    * rewrites the offset of every one of their already-reported active
    * weeks. Emitting the user's whole activity snapshot with a monotone
    * `seq` makes that retraction a plain last-write-wins read instead of
    * a distributed correction: the latest snapshot per user IS their
    * (user, week) activity frame, so `Relational.retentionMatrix` over the
    * exploded latest snapshots equals the batch matrix over everything
    * ingested (EventTimeSpec proves exact equality under out-of-order
    * arrival).
    *
    * State is the user's distinct-week list — bounded by the calendar span
    * of the corpus (52 entries/user-year), the smallest natural state in
    * the event-time family. `maxWeeks` caps hostile keys; the cap keeps
    * the EARLIEST weeks so the cohort assignment stays exact and only the
    * farthest offsets saturate. A batch with no new week for a user emits
    * nothing (the superseding snapshot would be identical). TTL contract
    * as [[streamingSimhashPairs]]: leave None for bounded replays. */
  def streamingRetention(events: DataFrame, ttlMs: Option[Long] = None,
                         maxWeeks: Int = 5200)
                        (implicit spark: SparkSession): Dataset[RetentionSnapshot] = {
    import spark.implicits._
    val ev = events
      .select(col("user_id"), expr("(CAST(ts AS LONG) div 86400) div 7").as("week"))
      .as[RetentionIn]
    val timeoutConf =
      if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[RetentionState, RetentionSnapshot](
        org.apache.spark.sql.streaming.OutputMode.Append(), timeoutConf) {
        (uid: Long, rows: Iterator[RetentionIn], state: GroupState[RetentionState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val st = state.getOption.getOrElse(RetentionState(Nil, 0L))
            var weeks = st.weeks
            var n = 0L
            var changed = false
            rows.foreach { r =>
              n += 1
              if (!weeks.contains(r.week)) { weeks = r.week :: weeks; changed = true }
            }
            val kept = weeks.sorted.take(maxWeeks)
            val next = RetentionState(kept, st.seq + n)
            state.update(next)
            ttlMs.foreach(state.setTimeoutDuration)
            if (changed)
              Iterator.single(RetentionSnapshot(uid, next.seq, kept.head, kept))
            else Iterator.empty
          }
      }
  }

  final case class TransIn(user_id: Long, event_id: Long, us: Long,
                           event_type: String)
  final case class TransState(events: List[(Long, Long, String)])
  /** A signed adjacency-count contribution: the matrix is `sum(delta)`
    * per (from_type, to_type) over everything emitted. */
  final case class TransDelta(user_id: Long, from_type: String,
                              to_type: String, delta: Long)

  /** Default per-user event-buffer bound of [[streamingTransitions]]:
    * generous for real user histories (10k events ≈ ~1 MB of state for the
    * busiest key) while keeping worst-case state ∝ users, not events —
    * the measured r13 footgun (STREAMSCALE: ~94 B/event with no bound
    * engaged). Exact-unbounded is an explicit opt-in (`unbounded = true`),
    * the same default-flip shape that closed the PQ train quadratic. */
  val DefaultTransitionsMaxBuffer = 10000

  /** Streaming event-transition matrix — the stateful twin of
    * `q40_transitions`, and the operator where out-of-order arrival forces
    * true RETRACTIONS: adjacency is defined on each user's time-sorted
    * sequence, so a late event landing BETWEEN two already-paired events
    * splits the pair (a,c) into (a,b) and (b,c) — the (a,c) count emitted
    * earlier is now WRONG, not merely stale. Emissions are therefore
    * signed deltas (the multiset difference between the user's new and old
    * adjacency-pair lists); the matrix at read time is the plain additive
    * `sum(delta)` per (from, to) — no last-write-wins bookkeeping, and the
    * sum equals the batch matrix exactly over everything ingested
    * (EventTimeSpec proves equality under a parity split AND that negative
    * deltas actually fire).
    *
    * State is the user's (us, event_id, type) sequence — the one operator
    * in this family whose exactness genuinely needs the full ordered
    * history (any dropped event corrupts adjacency around it). The history
    * is therefore BOUNDED BY DEFAULT (r14, VERDICT r13 #2): per user,
    * only the EARLIEST [[DefaultTransitionsMaxBuffer]] events are kept
    * (beyond the bound, late splices past the horizon are lost), and every
    * dropped event increments an observable truncation counter — a named
    * accumulator (`graft.transitions.truncated`, visible in the Spark UI)
    * or the caller's own via `truncations`, so a deployment SEES exactness
    * degrade instead of memory grow. `unbounded = true` opts into the
    * exact full-history mode for bounded replays/backfills where the
    * linear state is worth it. TTL contract as [[streamingSimhashPairs]]:
    * leave None for bounded replays, set it on continuous streams. */
  def streamingTransitions(events: DataFrame, ttlMs: Option[Long] = None,
                           maxBuffer: Int = DefaultTransitionsMaxBuffer,
                           unbounded: Boolean = false,
                           truncations: Option[org.apache.spark.util.LongAccumulator] = None)
                          (implicit spark: SparkSession): Dataset[TransDelta] = {
    import spark.implicits._
    val trunc = truncations.getOrElse(
      spark.sparkContext.longAccumulator("graft.transitions.truncated"))
    val ev = events
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"),
        col("event_type"))
      .as[TransIn]
    val timeoutConf =
      if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, TransDelta](
        org.apache.spark.sql.streaming.OutputMode.Append(), timeoutConf) {
        (uid: Long, rows: Iterator[TransIn], state: GroupState[TransState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val old = state.getOption.map(_.events).getOrElse(Nil)
            val add = rows.map(r => (r.us, r.event_id, r.event_type)).toList
            val sorted = (old ++ add).sortBy(t => (t._1, t._2))
            val merged =
              if (unbounded) sorted
              else {
                val over = sorted.length - maxBuffer
                if (over > 0) trunc.add(over.toLong)
                sorted.take(maxBuffer)
              }
            def pairs(l: List[(Long, Long, String)]) =
              l.lazyZip(l.drop(1)).map((a, b) => (a._3, b._3))
            val deltas = scala.collection.mutable.Map.empty[(String, String), Long]
            pairs(merged).foreach(p => deltas(p) = deltas.getOrElse(p, 0L) + 1)
            pairs(old).foreach(p => deltas(p) = deltas.getOrElse(p, 0L) - 1)
            state.update(TransState(merged))
            ttlMs.foreach(state.setTimeoutDuration)
            deltas.iterator.collect { case ((f, t), d) if d != 0 =>
              TransDelta(uid, f, t, d)
            }.toList.iterator
          }
      }
  }

  final case class QuotaIn(source: String, doc_id: Long)
  final case class QuotaState(admitted: Long)
  final case class QuotaVerdict(source: String, doc_id: Long,
                                admitted: Boolean, quota_idx: Long)

  /** Streaming per-source admission quota — the INGEST-time form of the
    * batch [[graft.analytics.Sampling.domainCap]]: each source may admit at
    * most `cap` documents; everything past the quota is rejected (to the
    * caller's DLQ/overflow sink) the moment it arrives, so a misbehaving
    * crawl domain is throttled in flight instead of after a batch pass.
    * Where the batch cap keeps the best-QUALITY docs (it sees the whole
    * corpus), the streaming quota necessarily admits by ARRIVAL order —
    * the honest online semantics; re-rank the admitted set offline if
    * quality ordering matters.
    *
    * State per source is ONE long (the admitted count) — nSources longs
    * total, the same minimal-state class as [[streamingPack]], and like
    * the packer it must never be TTL'd while the stream lives (an evicted
    * count would re-open a closed quota). Within a micro-batch rows admit
    * in doc_id order so verdicts never depend on partition order; when
    * arrival follows doc_id order per source, verdicts equal the batch
    * `row_number() OVER (PARTITION BY source ORDER BY doc_id) <= cap`
    * exactly (QuotaSpec parity). Every document gets a verdict row
    * (admitted or not) with its 1-based quota index, so the rejected
    * stream is itself routable. */
  def streamingSourceQuota(docs: DataFrame, cap: Long)
                          (implicit spark: SparkSession): Dataset[QuotaVerdict] = {
    import spark.implicits._
    val rows = docs.select(col("source"), col("doc_id")).as[QuotaIn]
    quotaFold[QuotaIn, QuotaVerdict](rows, cap)(_.source, _.sortBy(_.doc_id),
      (r, admit, idx) => QuotaVerdict(r.source, r.doc_id, admit, idx))
  }

  /** The ONE stateful quota fold both quota operators share
    * ([[streamingSourceQuota]] and [[streamingAdmit]]'s first stage): state
    * per source is a single long; `order` fixes the IN-BATCH admission
    * order (so verdicts never depend on partition order) and `mk` builds
    * the verdict row from (row, admitted, 1-based-index-or-0). One body
    * means the admit/index convention cannot silently diverge between the
    * two operators. */
  private def quotaFold[I, O: org.apache.spark.sql.Encoder](rows: Dataset[I], cap: Long)(
      key: I => String, order: Array[I] => Array[I], mk: (I, Boolean, Long) => O)
      (implicit spark: SparkSession, ct: scala.reflect.ClassTag[I]): Dataset[O] = {
    import spark.implicits._
    rows.groupByKey(key)
      .flatMapGroupsWithState[QuotaState, O](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[I], state: GroupState[QuotaState]) =>
          var n = state.getOption.map(_.admitted).getOrElse(0L)
          // strict map (state.update must see the post-fold count)
          val out = order(it.toArray).toIndexedSeq.map { r =>
            val admit = n < cap
            if (admit) n += 1
            mk(r, admit, if (admit) n else 0L)
          }
          state.update(QuotaState(n))
          out.iterator
      }
  }

  final case class AdmitIn(source: String, doc_id: Long, text: String, qmicro: Long)
  final case class AdmitQuota(source: String, doc_id: Long, text: String,
                              quota_admitted: Boolean, quota_idx: Long)

  /** Streaming twin of the raw-web ingest DAG
    * ([[graft.queries.AnalyticsQueries.pipelineWebIngest]]): repair →
    * main-content extraction → char-entropy gate — and unlike
    * [[streamingAdmit]] this chain is ENTIRELY STATELESS: every stage is a
    * per-row expression ([[graft.analytics.TextAnalysis.fixMojibake]],
    * `htmlExtract`, `withRowEntropy` — the per-row twin proven
    * integer-identical to the distributed entropy aggregate), so the
    * operator scales with zero state stores, survives any arrival order,
    * and parity with the batch DAG is UNCONDITIONAL given the same
    * threshold. The only batch-coupled piece is calibration: the batch DAG
    * self-calibrates to its corpus's p25, a stream cannot know a final
    * quantile mid-flight, so the gate takes `p25` as input — the
    * calibrate-on-yesterday pattern, same contract as [[streamingAdmit]]'s
    * threshold. Every page gets a routable verdict row
    * (WebIngestParitySpec dual-routes and proves verdict-for-verdict
    * equality with the batch DAG). */
  def streamingWebIngest(pages: DataFrame, p25: Long, minTokens: Int = 7): DataFrame = {
    import graft.analytics.TextAnalysis
    val extracted = pages.select(col("doc_id"),
      length(col("page")).cast("long").as("n_chars_raw"),
      TextAnalysis.htmlExtract(TextAnalysis.fixMojibake(col("page")), minTokens)
        .as("__text"))
    TextAnalysis.withRowEntropy(extracted, "__text")
      .withColumn("e_micro", round(col("entropy_nats") * 10000).cast("long"))
      .select(col("doc_id"), col("n_chars_raw"),
        col("n_chars").as("n_chars_text"), col("n_distinct_chars"),
        col("e_micro"), lit(p25).as("p25"),
        (col("e_micro") >= lit(p25)).as("verdict"))
  }

  /** Streaming twin of the batch admission DAG
    * ([[graft.queries.AnalyticsQueries.pipelineAdmit]]): per-source quota →
    * intra-doc repeated-span trim (stateless map) → calibrated quality gate
    * on the REPAIRED text — the reference's own shape (an ingest-time guard
    * DAG ahead of the sink) applied to the curation layer.
    *
    * Stage semantics vs the batch DAG, and when they coincide exactly:
    *
    *  - QUOTA: state per source is ONE long, as in
    *    [[streamingSourceQuota]]; within a micro-batch rows admit in the
    *    batch cap's OWN rank order (quality-micro desc, doc_id — computed
    *    on the ORIGINAL text, exactly `Sampling.domainCap`'s sort key), so
    *    when arrival across micro-batches also follows that per-source
    *    order — the nightly re-rank replay, or any quality-sorted backfill
    *    — quota verdicts equal the batch cap's keeper set row-for-row.
    *    Under arbitrary arrival the quota is the documented arrival-order
    *    semantics (the honest online cap; see streamingSourceQuota).
    *  - TRIM: `Dedup.withSpanTrim` — stateless, zero-shuffle, identical
    *    expressions to the batch stage, so parity is unconditional.
    *  - GATE: the batch DAG self-calibrates (threshold = its own corpus's
    *    p25); a stream cannot know the final quantile mid-flight, so the
    *    gate takes the threshold as an input — the production calibrate-
    *    on-yesterday pattern. Feeding the batch DAG's own p25 reproduces
    *    its gate verdicts exactly (AdmitParitySpec).
    *
    * EVERY document gets a verdict row (quota verdict, span counts,
    * repaired-text score, final admit) so the rejected stream is routable
    * to a DLQ/overflow sink — the spec's foreachBatch sink dual-routes
    * exactly as the reference splits opt-out rows. */
  def streamingAdmit(docs: DataFrame, cap: Long, threshold: Double,
                     spanTokens: Int = 2)
                    (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = docs.select(col("source"), col("doc_id"), col("text"),
        round(graft.functions.GraftFunctions.qualityFast(col("text")) * 10000)
          .cast("long").as("qmicro")).as[AdmitIn]
    val quota = quotaFold[AdmitIn, AdmitQuota](rows, cap)(
      _.source, _.sortBy(r => (-r.qmicro, r.doc_id)),
      (r, admit, idx) => AdmitQuota(r.source, r.doc_id, r.text, admit, idx))
    graft.analytics.Dedup.withSpanTrim(quota.toDF(), spanTokens, "text")
      .withColumn("q_micro",
        round(graft.functions.GraftFunctions.qualityFast(col("kept_text")) * 10000)
          .cast("long"))
      .select(col("doc_id"), col("source"), col("quota_admitted"),
        col("quota_idx"), col("n_removed"), col("q_micro"),
        (col("quota_admitted") && col("q_micro") >= lit(threshold)).as("admit"),
        lit(threshold).as("threshold"))
  }

  /** Deepest funnel stage reachable from the buffered stamps — the same
    * chained-min rule as the batch query: t1 = min view; t2 = min click in
    * (t1, t1+W]; t3 = min purchase in (t2, t1+W]. */
  private def funnelLevel(st: FunnelState, w: Long): Long =
    if (st.minView == Long.MaxValue) 0L
    else {
      val t1 = st.minView
      val valid = st.clicks.filter(c => c > t1 && c <= t1 + w)
      if (valid.isEmpty) 1L
      else {
        val t2 = valid.min
        if (st.purchases.exists(p => p > t2 && p <= t1 + w)) 3L else 2L
      }
    }

  /** Exactly-once-per-key emission with TTL'd state
    * (`mapGroupsWithState`): emits a key's payload only the first time the
    * key is seen; the seen-marker expires after `ttlMs` of processing time
    * so unbounded key spaces can't grow state forever. Null payloads are
    * ignored entirely — they can't be emitted (null is the internal
    * suppression sentinel) and they don't mark the key seen, so the key's
    * first NON-null payload is the one emitted. The processing-time
    * timeout makes Spark run another (no-data) batch after every batch, so
    * a query over this never ends on its own, not even under
    * `Trigger.AvailableNow`: stop it once its input is processed. */
  def firstSeen(events: Dataset[Keyed], ttlMs: Long)
               (implicit spark: SparkSession): Dataset[Keyed] = {
    import spark.implicits._
    events.groupByKey(_.key)
      .mapGroupsWithState(GroupStateTimeout.ProcessingTimeTimeout) {
        (key: Long, rows: Iterator[Keyed], state: GroupState[SeenState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Keyed(key, null)
          } else if (state.exists) {
            state.setTimeoutDuration(ttlMs)
            Keyed(key, null) // already emitted once
          } else {
            // null IS the suppression sentinel the final filter drops — a
            // null-payload record can never be emitted, so it must not
            // consume the key's single emission either (marking the key
            // seen on it would suppress a later REAL payload forever);
            // only the first emittable payload claims the seen-marker
            rows.find(_.payload != null) match {
              case Some(first) =>
                state.update(SeenState(System.currentTimeMillis()))
                state.setTimeoutDuration(ttlMs)
                first
              case None => Keyed(key, null)
            }
          }
      }
      .filter(_.payload != null)
  }
}
