package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.Sources
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

class EventTimeSpec extends SparkSpec {

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  /** Waits for a started query to end on its own, fails the test if it
    * has not within `ms`, and stops it either way: a query that overruns
    * must not keep running (and reporting) after its test. */
  private def finish(q: StreamingQuery, ms: Long,
                     clue: String = "streaming query did not finish in time"): Unit =
    try assert(q.awaitTermination(ms), clue)
    finally q.stop()

  /** Stops a query that never ends on its own once its batches have read
    * all `rows` input rows, and fails the test if that takes over `ms`: a
    * processing-time state timeout makes Spark run another (no-data) batch
    * after every batch, under AvailableNow too, so neither termination nor
    * `processAllAvailable` (which waits for a trigger with no batch) comes.
    * A batch's progress is reported after its sink write commits. */
  private def drain(q: StreamingQuery, rows: Long, ms: Long = 120000): Unit = {
    val read = scala.collection.mutable.Map[Long, Long]()
    val deadline = System.currentTimeMillis() + ms
    def total = { q.recentProgress.foreach(p => read(p.batchId) = p.numInputRows); read.values.sum }
    try {
      while (total < rows && q.isActive && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(total == rows && q.exception.isEmpty, s"read $total of $rows rows: ${q.exception}")
    } finally q.stop()
    assert(!q.isActive)
  }

  test("windowed counts with watermark match the batch equivalent for in-order data") {
    val (srcDir, outDir, ckpt) = (tmp("src"), tmp("out"), tmp("ckpt"))
    val ev = graft.Tables(spark, sf("sf0.001")).events
      .filter(col("event_id") < 400).persist()
    ev.filter(col("event_id") < 200).write.parquet(s"$srcDir/d0")
    ev.filter(col("event_id") >= 200).write.parquet(s"$srcDir/d1")
    val schema = spark.read.parquet(s"$srcDir/d0").schema

    val q = EventTimeOps.windowedCounts(Sources.fileStream(spark, s"$srcDir/d*", schema))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", outDir)
      .start()
    finish(q, 120000)

    // append mode only emits watermark-closed windows; compare those
    val got = spark.read.parquet(outDir)
    val batch = EventTimeOps.windowedCounts(ev)
    val gotRows = got.orderBy("window_start", "event_type").collect().map(_.toSeq)
    val maxEmitted = got.agg(max("window_start")).head().getTimestamp(0)
    val expRows = batch.filter(col("window_start") <= maxEmitted)
      .orderBy("window_start", "event_type").collect().map(_.toSeq)
    assert(gotRows.nonEmpty)
    assert(gotRows.toSeq == expRows.toSeq)
    ev.unpersist()
  }

  test("streaming session_window matches batch sessions and the w3 lag-based rule") {
    val (srcDir, outDir, ckpt) = (tmp("src"), tmp("out"), tmp("ckpt"))
    val ev = graft.Tables(spark, sf("sf0.001")).events
      .filter(col("event_id") < 600).persist()
    ev.filter(col("event_id") < 300).write.parquet(s"$srcDir/d0")
    ev.filter(col("event_id") >= 300).write.parquet(s"$srcDir/d1")
    val schema = spark.read.parquet(s"$srcDir/d0").schema

    val q = EventTimeOps.sessionAggregates(Sources.fileStream(spark, s"$srcDir/d*", schema))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .format("parquet").option("path", outDir).start()
    finish(q, 120000)

    // append emits watermark-closed sessions; the batch run over the same
    // data restricted to those sessions must agree exactly
    val got = spark.read.parquet(outDir)
    assert(got.count() > 0)
    val maxEnd = got.agg(max("session_end")).head().getTimestamp(0)
    val batch = EventTimeOps.sessionAggregates(ev).filter(col("session_end") <= maxEnd)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "session_start", "n_events", "sum_value")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(key(got) == key(batch))

    // native session_window ≡ the oracled lag/cumsum sessionization: same
    // per-user session sizes and totals over the full batch
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"es", $"event_id")
    val viaLag = ev.withColumn("es", col("ts").cast("long"))
      .withColumn("gap", $"es" - lag($"es", 1).over(w))
      .withColumn("new_s", when($"gap" >= 1800, 1).otherwise(0))
      .withColumn("session_idx",
        sum($"new_s").over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy($"user_id", $"session_idx")
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("sum_value"))
    val a = EventTimeOps.sessionAggregates(ev)
      .select($"user_id", $"n_events", $"sum_value")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val b = viaLag.select($"user_id", $"n_events", $"sum_value")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(a == b)
    ev.unpersist()
  }

  test("stream-stream interval join matches the batch equivalent") {
    val (srcDir, outDir, ckpt) = (tmp("src"), tmp("out"), tmp("ckpt"))
    val ev = graft.Tables(spark, sf("sf0.001")).events
      .filter(col("event_id") < 600).persist()
    ev.filter(col("event_id") < 300).write.parquet(s"$srcDir/d0")
    ev.filter(col("event_id") >= 300).write.parquet(s"$srcDir/d1")
    val schema = spark.read.parquet(s"$srcDir/d0").schema

    def joinPC(purchases: org.apache.spark.sql.DataFrame,
               clicks: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      purchases.alias("p").join(clicks.alias("c"),
        expr("p.user_id = c.user_id AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTES AND p.ts"))
        .select(col("p.event_id").as("purchase_id"), col("c.event_id").as("click_id"))

    val stream = Sources.fileStream(spark, s"$srcDir/d*", schema)
    val sJoined = joinPC(
      stream.filter(col("event_type") === "purchase").withWatermark("ts", "1 hour"),
      stream.filter(col("event_type") === "click").withWatermark("ts", "1 hour"))
    val q = sJoined.writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .format("parquet").option("path", outDir).start()
    finish(q, 120000)

    val got = spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = joinPC(ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty)
    assert(got == want) // inner interval join: every match emitted, none duplicated
    ev.unpersist()
  }

  test("stream-stream LEFT OUTER interval join: matches emit eagerly, nulls after the watermark") {
    val (srcDir, outDir, ckpt) = (tmp("src"), tmp("out"), tmp("ckpt"))
    val ev = graft.Tables(spark, sf("sf0.001")).events
      .filter(col("event_id") < 600).persist()
    ev.filter(col("event_id") < 300).write.parquet(s"$srcDir/d0")
    ev.filter(col("event_id") >= 300).write.parquet(s"$srcDir/d1")
    val schema = spark.read.parquet(s"$srcDir/d0").schema

    def joinPC(purchases: org.apache.spark.sql.DataFrame,
               clicks: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      purchases.alias("p").join(clicks.alias("c"),
        expr("p.user_id = c.user_id AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTES AND p.ts"),
        "left_outer")
        .select(col("p.event_id").as("purchase_id"), col("p.ts").as("p_ts"),
          col("c.event_id").as("click_id"))

    // Outer-join nulls only emit in a batch processed AFTER the watermark
    // passes them, and a drained AvailableNow stream does not run a
    // flushing batch on its own — so a last file carries far-future
    // sentinel rows on BOTH sides (the joint watermark is the min of the
    // two) to push the watermark past every real purchase.
    val maxTs = ev.agg(max(col("ts").cast("long"))).head().getLong(0)
    def sentinel(eventType: String, id: Long) =
      ev.filter(col("event_type") === eventType).limit(1)
        .withColumn("event_id", lit(id))
        .withColumn("user_id", lit(999999L))
        .withColumn("ts", timestamp_seconds(lit(maxTs + 36000L)))
    sentinel("purchase", 999999L).unionByName(sentinel("click", 999998L))
      .write.parquet(s"$srcDir/d2")

    val stream = Sources.fileStream(spark, s"$srcDir/d*", schema, maxFilesPerTrigger = 1)
    val q = joinPC(
        stream.filter(col("event_type") === "purchase").withWatermark("ts", "1 hour"),
        stream.filter(col("event_type") === "click").withWatermark("ts", "1 hour"))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .format("parquet").option("path", outDir).start()
    finish(q, 180000)

    def pair(r: org.apache.spark.sql.Row): (Long, Option[Long]) =
      (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getLong(2)))
    val got = spark.read.parquet(outDir).collect().map(pair).toSet
      .filter(_._1 < 999998L) // drop the sentinels themselves
    val want = joinPC(ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"))
      .collect().map(pair).toSet
    assert(want.exists(_._2.isDefined) && want.exists(_._2.isEmpty))
    // with the watermark pushed past all real data, streaming left-outer
    // equals the batch left-outer exactly: eager matches + flushed nulls
    assert(got == want)
    ev.unpersist()
  }

  test("streaming simhash near-dup pairs match the batch operator across micro-batches") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val (srcDir, outDir, ckpt) = (tmp("src"), tmp("out"), tmp("ckpt"))
    val docs = graft.Tables(spark, sf("sf0.01")).documents
      .select("doc_id", "text").persist()
    // split so planted near-dup pairs can straddle the batch boundary;
    // one file per drop → exactly two micro-batches (maxFilesPerTrigger=1
    // over multi-file drops would pay a state checkpoint per part-file)
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$srcDir/d0")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.parquet(s"$srcDir/d1")
    val schema = spark.read.parquet(s"$srcDir/d0").schema

    val q = EventTimeOps.streamingSimhashPairs(
        Sources.fileStream(spark, s"$srcDir/d*", schema))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .format("parquet").option("path", outDir).start()
    finish(q, 180000, "streaming dedup query did not finish in time")

    // at-least-once per pair (multi-band emits) → compare as sets
    val got = spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = graft.analytics.Dedup.simhashPairs(docs, maxHamming = 3, bands = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty, "corpus should contain planted near-dups")
    assert(got == want)
    docs.unpersist()
  }

  test("streaming span dedup matches the batch operator across micro-batches") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val (srcDir, outDir, ckpt) = (tmp("src"), tmp("out"), tmp("ckpt"))
    val docs = graft.Tables(spark, sf("sf0.01")).documents
      .select("doc_id", "text").persist()
    // occ_key-ordered drops (low doc_ids first): first-arrival-wins then
    // equals the batch global-min rule exactly. The boundary splits the
    // corpus mid-way, so duplicated spans straddle micro-batches — the
    // cross-batch state path is what's under test.
    val mid = docs.agg(max("doc_id")).head().getLong(0) / 2
    docs.filter(col("doc_id") <= mid).coalesce(1).write.parquet(s"$srcDir/d0")
    docs.filter(col("doc_id") > mid).coalesce(1).write.parquet(s"$srcDir/d1")
    val schema = spark.read.parquet(s"$srcDir/d0").schema

    val q = EventTimeOps.streamingSpanDedup(
        Sources.fileStream(spark, s"$srcDir/d*", schema))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .format("parquet").option("path", outDir).start()
    finish(q, 180000, "streaming span dedup did not finish in time")

    // per-span verdicts aggregate to the batch operator's per-doc stats
    val got = spark.read.parquet(outDir)
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_spans"),
        sum(col("removed")).as("n_removed"),
        sum(when(col("removed") === 0, col("n_tok")).otherwise(0L)).as("n_kept_tok"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = graft.analytics.Dedup.spanDedupStats(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(want.exists(_._3 > 0), "corpus should contain removed (duplicated) spans")
    assert(got == want)
    // and the cross-batch path really fired: some span's occurrences
    // straddle the boundary (keeper in batch 0, removal in batch 1)
    val straddling = graft.analytics.Sampling
      .docChunksWithText(docs, size = 16, stride = 16, hashChars = 32)
      .groupBy("chunk_hash").agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .filter(col("lo") <= mid && col("hi") > mid).count()
    assert(straddling > 0, "fixture must exercise cross-micro-batch state")
    docs.unpersist()
  }

  test("streaming pack matches batch packSequences across micro-batches") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val (srcDir, outDir, ckpt) = (tmp("src"), tmp("out"), tmp("ckpt"))
    val docs = graft.Tables(spark, sf("sf0.001")).documents
      .select("doc_id", "text").persist()
    // doc_id-ordered drops: arrival order == doc_id order per shard, so
    // the running offsets must reproduce the batch prefix sums exactly.
    // The split lands mid-shard for every shard, so each shard's offset
    // state crosses the micro-batch boundary — the path under test.
    val mid = docs.agg(max("doc_id")).head().getLong(0) / 2
    docs.filter(col("doc_id") <= mid).coalesce(1).write.parquet(s"$srcDir/d0")
    docs.filter(col("doc_id") > mid).coalesce(1).write.parquet(s"$srcDir/d1")
    val schema = spark.read.parquet(s"$srcDir/d0").schema

    val q = EventTimeOps.streamingPack(
        Sources.fileStream(spark, s"$srcDir/d*", schema),
        windowTokens = 256, nShards = 4)
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .format("parquet").option("path", outDir).start()
    finish(q, 180000, "streaming pack did not finish in time")

    val got = spark.read.parquet(outDir)
      .select("shard", "doc_id", "n_tok", "tok_start", "tok_end",
        "first_window", "last_window")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    val want = graft.analytics.Sampling
      .packSequences(docs, windowTokens = 256, nShards = 4)
      .select("shard", "doc_id", "n_tok", "tok_start", "tok_end",
        "first_window", "last_window")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(got == want)
    // the cross-batch path really fired: every shard has placements on
    // both sides of the boundary, so its offset state was carried over
    val sides = spark.read.parquet(outDir)
      .groupBy("shard").agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .collect()
    assert(sides.nonEmpty && sides.forall(r => r.getLong(1) <= mid && r.getLong(2) > mid),
      "fixture must exercise cross-micro-batch offset state for every shard")
    docs.unpersist()
  }

  test("firstSeen: duplicate keys across micro-batches emit exactly once") {
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val (srcDir, outDir, ckpt) = (tmp("src"), tmp("out"), tmp("ckpt"))
    // two drops with overlapping keys
    Seq(EventTimeOps.Keyed(1, "a"), EventTimeOps.Keyed(2, "b"), EventTimeOps.Keyed(1, "a2"))
      .toDS().write.parquet(s"$srcDir/d0")
    Seq(EventTimeOps.Keyed(2, "b2"), EventTimeOps.Keyed(3, "c"), EventTimeOps.Keyed(1, "a3"))
      .toDS().write.parquet(s"$srcDir/d1")
    val schema = spark.read.parquet(s"$srcDir/d0").schema

    val stream = Sources.fileStream(spark, s"$srcDir/d*", schema).as[EventTimeOps.Keyed]
    val q = EventTimeOps.firstSeen(stream, ttlMs = 3600000)
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[EventTimeOps.Keyed], _: Long) =>
        // no isEmpty guard: calling actions twice on stateful-output batches
        // intermittently trips SPARK isEmpty internal errors; an empty
        // append is harmless
        b.write.mode("append").parquet(outDir)
      }
      .start()
    drain(q, rows = 6)

    val out = spark.read.parquet(outDir).as[EventTimeOps.Keyed].collect()
    assert(out.map(_.key).sorted.toSeq == Seq(1L, 2L, 3L))
    // a payload from the key's FIRST micro-batch wins (within-batch group
    // order is partition order — nondeterministic, like the reference's
    // concurrent per-record map O23); later batches never re-emit
    assert(Set("a", "a2").contains(out.find(_.key == 1L).get.payload))
    assert(out.find(_.key == 3L).get.payload == "c")
  }

  test("firstSeen: a null payload neither emits nor consumes the key's single emission") {
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val (srcDir, outDir, ckpt) = (tmp("src"), tmp("out"), tmp("ckpt"))
    // key 1's FIRST record is a null payload (null is also the operator's
    // internal suppression sentinel): it must not mark the key seen, or
    // the later real payload is suppressed forever
    Seq(EventTimeOps.Keyed(1, null), EventTimeOps.Keyed(2, "b"))
      .toDS().write.parquet(s"$srcDir/d0")
    Seq(EventTimeOps.Keyed(1, "real"), EventTimeOps.Keyed(2, "b2"))
      .toDS().write.parquet(s"$srcDir/d1")
    val schema = spark.read.parquet(s"$srcDir/d0").schema
    // one file per micro-batch: the null must be PROCESSED (and a seen-
    // marker tempted) before the real payload arrives
    val stream = Sources.fileStream(spark, s"$srcDir/d*", schema, maxFilesPerTrigger = 1)
      .as[EventTimeOps.Keyed]
    val q = EventTimeOps.firstSeen(stream, ttlMs = 3600000)
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[EventTimeOps.Keyed], _: Long) =>
        b.write.mode("append").parquet(outDir)
      }
      .start()
    drain(q, rows = 4)
    val out = spark.read.parquet(outDir).as[EventTimeOps.Keyed].collect()
    assert(out.map(_.key).sorted.toSeq == Seq(1L, 2L))
    assert(out.find(_.key == 1L).get.payload == "real",
      "the first NON-null payload must be the one emitted")
    assert(out.find(_.key == 2L).get.payload == "b")
  }

  test("native stream-static join: streaming facts against a static dimension match batch") {
    val (srcDir, outDir, ckpt) = (tmp("src"), tmp("out"), tmp("ckpt"))
    val ev = graft.Tables(spark, sf("sf0.001")).events
      .filter(col("event_id") < 400).persist()
    ev.filter(col("event_id") < 200).write.parquet(s"$srcDir/d0")
    ev.filter(col("event_id") >= 200).write.parquet(s"$srcDir/d1")
    val schema = spark.read.parquet(s"$srcDir/d0").schema
    // static dimension: per-user tier derived from the full batch table
    val dim = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n")).withColumn("tier", (col("n") % 3).cast("int"))
      .select("user_id", "tier").persist()

    // native stream⋈static (no foreachBatch re-read): Spark broadcasts the
    // static side into every micro-batch
    val joined = Sources.fileStream(spark, s"$srcDir/d*", schema)
      .join(dim, "user_id")
      .select("event_id", "user_id", "tier")
    val q = joined.writeStream.option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", outDir)
      .start()
    finish(q, 120000)

    val got = spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = ev.join(dim, "user_id").select("event_id", "user_id", "tier")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(want.nonEmpty && got == want)
    ev.unpersist(); dim.unpersist()
  }

  test("dropDuplicatesWithinWatermark: replayed event_ids emit once across micro-batches") {
    val (srcDir, outDir, ckpt) = (tmp("src"), tmp("out"), tmp("ckpt"))
    val ev = graft.Tables(spark, sf("sf0.001")).events
      .filter(col("event_id") < 400).persist()
    // drop 0: originals; drop 1: a replay of half of them (same event_ids)
    // plus fresh events — the retry/replay shape the operator exists for
    ev.filter(col("event_id") < 200).write.parquet(s"$srcDir/d0")
    ev.filter(col("event_id") < 100).write.parquet(s"$srcDir/d1")
    ev.filter(col("event_id") >= 200).write.parquet(s"$srcDir/d2")
    val schema = spark.read.parquet(s"$srcDir/d0").schema

    val stream = Sources.fileStream(spark, s"$srcDir/d*", schema)
    val q = EventTimeOps.dedupWithinWatermark(stream, Seq("event_id"), delay = "365 days")
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(outDir)
      }
      .start()
    finish(q, 120000)

    val ids = spark.read.parquet(outDir).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    // every id exactly once despite the replay drop
    assert(ids == ids.distinct, "replayed ids must not re-emit")
    assert(ids.toSet == ev.select("event_id").collect().map(_.getLong(0)).toSet)
    ev.unpersist()
  }

  test("streaming HLL registers match the batch cube across micro-batches") {
    val (srcDir, ckpt) = (tmp("src"), tmp("ckpt"))
    val ev = graft.Tables(spark, sf("sf0.001")).events
      .filter(col("event_id") < 600).persist()
    ev.filter(col("event_id") < 300).write.parquet(s"$srcDir/d0")
    ev.filter(col("event_id") >= 300).write.parquet(s"$srcDir/d1")
    val schema = spark.read.parquet(s"$srcDir/d0").schema

    val sinkName = "hll_regs_sink"
    val q = EventTimeOps.streamingHllRegisters(
        Sources.fileStream(spark, s"$srcDir/d*", schema),
        Seq("event_type"), col("user_id"))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .format("memory").queryName(sinkName)
      .start()
    finish(q, 120000)

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("bucket"),
        r.getAs[Int]("rho"))).sorted.toSeq
    val streamed = rows(spark.table(sinkName))
    val batch = rows(graft.analytics.HllSketch.registers(
      ev, Seq("event_type"), col("user_id")))
    assert(streamed.nonEmpty && streamed == batch)

    // and the estimates over the streamed registers agree with batch too
    val estS = graft.analytics.HllSketch.estimate(
        spark.table(sinkName), Seq("event_type")).collect()
      .map(r => (r.getString(0), r.getAs[Long]("s_sum"), r.getAs[Double]("est_users"))).sorted.toSeq
    val estB = graft.analytics.HllSketch.estimate(
        graft.analytics.HllSketch.registers(ev, Seq("event_type"), col("user_id")),
        Seq("event_type")).collect()
      .map(r => (r.getString(0), r.getAs[Long]("s_sum"), r.getAs[Double]("est_users"))).sorted.toSeq
    assert(estS == estB)
    ev.unpersist(): Unit
  }

  test("streaming quantile histogram matches the batch cube across micro-batches") {
    val (srcDir, ckpt) = (tmp("src"), tmp("ckpt"))
    val ev = graft.Tables(spark, sf("sf0.001")).events
      .filter(col("event_id") < 600)
      .withColumn("cents", round(col("value") * 100).cast("long")).persist()
    ev.filter(col("event_id") < 300).write.parquet(s"$srcDir/d0")
    ev.filter(col("event_id") >= 300).write.parquet(s"$srcDir/d1")
    val schema = spark.read.parquet(s"$srcDir/d0").schema

    val sinkName = "quantile_hist_sink"
    val q = EventTimeOps.streamingQuantileHistogram(
        Sources.fileStream(spark, s"$srcDir/d*", schema),
        Seq("event_type"), col("cents"))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .format("memory").queryName(sinkName)
      .start()
    finish(q, 120000)

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("bucket"),
        r.getAs[Long]("rep"), r.getAs[Long]("cnt"))).sorted.toSeq
    val streamed = rows(spark.table(sinkName))
    val batch = rows(graft.analytics.QuantileSketch.histogram(
      ev, Seq("event_type"), col("cents")))
    assert(streamed.nonEmpty && streamed == batch)

    // and the quantile walk over the streamed histogram agrees with batch
    def qrows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"),
        r.getAs[Long]("p50"), r.getAs[Long]("p95"), r.getAs[Long]("p99"))).sorted.toSeq
    val qS = qrows(graft.analytics.QuantileSketch.quantiles(
      spark.table(sinkName), Seq("event_type")))
    val qB = qrows(graft.analytics.QuantileSketch.quantiles(
      graft.analytics.QuantileSketch.histogram(ev, Seq("event_type"), col("cents")),
      Seq("event_type")))
    assert(qS == qB)
    ev.unpersist(): Unit
  }

  /** The cube INGEST story end-to-end: history cells built by a batch job
    * and fresh cells maintained by a streaming job land as parts of ONE
    * cube directory, and a reader merges them on read (register max /
    * count sum) — estimator-equal to a batch-only cube over the union.
    * This is what makes the sketch layer serve while ingest runs: neither
    * writer knows about the other, and no reader rescans events. */
  test("mixed batch+streaming cube dir merges on read to the batch-only estimates") {
    import graft.analytics.{HllSketch, QuantileSketch}
    val (srcDir, hllCube, qCube, ckptH, ckptQ) =
      (tmp("src"), tmp("hllcube"), tmp("qcube"), tmp("ckptH"), tmp("ckptQ"))
    val ev = graft.Tables(spark, sf("sf0.001")).events
      .filter(col("event_id") < 600)
      .withColumn("cents", round(col("value") * 100).cast("long")).persist()
    val (histSlice, liveSlice) =
      (ev.filter(col("event_id") < 300), ev.filter(col("event_id") >= 300))

    // history half: plain batch builds into the cube dirs
    HllSketch.registers(histSlice, Seq("event_type"), col("user_id"))
      .write.parquet(s"$hllCube/src=batch")
    QuantileSketch.histogram(histSlice, Seq("event_type"), col("cents"))
      .write.parquet(s"$qCube/src=batch")

    // live half: streaming builds snapshot their complete-mode state into a
    // sibling part of the same cube dirs (last snapshot = full live state)
    liveSlice.write.parquet(s"$srcDir/live")
    val schema = spark.read.parquet(s"$srcDir/live").schema
    val qh = EventTimeOps.streamingHllRegisters(
        Sources.fileStream(spark, s"$srcDir/live", schema),
        Seq("event_type"), col("user_id"))
      .writeStream.option("checkpointLocation", ckptH)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("overwrite").parquet(s"$hllCube/src=stream")
      }
      .start()
    finish(qh, 120000)
    val qq = EventTimeOps.streamingQuantileHistogram(
        Sources.fileStream(spark, s"$srcDir/live", schema),
        Seq("event_type"), col("cents"))
      .writeStream.option("checkpointLocation", ckptQ)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("overwrite").parquet(s"$qCube/src=stream")
      }
      .start()
    finish(qq, 120000)

    // merged read over the mixed dir vs the batch-only cube on the union
    val estMixed = HllSketch.estimate(
        HllSketch.mergeRegisters(
          spark.read.parquet(hllCube).select("event_type", "bucket", "rho"),
          Seq("event_type")),
        Seq("event_type")).collect()
      .map(r => (r.getString(0), r.getAs[Long]("s_sum"), r.getAs[Double]("est_users")))
      .sorted.toSeq
    val estBatch = HllSketch.estimate(
        HllSketch.registers(ev, Seq("event_type"), col("user_id")),
        Seq("event_type")).collect()
      .map(r => (r.getString(0), r.getAs[Long]("s_sum"), r.getAs[Double]("est_users")))
      .sorted.toSeq
    assert(estMixed.nonEmpty && estMixed == estBatch)

    def qrows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"),
        r.getAs[Long]("p50"), r.getAs[Long]("p95"), r.getAs[Long]("p99"))).sorted.toSeq
    val quantMixed = qrows(QuantileSketch.quantiles(
      QuantileSketch.mergeHistograms(
        spark.read.parquet(qCube).select("event_type", "bucket", "rep", "cnt"),
        Seq("event_type")),
      Seq("event_type")))
    val quantBatch = qrows(QuantileSketch.quantiles(
      QuantileSketch.histogram(ev, Seq("event_type"), col("cents")),
      Seq("event_type")))
    assert(quantMixed.nonEmpty && quantMixed == quantBatch)
    ev.unpersist(): Unit
  }

  test("streaming funnel matches batch per-user levels across out-of-order micro-batches") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val (srcDir, outDir, ckpt) = (tmp("src"), tmp("out"), tmp("ckpt"))
    val ev = graft.Tables(spark, sf("sf0.01")).events.persist()
    // split by event_id PARITY, not time: for most users the two drops
    // interleave stages out of order (clicks can arrive a micro-batch
    // before the view that anchors their window) — the retroactive-window
    // state path is what's under test
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.parquet(s"$srcDir/d0")
    ev.filter(col("event_id") % 2 === 1).coalesce(1).write.parquet(s"$srcDir/d1")
    val schema = spark.read.parquet(s"$srcDir/d0").schema

    val q = EventTimeOps.streamingFunnel(
        Sources.fileStream(spark, s"$srcDir/d*", schema))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .format("parquet").option("path", outDir).start()
    finish(q, 180000, "streaming funnel did not finish in time")

    // read rule: last emission (max seq) per user — levels may legitimately
    // move down when a late earlier view shrinks the window
    val got = spark.read.parquet(outDir)
      .groupBy("user_id")
      .agg(max_by(col("level"), col("seq")).as("level"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = graft.queries.Relational.funnelLevels(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(Set(1L, 2L, 3L).subsetOf(want.values.toSet),
      "corpus should exercise partial and full conversions")
    assert(got == want)
    // and the out-of-order path really fired: some user's min view sits in
    // the SECOND drop while a click of theirs sits in the first
    val evUs = ev.select(col("user_id"), col("event_type"), col("event_id"),
      expr("unix_micros(ts)").as("us"))
    val minViews = evUs.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min_by(col("event_id"), col("us")).as("view_eid"),
        min(col("us")).as("t1"))
    val straddlers = minViews.filter(col("view_eid") % 2 === 1)
      .join(evUs.filter(col("event_type") === "click" && col("event_id") % 2 === 0),
        "user_id")
      .filter(col("us") > col("t1")).count()
    assert(straddlers > 0, "split should put some views after their clicks")
    ev.unpersist(): Unit
  }

  test("streaming retention matches the batch cohort matrix across out-of-order micro-batches") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val (srcDir, outDir, ckpt) = (tmp("src"), tmp("out"), tmp("ckpt"))
    val ev = graft.Tables(spark, sf("sf0.01")).events.persist()
    // parity split: for some users the week holding their FIRST event lands
    // only in the second drop, so the cohort-lowering retraction path (a
    // late earlier event rewriting every already-reported offset) fires
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.parquet(s"$srcDir/d0")
    ev.filter(col("event_id") % 2 === 1).coalesce(1).write.parquet(s"$srcDir/d1")
    val schema = spark.read.parquet(s"$srcDir/d0").schema

    val q = EventTimeOps.streamingRetention(
        Sources.fileStream(spark, s"$srcDir/d*", schema))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .format("parquet").option("path", outDir).start()
    finish(q, 180000, "streaming retention did not finish in time")

    // read rule: the latest snapshot (max seq) per user IS their activity
    // frame; the batch matrix over the exploded frames is the answer
    val latest = spark.read.parquet(outDir)
      .groupBy("user_id")
      .agg(max_by(col("weeks"), col("seq")).as("weeks"))
      .select(col("user_id"), explode(col("weeks")).as("week"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("cohort_week"), r.getAs[Long]("week_offset"),
        r.getAs[Long]("n_active"), r.getAs[Long]("cohort_n"),
        r.getAs[Double]("retention"))).toSeq
    val got = rows(graft.queries.Relational.retentionMatrix(latest))
    val want = rows(graft.queries.Relational.retentionMatrix(
      ev.select(col("user_id"), expr("(CAST(ts AS LONG) div 86400) div 7").as("week"))
        .distinct()))
    assert(want.exists(_._2 > 0), "corpus should span more than one week per cohort")
    assert(got == want)
    // and the retraction path really fired: some user's earliest week
    // arrives only in the SECOND drop, after a later week of theirs was
    // already snapshotted from the first
    val wk = ev.select(col("user_id"), col("event_id"),
      expr("(CAST(ts AS LONG) div 86400) div 7").as("week"))
    val straddlers = wk.groupBy("user_id").agg(min(col("week")).as("w_all"))
      .join(wk.filter(col("event_id") % 2 === 0)
        .groupBy("user_id").agg(min(col("week")).as("w_even")), "user_id")
      .filter(col("w_even") > col("w_all")).count()
    assert(straddlers > 0, "split should lower some user's cohort in drop 2")
    ev.unpersist(): Unit
  }

  test("streaming transitions sum to the batch matrix with real retractions under out-of-order arrival") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val (srcDir, outDir, ckpt) = (tmp("src"), tmp("out"), tmp("ckpt"))
    val ev = graft.Tables(spark, sf("sf0.01")).events.persist()
    // parity split: for most users batch 2 splices late events BETWEEN
    // already-adjacent pairs, so earlier (a,c) counts must be retracted
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.parquet(s"$srcDir/d0")
    ev.filter(col("event_id") % 2 === 1).coalesce(1).write.parquet(s"$srcDir/d1")
    val schema = spark.read.parquet(s"$srcDir/d0").schema

    // exact full-history parity needs the explicit unbounded opt-in (r14:
    // the DEFAULT is the bounded mode with a truncation counter)
    val q = EventTimeOps.streamingTransitions(
        Sources.fileStream(spark, s"$srcDir/d*", schema), unbounded = true)
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .format("parquet").option("path", outDir).start()
    finish(q, 180000, "streaming transitions did not finish in time")

    val emitted = spark.read.parquet(outDir)
    // the retraction path really fired: some pair's earlier count came back
    assert(emitted.filter(col("delta") < 0).count() > 0,
      "expected negative deltas from spliced-in late events")
    // read rule: the matrix is the plain additive sum of deltas
    val got = emitted.groupBy("from_type", "to_type")
      .agg(sum(col("delta")).as("n")).filter(col("n") =!= 0).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    val want = graft.queries.Relational.transitionCounts(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    assert(want.nonEmpty && got == want)
    ev.unpersist(): Unit
  }

  test("streaming transitions default mode bounds state: truncations counted, kept prefix exact") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val (srcDir, outDir, ckpt) = (tmp("src"), tmp("out"), tmp("ckpt"))
    val ev = graft.Tables(spark, sf("sf0.01")).events.persist()
    // two drops so the bound engages ACROSS micro-batches too
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.parquet(s"$srcDir/d0")
    ev.filter(col("event_id") % 2 === 1).coalesce(1).write.parquet(s"$srcDir/d1")
    val schema = spark.read.parquet(s"$srcDir/d0").schema

    val cap = 5
    val trunc = spark.sparkContext.longAccumulator("test-transitions-truncated")
    val q = EventTimeOps.streamingTransitions(
        Sources.fileStream(spark, s"$srcDir/d*", schema),
        maxBuffer = cap, truncations = Some(trunc))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .format("parquet").option("path", outDir).start()
    finish(q, 180000, "bounded streaming transitions did not finish in time")

    // the kept history per user is its EARLIEST `cap` events by
    // (us, event_id) — sequential truncation composes to the global prefix
    // (dropping only ever removes the latest), so the summed deltas equal
    // the batch matrix over exactly that prefix
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(expr("unix_micros(ts)"), col("event_id"))
    val keptPrefix = ev.withColumn("rn", row_number().over(w)).filter(col("rn") <= cap)
    val got = spark.read.parquet(outDir).groupBy("from_type", "to_type")
      .agg(sum(col("delta")).as("n")).filter(col("n") =!= 0).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    val want = graft.queries.Relational.transitionCounts(keptPrefix).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    assert(want.nonEmpty && got == want,
      "bounded mode must equal the batch matrix over each user's earliest-cap prefix")
    // every dropped event was counted — and the fixture genuinely overflowed
    val expectedDrops = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      .agg(sum(greatest(col("n") - cap, lit(0L)))).head().getLong(0)
    assert(expectedDrops > 0, "fixture must overflow the bound")
    assert(trunc.value == expectedDrops,
      s"truncation counter must see every drop: ${trunc.value} vs $expectedDrops")
    ev.unpersist(): Unit
  }

  test("streaming exact DAU matches batch distinct counts on every watermark-closed day") {
    val (srcDir, outDir, ckpt) = (tmp("src"), tmp("out"), tmp("ckpt"))
    val ev = graft.Tables(spark, sf("sf0.01")).events.persist()
    // chronological drops: the watermark must only ever advance, so late
    // rows are never dropped and the emitted days are exactly the closed ones
    val bounds = ev.agg(min(expr("CAST(ts AS LONG)")), max(expr("CAST(ts AS LONG)"))).head()
    val (minTs, maxTs) = (bounds.getLong(0), bounds.getLong(1))
    val midTs = (minTs + maxTs) / 2
    ev.filter(expr(s"CAST(ts AS LONG) < $midTs")).coalesce(1).write.parquet(s"$srcDir/d0")
    ev.filter(expr(s"CAST(ts AS LONG) >= $midTs")).coalesce(1).write.parquet(s"$srcDir/d1")
    val schema = spark.read.parquet(s"$srcDir/d0").schema

    val q = EventTimeOps.streamingDau(
        Sources.fileStream(spark, s"$srcDir/d*", schema))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .format("parquet").option("path", outDir).start()
    finish(q, 180000, "streaming dau did not finish in time")

    val got = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("day") -> r.getAs[Long]("dau")).toMap
    val batch = ev.select(col("user_id"), expr("CAST(ts AS LONG) div 86400").as("day"))
      .distinct().groupBy("day").agg(count(lit(1)).as("dau")).collect()
      .map(r => r.getAs[Long]("day") -> r.getAs[Long]("dau")).toMap
    // append emits exactly the days whose end the final watermark passed
    val watermark = maxTs - 600
    val closed = batch.keySet.filter(d => (d + 1) * 86400 <= watermark)
    assert(closed.nonEmpty && closed.size >= 2, "corpus should close multiple days")
    assert(got.keySet == closed)
    assert(closed.forall(d => got(d) == batch(d)))
    ev.unpersist(): Unit
  }

  test("streaming source quota matches the batch arrival-order cap on a doc_id-ordered replay") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val (srcDir, outDir, ckpt) = (tmp("src"), tmp("out"), tmp("ckpt"))
    val docs = graft.Tables(spark, sf("sf0.01")).documents.persist()
    val mid = 250L
    // doc_id-ordered replay: batch 1 = low ids, batch 2 = high ids, so
    // arrival follows doc_id order per source ACROSS micro-batches too
    docs.filter(col("doc_id") < mid).coalesce(1).write.parquet(s"$srcDir/d0")
    docs.filter(col("doc_id") >= mid).coalesce(1).write.parquet(s"$srcDir/d1")
    val schema = spark.read.parquet(s"$srcDir/d0").schema

    val cap = 15L
    val q = EventTimeOps.streamingSourceQuota(
        Sources.fileStream(spark, s"$srcDir/d*", schema), cap)
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .format("parquet").option("path", outDir).start()
    finish(q, 180000, "streaming quota did not finish in time")

    val got = spark.read.parquet(outDir)
    // every doc got exactly one verdict
    assert(got.count() == docs.count())
    // quota binds: each source admits exactly min(cap, |source|)
    val admittedPerSrc = got.filter(col("admitted"))
      .groupBy("source").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n")).toMap
    val sizes = docs.groupBy("source").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n")).toMap
    assert(sizes.values.exists(_ > cap), "corpus should overflow the quota")
    assert(admittedPerSrc == sizes.map { case (k, v) => k -> math.min(cap, v) })
    // verdict-for-verdict equality with the batch arrival-order cap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    val batch = docs.select(col("source"), col("doc_id"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .select(col("source"), col("doc_id"), (col("rn") <= cap).as("admitted"),
        when(col("rn") <= cap, col("rn")).otherwise(0L).as("quota_idx"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("source", "doc_id", "admitted", "quota_idx")
      .collect().map(_.toSeq).toSet
    assert(rows(got) == rows(batch))
    docs.unpersist(): Unit
  }
}
