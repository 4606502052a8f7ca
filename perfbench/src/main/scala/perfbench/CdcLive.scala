package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.EventStatements
import graft.sinks.{BatchSink, ParquetSink}
import graft.sources.Sources
import graft.streaming.{Dlq, StreamingPipeline}
import graft.streaming.StreamingPipeline.SinkTables

/** A sink wrapper that times every write call; the calls are recorded as
  * `sinks.write` spans and kept for the report. */
final class TimingSink(delegate: BatchSink, @transient trace: Trace) extends BatchSink {
  @transient val calls = new ConcurrentLinkedQueue[Map[String, Any]]()
  override def write(df: DataFrame, table: String): Unit = {
    val t0 = System.currentTimeMillis()
    var ok = false
    try { delegate.write(df, table); ok = true }
    finally {
      val t1 = System.currentTimeMillis()
      trace.record("sinks.write", t0, t1)
      calls.add(Map("table" -> table, "start" -> t0, "end" -> t1, "ok" -> ok))
    }
  }
  def json: Seq[Map[String, Any]] = calls.asScala.toSeq
}

/** Shared by the live and backfill workloads: the sink tables, the output
  * check and the on-disk size of what the sink wrote. */
object Routed {
  val Tables = SinkTables("tenant_a", "bench", "statements", "statements_opt_out")

  def sinkDirs(sink: String): Seq[(String, String)] =
    Seq(s"$sink/${Tables.db}.${Tables.main}" -> "main", s"$sink/${Tables.db}.${Tables.optOut}" -> "opt_out")

  /** Rows the sink landed, with the route (table) each landed on. */
  def landed(spark: SparkSession, sink: String): DataFrame =
    sinkDirs(sink).filter { case (d, _) => new File(d).exists() }
      .map { case (d, route) => spark.read.parquet(d).withColumn("route_got", lit(route)) }
      .reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataFrame.select(lit(0L).as("id"), lit("").as("route_got"),
        current_timestamp().as("created_at")).limit(0))

  /** Rows of `expected` (id, route) that did not land exactly once on
    * their route, plus landed rows that were never expected. */
  def badRows(spark: SparkSession, expected: DataFrame, sink: String): Long = {
    val got = landed(spark, sink).groupBy(col("id"))
      .agg(count(lit(1)).as("n"), min(col("route_got")).as("route_got"))
    expected.select(col("id"), col("route")).join(got, Seq("id"), "full_outer")
      .filter(col("n").isNull || col("route").isNull || col("n") =!= 1 || col("route") =!= col("route_got"))
      .count()
  }

  def dlqRows(spark: SparkSession, dlq: Dlq): Long =
    dlq.pending().map(p => spark.read.parquet(p).count()).sum

  /** (files, bytes) of the parquet files under `dir`. */
  def diskUsage(dir: String): (Long, Long) = {
    val root = new File(dir)
    if (!root.exists()) (0L, 0L)
    else {
      val fs = Files.walk(root.toPath).iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
          !p.getFileName.toString.startsWith("_")).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    }
  }
}

/** Open-loop live CDC: seeded event drops are staged in set-up, then moved
  * one by one into the directory `Sources.fileStream` watches, at a fixed
  * tick, while `StreamingPipeline.start` routes them into a `ParquetSink`. */
object CdcLive {
  val RowsPerSec = 5000
  val TickMs = 100
  val RowsPerDrop: Int = RowsPerSec * TickMs / 1000
  val WarmDrops = 20

  final case class Staged(root: String, files: Map[Int, String], events: DataFrame)

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val timedDrops = c.seconds * 1000 / TickMs
    val nDrops = WarmDrops + timedDrops
    val base = Gen.idBase(c.seed)
    val order = Gen.shuffle(new java.util.SplittableRandom(c.seed), (0 until nDrops).toIndexedSeq)
    var st: Staged = null
    c.setupReps(3) { rep => st = stage(c, s"cdc/rep$rep", nDrops, base) }

    val sink = new TimingSink(new ParquetSink(s"${st.root}/sink"), c.trace)
    val dlq = new Dlq(spark, s"${st.root}/dlq")
    val dimCalls = new AtomicLong(0)
    val dimPath = s"${st.root}/dim"
    val source = Sources.fileStream(spark, s"${st.root}/watch", Gen.EventSchema, maxFilesPerTrigger = 10000)
    val query = StreamingPipeline.start(source, () => { dimCalls.incrementAndGet(); spark.read.parquet(dimPath) },
      sink, Routed.Tables, dlq, s"${st.root}/checkpoint",
      trigger = Trigger.ProcessingTime("1 second"), queryName = Some("cdc_live"))
    val moved = new Array[Long](nDrops)
    def offer(pos: Int, due: Long): Unit = {
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val d = order(pos)
      Files.move(new File(st.files(d)).toPath, new File(s"${st.root}/watch/drop_$d.parquet").toPath,
        StandardCopyOption.ATOMIC_MOVE)
      moved(pos) = System.currentTimeMillis()
    }
    try {
      c.warmup(1, 1) { _ =>
        val t0 = System.currentTimeMillis()
        (0 until WarmDrops).foreach(p => offer(p, t0 + p * TickMs))
        query.processAllAvailable()
      }
      val t0 = System.currentTimeMillis() + TickMs
      c.timed {
        (WarmDrops until nDrops).foreach(p => offer(p, t0 + (p - WarmDrops) * TickMs))
        c.trace.span("drain") { query.processAllAvailable() }
      }
      c.raw("t0") = t0
    } finally query.stop()
    if (query.exception.isDefined) throw query.exception.get

    // output check: every offered row lands exactly once on its route, DLQ empty
    val expected = EventStatements.routed(st.events)
    val bad = Routed.badRows(spark, expected, s"${st.root}/sink")
    val dead = Routed.dlqRows(spark, dlq)
    c.check("rows not landed exactly once on their route", nDrops.toLong * RowsPerDrop, bad)
    c.check("dead-lettered rows", 0L, dead)

    val landed = Routed.landed(spark, s"${st.root}/sink")
      .groupBy(((col("id") - base) / RowsPerDrop).cast("long").as("drop"))
      .agg((max(unix_micros(col("created_at"))) / 1000).cast("long").as("landed"),
        count(lit(1)).as("rows"))
      .collect().map(r => r.getLong(0).toString -> r.getLong(1)).toMap
    val (files, bytes) = Routed.sinkDirs(s"${st.root}/sink").map(d => Routed.diskUsage(d._1))
      .foldLeft((0L, 0L)) { case ((f, b), (f1, b1)) => (f + f1, b + b1) }
    c.raw ++= Seq(
      "tick_ms" -> TickMs, "rows_per_drop" -> RowsPerDrop, "warm_drops" -> WarmDrops,
      "order" -> order, "moved" -> moved.toSeq, "landed" -> landed,
      "progress" -> query.recentProgress.toSeq.map(p => Map(
        "batch" -> p.batchId, "timestamp" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)),
      "sink_calls" -> sink.json, "dim_calls" -> dimCalls.get, "dlq_rows" -> dead,
      "sink_files" -> files, "sink_bytes" -> bytes, "rows_offered" -> nDrops.toLong * RowsPerDrop)

    if (c.traced) {
      val (lo, hi) = graft.pipeline.BackfillJob.tsBounds("2024-01-08T00:00", "2024-01-23T00:00")
      c.raw("sources_scan_s") = c.measure("sources.scan") {
        Sources.fileScan(spark, s"${st.root}/watch")
          .filter(col("ts").between(lit(lo).cast("timestamp"), lit(hi).cast("timestamp"))).count(): Unit
      }
      c.raw("pipeline_statements_s") = c.forced("pipeline.statements", EventStatements.statements(st.events))
      c.raw("pipeline_optout_dim_s") = c.forced("pipeline.optout_dim", EventStatements.optOutHashes(st.events))
    }
  }

  /** Stage `nDrops` drops of seeded events as one parquet file each, plus
    * the opt-out dimension over all of them. */
  private def stage(c: Ctx, name: String, nDrops: Int, base: Long): Staged = {
    val spark = c.spark
    val root = c.dir(name)
    val events = Gen.events(spark, c.seed, nDrops.toLong * RowsPerDrop, base)
    c.trace.span("setup.stage_drops") {
      events.withColumn("drop", ((col("event_id") - base) / RowsPerDrop).cast("int"))
        .repartition(col("drop")).write.partitionBy("drop").parquet(s"$root/staging")
    }
    val files = (0 until nDrops).map { d =>
      val parts = new File(s"$root/staging/drop=$d").listFiles().filter(_.getName.endsWith(".parquet"))
      require(parts.length == 1, s"drop $d staged as ${parts.length} files")
      d -> parts.head.getPath
    }.toMap
    c.trace.span("setup.dim") { EventStatements.optOutHashes(events).write.parquet(s"$root/dim") }
    new File(s"$root/watch").mkdirs()
    Staged(root, files, events)
  }
}
