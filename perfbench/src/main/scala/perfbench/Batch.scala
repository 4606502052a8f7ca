package perfbench

import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.analytics.{Dedup, Sampling}
import graft.functions.GraftFunctions
import graft.pipeline.{BackfillJob, EventStatements}
import graft.sinks.ParquetSink
import graft.sources.Sources
import graft.streaming.Dlq

/** Closed-loop passes of `work` until the timed phase has lasted `seconds`
  * (at least `min` passes); each pass is recorded as an op. */
object Passes {
  def run(c: Ctx, min: Int)(work: Int => Unit): Seq[Map[String, Any]] = {
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = c.now()
    while (ops.size < min || c.now() - t0 < c.seconds * 1000L) {
      val s = c.now()
      c.trace.span("pass") { work(ops.size) }
      ops += Map("kind" -> "pass", "start" -> s, "end" -> c.now())
    }
    ops.toSeq
  }
}

/** Historical backfill: `BackfillJob.run` over a bounded range of a corpus
  * of ten id-shifted copies of one seeded events slice. */
object Backfill {
  val CopyRows = 40000L
  val Copies = 10
  val RangeStart = "2024-01-08T00:00"
  val RangeEnd = "2024-01-23T00:00"

  def run(c: Ctx): Unit = {
    val spark = c.spark
    var corpus = ""
    c.setupReps(3) { rep =>
      corpus = c.dir(s"backfill/rep$rep/corpus")
      c.trace.span("setup.stage_corpus") {
        (0 until Copies).map(k => Gen.events(spark, c.seed, CopyRows, Gen.idBase(c.seed, k)).coalesce(1))
          .reduce(_ union _).write.parquet(corpus)
      }
    }
    val (lo, hi) = BackfillJob.tsBounds(RangeStart, RangeEnd)
    def bounded = Sources.fileScan(spark, corpus)
      .filter(col("ts") >= lit(lo).cast("timestamp") && col("ts") <= lit(hi).cast("timestamp"))
    val expectedRows = bounded.count()
    val dlq = new Dlq(spark, c.dir("backfill/dlq"))
    val results = mutable.ArrayBuffer[Map[String, Any]]()
    var lastSink = ""
    def pass(name: String)(i: Int): Unit = {
      lastSink = c.dir(s"backfill/$name$i")
      val sink = new TimingSink(new ParquetSink(lastSink), c.trace)
      val r = c.trace.span("backfill.run") {
        BackfillJob.run(Sources.fileScan(spark, corpus), RangeStart, RangeEnd, sink, Routed.Tables, dlq)
      }
      if (name == "pass") results += Map("input" -> r.input, "written" -> r.written,
        "dead" -> r.deadLettered, "sink_calls" -> sink.json)
      c.check("backfill pass row count", 1, if (r.written == expectedRows && r.deadLettered == 0) 0 else 1)
    }
    c.warmup(2, 5)(pass("warm"))
    c.raw("ops") = c.timed { Passes.run(c, 3)(pass("pass")) }
    c.raw("passes") = results.toSeq
    c.raw("rows_per_pass") = expectedRows

    // output check on the last pass: exactly once, on the route `routed` gives
    val bad = Routed.badRows(spark, EventStatements.routed(bounded), lastSink)
    c.check("rows not landed exactly once on their route", expectedRows, bad)
    c.check("dead-lettered rows", 0L, Routed.dlqRows(spark, dlq))
    val (files, bytes) = Routed.sinkDirs(lastSink).map(d => Routed.diskUsage(d._1))
      .foldLeft((0L, 0L)) { case ((f, b), (f1, b1)) => (f + f1, b + b1) }
    c.raw ++= Seq("sink_files" -> files, "sink_bytes" -> bytes)

    if (c.traced) {
      c.raw("sources_scan_s") = c.measure("sources.scan") { bounded.count(): Unit }
      c.raw("pipeline_statements_s") = c.forced("pipeline.statements", EventStatements.statements(bounded))
      c.raw("pipeline_optout_dim_s") = c.forced("pipeline.optout_dim", EventStatements.optOutHashes(bounded))
    }
  }
}

/** Curation: `pipeline_full` then `pipeline_curate` through
  * `SparkEntry.queries`, over seeded documents. */
object Curate {
  val Docs = 250
  val Queries = Seq("pipeline_full", "pipeline_curate")

  def hash(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.mkString("\u0001")).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    var dir = ""
    c.setupReps(3) { rep =>
      dir = c.dir(s"curate/rep$rep")
      c.trace.span("setup.stage_docs") {
        Gen.docsFrame(spark, Gen.docs(c.seed, Docs)).coalesce(1).write.parquet(s"$dir/documents.parquet")
      }
    }
    val hashes = mutable.ArrayBuffer[Map[String, String]]()
    val queryTimes = mutable.ArrayBuffer[Map[String, Double]]()
    def pass(record: Boolean)(i: Int): Unit = {
      val outs = Queries.map { q =>
        val t0 = System.nanoTime()
        val df = c.trace.span(s"query.$q") { SparkEntry.queries(q)(spark, dir) }
        val rows = c.trace.span(s"collect.$q") { df.collect() }
        // the first pass's outputs are what the DuckDB oracle is compared with
        if (hashes.isEmpty && !record && i == 0) df.write.parquet(c.dir(s"curate/out/$q"))
        (q, hash(rows), (System.nanoTime() - t0) / 1e9)
      }
      if (record) queryTimes += outs.map(o => o._1 -> o._3).toMap
      hashes += outs.map(o => o._1 -> o._2).toMap
    }
    // at least four warm-up passes: the JIT keeps speeding passes up until
    // about then, and stopping earlier leaves runs at different points of it
    c.warmup(4, 6)(pass(record = false))
    c.raw("ops") = c.timed { Passes.run(c, 2)(pass(record = true)) }
    c.raw("query_s") = queryTimes.toSeq
    c.check("pass output differs from the first pass", hashes.size.toLong,
      hashes.count(_ != hashes.head).toLong)
    c.raw ++= Seq("docs_dir" -> dir, "out_dir" -> c.dir("curate/out"),
      "oracle_sql" -> Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)
    if (c.traced) {
      recompose(c, dir)
      // the index layer is measured here too: its own workload does not fit
      // the benchmark's time budget beside this one
      c.raw("index") = IndexMixed.lifecycle(c)
    }
  }

  /** `pipeline_full` recomposed from the same public calls, each forced,
    * so the stage times can be compared with the untraced pass. */
  private def recompose(c: Ctx, dir: String): Unit = {
    val spark = c.spark
    GraftFunctions.register(spark)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val stage = mutable.LinkedHashMap[String, Double]()
    def forced[T](name: String)(df: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val out = c.trace.span(name) { val d = df.persist(lvl); d.count(); d }
      stage(name) = (System.nanoTime() - t0) / 1e9
      out
    }
    val docs = graft.Tables(spark, dir).documents
    val t0 = System.nanoTime()
    val clean = forced("analytics.dedup.decontaminate") {
      Dedup.decontaminate(docs.filter(col("doc_id") >= 5), docs.filter(col("doc_id") < 5))
    }
    val spanned = forced("analytics.dedup.span_dedup") {
      Dedup.spanDedupMaterialize(clean, spanTokens = 16).select(col("doc_id"), col("kept_text").as("text"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    }
    val nIn = spanned.count()
    val pairs = forced("analytics.dedup.ngram_pairs") {
      Dedup.ngramJaccardPairs(spanned.select(col("doc_id"), col("text")),
        minJaccard = 0.6, maxDf = Some(Dedup.dfCapFor(nIn)))
    }
    val kept = forced("analytics.dedup.quality_keepers") {
      Dedup.qualityKeepers(spanned, pairs, GraftFunctions.qualityFast(col("text")))
        .select(col("doc_id"), col("text"), col("lang"))
    }
    val mixed = forced("analytics.sampling.mix") { Sampling.materializeMixSelf(kept, "lang", carry = Seq("text")) }
    forced("analytics.sampling.pack") {
      Sampling.packSequences(mixed.select((col("doc_id") * 1000 + col("epoch")).as("mix_id"), col("text")),
        windowTokens = 1024, nShards = 8, idCol = "mix_id")
    }
    c.raw("recompose_total_s") = (System.nanoTime() - t0) / 1e9
    c.raw("recompose_stage_s") = stage.toMap
    c.raw("candidate_pairs") = pairs.count()
    c.raw("kept_ratio") = kept.count().toDouble / docs.count()
    spark.sharedState.cacheManager.clearCache()
  }
}
