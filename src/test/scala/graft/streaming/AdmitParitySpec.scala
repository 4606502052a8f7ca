package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.Sources
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Verdict-for-verdict parity between the STREAMING admission DAG
  * ([[EventTimeOps.streamingAdmit]]: per-source quota → stateless span
  * trim → calibrated gate) and the batch composed DAG
  * ([[graft.queries.AnalyticsQueries.pipelineAdmit]]: domain cap → trim →
  * self-calibrated p25 gate) — VERDICT r9 directive #5, proven the
  * EventTimeSpec way: file-stream micro-batches, AvailableNow, compare to
  * the batch answer after the stream drains.
  *
  * Parity preconditions (each documented on the operator): arrival per
  * source follows the cap's quality-rank order across micro-batches (the
  * nightly re-rank replay), and the gate threshold is the batch DAG's own
  * p25 (calibrate-on-reference). Under those, every verdict — keeper set,
  * quota index = src_rank, span counts, repaired-text score, final admit
  * — must be identical. */
class AdmitParitySpec extends SparkSpec {

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  test("streamingAdmit == pipelineAdmit verdict-for-verdict on a rank-ordered replay") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val (srcDir, outDirA, outDirR, ckpt) = (tmp("src"), tmp("adm"), tmp("rej"), tmp("ckpt"))
    val dir = sf("sf0.01")
    val docs = graft.Tables(spark, dir).documents.persist()

    // batch truth: the composed admission DAG and the cap/threshold it used
    val batch = graft.queries.AnalyticsQueries.pipelineAdmit(spark, dir).persist()
    val threshold = batch.select(col("p25").cast("double")).head().getDouble(0)
    val total = docs.count()
    val cap = math.max(10L, total / 25L) // Sampling.domainCap default share

    // replay in the cap's own rank order: micro-batch 0 carries each
    // source's rank-1..10 docs, batch 1 the rest — so per-source arrival
    // order across batches follows (qmicro desc, doc_id) exactly
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("qmicro").desc, col("doc_id"))
    val ranked = docs
      .withColumn("qmicro",
        round(graft.functions.GraftFunctions.qualityFast(col("text")) * 10000).cast("long"))
      .withColumn("rn", row_number().over(w))
    ranked.filter(col("rn") <= 10).select(docs.columns.map(col): _*)
      .coalesce(1).write.parquet(s"$srcDir/d0")
    ranked.filter(col("rn") > 10).select(docs.columns.map(col): _*)
      .coalesce(1).write.parquet(s"$srcDir/d1")
    val schema = spark.read.parquet(s"$srcDir/d0").schema

    // foreachBatch ingest: dual-route admitted vs rejected — the
    // reference's split-routing shape applied to the curation guard
    val q = EventTimeOps.streamingAdmit(
        Sources.fileStream(spark, s"$srcDir/d*", schema), cap, threshold)
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.filter(col("admit")).write.mode("append").parquet(outDirA)
        b.filter(!col("admit")).write.mode("append").parquet(outDirR)
      }
      .start()
    assert(q.awaitTermination(180000), "streaming admit did not finish in time")

    val admitted = spark.read.parquet(outDirA)
    val rejected = spark.read.parquet(outDirR)
    // every document got exactly one verdict row across the two routes
    assert(admitted.count() + rejected.count() == total)
    assert(admitted.select("doc_id").union(rejected.select("doc_id"))
      .distinct().count() == total)

    // verdict-for-verdict: the admitted set matches the batch DAG on every
    // provenance column (quota_idx == src_rank because arrival followed
    // the cap's rank order)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val gotAdmitted = rows(admitted.select(
      col("doc_id"), col("source"), col("quota_idx").as("src_rank"),
      col("n_removed"), col("q_micro")))
    val expAdmitted = rows(batch.select(
      col("doc_id"), col("source"), col("src_rank"),
      col("n_removed"), col("q_micro")))
    assert(gotAdmitted.nonEmpty && gotAdmitted == expAdmitted)

    // the rejected route is itself routable: quota rejections carry no
    // quota_idx, gate rejections carry their failing score
    assert(rows(rejected.filter(!col("quota_admitted"))
      .select(col("quota_idx"))).forall(_ == Seq(0L)))
    val gateRejected = rejected.filter(col("quota_admitted") && !col("admit"))
    assert(gateRejected.filter(col("q_micro") >= threshold).count() == 0)
    // and the two rejection classes partition the rejected route
    assert(rejected.filter(col("quota_admitted").isNull).count() == 0)

    batch.unpersist()
    docs.unpersist(): Unit
  }
}
