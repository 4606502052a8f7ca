package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.pipeline.EventStatements
import graft.sinks.ParquetSink
import graft.sources.Sources
import graft.streaming.{Dlq, StreamingPipeline, TenantRunner}
import graft.streaming.StreamingPipeline.{RetryPolicy, SinkTables}

/** Runnable demonstration of the live CDC pipeline (SURVEY §3.1) against
  * the local corpus: drops the sf0.001 events into a watched directory in
  * three bursts, streams them through the O4–O13 chain into a routed
  * parquet sink under tenant supervision, then reports per-table counts.
  *
  * Usage: `sbt "runMain graft.tools.StreamDemo [sfDir]"`.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Tables.session(8).master("local[8]")
      .appName("graft-stream-demo")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val srcDir = Files.createTempDirectory("graft-src").toString
    val sinkDir = Files.createTempDirectory("graft-sink").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val dlqDir = Files.createTempDirectory("graft-dlq").toString

    val ev = graft.Tables(spark, dir).events.persist()
    val total = ev.count()
    // three bursts ≈ three waves of change-stream events
    Seq((0L, total / 3), (total / 3, 2 * total / 3), (2 * total / 3, total + 1))
      .zipWithIndex.foreach { case ((lo, hi), i) =>
        ev.filter(col("event_id") >= lo && col("event_id") < hi)
          .write.parquet(s"$srcDir/drop$i")
      }
    val schema = spark.read.parquet(s"$srcDir/drop0").schema

    val tables = SinkTables("tenant_a", "db", "statements", "statements_opt_out")
    val dlq = new Dlq(spark, dlqDir)
    val dim = EventStatements.optOutHashes(ev)
    val metrics = new graft.streaming.MetricsListener()
    spark.streams.addListener(metrics)
    val runner = new TenantRunner(spark, restartDelayMs = 1000)
    runner.installShutdownHook()
    runner.run("tenant_a") { () =>
      StreamingPipeline.start(
        Sources.fileStream(spark, s"$srcDir/drop*", schema, maxFilesPerTrigger = 1),
        () => dim, new ParquetSink(sinkDir), tables, dlq, ckpt,
        RetryPolicy(), Trigger.AvailableNow())
    }
    // AvailableNow drains all drops then terminates; wait for it
    var waited = 0
    while (runner.activeQueries.get("tenant_a").forall(_.isActive) && waited < 120000) {
      Thread.sleep(500); waited += 500
    }
    runner.stopAll()

    val main = spark.read.parquet(s"$sinkDir/db.statements").count()
    val opt = spark.read.parquet(s"$sinkDir/db.statements_opt_out").count()
    val expected = EventStatements.statements(ev).count()
    val observedRows = metrics.recent.flatMap(_.observed.get("graft_metrics.rows_out")).map(_.toLong).sum
    println(s"""{"events":$total,"statements":$expected,"main":$main,"opt_out":$opt,"dlq":${dlq.pending().size},"observed_rows":$observedRows}""")
    assert(main + opt == expected, "routed output must equal transformed input")
    spark.stop()
  }
}
