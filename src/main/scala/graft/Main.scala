package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.{AppConfig, BackfillJob, MongoStatements, TenantConfig}
import graft.sinks.{BatchSink, JdbcStatementsSink, ParquetSink}
import graft.sources.Sources
import graft.streaming.{Dlq, InvalidationServer, StreamingPipeline, TenantRunner}
import graft.streaming.StreamingPipeline.SinkTables

/** Application entry point — the user-facing equivalent of the reference's
  * two binaries (SURVEY §3.1/§3.2):
  *
  *   live      graft.Main live                          (all configured tenants)
  *   backfill  graft.Main backfill <tenant> <start> <end>   (%Y-%m-%dT%H:%M)
  *
  * Config comes from the YAML named by $GRAFT_CONFIG (O26, fixed env
  * semantics); the hash uses `cfg.encryptionSalt` + the tenant name (the
  * reference's exact recipe, src/main.rs:637-640). Sinks: ClickHouse JDBC
  * when `GRAFT_JDBC=1` and the driver jar is deployed, else a parquet sink
  * rooted at $GRAFT_SINK_DIR (the local/test default — in that mode the
  * opt-out dimension is read from $GRAFT_OPTOUT_DIR parquet instead of
  * ClickHouse). The DLQ replay loop runs on the reference's 60 s cadence;
  * the invalidation endpoint listens on :8088 for contract parity (O22).
  */
object Main {

  private def jdbcMode: Boolean = sys.env.get("GRAFT_JDBC").contains("1")
  private def jdbcUser: String = sys.env.getOrElse("GRAFT_JDBC_USER", "default")
  private def jdbcPassword: String = sys.env.getOrElse("GRAFT_JDBC_PASSWORD", "")

  private def session(): SparkSession =
    Tables.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .appName("graft")
      .getOrCreate()

  private def sinkFor(cfg: AppConfig, t: TenantConfig): BatchSink =
    if (jdbcMode)
      new JdbcStatementsSink(t.clickhouseUri, jdbcUser, jdbcPassword,
        batchSize = cfg.batchSize)
    else new ParquetSink(sys.env.getOrElse("GRAFT_SINK_DIR", "/tmp/graft-sink"))

  /** Opt-out dimension provider: the reference's latest-version-per-key
    * query against ClickHouse in JDBC mode (same credentials as the sink);
    * a parquet dimension table in the local/test default. */
  private def dimProvider(spark: SparkSession, cfg: AppConfig): () => DataFrame =
    if (jdbcMode) { () =>
      spark.read.format("jdbc")
        .option("url", cfg.clickhouseUri)
        .option("user", jdbcUser)
        .option("password", jdbcPassword)
        .option("query",
          "SELECT email, hashed_moodle_id FROM default.moodle_ids " +
            "WHERE (email, version) IN (SELECT email, MAX(version) FROM default.moodle_ids GROUP BY email)")
        .load().select("hashed_moodle_id").withColumnRenamed("hashed_moodle_id", "hashed_id")
    } else { () =>
      val dir = sys.env.getOrElse("GRAFT_OPTOUT_DIR", "")
      if (dir.nonEmpty) spark.read.parquet(dir).select("hashed_id")
      else { import spark.implicits._; Seq.empty[String].toDF("hashed_id") }
    }

  private def tablesFor(t: TenantConfig): SinkTables =
    SinkTables(t.name, t.clickhouseDb, t.clickhouseTable, t.clickhouseTableOptOut)

  def main(args: Array[String]): Unit = args.toList match {
    case "live" :: Nil => live()
    case "backfill" :: tenant :: start :: end :: Nil => backfill(tenant, start, end)
    case _ =>
      System.err.println("usage: graft.Main live | graft.Main backfill <tenant> <start> <end>")
      sys.exit(2)
  }

  private def live(): Unit = {
    val cfg = AppConfig.load()
    val spark = session()
    val dlqDir = sys.env.getOrElse("GRAFT_DLQ_DIR", "/tmp/graft-dlq")
    val ckptBase = sys.env.getOrElse("GRAFT_CHECKPOINT_DIR", "/tmp/graft-ckpt")
    val runner = new TenantRunner(spark)
    runner.installShutdownHook()
    spark.streams.addListener(new graft.streaming.MetricsListener())
    val dim = dimProvider(spark, cfg)

    cfg.tenants.foreach { t =>
      val sink = sinkFor(cfg, t)
      val dlq = new Dlq(spark, s"$dlqDir/${t.name}")
      // O19: replay loop on the reference cadence; a transient fs/sink error
      // must not kill the daemon
      val replay = new Thread(() => while (true) {
        Thread.sleep(60000)
        try dlq.replayOnce(sink): Unit
        catch {
          case NonFatal(e) =>
            System.err.println(s"[graft] dlq replay for ${t.name} failed: ${e.getMessage}")
        }
      }, s"graft-dlq-${t.name}")
      replay.setDaemon(true); replay.start()

      // O16 admission loop: per-tenant manager fed by measured micro-batch
      // throughput (AdmissionListener keyed on the query name). The
      // suggested cap is read inside mkQuery at every (re)start and logged:
      // the Mongo v10 connector exposes no per-trigger row cap to apply it
      // to (the file-stream analog takes it as maxFilesPerTrigger —
      // StreamingSpec).
      val admission = graft.streaming.BatchSizeManager.live(cfg.batchSize)
      spark.streams.addListener(new graft.streaming.AdmissionListener(admission, t.name))

      // recoverCheckpoint: on a resume-token-expired failure (code 280) the
      // checkpoint is cleared and the stream restarts from now (O24 recovery)
      runner.run(t.name, recoverCheckpoint = Some(s"$ckptBase/${t.name}")) { () =>
        System.err.println(s"[graft] tenant ${t.name}: starting with admission cap " +
          s"${admission.suggest} (logged only (no v10 cap option))")
        StreamingPipeline.start(
          Sources.mongoChangeStream(spark, t),
          dim, sink, tablesFor(t), dlq, s"$ckptBase/${t.name}",
          transform = MongoStatements.statements(_, cfg.encryptionSalt, t.name),
          queryName = Some(t.name))
      }
    }
    // O22 parity endpoint (dimension is re-read per micro-batch — ack only)
    val inv = new InvalidationServer(8088, () => ())
    inv.start()
    // Block for the service's lifetime. awaitAnyTermination returns/throws
    // on the FIRST query termination — including transient failures the
    // TenantRunner restarts — so loop + reset instead of exiting.
    while (true) {
      try { spark.streams.awaitAnyTermination(): Unit }
      catch { case NonFatal(_) => () }
      spark.streams.resetTerminated()
      Thread.sleep(1000)
    }
  }

  private def backfill(tenant: String, start: String, end: String): Unit = {
    val cfg = AppConfig.load()
    val t = cfg.tenants.find(_.name == tenant)
      .getOrElse(throw new IllegalArgumentException(s"unknown tenant $tenant"))
    val spark = session()
    val dlq = new Dlq(spark, sys.env.getOrElse("GRAFT_DLQ_DIR", "/tmp/graft-dlq") + s"/$tenant")
    // validated + formatted in ONE place (BackfillJob.tsBounds) — and the
    // range is now rejected BEFORE a scan over a bad range is built
    val (startTs, endTs) = BackfillJob.tsBounds(start, end)
    val source = MongoStatements.statements(
      Sources.mongoRangeScan(spark, t, startTs, endTs),
      cfg.encryptionSalt, t.name)
    val res = BackfillJob.runTransformed(source, start, end,
      sinkFor(cfg, t), tablesFor(t), dlq, dimProvider(spark, cfg))
    println(s"""{"tenant":"$tenant","input":${res.input},"written":${res.written},""" +
      s""""skipped":${res.skipped},"dead_lettered":${res.deadLettered}}""")
    spark.stop()
  }
}
