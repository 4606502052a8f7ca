package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The production Mongo-shaped chain: nested statement docs in, anonymized
  * serialized statements out (FIXTURES.md §1 fixture shape). */
class MongoStatementsSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      ("662f9a1b4c8d2e001a3b5c7d", "2024-04-25 14:03:22.123", "alice@example.org", "completed"),
      ("662f9a1b4c8d2e001a3b5c7e", "2024-04-25 14:04:00.000", "mailto:bob", "attempted"),
      ("662f9a1b4c8d2e001a3b5c7f", "2024-04-25 14:05:00.000", "@broken", "completed"), // invalid name
    ).toDF("_id", "ts_s", "name", "verb")
      .select(col("_id"),
        col("ts_s").cast("timestamp").as("timestamp"),
        struct(
          struct(struct(col("name")).as("account")).as("actor"),
          col("verb")).as("statement"))
  }

  test("anonymizes the nested path in place and drops invalid actors") {
    val out = MongoStatements.statements(docs, "salt", "tenant_x")
    val rows = out.select("id", "hashed_id", "statement").collect()
    assert(rows.length == 2) // "@broken" → empty local part → skipped (O5/O6)
    val alice = rows.find(_.getString(0).endsWith("7d")).get
    // value_to_hash = local part before '@' (actual reference semantics)
    val expected = org.apache.commons.codec.digest.DigestUtils.sha256Hex("salttenant_xalice")
    assert(alice.getString(1) == expected)
    // hash swapped into the nested path; rest of the doc intact
    assert(alice.getString(2).contains(s""""name":"$expected""""))
    assert(alice.getString(2).contains(""""verb":"completed""""))
    assert(!alice.getString(2).contains("alice@example.org"))
  }

  test("streaming transform hook: MongoStatements slots into StreamingPipeline") {
    // the production transform is just a function DataFrame => DataFrame;
    // shape-check the output contract columns the sinks rely on
    val out = MongoStatements.statements(docs, "s", "t")
    assert(Set("id", "ts", "hashed_id", "statement").subsetOf(out.columns.toSet))
  }

  test("backfill's production path: Mongo docs through runTransformed, routed by a parquet dimension") {
    import graft.sinks.ParquetSink
    import graft.streaming.Dlq
    import graft.streaming.StreamingPipeline.{RetryPolicy, SinkTables}
    def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString
    val tables = SinkTables("tenant_x", "db", "statements", "statements_opt_out")
    val policy = RetryPolicy(maxRetries = 2, initialDelayMs = 1)
    val statements = MongoStatements.statements(docs, "salt", "tenant_x")
    // the opt-out dimension as Main.backfill reads it: a parquet dir of hashed_id
    val dimDir = tmp("optout") + "/dim"
    statements.filter(col("id").endsWith("7e")).select("hashed_id").write.parquet(dimDir)
    val dim = () => spark.read.parquet(dimDir).select("hashed_id")

    val (sinkDir, dlqDir) = (tmp("sink"), tmp("dlq"))
    val res = BackfillJob.runTransformed(statements, "2024-04-25T00:00", "2024-04-26T00:00",
      new ParquetSink(sinkDir), tables, new Dlq(spark, dlqDir), dim, policy)
    assert(res.written + res.deadLettered == 2) // the two valid docs; "@broken" never arrives
    assert(res.skipped == 0)
    def ids(table: String) =
      spark.read.parquet(s"$sinkDir/db.$table").select("id").collect().map(_.getString(0)).toSet
    assert(ids("statements") == Set("662f9a1b4c8d2e001a3b5c7d"))
    assert(ids("statements_opt_out") == Set("662f9a1b4c8d2e001a3b5c7e"))

    val (sink2, dlq2) = (tmp("sink"), tmp("dlq"))
    intercept[IllegalArgumentException] {
      BackfillJob.runTransformed(statements, "2024-04-26T00:00", "2024-04-25T00:00",
        new ParquetSink(sink2), tables, new Dlq(spark, dlq2), dim, policy)
    }
    assert(new java.io.File(sink2).list().isEmpty && new java.io.File(dlq2).list().isEmpty,
      "a reversed range must be rejected before anything is written")
  }
}
