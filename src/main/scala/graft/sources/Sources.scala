package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.pipeline.TenantConfig

/** Source builders (SURVEY §2 O1/O2).
  *
  * O1 — live change stream (`mongo_collection.watch`,
  * `/root/reference/src/main.rs:313-341`): Structured Streaming via the
  * MongoDB Spark Connector v10. Resume tokens (O20) live in the streaming
  * checkpoint; the reference's code-280 "token expired → restart from now"
  * fallback maps to clearing the checkpoint source state (its
  * `failOnDataLoss=false` analog).
  *
  * O2 — bounded range scan (`find({timestamp: {$gte, $lte}})`,
  * `historical_data/src/main.rs:349-365`): batch read + a `between` filter
  * that the connector pushes into the aggregation pipeline (predicate
  * pushdown is Catalyst + connector `SupportsPushDownFilters`; nothing
  * hand-rolled).
  *
  * The connector jar is deployment-provided; tests and the local corpus use
  * the file-based equivalents below (identical downstream dataflow).
  *
  * O16's adaptive admission cap is not a source option here: the Mongo v10
  * connector exposes no per-trigger row cap (the reference caps rows per
  * flush at `src/main.rs:405-407`), so `Main.live` logs the suggested cap
  * at each start. The file-stream analog admits by files and takes a cap
  * as `maxFilesPerTrigger` (StreamingSpec's O16 test).
  */
object Sources {

  /** O1: unbounded per-tenant change stream. */
  def mongoChangeStream(spark: SparkSession, t: TenantConfig): DataFrame =
    spark.readStream.format("mongodb")
      .option("spark.mongodb.connection.uri", t.mongoUri)
      .option("spark.mongodb.database", t.mongoDb)
      .option("spark.mongodb.collection", t.mongoCollection)
      .option("spark.mongodb.change.stream.publish.full.document.only", "true")
      .load()

  /** O2: bounded historical scan; the timestamp predicate is pushed to Mongo. */
  def mongoRangeScan(spark: SparkSession, t: TenantConfig,
                     startIso: String, endIso: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.format("mongodb")
      .option("spark.mongodb.connection.uri", t.mongoUri)
      .option("spark.mongodb.database", t.mongoDb)
      .option("spark.mongodb.collection", t.mongoCollection)
      .load()
      .filter(col("timestamp").between(lit(startIso).cast("timestamp"), lit(endIso).cast("timestamp")))
  }

  /** Test/local analog of O1: a file stream over a growing directory of
    * parquet drops (each new file ≈ a burst of change events). */
  def fileStream(spark: SparkSession, dir: String, schema: StructType,
                 maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Test/local analog of O2. */
  def fileScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Format-generic batch scan with an explicit schema: the same
    * downstream dataflow runs off parquet, ORC, JSON-lines, or headered
    * CSV (FormatMatrixSpec proves row-identical round trips). Schema is
    * REQUIRED rather than inferred — inference re-reads the data and can
    * drift (e.g. CSV integers widening to bigint), which silently changes
    * downstream plans; at 100 TB only the columnar formats prune columns
    * and push filters, so they are the storage default and the text
    * formats are ingest/interchange surfaces. */
  def formatScan(spark: SparkSession, format: String, path: String,
                 schema: StructType): DataFrame =
    spark.read.format(format).schema(schema)
      .option("header", "true") // CSV only; ignored by the others
      .load(path)
}
