package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sink abstraction for the routed statement batches (SURVEY §2 O14).
  *
  * The core pipeline is connector-agnostic: tests and the local corpus write
  * parquet; production plugs the ClickHouse JDBC driver into
  * [[JdbcStatementsSink]] without touching the dataflow. Rows carry the
  * reference's 4-column shape `(id, statement, created_at, timestamp)`
  * (`/root/reference/src/main.rs:891-895`): `created_at` is assigned by the
  * sink at insert time (the reference emits a SQL `now()`).
  */
trait BatchSink extends Serializable {
  /** Write one routed micro-batch/backfill chunk to `table`. Must be
    * idempotent-friendly: callers may retry the whole call (O17). */
  def write(df: DataFrame, table: String): Unit
}

/** Parquet-directory sink — one subdirectory per logical table. Used by
  * tests and the local benchmark corpus. */
final class ParquetSink(baseDir: String) extends BatchSink {
  override def write(df: DataFrame, table: String): Unit =
    df.withColumn("created_at", current_timestamp())
      .write.mode(SaveMode.Append).parquet(s"$baseDir/$table")
}

/** Generic JDBC VALUES sink matching the reference's insert shape. Uses
  * plain `java.sql` batched PreparedStatements per partition (executor-side,
  * no driver round-trip per row); `created_at` uses the database's `now()`
  * exactly like the reference (`src/main.rs:865`).
  *
  * With the ClickHouse JDBC driver on the classpath, `url` is e.g.
  * `jdbc:clickhouse://host:8123/db`. Parameters are BOUND, so the O10
  * escaping layer is unnecessary here by construction (SURVEY §2 O10). */
final class JdbcStatementsSink(url: String, user: String, password: String,
                               batchSize: Int = 8000,
                               nowSql: String = "now()") extends BatchSink {
  override def write(df: DataFrame, table: String): Unit = {
    // `nowSql` is "now()" for ClickHouse (the reference's literal,
    // src/main.rs:865); tests pass "CURRENT_TIMESTAMP" for Derby
    val sql = s"INSERT INTO $table (id, statement, created_at, timestamp) VALUES (?, ?, $nowSql, ?)"
    val (u, usr, pw, bs) = (url, user, password, batchSize)
    // Normalize the timestamp at the sink boundary: a TIMESTAMP_NTZ `ts`
    // surfaces as java.time.LocalDateTime and `r.getTimestamp` throws; the
    // cast to session-TZ TimestampType (entry points pin UTC) makes the row
    // extraction type stable regardless of the parquet encoding upstream.
    df.select(col("id").cast("string"), col("statement"), col("ts").cast("timestamp"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        if (rows.nonEmpty) {
          val conn = java.sql.DriverManager.getConnection(u, usr, pw)
          try {
            val st = conn.prepareStatement(sql)
            var n = 0
            rows.foreach { r =>
              st.setString(1, r.getString(0))
              st.setString(2, r.getString(1))
              st.setTimestamp(3, r.getTimestamp(2))
              st.addBatch()
              n += 1
              if (n % bs == 0) { st.executeBatch(): Unit }
            }
            st.executeBatch(): Unit
          } finally conn.close()
        }
      }
  }
}

/** Training-shard writer: partitioned parquet layout
  * `baseDir/<table>/shard=<k>/...` with a deterministic 60-bit-hash shard
  * column (same routing as [[graft.analytics.Sampling.shardStats]]).
  *
  * Why this shape at 100 TB: `partitionBy` gives partition-pruned reads
  * (a trainer pulls its shard without scanning others), the hash keeps
  * shards balanced regardless of id distribution, and
  * `maxRecordsPerFile` bounds file sizes so downstream loaders see
  * uniform chunks. The write itself is narrow — rows route to shard
  * directories without a pre-shuffle; callers who want exactly one file
  * per shard can `repartition(nShards, col("shard"))` first, trading one
  * shuffle for file-count control. */
final class ShardedParquetSink(baseDir: String, nShards: Int,
                               idCol: String = "doc_id",
                               maxRecordsPerFile: Int = 1000000) extends BatchSink {
  override def write(df: DataFrame, table: String): Unit =
    df.withColumn("shard", graft.analytics.Sampling.shardOf(col(idCol), nShards))
      .write.mode(SaveMode.Append)
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .partitionBy("shard")
      .parquet(s"$baseDir/$table")
}
