package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo}
import org.apache.spark.sql.catalyst.plans.ExistenceJoin
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, JoinHint}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.types.BooleanType

/** Opt-out dimension handling + routing (SURVEY §2 O11/O12/O13).
  *
  * The reference loads an opt-out set from ClickHouse with a
  * latest-version-per-key (argmax) query (`/root/reference/src/main.rs:774`),
  * holds it as an in-memory HashSet (`src/main.rs:756-798`), probes each
  * record's hash against it (`src/main.rs:852`), and splits the batch into
  * main vs opt-out inserts (`src/main.rs:874-885`).
  *
  * Spark-first mapping — the HashSet probe IS a broadcast hash join:
  *   - O12 argmax → `max_by` aggregation (one shuffle over the *dimension*,
  *     which is tiny; never over the fact stream).
  *   - O11 membership → a broadcast EXISTENCE join: the dimension is
  *     broadcast as-is (no `distinct`, so no shuffle) and each record gets
  *     a boolean `is_opt_out`, like `HashSet::contains`. An existence join
  *     never fans a record out, so duplicate dimension hashes are harmless.
  *     At 100 TB of facts this stays shuffle-free: the dimension (opted-out
  *     users) broadcasts to every executor; the fact side streams through.
  *   - O13 split → two filters on the flag.
  */
object OptOutRouting {

  /** O12 — dedup a versioned dimension to the latest version per key, i.e.
    * `SELECT key, max_by(value, version) GROUP BY key` (reference's
    * `WHERE (email, version) IN (SELECT email, MAX(version) ... GROUP BY
    * email)` at `src/main.rs:774`). `valueCols` are carried via max_by on the
    * version column; ties on `version` are resolved arbitrarily (the
    * reference has the same ambiguity — ClickHouse returns an arbitrary
    * matching row per duplicate (email, max-version) pair). */
  def latestPerKey(dim: DataFrame, key: String, version: String, valueCols: String*): DataFrame =
  {
    val aggs = valueCols.map(v => max_by(col(v), col(version)).as(v)) :+ max(col(version)).as(version)
    dim.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
  }

  /** O11 — the records' columns plus a non-null boolean `is_opt_out`: true
    * iff the record's hash is in the opt-out set. A null record hash reads
    * false; null dimension hashes never match. Built as a Catalyst
    * `ExistenceJoin` with a BROADCAST hint on the dimension, so the probe
    * costs one broadcast and the records never shuffle. */
  def withOptOutFlag(records: DataFrame, hashCol: String, optOutHashes: DataFrame, optHashCol: String): DataFrame = {
    val left = records.queryExecution.analyzed
    val right = optOutHashes.select(col(optHashCol).as("__opt_out_hash")).queryExecution.analyzed
    val hash = left.output.find(_.name == hashCol).getOrElse(
      throw new IllegalArgumentException(s"column $hashCol not found in ${left.output.map(_.name)}"))
    val isOptOut = AttributeReference("is_opt_out", BooleanType, nullable = false)()
    GraftBridge.ofRows(records.sparkSession, Join(left, right, ExistenceJoin(isOptOut),
      Some(EqualTo(hash, right.output.head)), JoinHint(None, Some(HintInfo(strategy = Some(BROADCAST))))))
  }

  /** O13 — split by the O11 flag into (main, optOut). */
  def split(routed: DataFrame): (DataFrame, DataFrame) =
    (routed.filter(!col("is_opt_out")), routed.filter(col("is_opt_out")))
}
