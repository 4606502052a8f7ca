package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{EventStatements, StatementTransforms}
import graft.queries.Relational

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every key in [[queries]] has a matching DuckDB oracle in [[oracleSql]]
  * (same column names, deterministic ordering, doubles rounded at the output
  * boundary) unless the operator is not SQL-expressible.
  */
object SparkEntry {

  /** Cast a literal to the column's actual type (parquet ns timestamps may
    * surface as TIMESTAMP_NTZ depending on inference — keep predicates
    * type-aligned so they still push down to the scan). */
  private def tsLit(df: DataFrame, colName: String, s: String): Column =
    lit(s).cast(df.schema(colName).dataType)

  /** Flagship: the reference's full anonymize+route DAG on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    EventStatements.routed(spark, "/root/testdata/sf0.001")

  // ---- parity queries (SURVEY §2 operator inventory) ----

  private def o3CountRange(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    ev.filter(col("ts") >= tsLit(ev, "ts", "2024-02-01 00:00:00") &&
        col("ts") < tsLit(ev, "ts", "2024-03-01 00:00:00"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Deterministic ordering comes from sorting the RAW events first (r17):
    * a trailing global orderBy makes the range-partitioner SAMPLING pass
    * re-execute the whole narrow chain once before the exchange executes
    * it again (measured: ~half of each o-query's wall). Sorting up front
    * samples only the scan+filter (the validity predicates push below the
    * Sort), the exchange carries raw columns, and the expression chain —
    * which Catalyst does not push through a Sort — runs exactly once,
    * after the exchange. id == event_id, so the output order is
    * unchanged. */
  private def o4o5Extract(spark: SparkSession, dir: String): DataFrame =
    EventStatements.extracted(Tables(spark, dir).events.orderBy(col("event_id")))
      .withColumn("ts_s", StatementTransforms.sinkTimestamp(col("ts")))
      .select(col("id"), col("user_id"), col("event_type"), col("k"), col("ts_s"))

  private def o6o7Anonymize(spark: SparkSession, dir: String): DataFrame =
    EventStatements.anonymized(Tables(spark, dir).events)
      .select(col("user_id"), col("actor_name"), col("normalized_name"), col("hashed_id"))
      .distinct()
      .orderBy(col("user_id"))

  /** Sorted at the source — see [[o4o5Extract]]'s r17 note. */
  private def o8o9StatementJson(spark: SparkSession, dir: String): DataFrame =
    EventStatements.statements(Tables(spark, dir).events.orderBy(col("event_id")))
      .select(col("id"), col("statement"))

  /** O8 via nested-struct withField mutation + to_json (see
    * EventStatements.withStatementStruct). */
  /** Sorted at the source — see [[o4o5Extract]]'s r17 note. */
  private def o8WithField(spark: SparkSession, dir: String): DataFrame =
    EventStatements.withStatementStruct(
      EventStatements.anonymized(Tables(spark, dir).events.orderBy(col("event_id"))))
      .select(col("id"), col("statement"))

  private def o12OptOutDim(spark: SparkSession, dir: String): DataFrame =
    EventStatements.optOutDim(Tables(spark, dir).events)
      .select(col("user_id"), col("hashed_id"), col("k"), col("version"))
      .orderBy(col("user_id"))

  private def o11o13Route(spark: SparkSession, dir: String): DataFrame =
    EventStatements.routed(spark, dir)
      .select(col("id"), col("user_id"), col("route"))
      .orderBy(col("id"))

  /** O10 — the escape chain over adversarial inputs: two backslash runs of
    * varying parity, embedded single quotes, and wrapping double quotes. */
  private def o10Escape(spark: SparkSession, dir: String): DataFrame = {
    // sorted at the source — see o4o5Extract's r17 note
    EventStatements.extracted(Tables(spark, dir).events.orderBy(col("event_id")))
      .withColumn("raw",
        concat(lit("\"it's "), repeat(lit("\\"), (col("k") % 5).cast("int")),
          lit(" x"), repeat(lit("\\"), (col("k") % 3).cast("int")), lit(" end\"")))
      .withColumn("escaped", graft.functions.GraftFunctions.processStatementFast(col("raw")))
      .select(col("id"), col("raw"), col("escaped"))
  }

  /** O14 — sink VALUES-tuple formatting (`src/main.rs:864-867`), minus the
    * server-side `now()` column which is non-deterministic by design. */
  private def o14FormatValues(spark: SparkSession, dir: String): DataFrame = {
    // sorted at the source — see o4o5Extract's r17 note
    EventStatements.statements(Tables(spark, dir).events.orderBy(col("event_id")))
      .withColumn("insert_values",
        concat(lit("('"), col("id").cast("string"), lit("','"),
          graft.functions.GraftFunctions.processStatementFast(col("statement")), lit("','"),
          StatementTransforms.sinkTimestamp(col("ts")), lit("')")))
      .select(col("id"), col("insert_values"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // reference-parity DAG operators
    "o3_count_range"   -> (o3CountRange(_, _)),
    "o4_o5_extract"    -> (o4o5Extract(_, _)),
    "o6_o7_anonymize"  -> (o6o7Anonymize(_, _)),
    "o8_o9_statement_json" -> (o8o9StatementJson(_, _)),
    "o8_withfield"     -> (o8WithField(_, _)),
    "o12_optout_dim"   -> (o12OptOutDim(_, _)),
    "o11_o13_route"    -> (o11o13Route(_, _)),
    "o10_escape"       -> (o10Escape(_, _)),
    "o14_format_values" -> (o14FormatValues(_, _)),
    // relational coverage (Catalyst-native, SURVEY §2.1)
    "q1_agg"           -> (Relational.q1Agg(_, _)),
    "q3_topk"          -> (Relational.q3TopK(_, _)),
    "q5_multijoin"     -> (Relational.q5MultiJoin(_, _)),
    "w1_topn_per_group" -> (Relational.w1TopNPerGroup(_, _)),
    "w2_running_sum"   -> (Relational.w2RunningSum(_, _)),
    "set_except"       -> (Relational.setExcept(_, _)),
    "agg_stats"        -> (Relational.aggStats(_, _)),
    "q6_rollup"        -> (Relational.q6Rollup(_, _)),
    "agg_approx"       -> (Relational.aggApprox(_, _)),
    "q7_percentile"    -> (Relational.q7Percentile(_, _)),
    "w3_sessionize"    -> (Relational.w3Sessionize(_, _)),
    "q8_pivot"         -> (Relational.q8Pivot(_, _)),
    "q9_exists"        -> (Relational.q9Exists(_, _)),
    "q10_cube"         -> (Relational.q10Cube(_, _)),
    "set_intersect"    -> (Relational.setIntersect(_, _)),
    "asof_signup"      -> (Relational.asofSignup(_, _)),
    "asof_native"      -> (Relational.asofSignupNative(_, _)),
    "q11_full_outer"   -> (Relational.q11FullOuter(_, _)),
    "w4_ntile"         -> (Relational.w4Ntile(_, _)),
    "q12_corr_subquery" -> (Relational.q12CorrSubquery(_, _)),
    "q13_grouping_sets" -> (Relational.q13GroupingSets(_, _)),
    "q14_range_frame"  -> (Relational.q14RangeFrame(_, _)),
    "q15_explode"      -> (Relational.q15Explode(_, _)),
    "q16_anti"         -> (Relational.q16Anti(_, _)),
    "q17_window_nav"   -> (Relational.q17WindowNav(_, _)),
    "q18_month_series" -> (Relational.q18MonthSeries(_, _)),
    "q19_sorted_collect" -> (Relational.q19SortedCollect(_, _)),
    "q20_cond_agg"     -> (Relational.q20CondAgg(_, _)),
    "q21_range_join"   -> (Relational.q21RangeJoin(_, _)),
    "q22_map_agg"      -> (Relational.q22MapAgg(_, _)),
    "q23_corr"         -> (Relational.q23Corr(_, _)),
    "q24_null_safe"    -> (Relational.q24NullSafe(_, _)),
    "q25_array_ops"    -> (Relational.q25ArrayOps(_, _)),
    "q26_rank_dist"    -> (Relational.q26RankDist(_, _)),
    "q27_datetime"     -> (Relational.q27Datetime(_, _)),
    "q28_regr"         -> (Relational.q28Regr(_, _)),
    "q29_mode"         -> (Relational.q29Mode(_, _)),
    "q30_cum_distinct" -> (Relational.q30CumDistinct(_, _)),
    "q31_variant"      -> (Relational.q31Variant(_, _)),
    "q32_lateral"      -> (Relational.q32Lateral(_, _)),
    "q33_gapfill"      -> (Relational.q33Gapfill(_, _)),
    "q34_interval_merge" -> (Relational.q34IntervalMerge(_, _)),
    "q35_unpivot"      -> (Relational.q35Unpivot(_, _)),
    "q36_try"          -> (Relational.q36Try(_, _)),
    "q37_scd2"         -> (Relational.q37Scd2(_, _)),
    "q38_retention"    -> (Relational.q38Retention(_, _)),
    "q39_funnel"       -> (Relational.q39Funnel(_, _)),
    "q40_transitions"  -> (Relational.q40Transitions(_, _)),
    "q41_twa"          -> (Relational.q41Twa(_, _)),
    "q42_dau"          -> (Relational.q42Dau(_, _)),
    "agg_approx_pct"   -> (Relational.aggApproxPct(_, _)),
  ) ++ graft.queries.AnalyticsQueries.all

  // DuckDB-dialect oracles over the same parquet tables (driver registers
  // each table name as a view over {dir}/{name}.parquet).

  /** Shared CTE: the anonymization chain in SQL (mirrors EventStatements). */
  private val anonCte: String =
    """WITH extracted AS (
      |  SELECT event_id AS id, ts, user_id, event_type, value,
      |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events
      |  WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
      |    AND json_extract_string(props, '$.k') IS NOT NULL
      |), named AS (
      |  SELECT *,
      |    CASE CAST(user_id % 3 AS INT)
      |      WHEN 0 THEN 'user' || user_id || '@example.org'
      |      WHEN 1 THEN 'mailto:user' || user_id
      |      ELSE 'user' || user_id END AS actor_name
      |  FROM extracted
      |), anon AS (
      |  SELECT *,
      |    CASE WHEN contains(actor_name, '@') THEN split_part(actor_name, '@', 1)
      |         ELSE actor_name END AS normalized_name,
      |    sha256('graft-salt' || 'tenant_a' ||
      |      CASE WHEN contains(actor_name, '@') THEN split_part(actor_name, '@', 1)
      |           ELSE actor_name END) AS hashed_id
      |  FROM named
      |  WHERE length(CASE WHEN contains(actor_name, '@') THEN split_part(actor_name, '@', 1)
      |                    ELSE actor_name END) > 0
      |), optout_dim AS (
      |  SELECT user_id, max_by(hashed_id, id) AS hashed_id, max_by(k, id) AS k,
      |         max(id) AS version
      |  FROM anon WHERE event_type = 'signup' GROUP BY user_id
      |), optout AS (
      |  SELECT hashed_id FROM optout_dim WHERE k % 3 = 0
      |), stmts AS (
      |  SELECT *, '{"actor":{"account":{"name":"' || hashed_id || '"}},"verb":"' ||
      |    event_type || '","k":' || k || '}' AS statement
      |  FROM anon
      |)
      |""".stripMargin

  /** The O10 escape chain in DuckDB SQL (prototyped + vector-tested against
    * the closed-form semantics; see StatementTransforms.processStatement). */
  private def duckEscape(x: String): String =
    """replace(replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(""" +
      x +
      """, '\\\\', chr(1), 'g'), chr(1)||'*\\', chr(2), 'g'), chr(1)||'+', '\\\\\\\\', 'g'), chr(2), '\\\\', 'g'), '^"+', '', 'g'), '"+$', '', 'g'), chr(92)||chr(39), chr(92)||chr(92)||chr(39)), chr(39), chr(92)||chr(39))"""

  def oracleSql: Map[String, String] = Map(
    "o3_count_range" ->
      """SELECT count(*) AS cnt FROM events
        |WHERE ts >= TIMESTAMP '2024-02-01 00:00:00' AND ts < TIMESTAMP '2024-03-01 00:00:00'""".stripMargin,
    "o4_o5_extract" -> (anonCte +
      """SELECT id, user_id, event_type, k, strftime(ts, '%Y-%m-%d %H:%M:%S.%g') AS ts_s
        |FROM extracted ORDER BY id""".stripMargin),
    "o6_o7_anonymize" -> (anonCte +
      """SELECT DISTINCT user_id, actor_name, normalized_name, hashed_id
        |FROM anon ORDER BY user_id""".stripMargin),
    "o8_o9_statement_json" -> (anonCte +
      """SELECT id, statement FROM stmts ORDER BY id""".stripMargin),
    "o10_escape" -> (anonCte +
      """SELECT id,
        |  '"it' || chr(39) || 's ' || repeat(chr(92), CAST(k % 5 AS INT)) || ' x' ||
        |    repeat(chr(92), CAST(k % 3 AS INT)) || ' end"' AS raw,
        |""".stripMargin +
      "  " + duckEscape(
        """'"it' || chr(39) || 's ' || repeat(chr(92), CAST(k % 5 AS INT)) || ' x' ||
          |    repeat(chr(92), CAST(k % 3 AS INT)) || ' end"'""".stripMargin) + " AS escaped\n" +
      "FROM extracted ORDER BY id"),
    "o14_format_values" -> (anonCte +
      "SELECT id, '(' || chr(39) || id || chr(39) || ',' || chr(39) || " +
      duckEscape("statement") + " || " +
      """chr(39) || ',' || chr(39) || strftime(ts, '%Y-%m-%d %H:%M:%S.%g') || chr(39) || ')' AS insert_values
        |FROM stmts ORDER BY id""".stripMargin),
    "o8_withfield" -> (anonCte +
      """SELECT id, to_json(struct_pack(
        |    actor := struct_pack(account := struct_pack(name := hashed_id)),
        |    verb := event_type, k := k)) AS statement
        |FROM anon ORDER BY id""".stripMargin),
    "o12_optout_dim" -> (anonCte +
      """SELECT user_id, hashed_id, k, version FROM optout_dim ORDER BY user_id""".stripMargin),
    "o11_o13_route" -> (anonCte +
      """SELECT id, user_id,
        |  CASE WHEN hashed_id IN (SELECT hashed_id FROM optout) THEN 'opt_out' ELSE 'main' END AS route
        |FROM anon ORDER BY id""".stripMargin),
    "q1_agg" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_linestatus,
        |    round(l_quantity)::BIGINT AS qc,
        |    round(l_extendedprice * 100)::BIGINT AS pc,
        |    round(l_discount * 100)::BIGINT AS dp,
        |    round(l_tax * 100)::BIGINT AS tp
        |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'),
        |g AS (
        |  SELECT l_returnflag, l_linestatus,
        |    sum(qc) AS sq, sum(pc) AS sp,
        |    sum(pc * (100 - dp)) AS sd,
        |    sum(pc * (100 - dp) * (100 + tp)) AS sc,
        |    sum(dp) AS sdp, count(*) AS n
        |  FROM c GROUP BY l_returnflag, l_linestatus)
        |SELECT l_returnflag, l_linestatus,
        |  sq::DOUBLE AS sum_qty,
        |  sp::DOUBLE / 100.0 AS sum_base_price,
        |  ((sd + 50) // 100)::DOUBLE / 100.0 AS sum_disc_price,
        |  ((sc + 5000) // 10000)::DOUBLE / 100.0 AS sum_charge,
        |  ((sq * 20000 + n) // (2 * n))::DOUBLE / 10000.0 AS avg_qty,
        |  ((sdp * 200 + n) // (2 * n))::DOUBLE / 10000.0 AS avg_disc,
        |  n::BIGINT AS count_order
        |FROM g ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_topk" ->
      """SELECT l_orderkey AS orderkey, CAST(o_orderdate AS DATE) AS orderdate,
        |  ((sum(round(l_extendedprice * 100)::BIGINT *
        |     (100 - round(l_discount * 100)::BIGINT)) + 50) // 100)::DOUBLE / 100.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '2024-06-01 00:00:00'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_multijoin" ->
      """SELECT n_name,
        |  ((sum(round(l_extendedprice * 100)::BIGINT *
        |     (100 - round(l_discount * 100)::BIGINT)) + 50) // 100)::DOUBLE / 100.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "w1_topn_per_group" ->
      """SELECT mktsegment, rn, orderkey, totalprice FROM (
        |  SELECT c_mktsegment AS mktsegment, o_orderkey AS orderkey,
        |    round(o_totalprice, 2) AS totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |WHERE rn <= 3 ORDER BY mktsegment, rn""".stripMargin,
    "w2_running_sum" ->
      """SELECT event_id, user_id,
        |  sum(round(value * 100)::BIGINT) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE / 100.0 AS running_value
        |FROM events ORDER BY event_id""".stripMargin,
    "set_except" ->
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |EXCEPT
        |SELECT DISTINCT user_id FROM events WHERE event_type = 'click' AND value > 150.0
        |ORDER BY user_id""".stripMargin,
    "agg_approx" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS orders_within_tol,
        |  TRUE AS parts_within_tol
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_stats" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  round(min(l_extendedprice), 2) AS min_price,
        |  round(max(l_extendedprice), 2) AS max_price,
        |  ((sum(round(l_extendedprice * 100)::BIGINT) * 200 + count(*))
        |    // (2 * count(*)))::DOUBLE / 10000.0 AS avg_price,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q6_rollup" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "w3_sessionize" ->
      """WITH f AS (
        |  SELECT user_id, event_id, value, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
        |g AS (
        |  SELECT *, es - lag(es) OVER (PARTITION BY user_id ORDER BY es, event_id) AS gap FROM f),
        |s AS (
        |  SELECT *, sum(CASE WHEN gap >= 1800 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY es, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM g)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  count(*) AS n_events,
        |  sum(round(value * 100)::BIGINT)::DOUBLE / 100.0 AS sum_value
        |FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin,
    "q7_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q8_pivot" ->
      """SELECT user_id,
        |  sum(CASE WHEN event_type = 'click' THEN round(value * 100)::BIGINT ELSE 0 END)::DOUBLE / 100.0 AS click,
        |  sum(CASE WHEN event_type = 'error' THEN round(value * 100)::BIGINT ELSE 0 END)::DOUBLE / 100.0 AS error,
        |  sum(CASE WHEN event_type = 'purchase' THEN round(value * 100)::BIGINT ELSE 0 END)::DOUBLE / 100.0 AS purchase,
        |  sum(CASE WHEN event_type = 'signup' THEN round(value * 100)::BIGINT ELSE 0 END)::DOUBLE / 100.0 AS signup,
        |  sum(CASE WHEN event_type = 'view' THEN round(value * 100)::BIGINT ELSE 0 END)::DOUBLE / 100.0 AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q10_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  sum(round(o_totalprice * 100)::BIGINT)::DOUBLE / 100.0 AS sum_price, count(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "set_intersect" ->
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |INTERSECT
        |SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
        |ORDER BY user_id""".stripMargin,
    "q12_corr_subquery" ->
      """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
        |  round(o_totalprice, 2) AS totalprice
        |FROM orders o
        |WHERE round(o_totalprice * 100)::BIGINT *
        |      (SELECT count(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
        |    > (SELECT sum(round(i.o_totalprice * 100)::BIGINT)
        |       FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY custkey, orderkey""".stripMargin,
    "q13_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  sum(round(o_totalprice * 100)::BIGINT)::DOUBLE / 100.0 AS sum_price, count(*) AS n
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q11_full_outer" ->
      """WITH p AS (
        |  SELECT user_id,
        |    sum(round(value * 100)::BIGINT)::DOUBLE / 100.0 AS purchase_sum FROM events
        |  WHERE event_type = 'purchase' AND value > 180.0 GROUP BY user_id),
        |s AS (
        |  SELECT user_id, count(*) AS signup_cnt FROM events
        |  WHERE event_type = 'signup' AND value > 180.0 GROUP BY user_id)
        |SELECT coalesce(p.user_id, s.user_id) AS user_id,
        |  coalesce(purchase_sum, -1.0) AS purchase_sum,
        |  coalesce(signup_cnt, -1) AS signup_cnt
        |FROM p FULL OUTER JOIN s ON p.user_id = s.user_id
        |ORDER BY user_id""".stripMargin,
    "w4_ntile" ->
      """SELECT o_orderpriority, tile, count(*) AS n,
        |  round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
        |FROM (
        |  SELECT o_orderpriority, o_totalprice,
        |    ntile(4) OVER (PARTITION BY o_orderpriority
        |                   ORDER BY o_totalprice, o_orderkey) AS tile
        |  FROM orders)
        |GROUP BY o_orderpriority, tile ORDER BY o_orderpriority, tile""".stripMargin,
    "q9_exists" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_extendedprice > 90000.0)
        |ORDER BY o_orderkey""".stripMargin,
    "q14_range_frame" ->
      """WITH f AS (
        |  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
        |    round(value * 100)::BIGINT AS cents
        |  FROM events)
        |SELECT event_id, user_id,
        |  count(*) OVER w AS n_1h,
        |  (sum(cents) OVER w)::BIGINT AS sum_1h_cents
        |FROM f
        |WINDOW w AS (PARTITION BY user_id ORDER BY es
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q15_explode" ->
      """WITH t AS (SELECT string_split(p_name, ' ') AS toks FROM part),
        |x AS (
        |  SELECT toks, unnest(generate_series(1, len(toks))) AS i FROM t)
        |SELECT toks[i] AS token, count(*) AS n,
        |  min(i - 1) AS min_pos, max(i - 1) AS max_pos
        |FROM x GROUP BY token ORDER BY token""".stripMargin,
    "q16_anti" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS totalprice FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_extendedprice > 90000.0)
        |ORDER BY o_orderkey""".stripMargin,
    "q17_window_nav" ->
      """SELECT event_id, user_id,
        |  coalesce(lag(value, 1) OVER w, -1.0) AS prev_val,
        |  coalesce(lead(value, 1) OVER w, -1.0) AS next_val,
        |  first_value(value) OVER wf AS first_val,
        |  last_value(value) OVER wf AS last_val,
        |  coalesce(nth_value(value, 3) OVER wf, -1.0) AS third_val
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id),
        |  wf AS (PARTITION BY user_id ORDER BY event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin,
    "q18_month_series" ->
      """WITH monthly AS (
        |  SELECT date_trunc('month', o_orderdate)::DATE AS month,
        |    sum(round(o_totalprice * 100)::BIGINT)::DOUBLE / 100.0 AS revenue, count(*) AS n_orders
        |  FROM orders GROUP BY month)
        |SELECT month, revenue, n_orders,
        |  CASE WHEN lag(revenue, 1) OVER (ORDER BY month) IS NULL THEN 0.0
        |       ELSE round((revenue - lag(revenue, 1) OVER (ORDER BY month))
        |                  / lag(revenue, 1) OVER (ORDER BY month) * 100, 4)
        |  END AS mom_pct
        |FROM monthly ORDER BY month""".stripMargin,
    "q19_sorted_collect" ->
      """SELECT user_id, count(*) AS n_purchases,
        |  array_to_string(list_sort(list(event_id))[1:3], ',') AS first3
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q20_cond_agg" ->
      """SELECT event_type, count(*) AS n_total,
        |  count(CASE WHEN value > 150.0 THEN 1 END) AS n_high,
        |  round(count(CASE WHEN value > 150.0 THEN 1 END)::DOUBLE / count(*), 4) AS share_high,
        |  CASE WHEN count(CASE WHEN value > 150.0 THEN 1 END) > 0 THEN
        |    ((sum(CASE WHEN value > 150.0 THEN round(value * 100)::BIGINT END) * 200
        |      + count(CASE WHEN value > 150.0 THEN 1 END))
        |     // (2 * count(CASE WHEN value > 150.0 THEN 1 END)))::DOUBLE / 10000.0
        |  END AS avg_high,
        |  max(value) > 190.0 AS has_extreme
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q21_range_join" ->
      """WITH iv AS (
        |  SELECT event_id AS win_id, CAST(floor(epoch(ts)) AS BIGINT) AS w_start,
        |         CAST(floor(epoch(ts)) AS BIGINT) + 7200 AS w_end
        |  FROM events ORDER BY value DESC, event_id LIMIT 20),
        |p AS (
        |  SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
        |    round(value * 100)::BIGINT AS cents
        |  FROM events)
        |SELECT win_id, w_start, count(*) AS n_events,
        |  (sum(cents))::BIGINT AS sum_cents
        |FROM p JOIN iv ON es >= w_start AND es < w_end
        |GROUP BY win_id, w_start ORDER BY win_id""".stripMargin,
    "q22_map_agg" ->
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS cnt FROM events
        |  GROUP BY user_id, event_type),
        |m AS (
        |  SELECT user_id,
        |    map_from_entries(list((event_type, cnt) ORDER BY event_type)) AS m
        |  FROM c GROUP BY user_id)
        |SELECT user_id, to_json(m) AS type_counts,
        |  cardinality(m) AS n_types,
        |  coalesce(m['click'][1], 0) AS clicks
        |FROM m ORDER BY user_id""".stripMargin,
    "q23_corr" ->
      """WITH xy AS (
        |  SELECT event_type, round(value * 100)::BIGINT AS x,
        |    CAST(floor(epoch(ts)) AS BIGINT) % 86400 AS y
        |  FROM events),
        |m AS (
        |  SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
        |  FROM xy GROUP BY event_type)
        |SELECT event_type, n,
        |  round((n*sxy - sx*sy)::DOUBLE / (n*(n-1))::DOUBLE, 4) AS covar,
        |  round((n*sxy - sx*sy)::DOUBLE /
        |    (sqrt((n*sxx - sx*sx)::DOUBLE) * sqrt((n*syy - sy*sy)::DOUBLE)), 6) AS corr
        |FROM m ORDER BY event_type""".stripMargin,
    "q24_null_safe" ->
      """WITH e AS (
        |  SELECT CASE WHEN event_type = 'view' THEN NULL ELSE event_type END AS k,
        |         value
        |  FROM events),
        |hi AS (SELECT k AS k_hi, count(*) AS n_hi FROM e WHERE value > 100.0 GROUP BY k),
        |lo AS (SELECT k AS k_lo, count(*) AS n_lo FROM e WHERE value <= 100.0 GROUP BY k)
        |SELECT coalesce(k_hi, k_lo, '(null)') AS k,
        |  coalesce(n_hi, 0) AS n_hi, coalesce(n_lo, 0) AS n_lo
        |FROM hi FULL OUTER JOIN lo ON k_hi IS NOT DISTINCT FROM k_lo
        |ORDER BY k""".stripMargin,
    "q25_array_ops" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(string_split_regex(text, '\s+')) AS toks,
        |    ['data','fast','query','slow','table'] AS vocab
        |  FROM documents)
        |SELECT doc_id,
        |  len(toks) AS n_distinct,
        |  len(list_intersect(toks, vocab)) AS n_in_vocab,
        |  len(list_filter(toks, x -> NOT list_contains(vocab, x))) AS n_out_vocab,
        |  len(list_distinct(list_concat(toks, vocab))) AS n_union,
        |  coalesce(array_to_string(list_sort(list_intersect(toks, vocab)), ','), '') AS vocab_hits,
        |  len(flatten([toks, vocab])) AS n_flat
        |FROM t ORDER BY doc_id""".stripMargin,
    "q26_rank_dist" ->
      """SELECT o_orderkey, o_orderpriority,
        |  rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk,
        |  percent_rank() OVER w AS prnk,
        |  cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderstatus)
        |ORDER BY o_orderkey""".stripMargin,
    "q27_datetime" ->
      """SELECT event_id,
        |  date_trunc('week', ts)::DATE AS week_start,
        |  year(ts)::INT AS y, month(ts)::INT AS m, day(ts)::INT AS d,
        |  hour(ts)::INT AS h,
        |  ((CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 3) % 7 + 1) AS iso_dow,
        |  datediff('day', ts::DATE, DATE '2025-01-01') AS days_to_2025,
        |  last_day(ts::DATE) AS month_end
        |FROM events ORDER BY event_id""".stripMargin,
    "asof_signup" -> (anonCte +
      """SELECT e.id, e.user_id, s.id AS signup_id
        |FROM extracted e ASOF LEFT JOIN
        |  (SELECT id, ts, user_id FROM extracted WHERE event_type = 'signup') s
        |  ON e.user_id = s.user_id AND e.ts >= s.ts
        |ORDER BY e.id""".stripMargin),
    "q28_regr" ->
      """WITH xy AS (
        |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) % 86400 AS x,
        |    round(value * 100)::BIGINT AS y
        |  FROM events),
        |m AS (
        |  SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
        |  FROM xy GROUP BY event_type),
        |c AS (
        |  SELECT event_type, n,
        |    (n*sxy - sx*sy)::DOUBLE AS num, (n*sxx - sx*sx)::DOUBLE AS den,
        |    (n*syy - sy*sy)::DOUBLE AS deny, (sy*sxx - sx*sxy)::DOUBLE AS inum
        |  FROM m)
        |SELECT event_type, n,
        |  round(num / den, 8) AS slope,
        |  round(inum / den, 4) AS intercept,
        |  round((num / (sqrt(den)*sqrt(deny))) * (num / (sqrt(den)*sqrt(deny))), 6) AS r2
        |FROM c ORDER BY event_type""".stripMargin,
    "q29_mode" ->
      """WITH cnt AS (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderstatus
        |    ORDER BY cnt DESC, o_orderpriority ASC) AS rn FROM cnt)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt::BIGINT AS cnt
        |FROM r WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin,
    "q30_cum_distinct" ->
      """WITH e AS (
        |  SELECT event_type, user_id, ts, event_id, ts::DATE AS day FROM events),
        |f AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type, user_id
        |    ORDER BY ts ASC, event_id ASC) AS rn FROM e),
        |d AS (
        |  SELECT event_type, day, count(*) AS new_users FROM f WHERE rn = 1
        |  GROUP BY 1, 2)
        |SELECT event_type, day, new_users,
        |  sum(new_users) OVER (PARTITION BY event_type ORDER BY day ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_users
        |FROM d ORDER BY event_type, day""".stripMargin,
    "q31_variant" ->
      """SELECT event_type, count(k) AS n, sum(k)::BIGINT AS sum_k,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q32_lateral" ->
      """SELECT c.c_custkey, t.o_orderkey, t.totalprice
        |FROM customer c JOIN LATERAL (
        |  SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
        |  FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey
        |  LIMIT 2) t ON true
        |ORDER BY c_custkey, totalprice DESC, o_orderkey""".stripMargin,
    "q33_gapfill" ->
      """WITH e AS (SELECT event_type, ts::DATE AS day FROM events),
        |daily AS (SELECT event_type, day, count(*) AS n FROM e GROUP BY 1, 2),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
        |days AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM b),
        |grid AS (
        |  SELECT event_type, day FROM (SELECT DISTINCT event_type FROM e)
        |  CROSS JOIN days)
        |SELECT g.event_type, g.day, coalesce(n, 0)::BIGINT AS n,
        |  sum(coalesce(n, 0)) OVER (PARTITION BY g.event_type ORDER BY g.day ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_n
        |FROM grid g LEFT JOIN daily USING (event_type, day)
        |ORDER BY event_type, day""".stripMargin,
    "q34_interval_merge" ->
      """WITH iv AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS e
        |  FROM events),
        |m AS (
        |  SELECT user_id, s, e,
        |    CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s ASC, e ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR s > max(e) OVER (PARTITION BY user_id ORDER BY s ASC, e ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS new_island
        |  FROM iv),
        |g AS (
        |  SELECT user_id, s, e,
        |    sum(new_island) OVER (PARTITION BY user_id ORDER BY s ASC, e ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM m)
        |SELECT user_id, min(s) AS span_start, max(e) AS span_end,
        |  count(*) AS n_events
        |FROM g GROUP BY user_id, island
        |ORDER BY user_id, span_start""".stripMargin,
    "q35_unpivot" ->
      """WITH u AS (
        |  SELECT o_orderkey, 'total_cents' AS metric,
        |    round(o_totalprice * 100)::BIGINT AS v FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'custkey' AS metric,
        |    o_custkey::BIGINT AS v FROM orders)
        |SELECT metric, count(*) AS n, sum(v)::BIGINT AS sum_v,
        |  min(v) AS min_v, max(v) AS max_v
        |FROM u GROUP BY metric ORDER BY metric""".stripMargin,
    "q36_try" -> (anonCte +
      """SELECT event_type, count(*) AS n,
        |  count(q) AS n_safe,
        |  sum(round(q)::BIGINT)::BIGINT AS sum_q_cents,
        |  count(TRY_CAST(event_type AS BIGINT)) AS n_numeric
        |FROM (
        |  SELECT event_type,
        |    (value * 100) / nullif((k % 3)::DOUBLE, 0.0) AS q
        |  FROM extracted)
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    "q37_scd2" ->
      """WITH e AS (
        |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id
        |  FROM events),
        |c AS (
        |  SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev_type
        |  FROM e),
        |ch AS (SELECT * FROM c WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS version,
        |  event_type, ts_s AS valid_from_s,
        |  lead(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS valid_to_s
        |FROM ch ORDER BY user_id, version""".stripMargin,
    "q38_retention" ->
      """WITH w AS (
        |  SELECT DISTINCT user_id,
        |    (CAST(floor(epoch(ts)) AS BIGINT) // 86400) // 7 AS week
        |  FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY 1),
        |s AS (SELECT cohort_week, count(*)::BIGINT AS cohort_n FROM c GROUP BY 1),
        |r AS (
        |  SELECT c.cohort_week, w.week - c.cohort_week AS week_offset,
        |    count(DISTINCT w.user_id)::BIGINT AS n_active
        |  FROM w JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT cohort_week, week_offset, n_active, cohort_n,
        |  round(n_active::DOUBLE / cohort_n, 4) AS retention
        |FROM r JOIN s USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,
    "q39_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |t1 AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (
        |  SELECT e.user_id, min(e.us) AS t2, min(t1.t1) AS t1b
        |  FROM e JOIN t1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.us > t1.t1 AND e.us <= t1.t1 + 604800000000
        |  GROUP BY 1),
        |t3 AS (
        |  SELECT e.user_id, min(e.us) AS t3
        |  FROM e JOIN t2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.us > t2.t2 AND e.us <= t2.t1b + 604800000000
        |  GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT level, count(*)::BIGINT AS n_users FROM (
        |  SELECT CASE WHEN t3.t3 IS NOT NULL THEN 3
        |              WHEN t2.t2 IS NOT NULL THEN 2
        |              WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END::BIGINT AS level
        |  FROM u LEFT JOIN t1 ON u.user_id = t1.user_id
        |         LEFT JOIN t2 ON u.user_id = t2.user_id
        |         LEFT JOIN t3 ON u.user_id = t3.user_id)
        |GROUP BY level ORDER BY level""".stripMargin,
    "q40_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |nx AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS to_type
        |  FROM e),
        |c AS (SELECT from_type, to_type, count(*)::BIGINT AS n FROM nx
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, sum(n)::BIGINT AS total FROM c GROUP BY 1)
        |SELECT from_type, to_type, n, round(n::DOUBLE / total, 4) AS p
        |FROM c JOIN t USING (from_type) ORDER BY from_type, to_type""".stripMargin,
    "q41_twa" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS cents,
        |    epoch_us(ts) AS us
        |  FROM events),
        |d AS (
        |  SELECT user_id, cents,
        |    (lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us) // 1000 AS dt_ms
        |  FROM e)
        |SELECT user_id, count(*)::BIGINT AS n, sum(dt_ms)::BIGINT AS sum_dt_ms,
        |  round((sum(cents * dt_ms)::DOUBLE / sum(dt_ms)) / 100.0, 4) AS twa
        |FROM d WHERE dt_ms IS NOT NULL AND dt_ms > 0
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q42_dau" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events),
        |dau AS (SELECT day, count(*)::BIGINT AS dau FROM days GROUP BY 1),
        |wau AS (
        |  SELECT day, count(DISTINCT user_id)::BIGINT AS wau
        |  FROM (SELECT user_id, unnest(generate_series(day, day + 6)) AS day FROM days)
        |  GROUP BY 1)
        |SELECT day, dau, wau, round(dau::DOUBLE / wau, 4) AS stickiness
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,
    "agg_approx_pct" ->
      """SELECT l_returnflag,
        |  floor(quantile_cont(round(l_extendedprice * 100)::BIGINT, 0.5) + 0.5)
        |    / 100.0::DOUBLE AS p50_exact,
        |  TRUE AS p50_within_tol
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "asof_native" -> (anonCte +
      """SELECT e.id, e.user_id, s.id AS signup_id
        |FROM extracted e ASOF LEFT JOIN
        |  (SELECT id, ts, user_id FROM extracted WHERE event_type = 'signup') s
        |  ON e.user_id = s.user_id AND e.ts >= s.ts
        |ORDER BY e.id""".stripMargin),
  ) ++ graft.queries.AnalyticsOracles.all
}
