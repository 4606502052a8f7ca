package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Relational operator coverage (joins / aggregations / windows / set ops /
  * top-k) over the TPC-H-ish star schema.
  *
  * The reference pipeline itself contains no relational query surface beyond
  * a COUNT (SURVEY §2 O3) and an argmax dimension load (O12) — everything
  * here is Catalyst-native capability we expose deliberately (SURVEY §2.1).
  *
  * Scale notes (100 TB design stance):
  *   - Aggregations use map-side partial aggregation automatically
  *     (HashAggregate partial → shuffle on group keys → final).
  *   - Joins against the small dimensions (region/nation/customer at dim
  *     scale) are broadcast explicitly, so the big fact tables (lineitem,
  *     orders) never shuffle for those joins.
  *   - Top-k is expressed as orderBy+limit, which Spark executes as
  *     TakeOrderedAndProject — per-partition partial top-k then a driver
  *     merge of k·numPartitions rows, never a global sort of the fact table.
  *   - All double-valued aggregates are rounded at the output boundary only
  *     (determinism for the oracle compare); internal math stays on raw
  *     doubles inside whole-stage codegen.
  */
object Relational {

  /** TPC-H Q1-like pricing summary: scan-heavy multi-aggregate.
    * Exercises: predicate pushdown to parquet, partial aggregation,
    * multi-expression HashAggregate inside one WholeStageCodegen span.
    *
    * Money arithmetic is EXACT-INTEGER (cents / e4 / e6 micro-units summed
    * as int64, HALF_UP-divided back at the output boundary): a corpus-sized
    * group's `round(sum(double), 2)` depends on partial-aggregation
    * accumulation ORDER, which differs between engines — and between two
    * Spark runs — once the group is large enough (the sf1 verify caught
    * exactly this on q5's 600k-row groups: a one-cent flip). The input
    * columns are 2-decimal-valued by data contract, so the integer lift is
    * lossless. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qc = round($"l_quantity").cast("long")                 // integer qty
    val pc = round($"l_extendedprice" * 100).cast("long")      // cents
    val dp = round($"l_discount" * 100).cast("long")           // discount pct
    val tp = round($"l_tax" * 100).cast("long")                // tax pct
    Tables(spark, dir).lineitem
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(qc).as("sq"), sum(pc).as("sp"),
        sum(pc * (lit(100L) - dp)).as("sd"),                   // e4 units
        sum(pc * (lit(100L) - dp) * (lit(100L) + tp)).as("sc"), // e6 units
        sum(dp).as("sdp"), count(lit(1)).as("n"))
      .select($"l_returnflag", $"l_linestatus",
        $"sq".cast("double").as("sum_qty"),
        ($"sp".cast("double") / 100.0).as("sum_base_price"),
        (expr("(sd + 50) div 100").cast("double") / 100.0).as("sum_disc_price"),
        (expr("(sc + 5000) div 10000").cast("double") / 100.0).as("sum_charge"),
        // HALF_UP rational rounding: floor(p·10⁴/q + ½) = (2p·10⁴ + q) div 2q
        (expr("(sq * 20000 + n) div (2 * n)").cast("double") / 10000.0).as("avg_qty"),
        (expr("(sdp * 200 + n) div (2 * n)").cast("double") / 10000.0).as("avg_disc"),
        $"n".as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** TPC-H Q3-like shipping-priority top-k.
    * customer is the small side → broadcast; orders⋈lineitem shuffles on
    * orderkey (the natural co-partitioning key at scale); final top-10 is
    * TakeOrderedAndProject, not a global sort. */
  def q3TopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val cust = t.customer.filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val ord = t.orders.filter($"o_orderdate" < lit("2024-06-01").cast("timestamp"))
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
    val li = t.lineitem.select($"l_orderkey", $"l_extendedprice", $"l_discount")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy($"l_orderkey", to_date($"o_orderdate").as("orderdate"))
      // exact e4-unit integer sum -> HALF_UP cents (see q1Agg's money note)
      .agg(sum(round($"l_extendedprice" * 100).cast("long") *
        (lit(100L) - round($"l_discount" * 100).cast("long"))).as("rev_e4"))
      .withColumn("revenue", expr("(rev_e4 + 50) div 100").cast("double") / 100.0)
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
      .select($"l_orderkey".as("orderkey"), $"orderdate", $"revenue")
  }

  /** TPC-H Q5-like local-supplier volume: 5-way join + aggregate.
    * region/nation/supplier/customer are dimensions → broadcast chain keeps
    * lineitem (the 100 TB fact) shuffle-free until the final group-by. */
  def q5MultiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val nr = t.nation.join(broadcast(t.region), $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    val li = t.lineitem.select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
    li.join(t.orders.select($"o_orderkey", $"o_custkey"), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(t.supplier.select($"s_suppkey", $"s_nationkey")), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(t.customer.select($"c_custkey", $"c_nationkey")), $"o_custkey" === $"c_custkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(nr), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      // exact e4-unit integer sum -> HALF_UP cents (see q1Agg's money note;
      // the sf1 verify caught the double-sum form flipping a cent here)
      .agg(sum(round($"l_extendedprice" * 100).cast("long") *
        (lit(100L) - round($"l_discount" * 100).cast("long"))).as("rev_e4"))
      .withColumn("revenue", expr("(rev_e4 + 50) div 100").cast("double") / 100.0)
      .drop("rev_e4")
      .orderBy($"revenue".desc, $"n_name")
  }

  /** Window top-N per group: top-3 orders by totalprice per market segment.
    * Window shuffles once on the partition key; rank predicate prunes early. */
  def w1TopNPerGroup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val w = Window.partitionBy($"c_mktsegment").orderBy($"o_totalprice".desc, $"o_orderkey")
    t.orders.join(broadcast(t.customer.select($"c_custkey", $"c_mktsegment")), $"o_custkey" === $"c_custkey")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"c_mktsegment".as("mktsegment"), $"rn", $"o_orderkey".as("orderkey"),
        round($"o_totalprice", 2).as("totalprice"))
      .orderBy($"mktsegment", $"rn")
  }

  /** Running (cumulative) per-key window aggregate over the event stream.
    * One shuffle on user_id; in-partition sort; incremental frame evaluation. */
  def w2RunningSum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir).events
      // exact-int cents through the running frame (q1Agg's money note —
      // Spark accumulates the frame sequentially while DuckDB's segment
      // tree associates differently; integer cents make order irrelevant)
      .withColumn("running_value",
        sum(round($"value" * 100).cast("long")).over(w).cast("double") / 100.0)
      .select($"event_id", $"user_id", $"running_value")
      .orderBy($"event_id")
  }

  /** Set operations: purchasers minus high-value clickers (EXCEPT ≡
    * left_anti after distinct). Distinct = partial-agg'd shuffle. */
  def setExcept(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).events
    val purchasers = ev.filter($"event_type" === "purchase").select($"user_id").distinct()
    val bigClickers = ev.filter($"event_type" === "click" && $"value" > 150.0).select($"user_id").distinct()
    purchasers.except(bigClickers).orderBy($"user_id")
  }

  /** FULL OUTER join of two sparse per-user aggregates (high-value
    * purchasers ⟗ high-value signups): both null sides exercised, sentinel
    * coalesce keeps the output null-free for exact hashing. Plans as one
    * sort-merge/shuffled-hash full-outer on user_id — neither side is
    * assumed broadcastable. */
  def q11FullOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).events
    val p = ev.filter($"event_type" === "purchase" && $"value" > 180.0)
      // exact-int cents sum (q1Agg's money note: unordered partial-agg
      // merges of raw doubles can flip round(.,2) by one cent — r16 sweep)
      .groupBy($"user_id")
      .agg((sum(round($"value" * 100).cast("long")).cast("double") / 100.0)
        .as("purchase_sum"))
    val s = ev.filter($"event_type" === "signup" && $"value" > 180.0)
      .groupBy($"user_id").agg(count(lit(1)).as("signup_cnt"))
    p.join(s, Seq("user_id"), "full_outer")
      .select($"user_id",
        coalesce($"purchase_sum", lit(-1.0)).as("purchase_sum"),
        coalesce($"signup_cnt", lit(-1L)).as("signup_cnt"))
      .orderBy($"user_id")
  }

  /** NTILE quartiles per group: orders bucketed into totalprice quartiles
    * within each priority; per-tile count + bounds. The ordering includes
    * the key so tile assignment is total (deterministic under ties). */
  def w4Ntile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice", $"o_orderkey")
    Tables(spark, dir).orders
      .withColumn("tile", ntile(4).over(w))
      .groupBy($"o_orderpriority", $"tile")
      .agg(count(lit(1)).as("n"),
        round(min($"o_totalprice"), 2).as("lo"),
        round(max($"o_totalprice"), 2).as("hi"))
      .orderBy($"o_orderpriority", $"tile")
  }

  /** Correlated scalar subquery — orders above their own customer's average
    * — through the `spark.sql` surface (the rest of the suite is DataFrame
    * API; this proves the SQL entry path end-to-end). Catalyst decorrelates
    * to an aggregate + join: no per-row re-execution. */
  def q12CorrSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).orders.createOrReplaceTempView("orders_v")
    // "price above the customer's average" as the exact integer
    // cross-multiplication price_cents·n > Σcents: `> avg(double)` puts a
    // boundary row's fate at the mercy of accumulation order (q1Agg's
    // money note — the comparison-predicate form of the same class)
    spark.sql(
      """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
        |  round(o_totalprice, 2) AS totalprice
        |FROM orders_v o
        |WHERE CAST(round(o_totalprice * 100) AS BIGINT) *
        |      (SELECT count(*) FROM orders_v i WHERE i.o_custkey = o.o_custkey)
        |    > (SELECT sum(CAST(round(i.o_totalprice * 100) AS BIGINT))
        |       FROM orders_v i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY custkey, orderkey""".stripMargin)
  }

  /** GROUPING SETS beyond rollup/cube: the two single-dimension marginals
    * only (no grand total, no cross product) — one Expand + one agg pass. */
  def q13GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).orders
      .groupingSets(Seq(Seq($"o_orderstatus"), Seq($"o_orderpriority")),
        $"o_orderstatus", $"o_orderpriority")
      // exact-int cents sum (q1Agg's money note: corpus-sized groups)
      .agg((sum(round($"o_totalprice" * 100).cast("long")).cast("double") / 100.0)
        .as("sum_price"), count(lit(1)).as("n"))
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  /** ROLLUP hierarchy aggregate (subtotals per returnflag + grand total) —
    * Catalyst's Expand operator feeds one partial-agg pass; no extra scans. */
  def q6Rollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).lineitem
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(round(sum($"l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  /** CUBE over two dimensions: all four grouping combinations in one
    * Expand + single aggregation pass. */
  def q10Cube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).orders
      .cube($"o_orderstatus", $"o_orderpriority")
      // exact-int cents sum (q1Agg's money note: corpus-sized groups)
      .agg((sum(round($"o_totalprice" * 100).cast("long")).cast("double") / 100.0)
        .as("sum_price"), count(lit(1)).as("n"))
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  /** Set intersection: users who both purchased and signed up. */
  def setIntersect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).events
    ev.filter($"event_type" === "purchase").select($"user_id").distinct()
      .intersect(ev.filter($"event_type" === "signup").select($"user_id").distinct())
      .orderBy($"user_id")
  }

  /** As-of join: attach the signup event that was current (latest at or
    * before the event's timestamp) for the same user. See
    * [[graft.operators.AsofJoin]] — one shuffle on user_id. */
  def asofSignup(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.EventStatements
    val ev = EventStatements.extracted(Tables(spark, dir).events)
    val left = ev.select(col("id"), col("ts"), col("user_id"))
    val right = ev.filter(col("event_type") === "signup")
      .select(col("id"), col("ts"), col("user_id"))
    graft.operators.AsofJoin
      .asofJoinLast(left, right, Seq("user_id"), "ts", "ts", Seq("id"), "id")
      .select(col("id"), col("user_id"), col("asof_id").as("signup_id"))
      .orderBy(col("id"))
  }

  /** Same as [[asofSignup]] but through the NATIVE whole-plan operator
    * ([[graft.plans.AsofJoinNative]]: LogicalPlan + Strategy + merge exec)
    * instead of the union-window composition — both must hash-match the
    * same DuckDB `ASOF LEFT JOIN` oracle. The native plan is the leaner
    * shape at 100 TB: co-partitioned disk-backed sorts per side, then a
    * single forward merge pass with O(1) state per partition (no unioned
    * schema padding, no window frame materialization). */
  def asofSignupNative(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.EventStatements
    val ev = EventStatements.extracted(Tables(spark, dir).events)
    val left = ev.select(col("id"), col("ts"), col("user_id"))
    val right = ev.filter(col("event_type") === "signup")
      .select(col("id"), col("ts"), col("user_id"))
    graft.plans.AsofJoinNative
      .join(left, right, Seq("user_id"), "ts", "ts", "id")
      .select(col("id"), col("user_id"), col("asof_id").as("signup_id"))
      .orderBy(col("id"))
  }

  /** Multi-aggregate statistics incl. an exact distinct count. At 100 TB,
    * countDistinct is the shuffle-expensive aggregate (expand + 2-phase
    * agg); the HLL++ scale path is exercised by [[aggApprox]] (rows-only
    * check — sketch values are engine-specific and cannot hash-match an
    * oracle). */
  def aggStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).lineitem
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_orderkey").as("n_orders"),
        round(min($"l_extendedprice"), 2).as("min_price"),
        round(max($"l_extendedprice"), 2).as("max_price"),
        // exact-int cents avg (q1Agg's money note: corpus-sized groups)
        sum(round($"l_extendedprice" * 100).cast("long")).as("sc"),
        count(lit(1)).as("n_rows"))
      .withColumn("avg_price",
        expr("(sc * 200 + n_rows) div (2 * n_rows)").cast("double") / 10000.0)
      .select($"l_returnflag", $"n_orders", $"min_price", $"max_price",
        $"avg_price", $"n_rows")
      .orderBy($"l_returnflag")
  }

  /** Batch sessionization: classic gap-based session assignment — a gap of
    * ≥30 min starts a new session. Two windows over ONE shuffle on user_id
    * (lag + running sum share the partitioning); epoch math on floored
    * seconds so the oracle's arithmetic is identical. */
  def w3Sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"es", $"event_id")
    Tables(spark, dir).events
      .withColumn("es", col("ts").cast("long"))
      .withColumn("gap", $"es" - lag($"es", 1).over(w))
      .withColumn("new_s", when($"gap" >= 1800, 1).otherwise(0))
      .withColumn("session_idx",
        sum($"new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_idx")
      // exact-int cents sum (q1Agg's money note: session-sized groups)
      .agg(count(lit(1)).as("n_events"),
        (sum(round($"value" * 100).cast("long")).cast("double") / 100.0).as("sum_value"))
      .orderBy($"user_id", $"session_idx")
  }

  /** Exact interpolated percentiles per group (≡ DuckDB `quantile_cont`),
    * via the scale-gated [[graft.operators.Percentiles]] entry point: below
    * the row limit it computes exact through a disk-backed window sort (no
    * aggregation buffer holding N/groups values in one task — the old
    * `percentile(...)` shape); above it, the mergeable approx sketch. The
    * oracle exercises the exact path. */
  def q7Percentile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ps = Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)
    graft.operators.Percentiles
      .perGroup(Tables(spark, dir).lineitem, "l_returnflag", "l_extendedprice", ps)
      .select($"l_returnflag",
        round($"p50", 4).as("p50"), round($"p90", 4).as("p90"), round($"p99", 4).as("p99"))
      .orderBy($"l_returnflag")
  }

  /** Pivot (wide aggregation): per-user value totals by event type. The
    * explicit value list keeps the plan a single pass (no distinct-values
    * pre-query); nulls→0 so the contract matches conditional-sum SQL. */
  def q8Pivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pivoted = Tables(spark, dir).events
      .groupBy($"user_id")
      .pivot("event_type", types)
      // exact-int cents sum (q1Agg's money note; hot users can be large)
      .agg((sum(round($"value" * 100).cast("long")).cast("double") / 100.0))
    pivoted.select($"user_id" +: types.map(t => coalesce(col(t), lit(0.0)).as(t)): _*)
      .orderBy($"user_id")
  }

  /** EXISTS / semi-join: orders containing at least one high-value line.
    * Catalyst plans the distinct+semi-join as one broadcast/shuffled hash
    * semi join — the fact side is scanned once. */
  def q9Exists(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val bigLines = t.lineitem.filter($"l_extendedprice" > 90000.0).select($"l_orderkey")
    t.orders.join(bigLines, $"o_orderkey" === $"l_orderkey", "left_semi")
      .select($"o_orderkey", round($"o_totalprice", 2).as("totalprice"))
      .orderBy($"o_orderkey")
  }

  /** Time-RANGE window frame: per event, the count and cent-exact sum of
    * the same user's events in the trailing hour (frame bounds by VALUE,
    * not row offsets — the moving-aggregate shape row frames can't
    * express). One shuffle on user_id. Values aggregate as integer cents:
    * a float sum over a value-bounded frame would depend on peer order
    * (equal-timestamp rows), which neither engine defines. */
  def q14RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"es").rangeBetween(-3600L, 0L)
    Tables(spark, dir).events
      .withColumn("es", col("ts").cast("long"))
      .withColumn("cents", round($"value" * 100).cast("long"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h_cents", sum($"cents").over(w))
      .select($"event_id", $"user_id", $"n_1h", $"sum_1h_cents")
      .orderBy($"event_id")
  }

  /** Lateral explode with position (posexplode ≡ UNNEST WITH ORDINALITY):
    * token/position inventory over part names. Narrow fan-out then a
    * token-keyed aggregate — the explode itself never shuffles. */
  def q15Explode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).part
      .select(posexplode(split($"p_name", " ")).as(Seq("pos", "token")))
      .groupBy($"token")
      .agg(count(lit(1)).as("n"), min($"pos").as("min_pos"), max($"pos").as("max_pos"))
      .orderBy($"token")
  }

  /** NOT EXISTS / anti join: orders with NO high-value line — the exact
    * complement of [[q9Exists]]'s semi join (non-vacuous at every SF by
    * construction: q9 ∪ q16 = orders). Plans as one left-anti hash join on
    * orderkey; no distinct pre-aggregate needed on the right side. */
  def q16Anti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val bigLines = t.lineitem.filter($"l_extendedprice" > 90000.0).select($"l_orderkey")
    t.orders.join(bigLines, $"o_orderkey" === $"l_orderkey", "left_anti")
      .select($"o_orderkey", round($"o_totalprice", 2).as("totalprice"))
      .orderBy($"o_orderkey")
  }

  /** Window navigation functions — lag/lead/first/last/nth over one
    * user-keyed window (value COPIES, not arithmetic, so doubles hash
    * exactly with no rounding contract). last/nth use the full-partition
    * frame; all five share a single shuffle + sort. */
  def q17WindowNav(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(spark, dir).events
      .select($"event_id", $"user_id",
        coalesce(lag($"value", 1).over(w), lit(-1.0)).as("prev_val"),
        coalesce(lead($"value", 1).over(w), lit(-1.0)).as("next_val"),
        first($"value").over(wFull).as("first_val"),
        last($"value").over(wFull).as("last_val"),
        coalesce(nth_value($"value", 3).over(wFull), lit(-1.0)).as("third_val"))
      .orderBy($"event_id")
  }

  /** Time-series rollup: monthly order revenue with month-over-month delta.
    * date_trunc buckets at the scan (pushdown-friendly), the month table is
    * tiny, and the MoM window runs over that tiny frame — the fact table is
    * aggregated exactly once. The pct change divides already-rounded sums,
    * so both engines divide identical doubles. */
  def q18MonthSeries(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val monthly = Tables(spark, dir).orders
      .groupBy(to_date(date_trunc("month", $"o_orderdate")).as("month"))
      // exact-int cents sum (q1Agg's money note: month-sized groups)
      .agg((sum(round($"o_totalprice" * 100).cast("long")).cast("double") / 100.0)
        .as("revenue"), count(lit(1)).as("n_orders"))
    val w = Window.orderBy($"month")
    monthly
      .withColumn("prev", lag($"revenue", 1).over(w))
      .withColumn("mom_pct",
        when($"prev".isNull, lit(0.0))
          .otherwise(round(($"revenue" - $"prev") / $"prev" * 100, 4)))
      .select($"month", $"revenue", $"n_orders", $"mom_pct")
      .orderBy($"month")
  }

  /** Ordered collect: per purchasing user, purchase count and the three
    * earliest purchase event ids as a joined string. collect_list is
    * unordered by contract — sort_array AFTER collecting is what makes the
    * result deterministic (never rely on arrival order); string-joined
    * integers sidestep cross-engine array formatting. */
  def q19SortedCollect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).events
      .filter($"event_type" === "purchase")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_purchases"),
        concat_ws(",",
          slice(sort_array(collect_list($"event_id")), 1, 3)).as("first3"))
      .orderBy($"user_id")
  }

  /** Conditional aggregation: per event type, the high-value share and an
    * extremum flag — one scan, one tiny aggregate; the share divides two
    * exact counts. */
  def q20CondAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).events
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_total"),
        count(when($"value" > 150.0, 1)).as("n_high"),
        // exact-int cents avg (q1Agg's money note: corpus-sized groups)
        sum(when($"value" > 150.0, round($"value" * 100).cast("long"))).as("shc"),
        (max($"value") > 190.0).as("has_extreme"))
      .withColumn("avg_high", when($"n_high" > 0,
        expr("(shc * 200 + n_high) div (2 * n_high)").cast("double") / 10000.0))
      .withColumn("share_high", round($"n_high".cast("double") / $"n_total", 4))
      .select($"event_type", $"n_total", $"n_high", $"share_high", $"avg_high", $"has_extreme")
      .orderBy($"event_type")
  }

  /** Point-in-interval RANGE JOIN via [[graft.operators.RangeJoin]]: events
    * falling inside the 2-hour windows opened by the top-20 highest-value
    * events. The naive inequality join plans BroadcastNestedLoopJoin; the
    * bucketed form is a hash equi-join on hour buckets with the exact
    * containment as a residual filter (result-equality + plan shape proven
    * in PlanShapeSpec). Cent-exact sums, same contract as q14. */
  def q21RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    // intervals: the 2-hour windows opened by the top-20 highest-value
    // events (non-vacuous by construction — each anchor contains itself)
    val iv = t.events.orderBy($"value".desc, $"event_id").limit(20)
      .select($"event_id".as("win_id"), col("ts").cast("long").as("w_start"))
      .withColumn("w_end", $"w_start" + lit(7200L))
    val pts = t.events.select($"event_id", col("ts").cast("long").as("es"),
      round($"value" * 100).cast("long").as("cents"))
    graft.operators.RangeJoin
      .pointInInterval(pts, "es", iv, "w_start", "w_end", bucketSec = 3600L)
      .groupBy($"win_id", $"w_start")
      .agg(count(lit(1)).as("n_events"), sum($"cents").as("sum_cents"))
      .orderBy($"win_id")
  }

  /** MapType aggregation: per-user event-type→count map, serialized to
    * JSON. Map entries are SORTED before construction (`array_sort` on the
    * entry structs) — map iteration order is otherwise undefined, and
    * to_json would leak it; element lookup + cardinality exercise the map
    * accessor surface. Same two-level aggregate shape as q8_pivot with a
    * dynamic (data-driven) column space instead of a fixed one. */
  def q22MapAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).events
      .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("cnt"))
      .groupBy($"user_id")
      .agg(map_from_entries(array_sort(collect_list(struct($"event_type", $"cnt")))).as("m"))
      .select($"user_id",
        to_json($"m").as("type_counts"),
        size($"m").as("n_types"),
        coalesce(element_at($"m", "click"), lit(0L)).as("clicks"))
      .orderBy($"user_id")
  }

  /** Correlation / covariance per group, computed from EXACT integer
    * moment sums (value in cents × seconds-of-day, both bounded so every
    * Σx, Σy, Σxy, Σx², Σy² and n·Σ stays below 2^63) with one fixed IEEE
    * formula at the end. Built-in `corr`/`covar_samp` accumulate floating
    * co-moments whose merge order varies run-to-run and engine-to-engine;
    * the integer-moment form is a single map-side-combinable aggregate
    * with a deterministic result. */
  def q23Corr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val withXY = Tables(spark, dir).events
      .select($"event_type",
        round($"value" * 100).cast("long").as("x"),
        (col("ts").cast("long") % 86400L).as("y"))
    val m = withXY.groupBy($"event_type").agg(
      count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
      sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
      sum($"x" * $"y").as("sxy"))
    // products in decimal(38,0): n·Σyy at big group sizes overflows int64;
    // decimal stays exact (DuckDB's HUGEINT sums match), and the final
    // exact-integer→double conversions round identically in both engines
    def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val num = (d($"n") * d($"sxy") - d($"sx") * d($"sy")).cast("double")
    m.select($"event_type", $"n",
        round(num / (d($"n") * (d($"n") - 1)).cast("double"), 4).as("covar"),
        round(num /
          (sqrt((d($"n") * d($"sxx") - d($"sx") * d($"sx")).cast("double")) *
            sqrt((d($"n") * d($"syy") - d($"sy") * d($"sy")).cast("double"))), 6).as("corr"))
      .orderBy($"event_type")
  }

  /** Null-safe equality (`<=>` / IS NOT DISTINCT FROM): two sparse
    * aggregates over a NULLABLE key (event_type nulled for 'view') joined
    * full-outer with null-safe matching, so the NULL groups MEET instead of
    * producing two dangling rows — the semantics a plain `=` join silently
    * gets wrong. Sentinel-coalesced output for exact hashing. */
  def q24NullSafe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).events
      .withColumn("k", when($"event_type" === "view", lit(null)).otherwise($"event_type"))
    val hi = ev.filter($"value" > 100.0).groupBy($"k".as("k_hi"))
      .agg(count(lit(1)).as("n_hi"))
    val lo = ev.filter($"value" <= 100.0).groupBy($"k".as("k_lo"))
      .agg(count(lit(1)).as("n_lo"))
    hi.join(lo, $"k_hi" <=> $"k_lo", "full_outer")
      .select(coalesce($"k_hi", $"k_lo", lit("(null)")).as("k"),
        coalesce($"n_hi", lit(0L)).as("n_hi"),
        coalesce($"n_lo", lit(0L)).as("n_lo"))
      .orderBy($"k")
  }

  /** Array-function surface in one narrow pass: per document, set algebra
    * between the doc's distinct tokens and a constant vocabulary
    * (intersect/except/union), plus flatten and a sorted projection —
    * integer/string outputs only, deterministic by sorting before any
    * serialization. */
  def q25ArrayOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vocab = array(Seq("data", "fast", "query", "slow", "table").map(lit): _*)
    // split+distinct materialized once (r17): six references in one
    // projection would instantiate the split/dedup chain six times per
    // row; the referenced-many non-cheap alias survives CollapseProject
    val toks = col("__toks")
    Tables(spark, dir).documents
      .select($"doc_id", array_distinct(split($"text", "\\s+")).as("__toks"))
      .select($"doc_id",
        size(toks).as("n_distinct"),
        size(array_intersect(toks, vocab)).as("n_in_vocab"),
        size(array_except(toks, vocab)).as("n_out_vocab"),
        size(array_union(toks, vocab)).as("n_union"),
        concat_ws(",", array_sort(array_intersect(toks, vocab))).as("vocab_hits"),
        size(flatten(array(toks, vocab))).as("n_flat"))
      .orderBy($"doc_id")
  }

  /** Rank-family completion: rank / dense_rank / percent_rank / cume_dist
    * over one shared window. percent_rank = (rank−1)/(n−1) and cume_dist =
    * peers≤/n are exact small-integer ratios — deterministic doubles with
    * no rounding contract needed. Ties are real (value duplicates exist),
    * so rank vs dense_rank genuinely diverge. */
  def q26RankDist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority").orderBy($"o_orderstatus")
    Tables(spark, dir).orders
      .select($"o_orderkey", $"o_orderpriority",
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        percent_rank().over(w).as("prnk"),
        cume_dist().over(w).as("cume"))
      .orderBy($"o_orderkey")
  }

  /** Datetime-function family over the event stream: truncation, field
    * extraction, date arithmetic. Day-of-week uses the ISO numbering
    * (Monday=1) computed portably from the epoch day — Spark's dayofweek
    * (Sunday=1) and DuckDB's dow (Sunday=0) disagree, so the contract pins
    * the one convention both can derive exactly. */
  def q27Datetime(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).events
      .select($"event_id",
        to_date(date_trunc("week", $"ts")).as("week_start"),
        year($"ts").as("y"), month($"ts").as("m"), dayofmonth($"ts").as("d"),
        hour($"ts").as("h"),
        // ISO dow from epoch day: 1970-01-01 was a Thursday (ISO 4)
        ((floor($"ts".cast("long") / 86400L) + 3) % 7 + 1).cast("long").as("iso_dow"),
        datediff(to_date(lit("2025-01-01")), to_date($"ts")).cast("long").as("days_to_2025"),
        to_date(last_day($"ts")).as("month_end"))
      .orderBy($"event_id")
  }

  /** HLL++ approximate distinct counts — the countDistinct scale path.
    * Sketch estimates are engine-specific so the estimate itself can't
    * hash-match a DuckDB oracle; instead the query VERIFIES the sketch
    * in-engine: it emits the exact per-group distinct counts (which DO
    * hash-match) plus `*_within_tol` booleans asserting the HLL++ estimate
    * is within 5% relative error of exact. The sketch runs at rsd=0.01 so
    * the 5% gate is a 5σ bound (measured: ≤0.9% at sf0.01 and sf0.1); the
    * oracle asserts TRUE — a drifting sketch flips the hash compare red. */
  def aggApprox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables(spark, dir).lineitem
    // Two separate aggregates, NOT one: mixing countDistinct with
    // approx_count_distinct makes RewriteDistinctAggregates carry the HLL
    // buffer (~21 KB at rsd=0.01) through the Expand's per-distinct-value
    // groups — tens of thousands of mostly-dead sketch buffers (measured
    // 101 s vs <2 s at sf0.1). Separately, each plan is clean: the sketch
    // aggregate keeps 3 groups × 2 sketches, the exact one has no sketches.
    // Two single-distinct aggregates joined, NOT one double-distinct: two
    // distincts in one agg trigger RewriteDistinctAggregates' Expand (every
    // input row duplicated per distinct column — 2x the shuffle). Each
    // single-distinct plans as a clean two-level partial-distinct aggregate
    // over a 2-column pruned scan; the join is 3 rows.
    val exOrders = li.groupBy($"l_returnflag")
      .agg(countDistinct($"l_orderkey").as("exact_orders"))
    val exParts = li.groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("exact_parts"))
    val exact = exOrders.join(broadcast(exParts), "l_returnflag")
    val approx = li.groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_orderkey", 0.01).as("a_o"),
        approx_count_distinct($"l_partkey", 0.01).as("a_p"))
    exact.join(broadcast(approx), "l_returnflag")
      .select($"l_returnflag", $"exact_orders", $"exact_parts",
        (abs($"a_o" - $"exact_orders") <= $"exact_orders" * 0.05).as("orders_within_tol"),
        (abs($"a_p" - $"exact_parts") <= $"exact_parts" * 0.05).as("parts_within_tol"))
      .orderBy($"l_returnflag")
  }

  /** Linear-regression aggregates (regr_slope / regr_intercept / r²) from
    * integer moment sums — the q23_corr pattern: x = second-of-day, y =
    * value in cents, both exact int64, products in decimal(38,0) (≡ DuckDB
    * HUGEINT), one double division per output at the rounding boundary.
    * One partial-aggregated shuffle on event_type; no per-row state, so
    * the shape is scan-bound at any scale. */
  def q28Regr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val xy = Tables(spark, dir).events.select($"event_type",
      (col("ts").cast("long") % 86400L).as("x"),
      round($"value" * 100).cast("long").as("y"))
    val m = xy.groupBy($"event_type").agg(
      count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
      sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
      sum($"x" * $"y").as("sxy"))
    def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val num  = (d($"n") * d($"sxy") - d($"sx") * d($"sy")).cast("double")
    val den  = (d($"n") * d($"sxx") - d($"sx") * d($"sx")).cast("double")
    val deny = (d($"n") * d($"syy") - d($"sy") * d($"sy")).cast("double")
    val inum = (d($"sy") * d($"sxx") - d($"sx") * d($"sxy")).cast("double")
    val corrD = num / (sqrt(den) * sqrt(deny))
    m.select($"event_type", $"n",
        round(num / den, 8).as("slope"),
        round(inum / den, 4).as("intercept"),
        round(corrD * corrD, 6).as("r2"))
      .orderBy($"event_type")
  }

  /** Deterministic MODE: the most frequent o_orderpriority per
    * o_orderstatus, ties broken by the smallest value — count-aggregate
    * then a per-group top-1 window (two-stage: partial counts combine
    * map-side; the window input is |groups| rows, not the fact table). A
    * bare `mode()` is nondeterministic on ties in both engines, so the
    * explicit tie-break IS the operator contract. */
  def q29Mode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cnt = Tables(spark, dir).orders
      .groupBy($"o_orderstatus", $"o_orderpriority").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"o_orderstatus")
      .orderBy($"cnt".desc, $"o_orderpriority".asc)
    cnt.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"o_orderstatus", $"o_orderpriority".as("mode_priority"), $"cnt")
      .orderBy($"o_orderstatus")
  }

  /** Cumulative DISTINCT count over time without a distinct-in-window
    * (which Spark does not support and which would buffer per-frame sets
    * anyway): mark each user's FIRST occurrence per event_type with a
    * row_number window, aggregate first-marks per day, then a running sum
    * over the (tiny) per-day series. Distinct-tracking state is one window
    * sort on (event_type, user_id) — the same single shuffle any
    * sessionization pays — and the running sum runs over |days| rows. */
  def q30CumDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).events
      .select($"event_type", $"user_id", $"ts", $"event_id", col("ts").cast("date").as("day"))
    val firstW = Window.partitionBy($"event_type", $"user_id")
      .orderBy($"ts".asc, $"event_id".asc)
    val firsts = ev.withColumn("rn", row_number().over(firstW))
      .filter($"rn" === 1)
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("new_users"))
    val cumW = Window.partitionBy($"event_type").orderBy($"day".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firsts.withColumn("cum_users", sum($"new_users").over(cumW))
      .orderBy($"event_type", $"day")
  }

  /** Correlated LATERAL subquery: per-customer top-2 orders by price. The
    * planner decorrelates the LIMIT'd lateral into a partitioned window
    * top-k (DecorrelateInnerQuery) — no per-customer re-scan of orders, one
    * shuffle on the correlation key; the SQL surface is the point (the
    * DataFrame twin is w1_topn_per_group). */
  def q32Lateral(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).orders.createOrReplaceTempView("orders_v")
    Tables(spark, dir).customer.createOrReplaceTempView("customer_v")
    spark.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.totalprice
        |FROM customer_v c JOIN LATERAL (
        |  SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
        |  FROM orders_v o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey
        |  LIMIT 2) t
        |ORDER BY c_custkey, totalprice DESC, o_orderkey""".stripMargin)
  }

  /** Gap-filled daily time series: the day×type grid is generated (a
    * two-sided bound aggregate + `sequence` explode, broadcast against the
    * distinct types), LEFT-joined with the real daily counts, zero-filled,
    * then cumulated. The grid is |days|·|types| rows at ANY corpus scale —
    * the fact table aggregates once and never re-shuffles. */
  def q33Gapfill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir).events
      .select($"event_type", col("ts").cast("date").as("day"))
    val daily = e.groupBy($"event_type", $"day").agg(count(lit(1)).as("n_raw"))
    val days = e.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(explode(sequence($"lo", $"hi")).as("day"))
    val grid = broadcast(e.select($"event_type").distinct()).crossJoin(days)
    val filled = grid.join(daily, Seq("event_type", "day"), "left")
      .select($"event_type", $"day", coalesce($"n_raw", lit(0L)).as("n"))
    val w = Window.partitionBy($"event_type").orderBy($"day".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filled.withColumn("cum_n", sum($"n").over(w))
      .orderBy($"event_type", $"day")
  }

  /** Overlapping-interval merge (interval union / coverage): each event
    * opens a 30-minute activity interval; overlapping intervals per user
    * coalesce into maximal covered spans. The gaps-and-islands shape:
    * a running max of prior interval ends marks island starts, a running
    * sum of the marks numbers the islands, one aggregate collapses them —
    * all on a SINGLE user_id shuffle + in-partition sort (two frames of
    * the same window), integer-second arithmetic throughout. */
  def q34IntervalMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val iv = Tables(spark, dir).events
      .select($"user_id", col("ts").cast("long").as("s"))
      .withColumn("e", $"s" + 1800L)
    val w = Window.partitionBy($"user_id").orderBy($"s".asc, $"e".asc)
    val prevMax = max($"e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    val marked = iv.withColumn("new_island",
        when(prevMax.isNull || $"s" > prevMax, 1L).otherwise(0L))
      .withColumn("island",
        sum($"new_island").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked.groupBy($"user_id", $"island")
      .agg(min($"s").as("span_start"), max($"e").as("span_end"),
        count(lit(1)).as("n_events"))
      .select($"user_id", $"span_start", $"span_end", $"n_events")
      .orderBy($"user_id", $"span_start")
  }

  /** UNPIVOT (melt) via `stack` — the inverse of q8_pivot: wide metric
    * columns become (metric, value) rows in one narrow pass, then a tiny
    * per-metric aggregate. Integer-cent values keep the sums exact. */
  def q35Unpivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).orders
      .select($"o_orderkey",
        expr("stack(2, 'total_cents', CAST(round(o_totalprice * 100) AS BIGINT), " +
          "'custkey', CAST(o_custkey AS BIGINT))")
          .as(Seq("metric", "v")))
      .groupBy($"metric")
      .agg(count(lit(1)).as("n"), sum($"v").as("sum_v"),
        min($"v").as("min_v"), max($"v").as("max_v"))
      .orderBy($"metric")
  }

  /** try_-function semantics (ANSI-safe arithmetic): `try_divide` yields
    * NULL where ANSI `/` throws, `try_cast` yields NULL where CAST errors.
    * Per-quotient integer rounding before the sum keeps the aggregate
    * exact (an unordered sum of raw double quotients would be
    * order-dependent in both engines). */
  def q36Try(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.pipeline.EventStatements.extracted(Tables(spark, dir).events)
    val d = $"k" % 3
    val q = try_divide($"value" * 100, d.cast("double"))
    ev.groupBy($"event_type").agg(
        count(lit(1)).as("n"),
        count(q).as("n_safe"),
        sum(round(q, 0).cast("long")).as("sum_q_cents"),
        count(expr("try_cast(event_type AS BIGINT)")).as("n_numeric"))
      .orderBy($"event_type")
  }

  /** Verified approx percentile (the q7 scale path, oracle-checked the
    * agg_approx way): exact median hash-matches the oracle, and the
    * in-engine tolerance booleans assert the sketch lands within 1% —
    * a drifting sketch flips the row red. The exact median is taken over
    * whole cents, where the interpolated middle is a whole or half cent
    * that a double holds exactly; it rounds half up in cents and converts
    * to currency with one division, as in the oracle. Rounding the double
    * median itself to 2 places splits the engines on a half cent (DuckDB
    * and Spark round 52724.244999999995 differently). */
  def aggApproxPct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = round($"l_extendedprice" * 100).cast("long")
    Tables(spark, dir).lineitem
      .groupBy($"l_returnflag")
      .agg((floor(percentile(cents, lit(0.5)) + 0.5) / 100.0).as("p50_exact"),
        approx_percentile($"l_extendedprice", lit(0.5), lit(10000)).as("a50"))
      .select($"l_returnflag", $"p50_exact",
        (abs($"a50" - $"p50_exact") <= $"p50_exact" * 0.01).as("p50_within_tol"))
      .orderBy($"l_returnflag")
  }

  /** SCD-2 dimension build from the event stream: collapse each user's
    * event_type sequence into versioned validity intervals — a new version
    * only when the state CHANGES, `valid_to_s` = the next change's start,
    * NULL for the open current version. The slowly-changing-dimension
    * maintenance a warehouse runs over CDC output (the reference's O12
    * argmax keeps only the LATEST version; this keeps the full history a
    * point-in-time join needs). Both windows and the final sort share one
    * (user_id) partitioning, so the plan carries a single exchange. */
  def q37Scd2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_s", $"event_id")
    Tables(spark, dir).events
      .select($"user_id", $"event_type", $"ts".cast("long").as("ts_s"), $"event_id")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNull || $"prev_type" =!= $"event_type")
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to_s", lead($"ts_s", 1).over(w))
      .select($"user_id", $"version", $"event_type",
        $"ts_s".as("valid_from_s"), $"valid_to_s")
      .orderBy($"user_id", $"version")
  }

  /** Weekly cohort retention — the product-analytics matrix every events
    * warehouse serves: cohort = a user's first active week, one row per
    * (cohort, week offset) with the fraction of the cohort still active.
    * Three aggregates and a join, ALL keyed on user_id / cohort_week —
    * nothing event-sized survives the first distinct. */
  def q38Retention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    retentionMatrix(Tables(spark, dir).events
      .select($"user_id", expr("(CAST(ts AS LONG) div 86400) div 7").as("week"))
      .distinct())
  }

  /** The cohort matrix over a distinct (user_id, week) activity frame —
    * the shared core of [[q38Retention]] and the streaming-parity
    * assertion in EventTimeSpec (the streaming twin reconstructs the same
    * activity frame from its per-user snapshots). */
  def retentionMatrix(weeks: DataFrame): DataFrame = {
    val spark = weeks.sparkSession
    import spark.implicits._
    val cohort = weeks.groupBy($"user_id").agg(min($"week").as("cohort_week"))
    val sizes = cohort.groupBy($"cohort_week").agg(count(lit(1)).as("cohort_n"))
    weeks.join(cohort, "user_id")
      .groupBy($"cohort_week", ($"week" - $"cohort_week").as("week_offset"))
      .agg(count_distinct($"user_id").as("n_active"))
      .join(sizes, "cohort_week")
      .withColumn("retention", round($"n_active".cast("double") / $"cohort_n", 4))
      .select($"cohort_week", $"week_offset", $"n_active", $"cohort_n", $"retention")
      .orderBy($"cohort_week", $"week_offset")
  }

  /** Conversion funnel (the ClickHouse `windowFunnel` analog for the
    * reference's sink ecosystem): view → click → purchase, each later
    * stage strictly after the previous and within 7 days of the FIRST
    * stage. Stage times resolve as chained conditional mins — three
    * user_id-keyed aggregates/joins sharing one partitioning — then users
    * histogram by deepest stage reached. Microsecond timestamps, so stage
    * ordering never ties. */
  def q39Funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    funnelLevels(Tables(spark, dir).events)
      .groupBy($"level").agg(count(lit(1)).as("n_users"))
      .orderBy($"level")
  }

  /** Per-user deepest funnel stage (the shared core of [[q39Funnel]] and
    * the streaming-parity assertion in EventTimeSpec): t1 = min view,
    * t2 = min click in (t1, t1+W], t3 = min purchase in (t2, t1+W]. */
  def funnelLevels(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val W = 7L * 86400L * 1000000L
    val ev = events
      .select($"user_id", $"event_type", expr("unix_micros(ts)").as("us"))
    val t1 = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"us").as("t1"))
    val t2 = ev.join(t1, "user_id")
      .filter($"event_type" === "click" && $"us" > $"t1" && $"us" <= $"t1" + W)
      .groupBy($"user_id").agg(min($"us").as("t2"), min($"t1").as("t1b"))
    val t3 = ev.join(t2, "user_id")
      .filter($"event_type" === "purchase" && $"us" > $"t2" && $"us" <= $"t1b" + W)
      .groupBy($"user_id").agg(min($"us").as("t3"))
    ev.select($"user_id").distinct()
      .join(t1.select($"user_id", lit(1).as("l1")), Seq("user_id"), "left")
      .join(t2.select($"user_id", lit(1).as("l2")), Seq("user_id"), "left")
      .join(t3.select($"user_id", lit(1).as("l3")), Seq("user_id"), "left")
      .withColumn("level",
        when($"l3".isNotNull, 3L).when($"l2".isNotNull, 2L)
          .when($"l1".isNotNull, 1L).otherwise(0L))
      .select($"user_id", $"level")
  }

  /** Event-type transition matrix (first-order Markov over each user's
    * event sequence): one lead window per user, then a (from, to)-keyed
    * count with per-from probabilities — the "what happens next" model a
    * product warehouse derives from clickstreams. The matrix is
    * |types|²-sized; totals broadcast-join back. */
  def q40Transitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = transitionCounts(Tables(spark, dir).events)
    val totals = counts.groupBy($"from_type").agg(sum($"n").as("total"))
    counts.join(broadcast(totals), "from_type")
      .withColumn("p", round($"n".cast("double") / $"total", 4))
      .select($"from_type", $"to_type", $"n", $"p")
      .orderBy($"from_type", $"to_type")
  }

  /** The (from, to) adjacency counts under [[q40Transitions]] — the shared
    * core of the batch matrix and the streaming delta twin's parity
    * assertion ([[graft.streaming.EventTimeOps.streamingTransitions]]):
    * adjacency is defined on each user's (us, event_id)-sorted sequence. */
  def transitionCounts(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    events
      .select($"user_id", $"event_id", $"event_type", expr("unix_micros(ts)").as("us"))
      .withColumn("to_type", lead($"event_type", 1).over(w))
      .filter($"to_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"to_type")
      .agg(count(lit(1)).as("n"))
  }

  /** Time-weighted average of `value` per user — the irregular-sampling
    * mean an IoT/metrics warehouse needs (a value holds until the next
    * observation; a plain AVG over-weights bursts). Weights are integer
    * millisecond durations and values integer cents, so the weighted sums
    * stay exact BIGINTs; the single double division happens once at the
    * output boundary. One lead window + one aggregate, both on user_id. */
  def q41Twa(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    Tables(spark, dir).events
      .select($"user_id", $"event_id",
        round($"value" * 100).cast("long").as("cents"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("next_us", lead($"us", 1).over(w))
      .withColumn("dt_ms", expr("(next_us - us) div 1000"))
      .filter($"dt_ms".isNotNull && $"dt_ms" > 0)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum($"dt_ms").as("sum_dt_ms"),
        sum($"cents" * $"dt_ms").as("sum_w_cents"))
      .withColumn("twa",
        round($"sum_w_cents".cast("double") / $"sum_dt_ms" / 100.0, 4))
      .select($"user_id", $"n", $"sum_dt_ms", $"twa")
      .orderBy($"user_id")
  }

  /** Rolling DAU / trailing-7-day WAU / stickiness — the engagement
    * dashboard row. A rolling COUNT DISTINCT has no window-frame form, so
    * each (user, active day) contributes itself to the 7 trailing days it
    * supports (a 7× narrow explode of the DISTINCT day table, already
    * users×days-sized, NOT the event table) and WAU becomes a plain
    * day-keyed distinct aggregate. Early days carry partial windows by
    * construction, identically in both engines. */
  def q42Dau(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val days = Tables(spark, dir).events
      .select($"user_id", expr("CAST(ts AS LONG) div 86400").as("day"))
      .distinct()
    val dau = days.groupBy($"day").agg(count(lit(1)).as("dau"))
    val wau = days
      .select($"user_id", explode(sequence($"day", $"day" + 6)).as("day"))
      .groupBy($"day").agg(count_distinct($"user_id").as("wau"))
    dau.join(wau, "day")
      .withColumn("stickiness", round($"dau".cast("double") / $"wau", 4))
      .select($"day", $"dau", $"wau", $"stickiness")
      .orderBy($"day")
  }

  /** Semi-structured VARIANT path: `parse_json` the props payload into a
    * VARIANT column, extract a typed field with `variant_get`, aggregate.
    * Variant is the 100 TB answer to ragged JSON: one binary-encoded
    * column, typed extraction pushed into the scan-side projection, no
    * per-query string re-parsing of the whole payload (the open-format
    * twin of a shredded struct). */
  def q31Variant(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).events
      .select($"event_type",
        variant_get(parse_json($"props"), "$.k", "long").as("k"))
    ev.groupBy($"event_type").agg(
        count($"k").as("n"), sum($"k").as("sum_k"),
        min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }
}
