package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.ExistenceJoin
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

class OptOutRoutingSpec extends SparkSpec {

  test("latestPerKey keeps exactly the max-version row per key") {
    import spark.implicits._
    val dim = Seq(
      ("a@x", "h1", 1L), ("a@x", "h2", 3L), ("a@x", "h3", 2L),
      ("b@x", "h4", 7L),
    ).toDF("email", "hash", "version")
    val got = OptOutRouting.latestPerKey(dim, "email", "version", "hash")
      .orderBy("email").collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(("a@x", "h2", 3L), ("b@x", "h4", 7L)))
  }

  test("withOptOutFlag + split route records by broadcast membership") {
    import spark.implicits._
    val recs = Seq(("r1", "hA"), ("r2", "hB"), ("r3", "hA"), ("r4", "hC")).toDF("id", "hashed_id")
    val optOut = Seq("hA", "hZ").toDF("hash")
    val routed = OptOutRouting.withOptOutFlag(recs, "hashed_id", optOut, "hash")
    val (main, opt) = OptOutRouting.split(routed)
    assert(opt.select("id").as[String].collect().sorted.toSeq == Seq("r1", "r3"))
    assert(main.select("id").as[String].collect().sorted.toSeq == Seq("r2", "r4"))
    // row count preserved (an existence join cannot fan out)
    assert(routed.count() == 4)
  }

  test("withOptOutFlag does not duplicate rows when the dim has duplicate hashes") {
    import spark.implicits._
    val recs = Seq(("r1", "hA")).toDF("id", "hashed_id")
    val optOut = Seq("hA", "hA", "hA").toDF("hash")
    assert(OptOutRouting.withOptOutFlag(recs, "hashed_id", optOut, "hash").count() == 1)
  }

  test("end-to-end routed DAG on sf0.001: routes are consistent per user") {
    val routed = EventStatements.routed(spark, sf("sf0.001"))
    // every user lands on exactly one route (hash is per-user deterministic)
    val bad = routed.groupBy("user_id").agg(countDistinct("route").as("n")).filter(col("n") > 1).count()
    assert(bad == 0)
    assert(routed.count() > 0)
    // both routes non-empty at this scale
    assert(routed.select("route").distinct().count() == 2)
  }

  /** The O11 formulation the existence join replaced: a left-outer join
    * against the DISTINCT dimension, flagged by a null check. */
  private def leftOuterOverDistinct(records: DataFrame, hashCol: String,
                                    optOutHashes: DataFrame, optHashCol: String): DataFrame = {
    val dim = optOutHashes.select(col(optHashCol).as("__opt_out_hash")).distinct()
    records.join(broadcast(dim), records(hashCol) === col("__opt_out_hash"), "left_outer")
      .withColumn("is_opt_out", col("__opt_out_hash").isNotNull)
      .drop("__opt_out_hash")
  }

  test("withOptOutFlag's existence flag equals the left-outer-over-distinct oracle") {
    import spark.implicits._
    def rows(df: DataFrame) = df.select(col("id").cast("string"), col("is_opt_out"))
      .collect().map(r => (r.getString(0), r.get(1))).sortBy(_._1).toSeq
    val recs = Seq(("r1", Some("hA")), ("r2", None), ("r3", Some("hB")), ("r4", Some("hA")),
      ("r5", Some("hC"))).toDF("id", "hashed_id")
    val dims = Seq(
      "duplicate hashes" -> Seq(Some("hA"), Some("hA"), Some("hB"), Some("hB")),
      "a null hash" -> Seq(Some("hB"), None),
      "an empty dim" -> Seq.empty[Option[String]])
    dims.foreach { case (name, hashes) =>
      val dim = hashes.toDF("hash")
      val got = OptOutRouting.withOptOutFlag(recs, "hashed_id", dim, "hash")
      val want = leftOuterOverDistinct(recs, "hashed_id", dim, "hash")
      assert(got.schema == want.schema, name)
      assert(!got.schema("is_opt_out").nullable, name)
      assert(rows(got) == rows(want), name)
      // a null record hash reads false, never null
      assert(rows(got).find(_._1 == "r2").map(_._2).contains(false), name)
    }
    // records and dimension derived from one source (the EventStatements shape)
    val ev = graft.Tables(spark, sf("sf0.001")).events
    val (st, dim) = (EventStatements.statements(ev), EventStatements.optOutHashes(ev))
    val got = rows(OptOutRouting.withOptOutFlag(st, "hashed_id", dim, "hashed_id"))
    assert(got == rows(leftOuterOverDistinct(st, "hashed_id", dim, "hashed_id")))
    assert(got.exists(_._2 == true) && got.exists(_._2 == false))
  }

  test("withOptOutFlag plans one broadcast existence join: no aggregate or shuffle on the dim side") {
    import spark.implicits._
    val recs = spark.range(0, 1000).select(col("id"), (col("id") % 7).cast("string").as("hashed_id"))
    val dim = Seq("1", "3", "3", "5").toDF("hash")
    val routed = OptOutRouting.withOptOutFlag(recs, "hashed_id", dim, "hash")
    val joins = routed.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.size == 1 && joins.head.joinType.isInstanceOf[ExistenceJoin], joins)
    assert(joins.head.right.find(_.isInstanceOf[Aggregate]).isEmpty, joins.head.right)
    val physical = routed.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(physical.collect { case b: BroadcastExchangeExec => b }.size == 1, physical)
    assert(physical.collect { case s: ShuffleExchangeExec => s }.isEmpty, physical)
    assert(routed.filter(col("is_opt_out")).count() == recs.filter(col("hashed_id").isin("1", "3", "5")).count())
  }
}
