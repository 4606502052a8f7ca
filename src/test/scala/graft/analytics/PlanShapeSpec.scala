package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowGroupLimitExec

/** Physical-plan shape assertions for the round-3 operators — the scale
  * claims in their scaladocs, checked against the executed plan (AQE-safe:
  * run the SAME QueryExecution, then descend into materialized stages). */
class PlanShapeSpec extends SparkSpec {

  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  private def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p.collect { case x => x }.flatMap {
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(s) ++ allNodes(s.plan)
      case x => Seq(x)
    }

  private def exchanges(df: DataFrame): Seq[SparkPlan] =
    allNodes(finalPlan(df)).collect { case e: ShuffleExchangeLike => e }

  test("docChunks is shuffle-free: a pure narrow explode") {
    val docs = graft.Tables(spark, sf("sf0.001")).documents
    val df = Sampling.docChunks(docs, size = 32, stride = 24)
    assert(df.collect().nonEmpty)
    assert(exchanges(df).isEmpty, finalPlan(df).toString)
  }

  test("bm25 scoring pass is narrow: no explode, no join, one final top-k") {
    val docs = graft.Tables(spark, sf("sf0.001")).documents
    // the result comes back checkpointed — the shape under test is the
    // plan of the localCheckpoint action (the scoring DAG that materialized it)
    val (df, scoring) = graft.CheckpointPlan.of(docs)(
      Search.bm25TopDocs(_, Seq("data", "fast", "query"), k = 20))
    assert(df.collect().length == 20)
    val nodes = allNodes(scoring)
    // scoring never joins or explodes the corpus...
    assert(!nodes.exists(_.nodeName.contains("Generate")), scoring.toString)
    assert(!nodes.exists(_.nodeName.contains("Join")), scoring.toString)
    // ...and the global top-k is TakeOrderedAndProject, not a full sort
    assert(nodes.exists(_.nodeName.contains("TakeOrderedAndProject")), scoring.toString)
  }

  test("bm25 reads the corpus exactly once (stats + scoring share the cached counters)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // wrap the source in a partition-materialization counter: every full
    // scan of the corpus bumps the accumulator once per source partition
    val scans = spark.sparkContext.longAccumulator("corpus-scans")
    val docs = graft.Tables(spark, sf("sf0.001")).documents
      .select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it => scans.add(1); it }.toDF("doc_id", "text")
    scans.reset()
    docs.agg(count(lit(1))).collect(): Unit
    val onePass = scans.value
    assert(onePass > 0)
    scans.reset()
    Search.bm25TopDocs(docs, Seq("data", "fast", "query"), k = 20): Unit
    // stats action + scoring scan on an uncached source would be 2× —
    // the persisted per-doc counters make it exactly one pass
    assert(scans.value == onePass,
      s"bm25 materialized the corpus ${scans.value} partition-scans vs $onePass for one pass")
  }

  test("bigram LM reads and tokenizes the corpus exactly once (shared token cache)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // same partition-materialization counter as the bm25 one-pass test:
    // every full scan of the source bumps the accumulator once per partition
    val scans = spark.sparkContext.longAccumulator("corpus-scans")
    val docs = graft.Tables(spark, sf("sf0.001")).documents
      .select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it => scans.add(1); it }.toDF("doc_id", "text")
    scans.reset()
    docs.agg(count(lit(1))).collect(): Unit
    val onePass = scans.value
    assert(onePass > 0)
    scans.reset()
    Search.bigramSurprisal(docs): Unit
    // bigrams (c2/c1/scoring) and the vocabulary all derive from the
    // persisted token frame — an uncached formulation would be 4×
    assert(scans.value == onePass,
      s"bigramSurprisal materialized ${scans.value} partition-scans vs $onePass for one pass")
  }

  test("KN LM reads and tokenizes the corpus exactly once (shared token cache)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val scans = spark.sparkContext.longAccumulator("corpus-scans")
    val docs = graft.Tables(spark, sf("sf0.001")).documents
      .select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it => scans.add(1); it }.toDF("doc_id", "text")
    scans.reset()
    docs.agg(count(lit(1))).collect(): Unit
    val onePass = scans.value
    assert(onePass > 0)
    scans.reset()
    Search.knSurprisal(docs): Unit
    // all five model tables (c2/c1+n1p/n1m/Nt) and the scoring join derive
    // from the persisted token frame — an uncached formulation would be 5×
    assert(scans.value == onePass,
      s"knSurprisal materialized ${scans.value} partition-scans vs $onePass for one pass")
  }

  test("held-out KN reads and tokenizes the corpus exactly once (shared token cache)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val scans = spark.sparkContext.longAccumulator("corpus-scans")
    val docs = graft.Tables(spark, sf("sf0.001")).documents
      .select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it => scans.add(1); it }.toDF("doc_id", "text")
    scans.reset()
    docs.agg(count(lit(1))).collect(): Unit
    val onePass = scans.value
    assert(onePass > 0)
    scans.reset()
    Search.knHeldoutScore(docs): Unit
    // train aggregates (c2/c1+n1p/n1m/Z incl. the vocab leg) AND the
    // held-out scoring stream all derive from the one persisted
    // (doc_id, bkt, tokens) frame — an uncached formulation would be 6×
    assert(scans.value == onePass,
      s"knHeldoutScore materialized ${scans.value} partition-scans vs $onePass for one pass")
  }

  test("materialized mix joins the allocation by broadcast; the corpus never shuffles") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables(spark, sf("sf0.001")).documents
    val df = Sampling.materializeMix(docs, "lang", budget = docs.count())
    assert(df.collect().nonEmpty)
    val nodes = allNodes(finalPlan(df))
    // corpus side: broadcast join + explode, no sort-merge, no cartesian
    assert(nodes.exists(_.nodeName.contains("BroadcastHashJoin")), finalPlan(df).toString)
    assert(!nodes.exists(n => n.nodeName.contains("SortMergeJoin") ||
      n.nodeName.contains("CartesianProduct")), finalPlan(df).toString)
    // the only exchanges are the strata-sized allocation aggregates (plus
    // their broadcast) — never a corpus-cardinality shuffle
    val maxShuffledRows = exchanges(df)
      .flatMap(_.metrics.get("numOutputRows").map(_.value)).maxOption.getOrElse(0L)
    assert(maxShuffledRows <= 100, s"allocation shuffles must be strata-sized, saw $maxShuffledRows")
  }

  test("randomProject is shuffle-free and agrees with the LSH plane signs") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables(spark, sf("sf0.001")).embeddings
    val df = Similarity.randomProject(emb, k = 4, dims = 64)
    assert(df.collect().nonEmpty)
    assert(exchanges(df).isEmpty, finalPlan(df).toString)
    // same plane family as lshBucket: bucket bit p == sign of projection p
    // (skip near-zero projections where output-boundary rounding could flip)
    val buckets = emb.select(col("vec_id"),
        Similarity.lshBucket(col("embedding"), planes = 4, dims = 64).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    df.filter(abs(col("proj")) > 0.001).collect().foreach { r =>
      val (id, p, proj) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val bit = (buckets(id) >> p) & 1L
      assert((bit == 1L) == (proj > 0), s"vec $id plane $p: bit $bit vs proj $proj")
    }
  }

  test("packSequences shuffles once, on the shard key; the cumsum is never global") {
    val docs = graft.Tables(spark, sf("sf0.001")).documents
    val df = Sampling.packSequences(docs, windowTokens = 1024, nShards = 8)
    assert(df.collect().nonEmpty)
    val ex = exchanges(df)
    // exactly one shuffle, and it hash-partitions on shard — a global
    // ORDER BY cumsum would show a RangePartitioning/SinglePartition here
    assert(ex.length == 1, finalPlan(df).toString)
    val part = ex.head.outputPartitioning.toString
    assert(part.contains("hashpartitioning") && part.contains("shard"), part)
  }

  test("carried mix feeds the packer without a corpus self-join") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables(spark, sf("sf0.001")).documents
    val mixed = Sampling.materializeMix(docs, "lang", budget = docs.count(),
      carry = Seq("text"))
    val stream = mixed.select(
      (col("doc_id") * 1000 + col("epoch")).as("mix_id"), col("text"))
    val df = Sampling.packSequences(stream, windowTokens = 256, nShards = 4,
      idCol = "mix_id")
    assert(df.collect().nonEmpty)
    val nodes = allNodes(finalPlan(df))
    // the mix's allocation join broadcasts; the only sort-merge-free path
    // to the packer is the carried text — no corpus-cardinality self-join
    assert(!nodes.exists(n => n.nodeName.contains("SortMergeJoin") ||
      n.nodeName.contains("CartesianProduct")), finalPlan(df).toString)
    // exchanges: the strata-sized allocation aggregates + ONE pack shuffle
    val packEx = exchanges(df).filter(
      _.outputPartitioning.toString.contains("shard"))
    assert(packEx.length == 1, finalPlan(df).toString)
  }

  test("tfidf per-doc ranking gets the two-stage window group limit") {
    val docs = graft.Tables(spark, sf("sf0.001")).documents
    val df = Search.tfidfTopTerms(docs, k = 3, nDocs = docs.count())
    assert(df.collect().nonEmpty)
    val limits = allNodes(finalPlan(df)).collect { case w: WindowGroupLimitExec => w }
    // Partial (pre-shuffle) + Final — rank pruning happens map-side first
    assert(limits.size >= 2, finalPlan(df).toString)
  }

  test("range join: bucketed form equals the naive inequality join, no nested loop") {
    import org.apache.spark.sql.functions._
    val t = graft.Tables(spark, sf("sf0.001"))
    val iv = t.events.orderBy(col("value").desc, col("event_id")).limit(20)
      .select(col("event_id").as("win_id"), col("ts").cast("long").as("w_start"))
      .withColumn("w_end", col("w_start") + lit(7200L))
    val pts = t.events.select(col("event_id"), col("ts").cast("long").as("es"))
    val bucketed = graft.operators.RangeJoin
      .pointInInterval(pts, "es", iv, "w_start", "w_end", bucketSec = 3600L)
      .select("event_id", "win_id")
    val naive = pts.join(iv, col("es") >= col("w_start") && col("es") < col("w_end"))
      .select("event_id", "win_id")
    val got = bucketed.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got.nonEmpty, "fixture must produce matches")
    assert(got == naive.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    assert(!allNodes(finalPlan(bucketed)).exists(_.nodeName.contains("BroadcastNestedLoop")),
      finalPlan(bucketed).toString)
    // the naive plan IS the nested loop — the thing the operator exists to avoid
    assert(allNodes(finalPlan(naive)).exists(_.nodeName.contains("BroadcastNestedLoop")))
  }

  test("q14 range-frame window runs on exactly one user_id shuffle") {
    val df = graft.queries.Relational.q14RangeFrame(spark, sf("sf0.001"))
    assert(df.collect().nonEmpty)
    // one exchange for the window (user_id), plus at most the output sort
    val ex = exchanges(df)
    assert(ex.size <= 2, finalPlan(df).toString)
  }
}
