package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hybrid retrieval (RRF fusion) and DSIR importance-weight semantics.
  * Corpus-level parity is the DuckDB oracle (`search_rrf`, `dsir_weights`);
  * these pin the edge-case algebra and the one-pass plan contract. */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  test("hybridRrf: both-legs doc outranks single-leg; contributions exact; ties on id") {
    // dense leg ranks: A=1, B=2; sparse leg ranks: B=1, C=2.
    val dense  = Seq(("A", 1), ("B", 2)).toDF("id", "rank")
    val sparse = Seq(("B", 1), ("C", 2)).toDF("id", "rank")
    val out = Search.hybridRrf(dense, sparse, kConst = 60, topN = 10).collect()
    val byId = out.map(r => r.getAs[String]("id") -> r).toMap
    // B appears in both legs: floor(1e6/62) + floor(1e6/61) = 16129 + 16393
    assert(byId("B").getAs[Long]("rrf_micro") == 16129L + 16393L)
    // A and C are single-leg: floor(1e6/61)=16393, floor(1e6/62)=16129
    assert(byId("A").getAs[Long]("rrf_micro") == 16393L)
    assert(byId("C").getAs[Long]("rrf_micro") == 16129L)
    // fused order: B first (both legs), then A, then C
    assert(out.map(_.getAs[String]("id")).toSeq == Seq("B", "A", "C"))
    // leg ranks survive as nullable columns: A has no sparse rank
    assert(byId("A").isNullAt(byId("A").fieldIndex("rank_sparse")))
    assert(byId("C").isNullAt(byId("C").fieldIndex("rank_dense")))
  }

  test("hybridRrf: equal-score ties break on id ascending") {
    // two docs each dense-only at the same rank via disjoint leg tables
    val dense  = Seq(("Z", 1)).toDF("id", "rank")
    val sparse = Seq(("A", 1)).toDF("id", "rank")
    val out = Search.hybridRrf(dense, sparse, kConst = 60, topN = 10).collect()
    // identical rrf_micro (both rank 1 in one leg) -> A before Z
    assert(out.map(_.getAs[String]("id")).toSeq == Seq("A", "Z"))
  }

  test("dsirLogWeights: target-distinctive bigrams score positive, off-target negative; short docs absent") {
    // target docs share bigram "x y"; raw-only docs share "p q"; doc 5 has
    // one token (no bigrams) and must be ABSENT, not null-scored.
    val docs = Seq(
      (1L, "x y x y x y", "en"),
      (2L, "x y x y", "en"),
      (3L, "p q p q p q", "de"),
      (4L, "p q p q", "de"),
      (5L, "solo", "en")
    ).toDF("doc_id", "text", "lang")
    val out = Search.dsirLogWeights(docs, dims = 64)
    val rows = out.orderBy("doc_id").collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L, 3L, 4L))
    val keep = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("keep")).toMap
    // target-like docs keep; raw-only (never in target) drop
    assert(keep(1L) == 1 && keep(2L) == 1)
    assert(keep(3L) == 0 && keep(4L) == 0)
    // log-weight is monotone in the doc's target-bigram mass
    val lw = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("logw_micro")).toMap
    assert(lw(1L) > lw(2L) && lw(4L) > lw(3L))
  }

  test("collocations: bound phrase outranks frequent-but-independent pair; minCount floors hapax") {
    // "new york" always co-occurs (bound phrase); "the cat"/"the dog" are
    // independent uses of "the"; "rare gem" appears once (under minCount).
    val docs = (1L to 6L).map(i => (i, "new york the cat the dog")) :+
      (7L, "rare gem new york")
    val df = docs.toDF("doc_id", "text")
    val out = Search.collocations(df, minCount = 5, k = 10)
    val rows = out.collect()
    val pairs = rows.map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"))).toSeq
    // hapax bigrams ("rare gem", "gem new") never surface
    assert(!pairs.exists { case (a, b) => a == "rare" || b == "gem" })
    // the bound phrase is the top collocation
    assert(pairs.head == ("new", "york"))
    val byPair = rows.map(r =>
      (r.getAs[String]("w1"), r.getAs[String]("w2")) -> r.getAs[Long]("pmi_micro")).toMap
    // PMI("new york") > PMI("the cat"): "the" spreads over two partners
    assert(byPair(("new", "york")) > byPair(("the", "cat")))
  }

  test("corpusReport: per-source docs/tokens/dup-rate/lang share exact") {
    val docs = Seq(
      (1L, "a b c", "en", "web", 5L),
      (2L, "a b c", "en", "web", 5L),   // exact dup of 1 within web
      (3L, "d e", "de", "web", 3L),
      (4L, "a b c", "en", "book", 5L)   // same text, different source: no dup
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = TextAnalysis.corpusReport(docs).collect()
    val bySrc = rows.map(r => r.getAs[String]("source") -> r).toMap
    val web = bySrc("web")
    assert(web.getAs[Long]("n_docs") == 3L && web.getAs[Long]("n_tokens") == 8L)
    assert(web.getAs[Long]("dup_docs") == 2L) // both members of the dup group
    assert(web.getAs[Double]("dup_rate") == 0.6667)
    assert(web.getAs[Double]("pct_en") == 0.6667)
    val book = bySrc("book")
    assert(book.getAs[Long]("n_docs") == 1L && book.getAs[Long]("dup_docs") == 0L)
    assert(book.getAs[Double]("avg_chars") == 5.0)
  }

  test("clusterTopics: ≤3 ranked labels per cluster, scores non-increasing, ubiquitous terms score zero-ish") {
    val t = graft.Tables(spark, sf("sf0.001"))
    val out = Clustering.clusterTopics(t.embeddings, t.documents, topK = 3).collect()
    val byCid = out.groupBy(_.getAs[Long]("cid"))
    assert(byCid.nonEmpty)
    byCid.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length))
      val scores = sorted.map(_.getAs[Long]("score_micro")).toSeq
      assert(scores == scores.sorted.reverse, s"scores not non-increasing: $scores")
    }
    // a term present in EVERY cluster has icf = ln((k+1)/(k+1)) = 0 → can
    // only surface with score 0; every ranked label must score ≥ 0
    assert(out.forall(_.getAs[Long]("score_micro") >= 0))
  }

  test("collocations reads the corpus exactly once (bigrams and unigrams share the token cache)") {
    val scans = spark.sparkContext.longAccumulator("corpus-scans")
    val docs = graft.Tables(spark, sf("sf0.001")).documents
      .select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it => scans.add(1); it }.toDF("doc_id", "text")
    scans.reset()
    docs.agg(count(lit(1))).collect(): Unit
    val onePass = scans.value
    assert(onePass > 0)
    scans.reset()
    Search.collocations(docs): Unit
    // c2, the unigram table, and both totals all derive from the persisted
    // token frame — an uncached formulation would be 4×
    assert(scans.value == onePass,
      s"collocations materialized ${scans.value} partition-scans vs $onePass for one pass")
  }

  test("dsirLogWeights reads the corpus exactly once (λ table and scoring share the feature cache)") {
    // the PlanShapeSpec partition-materialization counter: every full scan
    // of the source bumps the accumulator once per partition
    val scans = spark.sparkContext.longAccumulator("corpus-scans")
    val docs = graft.Tables(spark, sf("sf0.001")).documents
      .select($"doc_id", $"text", $"lang").as[(Long, String, String)]
      .mapPartitions { it => scans.add(1); it }.toDF("doc_id", "text", "lang")
    scans.reset()
    docs.agg(count(lit(1))).collect(): Unit
    val onePass = scans.value
    assert(onePass > 0)
    scans.reset()
    Search.dsirLogWeights(docs): Unit
    // bucket counts (ct/cr), totals, and per-doc scoring all derive from
    // the persisted feature frame — an uncached formulation would be 3×
    assert(scans.value == onePass,
      s"dsirLogWeights materialized ${scans.value} partition-scans vs $onePass for one pass")
  }
}
