package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit semantics for chunking, sharding, and the search scorers (corpus
  * parity is the DuckDB oracle; these pin edge-case behavior). */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  test("docChunks: stride windows cover every token; tail partial kept") {
    // 7 tokens, size 3, stride 2 -> starts 0,2,4,6 -> lengths 3,3,3,1
    val df = Seq((1L, "t0 t1 t2 t3 t4 t5 t6")).toDF("doc_id", "text")
    val ch = Sampling.docChunks(df, size = 3, stride = 2)
      .orderBy("chunk_idx").collect()
    assert(ch.map(_.getAs[Int]("n_tok")).toSeq == Seq(3, 3, 3, 1))
    assert(ch.map(_.getAs[Int]("chunk_idx")).toSeq == Seq(0, 1, 2, 3))
    // distinct windows hash distinctly
    assert(ch.map(_.getAs[String]("chunk_hash")).distinct.length == 4)
  }

  test("docChunks: doc shorter than one window emits exactly one chunk") {
    val df = Seq((1L, "a b")).toDF("doc_id", "text")
    val ch = Sampling.docChunks(df, size = 32, stride = 24).collect()
    assert(ch.length == 1 && ch.head.getAs[Int]("n_tok") == 2)
  }

  test("packSequences: intervals tile each shard stream; window spans exact") {
    // one shard so the stream is fully deterministic: docs of 3, 5, 4 tokens
    // at window 4 -> intervals [0,3) [3,8) [8,12); windows 0, 0-1, 2
    val df = Seq((1L, "a b c"), (2L, "d e f g h"), (3L, "i j k l"))
      .toDF("doc_id", "text")
    val p = Sampling.packSequences(df, windowTokens = 4, nShards = 1)
      .orderBy("doc_id").collect()
    assert(p.map(r => (r.getAs[Long]("tok_start"), r.getAs[Long]("tok_end"))).toSeq ==
      Seq((0L, 3L), (3L, 8L), (8L, 12L)))
    assert(p.map(r => (r.getAs[Long]("first_window"), r.getAs[Long]("last_window"),
      r.getAs[Long]("n_windows"))).toSeq ==
      Seq((0L, 0L, 1L), (0L, 1L, 2L), (2L, 2L, 1L)))
  }

  test("packSequences: empty docs drop; shard streams are independent") {
    val df = Seq((1L, "a b"), (2L, ""), (3L, "c d e")).toDF("doc_id", "text")
    val p = Sampling.packSequences(df, windowTokens = 4, nShards = 4)
      .collect()
    assert(p.length == 2 && !p.exists(_.getAs[Long]("doc_id") == 2L))
    // each shard's stream starts at token 0
    val starts = p.groupBy(_.getAs[Long]("shard"))
      .map { case (_, rs) => rs.map(_.getAs[Long]("tok_start")).min }
    assert(starts.forall(_ == 0L))
  }

  test("packWindowMap: every non-tail window fills exactly; slices chain through docs") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val L = 256
    val m = Sampling.packWindowMap(docs, windowTokens = L, nShards = 4)
    val manifest = Sampling.packShards(docs, windowTokens = L, nShards = 4)
      .collect().map(r => r.getAs[Long]("shard") -> r.getAs[Long]("n_sequences")).toMap
    val fills = m.groupBy("shard", "window_id")
      .agg(sum("n_tok_in_window").as("fill")).collect()
    fills.foreach { r =>
      val (shard, win, fill) = (r.getLong(0), r.getLong(1), r.getLong(2))
      if (win < manifest(shard) - 1)
        assert(fill == L, s"shard $shard window $win fill $fill != $L")
      else assert(fill >= 1 && fill <= L)
    }
    // a doc's slices across windows cover the doc exactly once
    val perDoc = m.groupBy("doc_id")
      .agg(sum("n_tok_in_window").as("covered"), min("doc_skip").as("skip0")).collect()
    val toks = Sampling.packSequences(docs, windowTokens = L, nShards = 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tok")).toMap
    perDoc.foreach { r =>
      assert(r.getAs[Long]("covered") == toks(r.getAs[Long]("doc_id")))
      assert(r.getAs[Long]("skip0") == 0L)
    }
  }

  test("packShards manifest agrees with a direct recount of the packing") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val seqs = Sampling.packSequences(docs, windowTokens = 256, nShards = 8)
    val manifest = Sampling.packShards(docs, windowTokens = 256, nShards = 8)
      .orderBy("shard").collect()
    val byShard = seqs.groupBy("shard")
      .agg(count(lit(1)).as("d"), sum("n_tok").as("t"),
        (max("last_window") + lit(1L)).as("s"))
      .orderBy("shard").collect()
    assert(manifest.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      byShard.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq)
    // token mass is conserved across shards
    assert(manifest.map(_.getAs[Long]("n_tokens")).sum ==
      seqs.agg(sum("n_tok")).head.getLong(0))
  }

  test("shardStats: every doc lands in exactly one shard; counts add up") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val stats = Sampling.shardStats(docs, nShards = 16).collect()
    assert(stats.map(_.getAs[Long]("n_docs")).sum == docs.count())
    // uniform hash: no shard holds more than 4x the mean at 500 docs / 16 shards
    val counts = stats.map(_.getAs[Long]("n_docs"))
    assert(counts.max <= 4 * (docs.count() / 16).max(1L))
  }

  test("contamination report flags exactly the docs decontaminate drops") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val corpus = docs.filter(col("doc_id") >= 5)
    val probes = docs.filter(col("doc_id") < 5)
    val flagged = Dedup.contaminationReport(corpus, probes)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val survivors = Dedup.decontaminate(corpus, probes)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flagged.nonEmpty && (flagged intersect survivors).isEmpty)
    assert((flagged union survivors) == all,
      "every corpus doc is either flagged by the report or survives the drop")
  }

  test("incremental dedup via the persisted index equals the batch pairs touching each delta") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val hi = docs.agg(max("doc_id")).head().getLong(0)
    val (t1, t2) = (hi / 3, 2 * hi / 3)
    val idx = java.nio.file.Files.createTempDirectory("dedupidx").toString
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("jaccard"))).toSet
    val full = pairs(Dedup.minhashLshPairs(docs, minJaccard = 0.5))

    DedupIndex.build(docs.filter(col("doc_id") <= t1), idx)
    val d1 = pairs(DedupIndex.dedupDelta(spark, idx,
      docs.filter(col("doc_id") > t1 && col("doc_id") <= t2), minJaccard = 0.5))
    assert(d1 == full.filter { case (_, b, _) => b > t1 && b <= t2 })

    // admit delta 1, then screen delta 2 against history + delta 1
    DedupIndex.append(docs.filter(col("doc_id") > t1 && col("doc_id") <= t2), idx)
    val d2 = pairs(DedupIndex.dedupDelta(spark, idx,
      docs.filter(col("doc_id") > t2), minJaccard = 0.5))
    assert(d2 == full.filter { case (_, b, _) => b > t2 })
    assert(d1.nonEmpty || d2.nonEmpty, "fixture should produce near-dup pairs")
  }

  test("perceptron training separates en from non-en on the real corpus") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val w = Search.perceptronTrain(docs, dims = 16, iters = 3)
    assert(w.count() == 16)
    // the trained model must beat the all-zero model on its own labels:
    // score the corpus with the trained weights and check that accuracy on
    // the training labels is well above the majority-class baseline
    val scored = Search.linearClassifierScore(docs, w)
      .join(docs.select(col("doc_id"),
        when(graft.functions.GraftFunctions.langIdFast(col("text")) === "en", 1)
          .otherwise(0).as("y")), "doc_id")
    val n = scored.count().toDouble
    val correct = scored.filter(col("keep") === col("y")).count().toDouble
    val majority = {
      val pos = scored.filter(col("y") === 1).count().toDouble
      math.max(pos, n - pos) / n
    }
    assert(correct / n > 0.9 && correct / n >= majority - 0.05,
      s"trained accuracy ${correct / n} vs majority $majority")
  }

  test("tfidf: rarer term outranks commoner term at equal tf") {
    val docs = Seq(
      (1L, "apple banana"), (2L, "apple banana"), (3L, "apple cherry"))
      .toDF("doc_id", "text")
    val top = Search.tfidfTopTerms(docs, k = 2, nDocs = 3)
    val d3 = top.filter(col("doc_id") === 3).orderBy("rank")
      .select("token").as[String].collect()
    // cherry (df=1) must outrank apple (df=3) for doc 3
    assert(d3.toSeq == Seq("cherry", "apple"))
  }

  test("bm25: doc containing more query terms scores higher; absent terms score zero") {
    val docs = Seq(
      (1L, "data fast query data"), (2L, "data slow other words"),
      (3L, "nothing relevant here at all")).toDF("doc_id", "text")
    val out = Search.bm25TopDocs(docs, Seq("data", "fast", "query"), k = 10).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq.startsWith(Seq(1L, 2L)))
    assert(!out.map(_.getAs[Long]("doc_id")).contains(3L))
  }

  test("perGroupSample: at most k per stratum, deterministic, subset of corpus") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val s1 = Sampling.perGroupSample(docs, "lang", "doc_id", k = 5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val s2 = Sampling.perGroupSample(docs, "lang", "doc_id", k = 5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(s1 == s2)
    val perLang = Sampling.perGroupSample(docs, "lang", "doc_id", k = 5)
      .groupBy("lang").count().collect()
    assert(perLang.forall(_.getAs[Long]("count") <= 5))
  }

  test("weightedSample: weight 1 keeps everything, weight 0 keeps nothing") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    assert(Sampling.weightedSample(docs, lit(1.0), "doc_id").count() == docs.count())
    assert(Sampling.weightedSample(docs, lit(0.0), "doc_id").count() == 0)
  }

  test("kmeans: two planted clusters separate; members partition the corpus") {
    val docs = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(0.1f, 0.0f)),
      (2L, Seq(10.0f, 10.0f)), (3L, Seq(10.1f, 10.0f)))
      .toDF("vec_id", "embedding")
    val out = Clustering.kmeansStats(docs, centroidStep = 2, rounds = 2)
      .orderBy("centroid_id").collect()
    assert(out.map(_.getAs[Long]("centroid_id")).toSeq == Seq(0L, 2L))
    assert(out.map(_.getAs[Long]("n_members")).toSeq == Seq(2L, 2L))
    assert(out.map(_.getAs[Long]("min_member")).toSeq == Seq(0L, 2L))
    // mean of first quantized component: (0 + 100000)/2 and (1e7 + 1.01e7)/2
    assert(out.map(_.getAs[Double]("mean_q0")).toSeq == Seq(50000.0, 1.005e7))
  }

  test("kmeans stats partition the real corpus and are run-deterministic") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val a = Clustering.kmeansStats(emb, centroidStep = 40, rounds = 2)
      .orderBy("centroid_id").collect().toSeq
    assert(a.map(_.getAs[Long]("n_members")).sum == emb.count())
    val b = Clustering.kmeansStats(emb, centroidStep = 40, rounds = 2)
      .orderBy("centroid_id").collect().toSeq
    assert(a == b)
  }

  test("bm25 saturation: tf doubling increases score sublinearly (k1 bound)") {
    // doc 4 lacks the term: df < N, so idf > 0 (a term in EVERY doc has
    // smoothed idf ln(1)=0 and is correctly filtered as signal-free)
    val docs = Seq(
      (1L, "data x x x x x x x"), (2L, "data data x x x x x x"),
      (3L, "data data data data x x x x"), (4L, "y y y y y y y y")).toDF("doc_id", "text")
    val s = Search.bm25TopDocs(docs, Seq("data"), k = 10)
      .orderBy("doc_id").select("score").as[Double].collect()
    assert(s(1) > s(0) && s(2) > s(1))          // monotone in tf
    assert(s(1) - s(0) > s(2) - s(1))            // saturating increments
  }

  test("band-bucket cap: a giant exact-dup cluster keeps ALL its pairs; degenerate cross products don't survive (r15)") {
    // 150 identical docs (every band bucket's population 150 > the 64 cap,
    // full signatures identical -> the all-pairs expansion is
    // output-justified and must survive) + distinct background docs
    val boiler = (1L to 150L).map(i => (i, "alpha beta gamma delta epsilon zeta eta theta"))
    val bg = (1000L to 1100L).map(i => (i, s"unique$i words for doc number $i only here"))
    val docs = (boiler ++ bg).toDF("doc_id", "text")
    val capped = Dedup.minhashLshPairs(docs, minJaccard = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Dedup.minhashLshPairs(docs, minJaccard = 0.9, maxBucket = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.size == 150 * 149 / 2,
      s"the hot-bucket dup cluster must keep every pair, got ${capped.size}")
    assert(capped == uncapped,
      "on a corpus whose only hot buckets are true dup clusters, capped == exact")
    // and the candidate EXPANSION is bounded: a hot bucket of mixed
    // non-dups (same band slice by construction impossible to plant via
    // text, so this is measured at scale in SCALING.md § "Dedup-tier
    // scale variance, DECIDED")
  }

  test("bm25TopDocs: dotted query terms resolve; duplicate terms are rejected") {
    // tf columns are NAMED after the term, and an unquoted col("tf_u.s.")
    // would parse the dots as struct-field access and fail — whitespace
    // tokenization makes dotted terms ordinary input
    val docs = Seq((1L, "the u.s. economy"), (2L, "the economy"), (3L, "u.s. u.s.")).toDF("doc_id", "text")
    val out = Search.bm25TopDocs(docs, Seq("u.s."), k = 10).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L))
    assert(out.find(_.getAs[Long]("doc_id") == 3L).get.getAs[Long]("tf_u.s.") == 2L)
    val e = intercept[IllegalArgumentException] {
      Search.bm25TopDocs(docs, Seq("economy", "economy"), k = 10)
    }
    assert(e.getMessage.contains("distinct"))
  }

  test("rouge2: a sub-bigram side yields NULL permilles, not a division error") {
    // under the ANSI runtime an unguarded integral div by the empty side's
    // zero gram count would throw; the contract is null permilles
    val pairs = Seq((1L, "hello", "a b c")).toDF("pair_id", "cand", "ref")
    val r = Search.rouge2(pairs).head()
    assert(r.getAs[Long]("cand_grams") == 0L && r.getAs[Long]("ref_grams") == 2L)
    assert(r.isNullAt(r.fieldIndex("p_permille")), "0 cand grams -> null precision")
    assert(!r.isNullAt(r.fieldIndex("r_permille")) && r.getAs[Long]("r_permille") == 0L)
    assert(!r.isNullAt(r.fieldIndex("f_permille")) && r.getAs[Long]("f_permille") == 0L)
  }

  test("shardStats counts a blank doc as 0 tokens, agreeing with the packing manifest") {
    val docs = Seq((1L, "two tokens"), (2L, "   ")).toDF("doc_id", "text")
    val total = Sampling.shardStats(docs, nShards = 1)
      .agg(sum("n_tokens")).head().getLong(0)
    assert(total == 2L, s"blank doc must add 0 tokens (strictTokenCount), got $total")
  }

  test("thresholdSweep on an empty corpus returns an empty sweep, not an NPE") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Sampling.thresholdSweep(empty).isEmpty)
  }
}
