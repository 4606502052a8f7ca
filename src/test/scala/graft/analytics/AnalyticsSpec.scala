package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AnalyticsSpec extends SparkSpec {

  test("exact dedup collapses planted duplicates to the min-id keeper") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (7L, "x y z"), (3L, "a b c")).toDF("doc_id", "text")
    val got = Dedup.exact(docs).orderBy("keeper_id")
      .select("keeper_id", "n_copies").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 3L), (7L, 1L)))
  }

  test("shingles: distinct trigrams; short docs → empty") {
    import spark.implicits._
    val got = Seq("a b c d", "a b", "a b c a b c a b c")
      .toDF("text").select(Dedup.shingles(col("text")).as("sh"))
      .collect().map(_.getSeq[String](0).sorted)
    assert(got(0).toSeq == Seq("a b c", "b c d"))
    assert(got(1).isEmpty)
    assert(got(2).toSeq == Seq("a b c", "b c a", "c a b")) // distinct
  }

  test("minhash LSH finds every planted high-jaccard pair that exact ngram finds (sf0.001)") {
    val docs = graft.Tables(spark, sf("sf0.001")).documents
    val exactPairs = Dedup.ngramJaccardPairs(docs, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshPairs = Dedup.minhashLshPairs(docs, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH is a candidate-pruned subset; at j>=0.8 with 4x4 bands the collision
    // probability is 1-(1-0.8^4)^4 ≈ 0.92 per pair — on the planted dups it
    // must find at least most of them, and never a false positive.
    assert(lshPairs.subsetOf(exactPairs))
    assert(exactPairs.isEmpty || lshPairs.size >= (exactPairs.size * 0.5).toInt)
    assert(exactPairs.nonEmpty, "corpus should contain planted near-dups")
  }

  test("pipeline_curate's df-cap is recall-neutral on its kept subset (sf0.01)") {
    val kept = graft.queries.AnalyticsQueries.curateKept(spark, sf("sf0.01"))
      .select("doc_id", "text")
    val cap = Dedup.dfCapFor(graft.Tables(spark, sf("sf0.01")).documents.count())
    def pairs(maxDf: Option[Int]) =
      Dedup.ngramJaccardPairs(kept, 0.6, maxDf = maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Some(cap)) == pairs(None))
  }

  test("ngram df-cap is recall-neutral: capped pairs == uncapped pairs (sf0.01)") {
    val docs = graft.Tables(spark, sf("sf0.01")).documents
    def pairs(maxDf: Option[Int]) =
      Dedup.ngramJaccardPairs(docs, 0.6, maxDf = maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = pairs(Some(Dedup.dfCapFor(docs.count())))
    val uncapped = pairs(None)
    assert(capped == uncapped)
    assert(capped.nonEmpty, "corpus should contain planted near-dups")
    // a punitive cap DOES prune (sanity that the knob is live): df=0 kills all
    assert(pairs(Some(0)).isEmpty)
  }

  test("df-cap recount branch: a pair whose shared shingles include a capped-out " +
    "hot shingle is recounted exactly (r17: the branch is gated on a materialized " +
    "emptiness check — this corpus forces it live)") {
    import spark.implicits._
    // "x y z" is corpus-hot (df = 5 > cap = 2) and is SHARED by the near-dup
    // pair (1, 2); their remaining shared trigrams survive the cap. Without
    // the recount, inter would be the post-cap common count (3) and the pair
    // would score 3/7 ≈ 0.43 < 0.6 — i.e. this test FAILS if the recount
    // branch is skipped or its arithmetic drifts. With it, inter is restored
    // to 4 from the full shingle sets: jaccard = 4/(5+5-4) = 0.6667.
    val docs = Seq(
      (1L, "x y z a b c d"),
      (2L, "x y z a b c e"),
      (3L, "x y z q1 q2"),
      (4L, "x y z q3 q4"),
      (5L, "x y z q5 q6")).toDF("doc_id", "text")
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = collectPairs(Dedup.ngramJaccardPairs(docs, 0.6, maxDf = Some(2)))
    assert(capped == Set((1L, 2L, 0.6667)),
      s"recounted pair must carry the EXACT jaccard incl. the capped shingle; got $capped")
    // pairs sharing ONLY the hot shingle (3,4,5 among themselves and with
    // 1/2) are below threshold uncapped too, so capped == uncapped here
    assert(capped == collectPairs(Dedup.ngramJaccardPairs(docs, 0.6, maxDf = None)))
    // containment twin shares the recount core: doc 6's two trigrams are
    // both inside doc 1 — "a b c" goes hot once doc 6 lands (df 3 > 2), so
    // containment 1.0 = 2/2 is only reachable through the recount ("b c d"
    // alone would read 1/2 = 0.5 and the pair would be dropped)
    val docs2 = docs.union(Seq((6L, "a b c d")).toDF("doc_id", "text"))
    val cont = Dedup.ngramContainmentPairs(docs2, 0.9, maxDf = Some(2))
      .filter(col("id_b") === 6L).collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
    assert(cont == Set((1L, 1.0)),
      s"containment recount must restore the capped shared shingle; got $cont")
  }

  test("stratified sampling: deterministic, rate-faithful per stratum; histogram covers all docs") {
    val docs = graft.Tables(spark, sf("sf0.01")).documents
    val s1 = Sampling.stratified(docs, "lang", "doc_id", Map("en" -> 500), 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = Sampling.stratified(docs, "lang", "doc_id", Map("en" -> 500), 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "hash sampling must be reproducible")
    val byLang = docs.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val en = byLang.count(_._2 == "en")
    val enKept = s1.count(byLang(_) == "en")
    val restKept = s1.size - enKept
    val rest = byLang.size - en
    // 500/1000 and 100/1000 within generous binomial slack at n≈218/282
    assert(math.abs(enKept.toDouble / en - 0.5) < 0.15, s"en kept $enKept/$en")
    assert(math.abs(restKept.toDouble / rest - 0.1) < 0.08, s"rest kept $restKept/$rest")

    val top = Sampling.topTokens(docs, 5).collect()
    assert(top.length == 5)
    assert(top.map(_.getLong(1)).toSeq == top.map(_.getLong(1)).sorted(Ordering[Long].reverse).toSeq)

    val hist = Sampling.lengthHistogram(docs, 50)
    assert(hist.agg(sum("n_docs")).head().getLong(0) == docs.count())
  }

  test("banded LSH: recall ⊇ single repetition, precision-exact vs all-pairs (sf0.01)") {
    val emb = graft.Tables(spark, sf("sf0.01")).embeddings
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = ids(Similarity.lshBucketPairs(emb, minCos = 0.35, planes = 4))
    val banded = ids(Similarity.lshBucketPairsBanded(emb, minCos = 0.35, reps = 3, planes = 4))
    val exact = ids(Dedup.embeddingNearDupPairsBlocked(emb, minCos = 0.35))
    // rep 0 uses the same plane slice as the single-rep form → superset
    assert(single.subsetOf(banded))
    assert(banded.subsetOf(exact)) // verify step keeps precision exact
    assert(banded.size > single.size, s"amplification should add recall: ${banded.size} vs ${single.size}")
  }

  test("blocked all-pairs equals the naive non-equi join row-for-row (sf0.01)") {
    val emb = graft.Tables(spark, sf("sf0.01")).embeddings
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val naive = rows(Dedup.embeddingNearDupPairs(emb, minCos = 0.4))
    val blocked = rows(Dedup.embeddingNearDupPairsBlocked(emb, minCos = 0.4))
    assert(blocked == naive)
    assert(naive.nonEmpty)
    // no BroadcastNestedLoopJoin in the blocked plan
    val plan = Dedup.embeddingNearDupPairsBlocked(emb, minCos = 0.4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("connected-components keepers: one keeper per transitive cluster, greedy keeps more") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    // cluster {1,2,3} via 2~3 and 1~3 (transitive through 3), cluster {4,5}
    val pairs = Seq((2L, 3L, 0.9), (1L, 3L, 0.9), (4L, 5L, 0.9)).toDF("id_a", "id_b", "jaccard")
    val cc = Dedup.connectedComponentKeepers(docs, pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cc == Set(1L, 4L, 9L)) // min id per cluster + untouched 9
    // greedy only drops id_b-side docs: 2 survives even though it's clustered with 1
    val greedy = Dedup.keepAfterNearDup(docs, pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(greedy == Set(1L, 2L, 4L, 9L))
  }

  test("connected-components converges on a 6-chain within the round cap") {
    import spark.implicits._
    val docs = (1L to 6L).toDF("doc_id")
    val pairs = (1L to 5L).map(i => (i, i + 1, 0.9)).toDF("id_a", "id_b", "jaccard")
    val cc = Dedup.connectedComponentKeepers(docs, pairs, maxRounds = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cc == Set(1L))
  }

  test("star contraction equals label propagation on chain, clique, and random graphs") {
    import spark.implicits._
    // 40-chain: diameter stress — label propagation needs ~40 rounds here,
    // star contraction must land the same single keeper in O(log²) rounds
    val chainDocs = (1L to 45L).toDF("doc_id")
    val chain = (1L to 39L).map(i => (i, i + 1, 0.9)).toDF("id_a", "id_b", "jaccard")
    val viaStar = Dedup.starContractionKeepers(chainDocs, chain)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaStar == Set(1L) ++ (41L to 45L)) // one keeper + untouched tail
    // clique + triangle-through + isolated: same answer as propagation
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    val pairs = Seq((2L, 3L, 0.9), (1L, 3L, 0.9), (4L, 5L, 0.9)).toDF("id_a", "id_b", "jaccard")
    val star = Dedup.starContractionKeepers(docs, pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(star == Set(1L, 4L, 9L))
    // pseudo-random sparse graph: both implementations must agree exactly
    val n = 200L
    val rndDocs = (1L to n).toDF("doc_id")
    val rnd = (1L to n).flatMap { i =>
      val j = (i * 2654435761L) % n + 1 // deterministic pseudo-random partner
      if (j != i) Some((math.min(i, j), math.max(i, j), 0.9)) else None
    }.distinct.toDF("id_a", "id_b", "jaccard")
    // exact ground truth via plain union-find on the driver
    val parent = scala.collection.mutable.Map((1L to n).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    rnd.collect().foreach { r =>
      val (x, y) = (find(r.getLong(0)), find(r.getLong(1)))
      if (x != y) parent(math.max(x, y)) = math.min(x, y)
    }
    val exact = (1L to n).filter(i => find(i) == i).toSet
    val a = Dedup.starContractionKeepers(rndDocs, rnd)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == exact)
    // propagation needs ~diameter rounds (> 60 on this graph — the very
    // case the O(log²) star contraction exists for); given enough it agrees
    val b = Dedup.connectedComponentKeepers(rndDocs, rnd, maxRounds = 200)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(b == exact)
    assert(a.nonEmpty && a.size < n)
  }

  test("cluster outliers: the planted far point is the only flagged row") {
    import spark.implicits._
    // one cluster (only id 0 seeds at centroidStep=40): nine points near the
    // origin, one planted at (1, 0). The recomputed mean sits near (0.1, 0),
    // so the plant's d² (~0.81) clears 4× the cluster mean d² (~0.36) while
    // the near points (~0.01) stay far under it.
    val rows = (0L to 8L).map(i => (i, Seq(0.001 * i, 0.0))) :+ (9L, Seq(1.0, 0.0))
    val emb = rows.toDF("vec_id", "embedding")
    val out = Clustering.clusterOutliers(emb, centroidStep = 40, rounds = 2)
    val flagged = out.filter(col("is_outlier")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(flagged == Set(9L))
    assert(out.count() == 10)
    // singleton-cluster guard: a lone vector is its own mean — d² = 0, never flagged
    val solo = Clustering.clusterOutliers(Seq((0L, Seq(3.0, 4.0))).toDF("vec_id", "embedding"),
      centroidStep = 40, rounds = 1)
    val r = solo.collect().head
    assert(r.getAs[Long]("d2") == 0L && !r.getAs[Boolean]("is_outlier"))
  }

  test("simhash: near-identical texts have small hamming distance, random ones large") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (3L, "completely different words about spark catalyst optimizer plans and shuffles"),
    ).toDF("doc_id", "text")
    val h = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(h(1L), h(2L)) < hamming(h(1L), h(3L)))
    assert(hamming(h(1L), h(2L)) <= 12)
  }

  test("cosine: unit parity and orthogonality") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0), 1.0),
                 (Seq(1.0, 0.0), Seq(0.0, 1.0), 0.0),
                 (Seq(1.0, 1.0), Seq(-1.0, -1.0), -1.0))
      .toDF("a", "b", "want")
    val rows = df.select(Similarity.cosine(col("a"), col("b")).as("cos"), col("want")).collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("bruteForceTopK returns k ranked neighbors per query, no self-pairs") {
    val emb = graft.Tables(spark, sf("sf0.001")).embeddings
    val res = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), 4).collect()
    assert(res.length == 12)
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3, 4))
      rows.foreach(r => assert(r.getLong(2) != r.getLong(0)))
      // ranks ordered by non-increasing cosine
      val byRank = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (x, y) => x >= y })
    }
  }

  test("multimodal stub decode: features match the bytes") {
    val feats = Multimodal.mediaFeatures(spark, sf("sf0.001"))
    val docs = graft.Tables(spark, sf("sf0.001")).documents
    val joined = feats.join(docs, "doc_id")
      .select(col("n_bytes"), length(col("text")).cast("long").as("n_chars_txt"),
        col("first_byte"), ascii(substring(col("text"), 1, 1)).as("first_char"))
    // ASCII corpus: byte length == char length, first byte == first char
    assert(joined.filter(col("n_bytes") =!= col("n_chars_txt")).count() == 0)
    assert(joined.filter(col("first_byte") =!= col("first_char")).count() == 0)
  }

  test("compiled expressions agree with their declarative HOF twins on the corpus") {
    import graft.functions.GraftFunctions
    val docs = graft.Tables(spark, sf("sf0.001")).documents
    val fpDiff = docs.select(
      TextAnalysis.fingerprint(col("text")).as("hof"),
      GraftFunctions.fingerprintFast(col("text")).as("fast"))
      .filter(col("hof") =!= col("fast")).count()
    assert(fpDiff == 0)
    val shDiff = docs.select(
      Dedup.simhash(col("text")).as("hof"),
      GraftFunctions.simhashFast(col("text")).as("fast"))
      .filter(col("hof") =!= col("fast")).count()
    assert(shDiff == 0)
    val liDiff = docs.select(
      TextAnalysis.langId(col("text")).as("hof"),
      GraftFunctions.langIdFast(col("text")).as("fast"))
      .filter(col("hof") =!= col("fast")).count()
    assert(liDiff == 0)
    // quality: NULL-SAFE comparison (=!= would swallow a null-vs-NaN
    // divergence), over the corpus PLUS the empty/whitespace edge rows —
    // both twins must yield NULL for "" (0/0 punct ratio) and agree on
    // whitespace-only inputs.
    import spark.implicits._
    val qInputs = docs.select(col("text"))
      .unionAll(Seq("", " ", " \t\n").toDF("text"))
    val qDiff = qInputs.select(
      TextAnalysis.qualityScore(col("text")).as("hof"),
      GraftFunctions.qualityFast(col("text")).as("fast"))
      .filter(!(col("hof") <=> col("fast"))).count()
    assert(qDiff == 0)
    val qEmpty = Seq("").toDF("text").select(
      TextAnalysis.qualityScore(col("text")).as("hof"),
      GraftFunctions.qualityFast(col("text")).as("fast")).head()
    assert(qEmpty.isNullAt(0) && qEmpty.isNullAt(1))
    // WordShingles vs HOF shingle formulation
    val toks = split(col("text"), "\\s+")
    val hofShingles = array_sort(array_distinct(transform(
      sequence(lit(0), size(toks) - 3),
      i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3)))))
    val wsDiff = docs.filter(size(toks) >= 3)
      .select(hofShingles.as("hof"), array_sort(Dedup.shingles(col("text"))).as("fast"))
      .filter(to_json(col("hof")) =!= to_json(col("fast"))).count()
    assert(wsDiff == 0)
  }

  test("langId returns a known label and fingerprint is deterministic") {
    import spark.implicits._
    val df = Seq("the cat of a house", "el gato de la casa y", "zzz qqq").toDF("text")
    val langs = df.select(TextAnalysis.langId(col("text"))).as[String].collect()
    assert(langs.toSeq == Seq("en", "es", "unknown"))
    val fp1 = df.select(TextAnalysis.fingerprint(col("text"))).as[Long].collect()
    val fp2 = df.select(TextAnalysis.fingerprint(col("text"))).as[Long].collect()
    assert(fp1.toSeq == fp2.toSeq)
  }

  test("int8 quantization: codes in [0,255], extremes pinned, error bounded, degenerate is zero") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(0.0f, 1.0f, 0.5f, 0.25f)),  // spans [0,1]
      (2L, Seq(-2.0f, 2.0f, 0.0f, 1.0f)),  // negative min
      (3L, Seq(3.5f, 3.5f, 3.5f, 3.5f))    // degenerate constant vector
    ).toDF("vec_id", "embedding")
    val rows = Quantization.int8Affine(emb).orderBy("id").collect()

    def codes(i: Int): Seq[Int] =
      rows(i).getString(rows(i).fieldIndex("qvec_json"))
        .stripPrefix("[").stripSuffix("]").split(",").map(_.trim.toInt).toSeq
    // min element -> 0, max element -> exactly 255 (no clamp needed)
    assert(codes(0) == Seq(0, 255, 127, 63))
    assert(codes(1).head == 0 && codes(1)(1) == 255)
    assert(codes(1).forall(c => c >= 0 && c <= 255))
    // degenerate: zero codes, zero scale, zero error
    assert(codes(2).forall(_ == 0))
    assert(rows(2).getLong(rows(2).fieldIndex("scale_nano")) == 0L)
    assert(rows(2).getLong(rows(2).fieldIndex("err_micro")) == 0L)
    // reconstruction error: each element's |x - x̂| < scale, so the summed
    // micro-units stay under n_dims * scale (scale_nano/1000 in micro-units)
    rows.take(2).foreach { r =>
      val scaleMicro = r.getLong(r.fieldIndex("scale_nano")) / 1000.0
      val err = r.getLong(r.fieldIndex("err_micro"))
      assert(err <= (4 * (scaleMicro + 1)).toLong, s"err=$err scaleMicro=$scaleMicro")
    }
  }
}
