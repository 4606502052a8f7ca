package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Unit semantics for the round-4 curation operators: Gopher quality gates,
  * winnowing (MOSS) fingerprints, and C4-style corpus span dedup. Each test
  * pins the per-row contract on hand-built edge cases; corpus-level parity
  * is the DuckDB oracle's job. */
class CurationGatesSpec extends SparkSpec {
  import spark.implicits._

  // -------------------------------------------------------------- gopher

  test("gopherGates: each gate trips independently and keep is their AND") {
    // 40 distinct content words + the/of/to/and: diverse, mean len in range
    val good = "the of to and " + (1 to 40).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (0L, good),                                // passes everything
      (1L, "the of to and alpha"),               // too short → gate_len=0
      (3L, ("supercalifragilistic " * 40).trim), // mean len 21 → gate_wordlen=0, no stopwords
      (4L, ("the the the the " * 20).trim)       // dup frac 79/80 → gate_rep=0
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherGates(docs).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap

    assert(out(0L).getAs[Int]("keep") == 1)
    assert(out(1L).getAs[Int]("gate_len") == 0 && out(1L).getAs[Int]("keep") == 0)
    assert(out(3L).getAs[Int]("gate_wordlen") == 0)
    assert(out(3L).getAs[Int]("gate_stop") == 0)
    assert(out(4L).getAs[Int]("gate_rep") == 0)
    // keep == AND of the four gates, on every row
    TextAnalysis.gopherGates(docs).collect().foreach { r =>
      val gates = Seq("gate_len", "gate_wordlen", "gate_stop", "gate_rep")
        .map(r.getAs[Int])
      assert(r.getAs[Int]("keep") == gates.min,
        s"keep must be the AND of the gates: $r")
    }
  }

  test("gopherGates stats: token count, mean length, stop hits, dup fraction") {
    val docs = Seq((7L, "the the cat sat")).toDF("doc_id", "text")
    val r = TextAnalysis.gopherGates(docs).collect().head
    assert(r.getAs[Long]("n_tokens") == 4)
    assert(r.getAs[Double]("mean_tok_len") == 3.0)
    assert(r.getAs[Long]("n_stop") == 1)       // distinct stopwords: just 'the'
    assert(r.getAs[Double]("dup_tok_frac") == 0.25) // 4 tokens, 3 distinct
  }

  // -------------------------------------------------------------- winnow

  private def fps(texts: (Long, String)*): Map[Long, Set[Long]] =
    texts.toSeq.toDF("doc_id", "text")
      .select(col("doc_id"),
        TextAnalysis.winnowFingerprints(col("text"), k = 3, w = 4).as("fps"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap

  test("winnow guarantee: any >= w+k-1 contiguous-token overlap shares a fingerprint") {
    // 6-token shared run (= w+k-1) embedded at different offsets in
    // otherwise-disjoint documents.
    val shared = "one two three four five six"
    val m = fps(
      10L -> s"aa bb cc $shared dd ee",
      11L -> s"$shared zz yy xx ww vv uu",
      12L -> "totally different words with no overlap at all here")
    assert((m(10L) intersect m(11L)).nonEmpty,
      "documents sharing a 6-token run must share a winnow fingerprint")
    assert((m(10L) intersect m(12L)).isEmpty)
  }

  test("winnow edge regimes: <k tokens -> empty; k..w+k-2 tokens -> global min") {
    val m = fps(
      0L -> "just two",                  // 2 tokens, 0 grams -> empty
      1L -> "alpha beta gamma",          // 1 gram  -> that gram's hash
      2L -> "alpha beta gamma delta eps" // 3 grams (< w) -> single global min
    )
    assert(m(0L).isEmpty)
    assert(m(1L).size == 1)
    assert(m(2L).size == 1)
    // the single fingerprint of the 1-gram doc: hash of the full trigram
    val h = Seq(("alpha beta gamma", 1)).toDF("g", "x")
      .select(conv(substring(sha2(col("g"), 256), 1, 15), 16, 10).cast("long"))
      .as[Long].collect().head
    assert(m(1L) == Set(h))
  }

  test("winnow density: selected fingerprints are a strict subset of gram hashes") {
    val text = (1 to 60).map(i => s"tok$i").mkString(" ") // 60 distinct tokens
    val m = fps(5L -> text)
    val nGrams = 60 - 2
    // winnowing with w=4 keeps roughly 2/(w+1) of grams; must be well under all
    assert(m(5L).nonEmpty && m(5L).size < nGrams / 2,
      s"expected sparse selection, got ${m(5L).size} of $nGrams grams")
  }

  test("winnow compiled expression ≡ declarative twin on corpus + adversarial inputs") {
    val corpus = graft.Tables(spark, sf("sf0.001")).documents.select(col("text"))
    val edges = Seq("", " ", "a", "a b", "a b c", "a b c d", "a b c d e f g",
      "  leading and trailing  ", "x\t\ttabs\nnewlines x", "a a a a a a a a")
      .toDF("text")
    val cmp = corpus.unionAll(edges).select(
      TextAnalysis.winnowFingerprints(col("text")).as("fast"),
      TextAnalysis.winnowFingerprintsDeclarative(col("text")).as("slow"))
    assert(cmp.filter(col("fast") =!= col("slow")).count() == 0)
    assert(cmp.filter(col("fast").isNull || col("slow").isNull).count() == 0)
  }

  test("winnowDupPairs: sustained overlap pairs up, single-fp noise is floored out") {
    val run = (1 to 20).map(i => s"c$i").mkString(" ") // 20-token shared run
    val docs = Seq(
      (1L, s"aa bb $run cc dd"),
      (2L, s"$run xx yy zz"),
      (3L, "totally unrelated content words here going on for a while longer")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowDupPairs(docs, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) >= 2)
    assert(pairs.keySet == Set((1L, 2L)))
    // a generous df cap is a no-op (the oracle-equality argument)
    val capped = Dedup.winnowDupPairs(docs, minShared = 2, maxDf = Some(100L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped == pairs)
  }

  // -------------------------------------------------------------- epochs

  test("epochAllocation: α=0.5 temperature upsamples small strata, downsamples large") {
    // 90/10 split: sqrt flattens to 3:1, so the small stratum repeats
    val docs = ((1 to 90).map(i => (i.toLong, "big")) ++
      (91 to 100).map(i => (i.toLong, "small"))).toDF("doc_id", "src")
    val out = Sampling.epochAllocation(docs, "src", budget = 100L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    val (nBig, epochsBig, targetBig) = out("big")
    val (nSmall, epochsSmall, targetSmall) = out("small")
    assert(nBig == 90 && nSmall == 10)
    assert(epochsSmall > 1000000L, s"small stratum must upsample: $epochsSmall")
    assert(epochsBig < 1000000L, s"big stratum must downsample: $epochsBig")
    // targets exhaust the budget (±1 doc of rounding)
    assert(math.abs(targetBig + targetSmall - 100L) <= 1)
  }

  // ---------------------------------------------------------- classifier

  test("linearClassifierScore: logit is the exact sparse dot product; keep = sign") {
    val docs = Seq((1L, "alpha beta beta gamma"), (2L, "x"), (3L, " ")).toDF("doc_id", "text")
    // w ≡ +1: logit collapses to the token count (Σ cnt·1 over buckets)
    val ones = spark.range(0, 16).toDF("bucket").withColumn("w", lit(1L))
    val up = Search.linearClassifierScore(docs, ones)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(up(1L) == (4L, 1) && up(2L) == (1L, 1))
    assert(!up.contains(3L)) // zero nonempty tokens -> no feature rows
    // w ≡ -1: same magnitude, keep flips
    val minus = ones.withColumn("w", lit(-1L))
    val down = Search.linearClassifierScore(docs, minus)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(down(1L) == (-4L, 0) && down(2L) == (-1L, 0))
  }

  // ------------------------------------------------------------ semdedup

  test("semdedup: drop set is the co-clustered subset of the exact all-pairs answer") {
    val emb = graft.Tables(spark, sf("sf0.001")).embeddings
    val kept = Clustering.semdedupKeepers(emb, centroidStep = 10, rounds = 2, minCos = 0.35)
    val keptIds = kept.select("vec_id").collect().map(_.getLong(0)).toSet
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val dropped = all -- keptIds
    // exact all-pairs greedy drop set at the same threshold (superset):
    // every id semdedup drops must be the higher side of a TRUE near-dup pair
    val exactDropped = Dedup.embeddingNearDupPairsBlocked(emb, minCos = 0.35)
      .select("id_b").collect().map(_.getLong(0)).toSet
    assert(dropped.subsetOf(exactDropped),
      s"semdedup dropped non-duplicates: ${dropped -- exactDropped}")
    // and the clustering must actually find some of them at this threshold —
    // a non-empty drop set keeps the subset check above non-vacuous
    assert(dropped.nonEmpty,
      "semdedup found no co-clustered near-dups; the subset assertion is vacuous")
    assert(kept.count() == all.size - dropped.size)
  }

  // -------------------------------------------------------------- spans

  test("spanDedupStats: first occurrence corpus-wide keeps, later ones are removed") {
    val span = (1 to 16).map(i => s"s$i").mkString(" ")   // one exact 16-token span
    val filler = (1 to 16).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, s"$span $filler"),   // spans: [span, filler] — both first occurrences
      (2L, s"$filler $span"),   // both spans already seen -> 2 removed
      (3L, "short tail only")   // one partial 3-token span, unique
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedupStats(docs, spanTokens = 16).orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap

    assert(byId(1L) == Row(1L, 2L, 0L, 32L))
    assert(byId(2L) == Row(2L, 2L, 2L, 0L))
    assert(byId(3L) == Row(3L, 1L, 0L, 3L))
  }

  test("spanDedupStats: within-doc repeats also dedup (first wins)") {
    val span = (1 to 16).map(i => s"r$i").mkString(" ")
    val docs = Seq((9L, s"$span $span $span")).toDF("doc_id", "text")
    val r = Dedup.spanDedupStats(docs, spanTokens = 16).collect().head
    assert(r == Row(9L, 3L, 2L, 16L))
  }

  test("spanDedupMaterialize: survivors re-join in order; fully-duplicate docs vanish") {
    val span = (1 to 16).map(i => s"m$i").mkString(" ")
    val filler = (1 to 16).map(i => s"g$i").mkString(" ")
    val docs = Seq(
      (1L, s"$span $filler"),
      (2L, s"$span $filler"), // every span already seen -> doc vanishes
      (3L, s"$filler tail words")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedupMaterialize(docs, spanTokens = 16)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out.keySet == Set(1L, 3L))
    assert(out(1L) == (s"$span $filler", 2L))
    assert(out(3L) == ("tail words", 1L)) // its filler span lost to doc 1
  }
}
