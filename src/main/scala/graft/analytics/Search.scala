package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus search / term-weighting operators: TF-IDF term extraction and
  * BM25 ranking — the retrieval half of a training-data pipeline (nearest
  * queries, quality-weighted sampling, topic surfacing).
  *
  * Cross-engine determinism: the only transcendental in either scorer is
  * `ln`, and libm implementations differ in the last ulp, so idf is
  * QUANTIZED at the contract boundary — `idf_micro = round(ln((N+1)/(df+1))
  * · 1e6)` as an integer. Every comparison and ranking downstream is then
  * integer-exact (TF-IDF) or a fixed-parenthesization IEEE chain over
  * identical inputs (BM25), so Spark and any SQL oracle agree bit-for-bit.
  * A 1-ulp `ln` difference can only flip the quantized value when the
  * product lands within ~1e-9 of a .5 boundary — vanishing, and confined
  * to a single df value if it ever happens.
  *
  * Materialization (the rule every `graft.analytics` operator follows):
  * an intermediate read more than once and a result whose lineage must not
  * re-run are both eager `localCheckpoint`s ([[Checkpoints]]) —
  * materialized, lineage-free, with no CacheManager entry (`storageLevel`
  * is NONE). An operator releases every intermediate checkpoint it makes
  * before it returns. A caller has nothing to release; a result's blocks
  * are freed by the ContextCleaner once the frame is unreachable.
  */
object Search {

  /** Smoothed idf in integer micro-units: `round(ln((N+1)/(df+1)) * 1e6)`. */
  def idfMicro(df: Column, nDocs: Long): Column =
    round(log((lit(nDocs + 1).cast("double")) / (df + lit(1))) * 1e6).cast("long")

  /** BM25's k1 and b: the standard Robertson defaults, used by every scorer. */
  private val K1 = 1.2
  private val B = 0.75

  /** One query term's BM25 contribution on a frame with a `dl` column:
    *   idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    * where `idf` is the quantized idf in integer micro-units ([[idfMicro]])
    * and `tf` the term's count in the doc. The one copy of the expression
    * behind [[bm25TopDocs]] and every [[SearchIndex]] ranking. */
  private[analytics] def bm25Term(idf: Column, tf: Column, avgdl: Double): Column = {
    val t = tf.cast("double")
    (idf.cast("double") / 1e6) *
      (t * (K1 + 1)) / (t + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / avgdl))
  }

  /** Per-doc top-k terms by tf·idf.
    *
    * Shape at scale: the token stream aggregates to (doc, token, tf) with
    * map-side combine; df is a vocab-keyed aggregate of that frame (vocab ≪
    * corpus, so the tf⋈df join broadcasts under AQE at any realistic vocab);
    * the per-doc ranking is a (doc_id)-keyed window with k ≤ the group-limit
    * threshold, so Spark plans the two-stage InferWindowGroupLimit — no
    * per-doc full sorts beyond the partial stage. score_micro = tf·idf_micro
    * stays integer-exact. */
  def tfidfTopTerms(docs: DataFrame, k: Int, nDocs: Long,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "token")
      .withColumn("score_micro", col("tf") * idfMicro(col("df"), nDocs))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_micro").desc, col("token"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"), col("df"),
        col("score_micro"))
  }

  /** BM25 ranking of the corpus against a small fixed query-term set.
    *
    * Per query term the score contribution is [[bm25Term]], with idf
    * quantized (see [[idfMicro]]) and the sum over query terms taken in
    * FIXED term order (explicit `+` chain, not an aggregate), so the double
    * arithmetic is the same IEEE chain on both engines.
    *
    * Shape at scale: one narrow pass computes per-doc tf for each query
    * term (a handful of `size(filter(tokens))` counters — no explode, no
    * shuffle); N, avgdl, and per-term dfs are one tiny corpus aggregate
    * broadcast back as literals; ranking is a global top-k =
    * TakeOrderedAndProject. The tokenized per-doc counters are an eager
    * checkpoint read by both the stats action and the scoring scan, so the
    * corpus parquet is read (and tokenized) exactly ONCE. */
  def bm25TopDocs(docs: DataFrame, queryTerms: Seq[String], k: Int,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms == queryTerms.sorted,
      "queryTerms must be non-empty and sorted (fixed summation order is the determinism contract)")
    require(queryTerms.toSet.size == queryTerms.size,
      "queryTerms must be distinct (a duplicate would alias two identical tf columns)")
    // per-term columns are NAMED after the term (the output contract), so
    // later references must be backtick-quoted: col("tf_u.s.") would parse
    // the dots as struct-field access and fail to resolve — whitespace
    // tokenization makes dotted terms ordinary input, not an edge case
    def tfCol(t: String): Column = col("`tf_" + t.replace("`", "``") + "`")
    // tokenize ONCE per doc (r17): `toks` is referenced |terms|+1 times
    // below — as a single-select form each reference instantiates the
    // tokenizer expression, i.e. |terms|+1 regex passes per row. A
    // referenced-twice non-cheap alias survives CollapseProject, so the
    // two-step select evaluates the tokenizer once and the counters read
    // the materialized array.
    val toks = TextAnalysis.tokens(col(textCol))
    val perDoc = docs
      .select(col(idCol).as("doc_id"), toks.as("__toks"))
      .select(
        (Seq(col("doc_id"), size(col("__toks")).cast("long").as("dl")) ++
          queryTerms.map(t =>
            size(filter(col("__toks"), x => x === t)).cast("long").as(s"tf_$t"))): _*)
      .localCheckpoint(true)
    // one tiny aggregate: N, total token mass, per-term document frequencies
    val statsRow = perDoc.agg(
      count(lit(1)).as("n"),
      (Seq(sum(col("dl")).as("dl_sum")) ++
        queryTerms.map(t => sum(when(tfCol(t) > 0, 1L).otherwise(0L)).as(s"df_$t"))): _*)
      .head()
    val n = statsRow.getAs[Long]("n")
    val avgdl = statsRow.getAs[Long]("dl_sum").toDouble / n
    val score = queryTerms.map { t =>
      bm25Term(idfMicro(lit(statsRow.getAs[Long](s"df_$t")), n), tfCol(t), avgdl)
    }.reduce(_ + _) // fixed left-to-right term order == the oracle's chain
    val out = perDoc.withColumn("score", round(score, 4))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .select((Seq(col("doc_id"), col("dl")) ++
        queryTerms.map(tfCol) ++ Seq(col("score"))): _*)
      .localCheckpoint(true) // scoring scan reads the checkpointed counters, not parquet
    Checkpoints.releaseCheckpoint(perDoc)
    out
  }

  /** Per-document bigram language-model surprisal — the perplexity-style
    * quality filter (CCNet-family): train add-one-smoothed bigram counts on
    * the corpus itself, score every document by its mean negative log
    * probability. High surprisal = off-distribution text (boilerplate,
    * gibberish, wrong language); a training pipeline thresholds or buckets
    * on it.
    *
    *   P(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V),  V = |distinct tokens|
    *   surprisal(doc) = mean over its bigram OCCURRENCES of −ln P
    *
    * Determinism: −ln P > 0 is quantized per bigram to integer micro-nats
    * (the [[idfMicro]] pattern), summed exactly as int64, divided once at
    * the output boundary — Spark and the DuckDB oracle agree bit-for-bit.
    *
    * Shape at 100 TB: the LM tables are VOCABULARY-sized, not corpus-sized
    * — c2 is one map-side-combined aggregate over the bigram stream, c1
    * and V the same over heads/tokens — so the scoring joins broadcast
    * under AQE for any real vocabulary (≤ millions of types), and the only
    * corpus-sized shuffle is the final doc_id aggregation. The corpus is
    * read and TOKENIZED exactly once: a (doc_id, tokens) frame is
    * checkpointed up front, and bigrams, heads, and the vocabulary all
    * derive from the checkpointed arrays. Documents with fewer than two tokens
    * have no bigrams and no score (absent rows, not NULL — same
    * construction in the oracle). */
  def bigramSurprisal(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("toks")).localCheckpoint(true)
    val bg = toks.select(col("doc_id"),
        explode(TextAnalysis.bigramsOfTokens(col("toks"))).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val c2 = bg.groupBy("bg").agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = toks.select(explode(col("toks")).as("tok"))
      .filter(length(col("tok")) > 0)
      .agg(countDistinct(col("tok")).as("v"))
    val out = bg.join(c2, "bg").join(c1, "w1").crossJoin(broadcast(vocab))
      .withColumn("s_micro",
        round(log((col("c1") + col("v")).cast("double") /
          (col("c2") + lit(1)).cast("double")) * 1e6).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s_micro")).as("sum_micro"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sum_micro").cast("double") / col("n_bigrams") / 1e6, 4)
          .as("avg_surprisal"))
      .localCheckpoint(true) // score from the token checkpoint, then release it
    Checkpoints.releaseCheckpoint(toks)
    out
  }

  /** Per-document INTERPOLATED KNESER-NEY bigram surprisal — the
    * CCNet-family quality filter with the smoothing actually used in
    * production n-gram LMs (add-one over-penalizes frequent-head bigrams;
    * KN discounts observed mass and backs off to CONTINUATION probability,
    * how many contexts a word completes, not how often it occurs):
    *
    *   P(w2|w1) = max(c(w1w2) − D, 0)/c(w1·)
    *            + (D·N1+(w1·)/c(w1·)) · (N1+(·w2)/Nt),   D = 3/4
    *
    * where N1+(w1·) = distinct continuations of w1, N1+(·w2) = distinct
    * predecessors of w2, Nt = total distinct bigram types. With D = 3/4
    * everything clears to one integer ratio per bigram:
    *
    *   P = (max(4·c2 − 3, 0)·Nt + 3·n1p·n1m) / (4·c1·Nt)
    *
    * and −ln P is quantized to integer micro-nats exactly like
    * [[bigramSurprisal]] (one `ln` on a ratio of two int64s — both engines
    * convert int64→double with identical IEEE round-to-nearest and divide
    * exactly-rounded, so cross-engine agreement holds even past 2^53 where
    * the conversion itself rounds). Scoring the training corpus means every
    * scored bigram has c2 ≥ 1, so the numerator is ≥ Nt > 0 — no log(0)
    * branch. Per head the full-vocab KN mass telescopes to exactly 1
    * (Σ_seen c2 = c1, Σ_seen D = D·n1p, Σ_vocab n1m = Nt), which the spec
    * checks on a hand-computed corpus.
    *
    * Shape at 100 TB: identical to [[bigramSurprisal]] — all five model
    * tables (c2, c1, n1p, n1m, Nt) are VOCABULARY-sized aggregates of one
    * checkpointed (doc_id, tokens) frame (single corpus scan + tokenize,
    * plan-asserted), the scoring joins broadcast under AQE, and the only
    * corpus-sized shuffle is the final doc_id aggregation. */
  def knSurprisal(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("toks")).localCheckpoint(true)
    val bg = toks.select(col("doc_id"),
        explode(TextAnalysis.bigramsOfTokens(col("toks"))).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val c2 = bg.groupBy("bg").agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"),
      countDistinct(col("bg")).as("n1p"))
    val n1m = c2.select(substring_index(col("bg"), " ", -1).as("w2"))
      .groupBy("w2").agg(count(lit(1)).as("n1m"))
    val nt = c2.agg(count(lit(1)).as("nt"))
    val out = bg.join(c2, "bg").join(c1, "w1").join(n1m, "w2")
      .crossJoin(broadcast(nt))
      // products in DOUBLE, each operand cast first (the collocations /
      // dsirLogWeights convention): 4·c1·nt and the num terms are int64
      // products of corpus-scale counts — they overflow Long near
      // c1·nt ≈ 2.3e18 (reachable around a TB of text) and would wrap
      // into log() as NaN; doubles lose nothing here (only the log's
      // argument, already rounded to micro units afterwards)
      .withColumn("num",
        greatest(lit(4L) * col("c2") - lit(3L), lit(0L)).cast("double") *
          col("nt").cast("double") +
          lit(3.0) * col("n1p").cast("double") * col("n1m").cast("double"))
      .withColumn("s_micro",
        round(log(lit(4.0) * col("c1").cast("double") * col("nt").cast("double") /
          col("num")) * 1e6).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s_micro")).as("sum_micro"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sum_micro").cast("double") / col("n_bigrams") / 1e6, 4)
          .as("avg_kn_surprisal"))
      .localCheckpoint(true) // score from the token checkpoint, then release it
    Checkpoints.releaseCheckpoint(toks)
    out
  }

  /** HELD-OUT interpolated Kneser-Ney scoring — the CCNet deployment shape:
    * a FIXED LM (trained on the reference corpus) scores a DIFFERENT corpus,
    * so every backoff branch fires, not just the seen-bigram arm that
    * [[knSurprisal]] exercises. The split is the [[Sampling.hashBucket]]
    * per-mille assignment ([[Sampling.splitAssign]]'s boundaries): buckets
    * < `trainPerMille` train the model, the rest are scored.
    *
    * Held-out bigrams hit three regimes, all one integer ratio:
    *
    *   seen head   P = max(4·c2−3, 0)/(4·c1) + (3·n1p/(4·c1)) · Pc(w2)
    *   unseen head P = Pc(w2)
    *   Pc(w2)      = (n1m(w2) + 1) / Z,   Z = Nt + V + 1
    *
    * Pc is the add-one-smoothed CONTINUATION distribution over the training
    * vocabulary plus one OOV bucket — Σ_vocab n1m = Nt, so Pc sums to
    * exactly 1 over vocab ∪ {OOV}, and per seen head the full KN mass still
    * telescopes to 1 (Σ_seen max(4c2−3,0) = 4c1 − 3n1p when every seen c2
    * ≥ 1). Unseen bigram under a seen head ⇒ the discounted term is 0 and
    * only the continuation arm pays; unseen w2 ⇒ n1m = 0 ⇒ the OOV floor
    * 1/Z. No branch can reach log(0): a seen head has n1p ≥ 1 so the
    * numerator is ≥ 3, an unseen head's is ≥ 1. −ln P is quantized to
    * integer micro-nats exactly like [[knSurprisal]].
    *
    * Shape at 100 TB: identical to [[knSurprisal]] — one checkpointed
    * (doc_id, bucket, tokens) frame feeds both the training aggregates and
    * the scoring stream (single corpus scan + tokenize); the five model
    * tables are vocabulary-sized and broadcast under AQE; the only
    * corpus-sized shuffle is the final doc_id aggregation. The output adds
    * `n_unseen` (bigrams with zero training count) — the OOV-rate signal a
    * curation pipeline thresholds alongside the surprisal itself. */
  def knHeldoutScore(docs: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id", trainPerMille: Int = 800): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      Sampling.hashBucket(col(idCol)).as("bkt"),
      TextAnalysis.tokens(col(textCol)).as("toks")).localCheckpoint(true)
    val bgAll = toks.select(col("doc_id"), col("bkt"),
        explode(TextAnalysis.bigramsOfTokens(col("toks"))).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val train = bgAll.filter(col("bkt") < trainPerMille)
    val c2 = train.groupBy("bg").agg(count(lit(1)).as("c2"))
    val c1 = train.groupBy("w1").agg(count(lit(1)).as("c1"),
      countDistinct(col("bg")).as("n1p"))
    val n1m = c2.select(substring_index(col("bg"), " ", -1).as("w2"))
      .groupBy("w2").agg(count(lit(1)).as("n1m"))
    // Z = Nt + V + 1: bigram types + unigram vocab + one OOV bucket.
    val z = c2.agg(count(lit(1)).as("nt")).crossJoin(
        toks.filter(col("bkt") < trainPerMille)
          .select(explode(col("toks")).as("tok"))
          .filter(length(col("tok")) > 0)
          .agg(countDistinct(col("tok")).as("v")))
      .select((col("nt") + col("v") + lit(1L)).as("z"))
    val out = bgAll.filter(col("bkt") >= trainPerMille)
      .join(c2, Seq("bg"), "left")
      .join(c1, Seq("w1"), "left")
      .join(n1m, Seq("w2"), "left")
      .crossJoin(broadcast(z))
      .na.fill(0L, Seq("c2", "c1", "n1p", "n1m"))
      // same double-product convention as knSurprisal (int64 products of
      // corpus-scale counts overflow Long long before the doc counts do)
      .withColumn("num", when(col("c1") > 0,
          greatest(lit(4L) * col("c2") - lit(3L), lit(0L)).cast("double") *
            col("z").cast("double") +
            lit(3.0) * col("n1p").cast("double") * (col("n1m") + lit(1L)).cast("double"))
        .otherwise((col("n1m") + lit(1L)).cast("double")))
      .withColumn("den", when(col("c1") > 0,
          lit(4.0) * col("c1").cast("double") * col("z").cast("double"))
        .otherwise(col("z").cast("double")))
      .withColumn("s_micro",
        round(log(col("den") / col("num")) * 1e6).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c2") === 0, 1L).otherwise(0L)).as("n_unseen"),
        sum(col("s_micro")).as("sum_micro"))
      .select(col("doc_id"), col("n_bigrams"), col("n_unseen"),
        round(col("sum_micro").cast("double") / col("n_bigrams") / 1e6, 4)
          .as("avg_kn_surprisal"))
      .localCheckpoint(true) // score from the token checkpoint, then release it
    Checkpoints.releaseCheckpoint(toks)
    out
  }

  /** Linear (fasttext-shaped) quality-classifier INFERENCE over hashed
    * features: logit = Σ_buckets count(doc, b) · w(b), keep = logit ≥ 0.
    * The third leg of the quality-filter tripod — rules
    * ([[TextAnalysis.gopherGates]]), perplexity ([[bigramSurprisal]]), and a
    * learned linear model — this operator is the SERVING side: training
    * happens offline, the pipeline only does the sparse dot product.
    *
    * `weights` is any (bucket, w) frame; at real scale it is
    * vocabulary-bucket-sized (the hashing trick bounds it to `dims` rows) so
    * the join is a broadcast against the feature stream, and the only
    * corpus-sized shuffles are the two doc_id/bucket-keyed aggregates under
    * [[graft.analytics.Sampling.hashingVectorize]]. Integer weights ×
    * integer counts keep the logit exact int64 cross-engine (the sigmoid is
    * monotone — the keep decision needs only the sign).
    *
    * [[derivedWeights]] builds the deterministic sha-derived weight table
    * the oracled query uses (a stand-in for learned weights with the same
    * join/aggregate shape). */
  def linearClassifierScore(docs: DataFrame, weights: DataFrame, dims: Int = 16,
                            textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    Sampling.hashingVectorize(docs, dims, textCol, idCol)
      .join(broadcast(weights), "bucket")
      .groupBy("doc_id")
      .agg(sum(col("cnt") * col("w")).as("logit"))
      .select(col("doc_id"), col("logit"),
        (col("logit") >= 0).cast("int").as("keep"))

  /** Distributed TRAINING for the linear quality classifier — the batch
    * perceptron over hashed features, the in-engine counterpart of
    * [[linearClassifierScore]]'s serving side. `iters` full-batch rounds:
    * margin(doc) = Σ_b cnt·w(b); every doc with y·margin ≤ 0 is
    * misclassified and contributes y·cnt(b) to the next round's weight
    * delta. All arithmetic is int64 (counts × integer weights), so the
    * trained weights are bit-identical cross-engine — no learning rate, no
    * float gradient, and the unrolled iterations are plain SQL.
    *
    * Shape at 100 TB: the feature frame (doc_id, bucket, cnt — dims ints
    * per doc, tiny next to the text it summarizes) is built ONCE
    * ([[graft.analytics.Sampling.hashingVectorize]]) and checkpointed; each round
    * is two aggregates over it — a doc_id-keyed margin and a bucket-keyed
    * delta — with the dims-row weight table broadcast out and collected
    * back (model state is driver-sized by the hashing trick, never
    * corpus-sized). Labels come from `labelOf` (default: the lang-ID
    * heuristic, +1 for 'en'), so training needs no side table.
    *
    * MODEL-BOUNDED COLLECT CONTRACT (VERDICT r12 #7): each round collects
    * the per-bucket gradient — O(dims) rows — to the driver, and the
    * O(dims) weight table is broadcast back. That is the correct pattern
    * for MODEL-sized state only: the driver-side cost is dims × iters rows,
    * independent of corpus size, and is fine through dims ~ 10⁵; it is NOT
    * a distributed weight store, so dims ~ 2²⁰+ (a full hashing-trick
    * vocabulary) would turn every round into a multi-MB driver round-trip
    * and the weight broadcast into the bottleneck — shard the weight table
    * as a keyed frame and replace the collect with a join before raising
    * the guard below. The same contract covers every
    * [[graft.analytics.Sampling.hashingVectorize]] consumer that collects
    * bucket-keyed aggregates ([[classifierAuc]] et al.: O(dims·logits)). */
  def perceptronTrain(docs: DataFrame, dims: Int = 16, iters: Int = 3,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(dims >= 1 && dims <= (1 << 17),
      s"perceptronTrain keeps O(dims) model state on the driver per round; " +
        s"dims=$dims exceeds the 2^17 guard - shard the weight table instead " +
        "(see the model-bounded collect contract in the scaladoc)")
    val spark = docs.sparkSession
    val labels = docs.select(col(idCol).as("doc_id"),
      when(graft.functions.GraftFunctions.langIdFast(col(textCol)) === "en", 1L)
        .otherwise(-1L).as("y"))
    val fl = Sampling.hashingVectorize(docs, dims, textCol, idCol)
      .join(labels, "doc_id")
      .localCheckpoint(true)
    var w: Map[Long, Long] =
      (0L until dims.toLong).map(_ -> 0L).toMap
    for (_ <- 1 to iters) {
      import spark.implicits._
      val wDf = w.toSeq.sortBy(_._1).toDF("bucket", "w")
      val mis = fl.join(broadcast(wDf), "bucket")
        .groupBy(col("doc_id"), col("y"))
        .agg(sum(col("cnt") * col("w")).as("m"))
        .filter(col("y") * col("m") <= 0)
        .select("doc_id")
      val delta = fl.join(mis, Seq("doc_id"), "left_semi")
        .groupBy("bucket")
        .agg(sum(col("y") * col("cnt")).as("d"))
        .collect().map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("d")).toMap
      w = w.map { case (b, v) => b -> (v + delta.getOrElse(b, 0L)) }
    }
    Checkpoints.releaseCheckpoint(fl)
    import spark.implicits._
    w.toSeq.sortBy(_._1).toDF("bucket", "w")
  }

  /** Deterministic integer weights in [-1000, 1000] per hash bucket
    * (sha-derived, engine-neutral). */
  def derivedWeights(docs: DataFrame, dims: Int = 16): DataFrame =
    docs.sparkSession.range(0, dims).toDF("bucket")
      .select(col("bucket"),
        (Dedup.hash60(concat(lit("w"), col("bucket"))) % 2001 - 1000).as("w"))

  /** Per-logit class counts — the corpus-collapsing core under
    * [[classifierAuc]] and [[classifierPrCurve]]. One
    * [[linearClassifierScore]] pass joins the lang-ID label (positive =
    * 'en', the [[perceptronTrain]] convention) and collapses the corpus to
    * ONE row per distinct integer logit with (n_pos, n_neg) — map-side
    * combinable, so 10¹² docs exchange at most distinct-logit rows per
    * partition. Everything downstream (rank statistics, threshold sweeps)
    * runs on this frame, which is bounded by the distinct-logit count, not
    * the corpus. */
  private def perScoreCounts(docs: DataFrame, weights: DataFrame, dims: Int,
                             textCol: String, idCol: String): DataFrame = {
    val scored = linearClassifierScore(docs, weights, dims, textCol, idCol)
    val labels = docs.select(col(idCol).as("doc_id"),
      (graft.functions.GraftFunctions.langIdFast(col(textCol)) === "en").as("__pos"))
    scored.join(labels, "doc_id")
      .groupBy("logit")
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("__pos"), 0L).otherwise(1L)).as("n_neg"))
  }

  /** Classifier ROC-AUC as an exact integer rank statistic — the quality
    * gate's own quality gate: before a learned filter prunes a corpus, the
    * pipeline measures how well its scores separate the classes.
    * Mann-Whitney with midrank tie handling:
    *
    *   AUC = [Σ_s nPos(s) · (negBelow(s) + nNeg(s)/2)] / (P·N)
    *
    * reported ×2 to stay integral (`auc_num = Σ nPos·(2·negBelow + nNeg)`,
    * `auc_den = 2·P·N`) plus the integer-division `auc_permicro` — no
    * doubles anywhere, so Spark and the SQL oracle agree bit-for-bit.
    *
    * Shape at 100 TB: the corpus collapses to [[perScoreCounts]]'s
    * distinct-logit frame; the single-partition ordered window below runs
    * over THAT (thousands of rows at most), never the corpus. auc_num and
    * auc_den stay int64 (exact up to P·N < 2⁶³⁻¹, ≈2·10⁹ docs per class);
    * the permicro scaling goes through DECIMAL(38,0), whose headroom
    * covers 10⁶·auc_num everywhere auc_num itself fits — past the int64
    * doc bound, swap the two product columns to DECIMAL(38,0) too. A
    * single-class corpus reports auc_permicro NULL (AUC is undefined). */
  def classifierAuc(docs: DataFrame, weights: DataFrame, dims: Int = 16,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val counts = perScoreCounts(docs, weights, dims, textCol, idCol)
    val asc = Window.orderBy(col("logit"))
      .rowsBetween(Window.unboundedPreceding, -1)
    counts
      .withColumn("__nb", coalesce(sum(col("n_neg")).over(asc), lit(0L)))
      .agg(sum(col("n_pos")).as("n_pos"),
        sum(col("n_neg")).as("n_neg"),
        count(lit(1)).as("n_scores"),
        sum(col("n_pos") * (lit(2L) * col("__nb") + col("n_neg"))).as("auc_num"))
      .withColumn("auc_den", lit(2L) * col("n_pos") * col("n_neg"))
      // permicro through DECIMAL(38,0): the int64 product 1000000·auc_num
      // overflows at P·N ≈ 4.6e12 (~2.2M docs per class) — three orders
      // below auc_num's own 2^63 bound; and a single-class corpus
      // (auc_den = 0) yields NULL, not a division error
      .withColumn("auc_permicro",
        when(col("auc_den") > 0,
          floor(col("auc_num").cast("decimal(38,0)") * lit(1000000L) / col("auc_den"))
            .cast("long")))
  }

  /** Precision/recall sweep over every distinct logit threshold (predict
    * positive when logit ≥ t) — the curve a pipeline reads to PICK the
    * keep threshold [[linearClassifierScore]] then serves. All-integer
    * permille metrics (precision, recall, F1 = 2tp/(2tp+fp+fn)), so the
    * sweep is cross-engine exact.
    *
    * Shape at 100 TB: one corpus pass collapses to [[perScoreCounts]]'s
    * distinct-logit frame; the descending cumulative sums and the 1-row
    * positives total are windows/aggregates over that small frame
    * (single-partition by design — it is threshold-count-sized). */
  def classifierPrCurve(docs: DataFrame, weights: DataFrame, dims: Int = 16,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val counts = perScoreCounts(docs, weights, dims, textCol, idCol)
      .localCheckpoint(true) // feeds the cumulative window AND the totals row
    val desc = Window.orderBy(col("logit").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = counts.agg(sum(col("n_pos")).as("__p"))
    counts
      .withColumn("tp", sum(col("n_pos")).over(desc))
      .withColumn("fp", sum(col("n_neg")).over(desc))
      .crossJoin(broadcast(tot))
      .select(col("logit").as("threshold"), col("tp"), col("fp"),
        (col("__p") - col("tp")).as("fn"))
      .withColumn("precision_permille", expr("1000 * tp div (tp + fp)"))
      .withColumn("recall_permille", expr("1000 * tp div (tp + fn)"))
      .withColumn("f1_permille", expr("2000 * tp div (2 * tp + fp + fn)"))
  }

  /** PMI collocation mining — the phrase-vocabulary pass a tokenizer-prep
    * pipeline runs before merging multiword units:
    *
    *   pmi(w1 w2) = ln( p(w1 w2) / (p(w1)·p(w2)) )
    *              = ln( c2·U·U / (T·c(w1)·c(w2)) )
    *
    * with c2 the bigram occurrence count, T total bigram occurrences, c(w)
    * unigram occurrence counts, U total token occurrences. A `minCount`
    * floor kills the hapax noise PMI is notorious for; output is the
    * global top-k by (quantized) PMI.
    *
    * Determinism: one `ln` per surviving bigram over a double ratio whose
    * six operands are exact counts (products correctly rounded), quantized
    * to integer micro-nats ([[idfMicro]] argument); ties break on the
    * bigram string.
    *
    * Shape at 100 TB: the corpus is read and tokenized ONCE (checkpointed token
    * frame, the [[bigramSurprisal]] pattern); c2 and the unigram table are
    * map-side-combined aggregates of the bigram/token streams (both
    * vocabulary-sized outputs); totals are one tiny row broadcast back; the
    * scoring joins are vocab⋈vocab (broadcast under AQE); the final top-k
    * is TakeOrderedAndProject. No corpus-sized shuffle at all. */
  def collocations(docs: DataFrame, minCount: Long = 5, k: Int = 50,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("toks")).localCheckpoint(true)
    val bg = toks.select(explode(TextAnalysis.bigramsOfTokens(col("toks"))).as("bg"))
    val c2 = bg.groupBy("bg").agg(count(lit(1)).as("c2"))
    val uni = toks.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cu"))
    val tot = c2.agg(sum(col("c2")).as("t"))
      .crossJoin(uni.agg(sum(col("cu")).as("u")))
    val out = c2.filter(col("c2") >= minCount)
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(uni.select(col("tok").as("w1"), col("cu").as("cu1")), "w1")
      .join(uni.select(col("tok").as("w2"), col("cu").as("cu2")), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c2"),
        round(log((col("c2").cast("double") * col("u").cast("double") * col("u").cast("double")) /
                  (col("t").cast("double") * col("cu1").cast("double") * col("cu2").cast("double")))
          * 1e6).cast("long").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
      .limit(k)
      .localCheckpoint(true)
    Checkpoints.releaseCheckpoint(toks)
    out
  }

  /** Reciprocal-rank fusion of a dense (embedding cosine) and a sparse
    * (BM25) retrieval leg — the standard hybrid-search combiner
    * (Cormack et al., SIGIR'09): each leg contributes 1/(K + rank) for the
    * documents it ranked, documents found by both legs float to the top.
    *
    * Inputs are the LEGS' top-k tables — (id, rank) with rank 1-based and
    * already deterministic per leg — so fusion cost is k-sized, never
    * corpus-sized: a full-outer join of two ≤k-row frames. At 100 TB the
    * expensive work happened inside the legs (which are index-served:
    * [[graft.analytics.SearchIndex]] / [[graft.analytics.PqIndex]]); the
    * fusion itself is a driver-negligible tail.
    *
    * Determinism: the contribution is quantized to integer micro-units as
    * `floor(1e6 / (K + rank))` — an exact integer both engines compute
    * identically (the double quotient of two small ints is correctly
    * rounded, and its floor can only disagree where the true quotient is an
    * integer, where the double is exact) — summed as int64, ties broken on
    * id. */
  def hybridRrf(dense: DataFrame, sparse: DataFrame, kConst: Int = 60,
                topN: Int = 20): DataFrame = {
    def contrib(rank: Column): Column =
      coalesce(floor(lit(1000000.0) / (lit(kConst) + rank)).cast("long"), lit(0L))
    dense.select(col("id"), col("rank").as("rank_dense"))
      .join(sparse.select(col("id"), col("rank").as("rank_sparse")),
        Seq("id"), "full_outer")
      .withColumn("rrf_micro",
        contrib(col("rank_dense")) + contrib(col("rank_sparse")))
      .orderBy(col("rrf_micro").desc, col("id"))
      .limit(topN)
      .select(col("id"), col("rank_dense"), col("rank_sparse"), col("rrf_micro"))
  }

  /** DSIR-style importance log-weights (Xie et al., NeurIPS'23: Data
    * Selection via Importance Resampling) — score every corpus document by
    * how much more likely its hashed-bigram bag is under a TARGET
    * distribution than under the RAW corpus distribution, then keep the
    * target-like slice. The data-selection operator a pretraining pipeline
    * runs between crawling and mixing: cheap (no model inference), corpus
    * driven, and provably importance-weighted toward the target domain.
    *
    *   features(doc) = counts over `dims` hash buckets of its bigrams
    *   λ(b) = ln p̂_target(b) − ln p̂_raw(b)   (add-one smoothed)
    *   log w(doc) = Σ_b count(doc, b) · λ(b);  keep ⟺ log w > 0
    *
    * Determinism: λ is quantized per bucket to integer micro-nats — ONE
    * `ln` of a double ratio whose numerator/denominator products are exact
    * doubles (counts ≪ 2^52 per bucket pair product after the double
    * conversion, correctly-rounded multiplies) — so per-doc scores are
    * exact int64 sums cross-engine (the [[idfMicro]] quantization
    * argument).
    *
    * Shape at 100 TB: the feature frame is built in ONE corpus pass
    * (explode → map-side-combined (doc, bucket) counts, the
    * [[graft.analytics.Sampling.hashingVectorize]] shape) and checkpointed;
    * the λ table is `dims` rows — two tiny bucket-keyed aggregates off the
    * checkpointed features, broadcast back — and the only corpus-sized shuffle is
    * the final doc_id aggregation. The target set here is an in-corpus
    * predicate (docs the language gate already marked); swapping in an
    * external target corpus only changes where the `ct` aggregate reads. */
  def dsirLogWeights(docs: DataFrame, dims: Int = 64,
                     textCol: String = "text", idCol: String = "doc_id",
                     targetPred: Column = col("lang") === "en"): DataFrame = {
    val feat = docs.select(col(idCol).as("doc_id"),
        targetPred.cast("long").as("is_target"),
        explode(TextAnalysis.bigramsOfTokens(TextAnalysis.tokens(col(textCol)))).as("bg"))
      .groupBy(col("doc_id"), col("is_target"),
        (Dedup.hash60(col("bg")) % dims).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // one corpus scan feeds both the λ table and scoring
    // dims-row frame, materialized once (r17): `tot` and `lam` both fork
    // from it, and each fork re-aggregated the feature frame
    val counts = feat.groupBy("bucket").agg(
      sum(when(col("is_target") === 1, col("cnt")).otherwise(0L)).as("ct"),
      sum(col("cnt")).as("cr"))
      .localCheckpoint(true)
    val tot = counts.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    val lam = counts.crossJoin(broadcast(tot))
      .select(col("bucket"),
        round(log(((col("ct") + 1).cast("double") * (col("tr") + dims).cast("double")) /
                  ((col("cr") + 1).cast("double") * (col("tt") + dims).cast("double")))
          * 1e6).cast("long").as("lam_micro"))
    val out = feat.join(broadcast(lam), "bucket")
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(col("cnt") * col("lam_micro")).as("logw_micro"))
      .select(col("doc_id"), col("n_bigrams"), col("logw_micro"),
        (col("logw_micro") > 0).cast("int").as("keep"))
      .localCheckpoint(true) // score from the checkpointed features, then release them
    Checkpoints.releaseCheckpoint(feat)
    Checkpoints.releaseCheckpoint(counts)
    out
  }

  /** Reliability diagram for the linear scorer — the calibration check run
    * BEFORE a learned quality filter's scores are trusted as probabilities
    * (a miscalibrated gate silently over/under-prunes whole domains). The
    * integer logit is min-max scaled to a confidence permille, binned into
    * `bins` equal-width bins, and each bin reports observed-positive rate
    * vs mean confidence plus the |gap| — the per-bin summands of ECE.
    *
    * All-integer: scaling/binning divide non-negative numerators, so Spark
    * `div` (truncating) and SQL floor-division agree; no doubles anywhere.
    *
    * Shape at 100 TB: the corpus collapses to [[perScoreCounts]]'s
    * distinct-logit frame; the min/max extremes are one broadcast row and
    * the binning aggregate runs over that logit-count-sized frame. */
  def classifierCalibration(docs: DataFrame, weights: DataFrame, bins: Int = 10,
                            dims: Int = 16, textCol: String = "text",
                            idCol: String = "doc_id"): DataFrame = {
    val counts = perScoreCounts(docs, weights, dims, textCol, idCol)
      .localCheckpoint(true) // feeds the extremes row AND the binning pass
    val ext = counts.agg(min(col("logit")).as("__lo"), max(col("logit")).as("__hi"))
    counts.crossJoin(broadcast(ext))
      .withColumn("__conf", expr("1000 * (logit - __lo) div (__hi - __lo + 1)"))
      .withColumn("bin", expr(s"$bins * (logit - __lo) div (__hi - __lo + 1)"))
      .groupBy("bin")
      .agg(sum(col("n_pos") + col("n_neg")).as("n_docs"),
        sum(col("n_pos")).as("n_pos"),
        sum((col("n_pos") + col("n_neg")) * col("__conf")).as("__confsum"))
      .withColumn("obs_permille", expr("1000 * n_pos div n_docs"))
      .withColumn("conf_permille", expr("__confsum div n_docs"))
      .withColumn("gap_permille", abs(col("obs_permille") - col("conf_permille")))
      .drop("__confsum")
  }

  /** ROUGE-2 between candidate/reference text pairs — the n-gram overlap
    * metric an eval harness runs over generated-vs-gold columns (and a
    * near-dup diagnostic between suspected doc pairs). Standard clipped
    * counting: per distinct bigram, min(candidate count, reference count);
    * precision = overlap/|cand|, recall = overlap/|ref|, and the ROUGE F1
    * closed form 2·overlap/(|cand|+|ref|) — all integer permille.
    *
    * Shape at 100 TB: each side aggregates to (pair, bigram-hash, count)
    * with map-side combine, the overlap is ONE shuffle join keyed on
    * (pair_id, 8-byte gram hash) — text never crosses the wire — and the
    * final per-pair rollup is map-side combinable again. Pairs with an
    * empty side (< 2 tokens) drop out of that side's stream and surface
    * with null permilles rather than dividing by zero. */
  def rouge2(pairs: DataFrame, idCol: String = "pair_id",
             candCol: String = "cand", refCol: String = "ref"): DataFrame = {
    // ONE pass over `pairs` (r18): both sides' bigrams explode from the
    // same row as (side, gram) tags and one aggregate produces the
    // clipped-count table directly. The pre-r18 shape ran gramCounts per
    // side — TWO executions of the whole `pairs` plan (for the oracled
    // query, the cand⋈ref self-join and its text exchanges, twice) joined
    // back FULL OUTER on (pair_id, hash). Exactness: a side with zero
    // grams contributed no row to its stream and surfaced as NULL→0
    // through the outer join's coalesce — here it contributes 0 to the
    // side-sum directly; a pair with BOTH sides empty produced no row
    // then and produces none now ([[TextAnalysis.bigrams]] yields an
    // empty array, never null, so the concat cannot null out a row).
    val tagged = pairs.select(col(idCol).as("pair_id"),
      explode(concat(
        transform(TextAnalysis.bigrams(col(candCol)),
          g => struct(lit(0).as("s"), g.as("g"))),
        transform(TextAnalysis.bigrams(col(refCol)),
          g => struct(lit(1).as("s"), g.as("g"))))).as("t"))
    tagged
      .groupBy(col("pair_id"), Dedup.hash60(col("t.g")).as("__gh"))
      .agg(sum(when(col("t.s") === 0, 1L).otherwise(0L)).as("__cc"),
        sum(when(col("t.s") === 1, 1L).otherwise(0L)).as("__rc"))
      .groupBy("pair_id")
      .agg(sum(col("__cc")).as("cand_grams"),
        sum(col("__rc")).as("ref_grams"),
        sum(least(col("__cc"), col("__rc"))).as("overlap"))
      // a pair whose cand (or ref) side has < 2 tokens has zero grams on
      // that side: its permille is NULL per the contract above — an
      // unguarded integral div would THROW under the ANSI runtime
      .withColumn("p_permille",
        when(col("cand_grams") > 0, expr("1000 * overlap div cand_grams")))
      .withColumn("r_permille",
        when(col("ref_grams") > 0, expr("1000 * overlap div ref_grams")))
      .withColumn("f_permille",
        when(col("cand_grams") + col("ref_grams") > 0,
          expr("2000 * overlap div (cand_grams + ref_grams)")))
  }
}
