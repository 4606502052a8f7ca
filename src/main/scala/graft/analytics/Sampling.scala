package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling / corpus-statistics operators for training-data
  * curation: stratified down-sampling (data mixing), corpus token
  * frequencies (vocab stats), and length histograms (filter design).
  *
  * Sampling is HASH-deterministic, not `rand()`-based: membership is a pure
  * function of the row id, so a sample is reproducible across runs,
  * executors, and retries (a `rand()` sample re-drawn per task breaks
  * at-least-once sinks and is impossible to oracle). Per-row decision,
  * zero shuffle — at 100 TB the sample is one narrow scan.
  */
object Sampling {

  /** Uniform bucket in [0, 1000) from the sha256 of the id — built on the
    * one oracle-reproducible hash idiom ([[Dedup.hash60]] ≡ DuckDB
    * `('0x'||substr(sha256(x),1,15))::BIGINT`). */
  def hashBucket(id: Column): Column = Dedup.hash60(id.cast("string")) % 1000

  /** Deterministic shard id in [0, nShards) — THE routing expression:
    * [[shardStats]] reports balance with it and
    * [[graft.sinks.ShardedParquetSink]] writes partitions with it, so a
    * trainer reading `shard=k` sees exactly the rows the stats counted. */
  def shardOf(id: Column, nShards: Int): Column =
    Dedup.hash60(id.cast("string")) % nShards

  /** Stratified deterministic sample: keep a row iff its hash bucket falls
    * under its stratum's per-mille rate (`rates`, default `defaultPerMille`
    * for unlisted strata). The data-mixing primitive: e.g. keep 50% of
    * `en`, 10% of everything else. */
  def stratified(df: DataFrame, stratumCol: String, idCol: String,
                 rates: Map[String, Int], defaultPerMille: Int): DataFrame = {
    val rate = rates.foldLeft(lit(defaultPerMille)) { case (acc, (k, v)) =>
      when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol)) < rate)
  }

  /** Exact corpus-wide top-k tokens by frequency (vocab head): explode,
    * count, rank. The groupBy shuffles (token, partial-count) pairs —
    * map-side combine bounds the shuffle at |vocab| per partition — and the
    * final top-k is TakeOrderedAndProject (per-partition heaps, k-row
    * driver merge), never a global sort. */
  def topTokens(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Per-doc token-frequency statistics against the corpus vocabulary — a
    * rarity/quality signal (the exact-arithmetic proxy for LM-surprisal
    * filtering: docs of very common tokens score high avg frequency, docs
    * of rare garbage score low with many hapaxes). All-integer aggregates,
    * so parity with the oracle is exact by construction. Two passes over
    * the token stream: the vocab count (shuffles (token, partial-count)),
    * then a shuffle join token→count and a per-doc aggregate. */
  def tokenFrequencyStats(docs: DataFrame, textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
    toks.join(vocab, "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("cnt")).as("sum_freq"),
        min(col("cnt")).as("min_freq"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"),
        round(col("sum_freq").cast("double") / col("n_tokens"), 4).as("avg_freq"),
        col("min_freq"), col("n_hapax"))
  }

  /** Deterministic train/val/test assignment: hash the id into per-mille
    * buckets and split at the cumulative boundaries (e.g. 800/100/100).
    * Pure per-row decision — reproducible, leakage-free (a doc can never
    * migrate between splits across runs), zero shuffle. */
  def splitAssign(df: DataFrame, idCol: String,
                  trainPerMille: Int = 800, valPerMille: Int = 100): DataFrame = {
    require(trainPerMille > 0 && valPerMille > 0 &&
      trainPerMille + valPerMille < 1000, "need 0 < train, 0 < val, train+val < 1000")
    val b = hashBucket(col(idCol))
    df.withColumn("split",
      when(b < trainPerMille, lit("train"))
        .when(b < trainPerMille + valPerMille, lit("val"))
        .otherwise(lit("test")))
  }

  /** Deterministic k-per-group sample (the distributed reservoir): rank
    * rows within each stratum by id hash and keep the first k. Equivalent
    * in distribution to a uniform reservoir but reproducible across runs,
    * executors, and retries. The window is per-stratum with k far below
    * the group-limit threshold, so Spark plans the two-stage
    * WindowGroupLimit — map-side rank pruning caps the shuffle at
    * k·partitions rows per stratum. */
  def perGroupSample(df: DataFrame, stratumCol: String, idCol: String,
                     k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(Dedup.hash60(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** Quality-weighted deterministic sample: keep probability proportional
    * to a per-row weight in [0,1] (e.g. a quality score) — keep iff
    * hash_bucket(id) < weight·1000. Pure per-row decision, zero shuffle;
    * the high-quality tail survives at full rate while junk is thinned,
    * which is exactly the data-mixing curve a training pipeline wants. */
  def weightedSample(df: DataFrame, weightCol: Column, idCol: String): DataFrame =
    df.filter(hashBucket(col(idCol)) < weightCol * 1000)

  /** Temperature-scaled mixing weights per stratum — the data-mixing rule
    * that upsamples small domains relative to proportional sampling
    * (multilingual / multi-source training mixes): weight(s) =
    * n_s^α / Σ n^α. α is FIXED at 0.5 so the power is IEEE `sqrt` —
    * correctly rounded by the standard, hence bit-identical across
    * engines, unlike libm `pow` whose last ulp varies. The normalizer
    * folds the per-stratum terms in sorted stratum order (strata are few;
    * unordered double summation is not cross-engine stable), and weights
    * ship as integer micro-units. One tiny aggregate — the corpus scans
    * once, strata-count rows move. */
  def temperatureMixWeights(df: DataFrame, stratumCol: String): DataFrame =
    weightsWithCorpusN(df, stratumCol).drop("corpus_n")

  /** [[temperatureMixWeights]] plus the corpus row count (`corpus_n`)
    * carried through the SAME strata aggregate — `sum(n)` rides the
    * normalizer's tiny agg, so a caller whose mixing budget is "one epoch
    * of the corpus" needs NO driver-side `count()` action (VERDICT r10 #7:
    * at 100 TB that count was a full extra aggregation of a persisted
    * frame). */
  private def weightsWithCorpusN(df: DataFrame, stratumCol: String): DataFrame = {
    val counts = df.groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n"))
      .withColumn("s", sqrt(col("n").cast("double")))
    val total = counts
      .agg(collect_list(struct(col("stratum"), col("s"))).as("terms"),
        sum(col("n")).as("corpus_n"))
      .select(aggregate(array_sort(col("terms")), lit(0.0),
        (acc, x) => acc + x.getField("s")).as("total"), col("corpus_n"))
    counts.crossJoin(broadcast(total))
      .select(col("stratum"), col("n"),
        round(col("s") / col("total") * 1e6).cast("long").as("weight_micro"),
        col("corpus_n"))
  }

  /** Mixing-budget allocation — the step AFTER [[temperatureMixWeights]]:
    * turn the per-stratum weights into the numbers a training job consumes.
    * `target_docs(s) = weight(s) · budget` is the stratum's share of the
    * training budget, and `epochs_micro(s) = target_docs(s) / n_s` (in
    * micro-units) is the REPEAT factor: > 1e6 means the stratum is
    * upsampled (epochs over its data), < 1e6 downsampled — the α=0.5
    * temperature flattens the head and lifts the tail, so small strata get
    * multi-epoch repeats (the standard multilingual-mix upsampling shape).
    *
    * Same cost as the weights: one tiny strata-keyed aggregate; arithmetic
    * is exact-int inputs through IEEE-identical ops, so cross-engine exact. */
  def epochAllocation(df: DataFrame, stratumCol: String, budget: Long): DataFrame =
    allocFrom(temperatureMixWeights(df, stratumCol), lit(budget))

  /** [[epochAllocation]] with budget = the corpus's OWN row count ("one
    * epoch of data"), read from the strata aggregate instead of a driver
    * `count()` — zero extra jobs. Bit-identical to
    * `epochAllocation(df, c, df.count())`: the budget enters the identical
    * double arithmetic, as a column instead of a folded literal. */
  def epochAllocationSelf(df: DataFrame, stratumCol: String): DataFrame =
    allocFrom(weightsWithCorpusN(df, stratumCol)
      .withColumnRenamed("corpus_n", "__budget"), col("__budget"))
      .drop("__budget")

  private def allocFrom(weights: DataFrame, budget: Column): DataFrame =
    weights
      .withColumn("epochs_micro",
        round(col("weight_micro").cast("double") * budget / col("n")).cast("long"))
      .withColumn("target_docs",
        round(col("weight_micro").cast("double") * budget / 1e6).cast("long"))

  /** MATERIALIZED training mix — the composition the allocation table only
    * describes: temperature weights → epoch allocation → the actual sampled
    * corpus with per-stratum repeats ([[epochAllocation]] is the report,
    * this is the frame a trainer consumes — the same report/materializer
    * pairing as span dedup's stats vs materialize). Each document of
    * stratum s appears `epochs_micro(s) div 1e6` times, plus one extra copy
    * iff `hash60(id·":mix") mod 1e6` falls under the fractional remainder —
    * a deterministic per-row Bernoulli whose stratum-wide expectation is
    * exactly `target_docs(s)`. Output rows carry (doc_id, stratum, epoch);
    * epoch tags the repeat index a trainer shuffles by.
    *
    * Shape at 100 TB: the allocation is a strata-sized broadcast; the mix
    * is ONE narrow pass (broadcast join + explode), zero corpus shuffle.
    * The hash threshold keeps it shuffle-free at the cost of ±O(√n_s)
    * around each stratum's exact target; an exact-truncate variant would
    * rank by hash within stratum (one window shuffle per pass) — the
    * expected-size form is the right default for training mixes, where the
    * budget is itself a soft target. */
  def materializeMix(df: DataFrame, stratumCol: String, budget: Long,
                     idCol: String = "doc_id", carry: Seq[String] = Nil): DataFrame =
    mixFromAlloc(df, stratumCol, epochAllocation(df, stratumCol, budget),
      idCol, carry)

  /** [[materializeMix]] with budget = the corpus's own row count, via
    * [[epochAllocationSelf]] — the "replay the corpus once, temperature-
    * rebalanced" mix with no driver `count()` action. */
  def materializeMixSelf(df: DataFrame, stratumCol: String,
                         idCol: String = "doc_id",
                         carry: Seq[String] = Nil): DataFrame =
    mixFromAlloc(df, stratumCol, epochAllocationSelf(df, stratumCol),
      idCol, carry)

  private def mixFromAlloc(df: DataFrame, stratumCol: String,
                           allocFull: DataFrame, idCol: String,
                           carry: Seq[String]): DataFrame = {
    val alloc = allocFull.select(col("stratum"), col("epochs_micro"))
    // `carry` rides payload columns (e.g. text) through the explode, so a
    // downstream consumer of the mix needs NO corpus self-join to recover
    // them — the mix stays one narrow pass whatever it feeds.
    df.select(col(idCol).as("doc_id") +: col(stratumCol).as("stratum") +:
        carry.map(col): _*)
      .join(broadcast(alloc), "stratum")
      .withColumn("__n",
        expr("epochs_micro DIV 1000000") +
          (Dedup.hash60(concat(col("doc_id").cast("string"), lit(":mix"))) % 1000000L <
            col("epochs_micro") % 1000000L).cast("long"))
      .select(col("doc_id") +: col("stratum") +:
        explode(when(col("__n") >= 1, sequence(lit(1L), col("__n")))
          .otherwise(array().cast("array<bigint>"))).as("epoch") +:
        carry.map(col): _*)
  }

  /** Hashing-trick vectorizer (feature hashing): token → `dims` buckets by
    * sha-derived hash, per-(doc, bucket) counts — the fixed-width feature
    * map that needs NO vocabulary pass at any corpus size. Explode +
    * map-side-combined aggregate on (doc_id, bucket); bucket keys are
    * integers so the shuffle never carries token text. */
  def hashingVectorize(docs: DataFrame, dims: Int = 16,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("doc_id"), (Dedup.hash60(col("tok")) % dims).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Fixed-size token-window chunking with overlap — the sequence-prep
    * primitive that turns documents into training-window candidates. Chunk
    * `i` covers tokens `[i·stride, i·stride + size)`; windows start while
    * `i·stride < n_tokens`, so the tail emits a partial chunk rather than
    * dropping text. Pure narrow explode — rows fan out 1→⌈n/stride⌉ with
    * ZERO shuffle, so at 100 TB this is scan-bound; chunk identity is the
    * sha256 prefix, not the chunk text, keeping output rows small. */
  def docChunks(docs: DataFrame, size: Int, stride: Int,
                textCol: String = "text", idCol: String = "doc_id",
                hashChars: Int = 16): DataFrame =
    docChunksWithText(docs, size, stride, textCol, idCol, hashChars)
      .drop("chunk_text")

  /** [[docChunks]] plus the chunk text itself — for consumers that rebuild
    * documents (the span-dedup materializer); chunk-identity consumers
    * should use [[docChunks]] so chunk text never leaves the narrow stage. */
  def docChunksWithText(docs: DataFrame, size: Int, stride: Int,
                        textCol: String = "text", idCol: String = "doc_id",
                        hashChars: Int = 16): DataFrame = {
    require(stride > 0 && size >= stride, s"need 0 < stride <= size, got size=$size stride=$stride")
    import org.apache.spark.sql.functions.{size => asize}
    val t = TextAnalysis.tokens(col(textCol))
    // Projection boundaries on purpose: tokenize ONCE into an attribute,
    // then slice/hash read that attribute. Building the slice inside a
    // transform-lambda over the raw split() re-tokenizes the document per
    // chunk (interpreted HOF lambdas re-evaluate captured expressions, no
    // CSE) — O(tokens·chunks) instead of O(tokens). CollapseProject keeps
    // these projections because the aliased arrays are non-cheap and
    // multiply referenced.
    docs
      .select(col(idCol).as("doc_id"), t.as("__toks"))
      .select(col("doc_id"), col("__toks"),
        explode(sequence(lit(0), floor((asize(col("__toks")) - 1) / stride).cast("int")))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("__toks"), col("chunk_idx") * stride + 1, lit(size)).as("__sl"))
      .select(col("doc_id"), col("chunk_idx"),
        asize(col("__sl")).as("n_tok"),
        concat_ws(" ", col("__sl")).as("chunk_text"),
        substring(sha2(concat_ws(" ", col("__sl")), 256), 1, hashChars).as("chunk_hash"))
  }

  /** Deterministic shard assignment (training-shard routing): shard =
    * 60-bit id hash mod `nShards`, plus the per-shard balance stats a
    * pipeline checks before writing (doc count, token mass, id range).
    * The hash is uniform, so shards stay balanced no matter how ids were
    * produced; the aggregate is nShards-keyed — tiny at any corpus size. */
  def shardStats(docs: DataFrame, nShards: Int, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    docs.select(shardOf(col(idCol), nShards).as("shard"),
        col(idCol).as("id"),
        // strict counting (blank doc = 0, not 1): the stats must agree
        // with the packing manifest over the same shards, and
        // packSequences counts through strictTokenCount
        strictTokenCount(col(textCol)).as("toks"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"),
        min("id").as("min_id"), max("id").as("max_id"))

  /** Document-length histogram: bucket by `bucketWidth` chars; per-bucket
    * count and mean token count (rounded at the output boundary). One
    * narrow pass + a tiny aggregate on bucket keys. */
  def lengthHistogram(docs: DataFrame, bucketWidth: Int,
                      lenCol: String = "n_chars", textCol: String = "text"): DataFrame =
    docs.select((col(lenCol) / bucketWidth).cast("long").as("bucket"),
        strictTokenCount(col(textCol)).as("toks")) // blank doc = 0 tokens
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), round(avg(col("toks")), 4).as("avg_tokens"))

  /** Concat-and-chunk sequence packing: route documents to `nShards`
    * deterministic shards ([[shardOf]]), concatenate each shard's token
    * stream in doc_id order, and cut it into fixed-length `windowTokens`
    * context windows — the step that turns a curated corpus into trainer
    * sequences. Emits one row per non-empty doc: its shard, its half-open
    * token interval `[tok_start, tok_end)` in the shard's stream, the
    * first/last window it lands in, and how many windows it spans.
    *
    * Shape at 100 TB: token counting is a narrow scan; the ONLY shuffle is
    * the per-shard prefix-sum window, partitioned on the shard key. The
    * degenerate single-partition global `ORDER BY` cumsum never appears —
    * shard count scales with the corpus, a shard is the unit a trainer
    * reads, and packing needs no cross-shard coordination, so the prefix
    * sum stays bounded by shard size at any corpus size. */
  /** Whitespace token count with the blank-doc guard — `split("")` yields
    * `[""]` (size 1), in BOTH Spark and DuckDB, so blank docs must be
    * zeroed explicitly. Shared by batch and streaming packing. */
  def strictTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long"))

  /** `shuffleSeed` packs each shard in hash-shuffled order instead of id
    * order — the decorrelated training order a real pipeline wants (two
    * adjacent corpus docs should not land in adjacent sequences). The
    * shuffle is a pure function of (id, seed): reproducible, oracle-exact,
    * and re-seedable per epoch; ties (hash collisions) break by id. */
  def packSequences(docs: DataFrame, windowTokens: Int, nShards: Int,
                    idCol: String = "doc_id", textCol: String = "text",
                    shuffleSeed: Option[String] = None): DataFrame = {
    val order = shuffleSeed match {
      case Some(seed) =>
        Seq(Dedup.hash60(concat(col(idCol).cast("string"), lit(":" + seed))), col(idCol))
      case None => Seq(col(idCol))
    }
    packWithOrder(docs, windowTokens, nShards, idCol, textCol, Nil, order)
  }

  /** CURRICULUM packing: each shard's stream ordered by a caller-supplied
    * score (descending — highest-quality/easiest first), ties by id — the
    * curriculum-learning order, on the identical per-shard prefix-sum
    * plumbing as [[packSequences]] (same shards, same window math, still
    * never a global sort: ordering is within shard partitions only). The
    * score rides the output so consumers can verify the ordering key. */
  def packCurriculum(docs: DataFrame, windowTokens: Int, nShards: Int,
                     scoreCol: Column,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    packWithOrder(docs, windowTokens, nShards, idCol, textCol,
      Seq(scoreCol.as("score")), Seq(col("score").desc, col(idCol)))

  private def packWithOrder(docs: DataFrame, windowTokens: Int, nShards: Int,
                            idCol: String, textCol: String,
                            carry: Seq[Column],
                            order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(order: _*)
    docs.select(col(idCol) +: strictTokenCount(col(textCol)).as("n_tok") +:
        shardOf(col(idCol), nShards).as("shard") +: carry: _*)
      .filter(col("n_tok") > 0)
      .withColumn("tok_end", sum(col("n_tok")).over(w))
      .withColumn("tok_start", col("tok_end") - col("n_tok"))
      .withColumn("first_window", expr(s"tok_start div $windowTokens"))
      .withColumn("last_window", expr(s"(tok_end - 1) div $windowTokens"))
      .withColumn("n_windows", col("last_window") - col("first_window") + lit(1L))
  }

  /** Per-shard packing manifest over [[packSequences]]: docs, token mass,
    * and sequence (window) count per shard — the index a trainer's data
    * loader reads to size itself. One nShards-keyed aggregate on top of the
    * packing pass; the result is nShards rows at any corpus size. */
  def packShards(docs: DataFrame, windowTokens: Int, nShards: Int,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    packSequences(docs, windowTokens, nShards, idCol, textCol)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        (max("last_window") + lit(1L)).as("n_sequences"))

  /** Window composition map — the inverse of [[packSequences]]: one row per
    * (window, contributing doc) with the doc segment's offset inside the
    * window, its token count, and how far into the doc the segment starts
    * (`doc_skip`, non-zero when a doc was cut by an earlier window). This
    * is what a data loader actually executes: "sequence w of shard s =
    * these doc slices, in this order".
    *
    * Cost on top of the packing pass: a narrow explode of Σ span counts —
    * about n_tokens/windowTokens + n_docs rows, no extra shuffle. */
  def packWindowMap(docs: DataFrame, windowTokens: Int, nShards: Int,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val wStart = col("window_id") * windowTokens
    val takeStart = greatest(col("tok_start"), wStart)
    val takeEnd = least(col("tok_end"), wStart + windowTokens)
    packSequences(docs, windowTokens, nShards, idCol, textCol)
      .select(col("shard"), col(idCol), col("tok_start"), col("tok_end"),
        explode(sequence(col("first_window"), col("last_window"))).as("window_id"))
      .select(col("shard"), col("window_id"), col(idCol),
        (takeStart - wStart).as("offset_in_window"),
        (takeEnd - takeStart).as("n_tok_in_window"),
        (takeStart - col("tok_start")).as("doc_skip"))
  }

  /** Per-domain admission cap (the C4/RefinedWeb-style anti-dominance
    * quota): no single source may contribute more than
    * `shareNum/shareDen` of the corpus (floored, never below `minKeep`);
    * inside an over-quota source the HIGHEST-quality documents win, ties
    * to the lowest doc_id. This is the curation guard against one crawled
    * domain (or one boilerplate mill) swamping the mix — orthogonal to the
    * per-language temperature weights, which rebalance BETWEEN strata but
    * cannot stop one domain from owning a stratum.
    *
    * The cap is collected as ONE scalar (a 1-row aggregate — same budget
    * class as the dims/k collects) so it lands in the plan as a LITERAL:
    * that keeps the `row_number ≤ cap` filter eligible for Spark's
    * WindowGroupLimit inference, which prunes each source's tail to the
    * top-`cap` per MAP PARTITION before the source-keyed exchange — the
    * difference between shuffling a hot domain's full document list and
    * shuffling `cap` rows per partition. Quality ordering runs on integer
    * ten-thousandths of the round-4 score, so rank order is
    * engine-exactly the oracle's. */
  def domainCap(docs: DataFrame, shareNum: Long = 1, shareDen: Long = 25,
                minKeep: Long = 10, srcCol: String = "source",
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(shareNum > 0 && shareDen >= shareNum, "need 0 < shareNum <= shareDen")
    val total = docs.count()
    val cap = math.max(minKeep, total * shareNum / shareDen)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("qmicro").desc, col("doc_id"))
    docs
      .select(col(srcCol).as("source"), col(idCol).as("doc_id"),
        graft.functions.GraftFunctions.qualityFast(col(textCol)).as("quality"))
      .withColumn("qmicro", round(col("quality") * 10000).cast("long"))
      .withColumn("src_rank", row_number().over(w).cast("long"))
      .filter(col("src_rank") <= cap)
      .select(col("source"), col("doc_id"), col("quality"), col("src_rank"),
        lit(cap).as("src_cap"))
  }

  /** Fill-in-the-middle (FIM) transformation — the code/infilling
    * training-data op (Bavarian et al.'s document-level FIM): for a
    * deterministic `ratePerMille` share of documents, two hash-derived cut
    * points split the token stream into prefix/middle/suffix and the doc
    * re-serializes in PSM order
    * `<fim_pre> prefix <fim_suf> suffix <fim_mid> middle`; the rest pass
    * through verbatim. Cuts are a pure function of doc_id (sha-derived, the
    * [[Dedup.hash60]] idiom) so the transform is reproducible, re-seedable
    * via the salt, and oracle-exact.
    *
    * Shape at 100 TB: one narrow per-row projection — two hashes, three
    * slices, zero shuffle; rides the scan like every other packing
    * transform. Sentinels are plan-time literals. */
  def fimTransform(docs: DataFrame, ratePerMille: Int = 500,
                   salt: String = "fim",
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(ratePerMille >= 0 && ratePerMille <= 1000, s"bad rate $ratePerMille")
    val df = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("__toks"), col(textCol).as("__text"))
    val t = col("__toks")
    val n = size(t)
    val h1 = Dedup.hash60(concat(lit(salt + "a"), col("doc_id"))) % (n + 1)
    val h2 = Dedup.hash60(concat(lit(salt + "b"), col("doc_id"))) % (n + 1)
    val sel = Dedup.hash60(concat(lit(salt + "r"), col("doc_id"))) % 1000 < ratePerMille
    df
      .withColumn("fim_applied", sel)
      .withColumn("__c1", least(h1, h2))
      .withColumn("__c2", greatest(h1, h2))
      .withColumn("n_prefix", when(sel, col("__c1")).otherwise(n).cast("long"))
      .withColumn("n_middle", when(sel, col("__c2") - col("__c1")).otherwise(0).cast("long"))
      .withColumn("n_suffix", when(sel, n - col("__c2")).otherwise(0).cast("long"))
      .withColumn("out_text",
        when(col("fim_applied"),
          concat(lit("<fim_pre> "),
            concat_ws(" ", slice(t, lit(1), col("__c1"))),
            lit(" <fim_suf> "),
            concat_ws(" ", slice(t, col("__c2") + 1, n - col("__c2"))),
            lit(" <fim_mid> "),
            concat_ws(" ", slice(t, col("__c1") + 1, col("__c2") - col("__c1")))))
          .otherwise(col("__text")))
      .select(col("doc_id"), col("fim_applied"), col("n_prefix"),
        col("n_middle"), col("n_suffix"), col("out_text"))
  }

  /** Gate-tuning curve WITHOUT a corpus rescan: for each decile threshold
    * of the quality distribution (reps from the [[QuantileSketch]]
    * histogram — the same integer-deterministic walk the calibrated gate
    * uses), the number and fraction of documents a gate at that threshold
    * would keep. One corpus pass builds the histogram; the sweep itself is
    * histogram-sized arithmetic (≤ ~70 buckets), so tuning a 100 TB gate
    * costs one scan total, not one per candidate threshold. */
  def thresholdSweep(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val scored = docs.select(
      round(graft.functions.GraftFunctions.qualityFast(col(textCol)) * 10000)
        .cast("long").as("q_micro"))
    // the histogram is referenced three times below (quantiles, total,
    // sweep) — materialize the ≤~70-row frame so the corpus scan runs once
    val hist = QuantileSketch.histogram(
      scored.withColumn("g", lit(1L)), Seq("g"), col("q_micro"))
      .localCheckpoint(true)
    val qs = QuantileSketch.quantiles(hist, Seq("g"),
      (1 to 9).map(i => (s"p${i * 10}", i / 10.0)))
    // unpivot the single quantile row to (name, thr_rep)
    val thr = qs.select(explode(map(
      (1 to 9).flatMap(i => Seq(lit(s"p${i * 10}"), col(s"p${i * 10}"))): _*))
      .as(Seq("quantile", "thr_rep")))
    // kept mass per threshold from the histogram alone: every doc in a
    // bucket counts as its rep (the sketch's standard rank contract)
    val totalRow = hist.agg(sum(col("cnt"))).head()
    // empty corpus: sum over zero rows is NULL — an empty sweep, not an NPE
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    thr.crossJoin(broadcast(hist.select(col("rep"), col("cnt"))))
      .groupBy(col("quantile"), col("thr_rep"))
      .agg(sum(when(col("rep") >= col("thr_rep"), col("cnt")).otherwise(0L))
        .as("kept_docs"))
      .withColumn("total_docs", lit(total))
      .withColumn("kept_frac",
        round(col("kept_docs").cast("double") / col("total_docs"), 4))
  }

  /** Length-bucketed batching — the dynamic-batching layout that minimizes
    * padding waste: documents are banded by token count into power-of-two
    * sequence-length bands (docs past the largest band are TRUNCATED to it,
    * the standard max-seq-len contract), then batched `batchSize` at a time
    * WITHIN (band, shard) in id order. Per batch: doc count, real tokens,
    * padded tokens (n·band), and the padding-waste permille — the number a
    * pipeline reads to pick its band ladder.
    *
    * Shape at 100 TB: the row_number window partitions by (band, shard),
    * and shard fans each band `nShards` ways — the operator's scale dial:
    * no single sort task ever sees more than one (band, shard) slice, so a
    * corpus that is 90% one band still spreads. One exchange on
    * (band, shard); the rollup reuses the exact same partitioning, so the
    * second aggregate is shuffle-free under Catalyst's exchange reuse. */
  def lengthBucketBatches(docs: DataFrame, batchSize: Int = 8, nShards: Int = 32,
                          bands: Seq[Int] = Seq(16, 32, 64, 128, 256, 512, 1024),
                          textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    require(bands == bands.sorted && bands.nonEmpty, "bands must ascend")
    val toks = TextAnalysis.tokenCount(col(textCol))
    val band = bands.init.foldRight(lit(bands.last): Column) { (b, acc) =>
      when(least(toks, lit(bands.last)) <= b, lit(b)).otherwise(acc)
    }
    val w = Window.partitionBy("band", "shard").orderBy(col("doc_id"))
    docs.select(col(idCol).as("doc_id"),
        least(toks, lit(bands.last)).as("toks"), band.as("band"))
      .withColumn("shard", shardOf(col("doc_id"), nShards))
      .withColumn("batch_idx", (row_number().over(w) - 1).divide(batchSize).cast("long"))
      .groupBy("band", "shard", "batch_idx")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens"))
      .withColumn("padded", col("n_docs") * col("band"))
      .withColumn("waste_permille", expr("1000 * (padded - tokens) div padded"))
  }

  /** Chat-template serialization with an assistant-only loss mask — the SFT
    * packing step: per conversation (user), turns are ordered by event
    * time, rendered as `<|role|>content` segments, concatenated, and the
    * character spans of the ASSISTANT segments (the only tokens that take
    * loss) are emitted alongside. `roleOf` maps the event-type column to
    * `user`/`assistant`; content is the deterministic `event_type#event_id`
    * so the template is byte-stable cross-engine.
    *
    * Shape at 100 TB: one exchange keyed on the conversation id; the
    * cumulative-length window and the ordered string_agg both run within a
    * conversation (chat-sized, bounded), and the output is one row per
    * conversation carrying the template hash + mask spans, not the corpus
    * text. */
  def chatTemplate(events: DataFrame, userCol: String = "user_id",
                   tsCol: String = "ts", typeCol: String = "event_type",
                   idCol: String = "event_id",
                   userTypes: Seq[String] = Seq("view", "click")): DataFrame = {
    val role = when(col(typeCol).isInCollection(userTypes), lit("user"))
      .otherwise(lit("assistant"))
    val seg = concat(lit("<|"), col("__role"), lit("|>"),
      col(typeCol), lit("#"), col(idCol).cast("string"))
    val w = Window.partitionBy("__u").orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val turns = events
      .select(col(userCol).as("__u"), col(tsCol), col(idCol), col(typeCol),
        role.as("__role"))
      .withColumn("__seg", seg)
      .withColumn("__end", sum(length(col("__seg"))).over(w))
      .withColumn("__start", col("__end") - length(col("__seg")))
    turns.groupBy(col("__u").as("user_id"))
      .agg(count(lit(1)).as("n_turns"),
        sum(when(col("__role") === "assistant", 1L).otherwise(0L)).as("n_assistant"),
        max(col("__end")).as("template_chars"),
        sum(when(col("__role") === "assistant",
          length(col("__seg"))).otherwise(0L)).as("loss_chars"),
        sha2(concat_ws("",
          sort_array(collect_list(struct(col("__start").as("s"),
            col("__seg").as("seg")))).getField("seg")), 256).as("template_hash"),
        concat_ws(",", sort_array(collect_list(
          when(col("__role") === "assistant",
            struct(col("__start").as("s"),
              concat_ws("-", col("__start"), col("__end")).as("sp")))))
          .getField("sp")).as("loss_spans"))
  }
}
