package graft.queries

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.analytics.{Checkpoints, Clustering, Dedup, Multimodal, PqIndex, ProductQuantization, Quantization, Sampling, Search, Similarity, TextAnalysis}
import graft.functions.GraftFunctions
import graft.obs.Trace

/** Driver-facing entry points for the training-data-pipeline operators
  * (dedup / similarity / text analysis / multimodal). Each returns a
  * deterministic, oracle-comparable result: stable ordering, rounded
  * doubles, sha-derived hashing.
  */
object AnalyticsQueries {

  /** Scratch dirs for the per-query throwaway index builds, deleted on JVM
    * exit — repeated bench/verify runs must not accumulate orphaned index
    * copies in /tmp. Deletion is a shutdown hook (not eager) because the
    * returned DataFrames read the index lazily at the caller's action.
    * ONE statically-registered hook drains a queue of paths (r16 review
    * sweep: a hook-per-call leaked one live Thread + closure per index
    * build for the JVM's lifetime — ~12 per bench iteration).
    *
    * The index-lifecycle queries that serve from a fresh build
    * (`sim_pqindex_topk`, `sim_pqindex_rescored`, `bm25_index_search`,
    * `bm25_mlt`, `bm25_mlt_batch`, `dedup_cdc_admit`) run that build as
    * [[Trace.phase]] "build"; Bench's `index_split` reports it against the
    * rest of the run (the serve). */
  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      var p = scratchDirs.poll()
      while (p != null) { rm(p.toFile); p = scratchDirs.poll() }
    }))
  }
  private def scratchIndexDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(p): Unit
    p.toString
  }

  def textTokens(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        round(TextAnalysis.avgTokenLen(col("text")), 4).as("avg_token_len"))
      .orderBy(col("doc_id"))

  def textLangId(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).documents
      .select(col("doc_id"), col("lang"), GraftFunctions.langIdFast(col("text")).as("lang_pred"))
      .orderBy(col("doc_id"))
  }

  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).documents
      .select(col("doc_id"),
        round(TextAnalysis.punctRatio(col("text")), 4).as("punct_ratio"),
        GraftFunctions.qualityFast(col("text")).as("quality"))
      .orderBy(col("doc_id"))
  }

  def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).documents
      .select(col("doc_id"), GraftFunctions.fingerprintFast(col("text")).as("fp"))
      .orderBy(col("doc_id"))
  }

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables(spark, dir).documents)
      .select(col("text_hash"), col("keeper_id"), col("n_copies"))
      .orderBy(col("keeper_id"))

  /** The entry point runs with the hot-shingle df cap ENGAGED (the 100 TB
    * default — uncapped is quadratic in the hottest shingle's df and exists
    * only as the oracle baseline; recall-neutrality of the cap is proven by
    * capped==uncapped equality in AnalyticsSpec). */
  def dedupNgram(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    Dedup.ngramJaccardPairs(docs, minJaccard = 0.6,
        maxDf = Some(Dedup.dfCapFor(docs.count())))
      .orderBy(col("id_a"), col("id_b"))
  }

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(Tables(spark, dir).documents, minJaccard = 0.6)
      .orderBy(col("id_a"), col("id_b"))

  /** Incremental dedup against the persisted near-dup index: history =
    * lower half of the corpus (indexed once), delta = upper half, result =
    * every verified pair touching the delta. History is probed via the
    * stored band index, never rescanned. */
  def dedupDelta(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    val idx = scratchIndexDir("dedupindex")
    graft.analytics.DedupIndex.build(docs.filter(col("doc_id") <= mid), idx)
    graft.analytics.DedupIndex
      .dedupDelta(spark, idx, docs.filter(col("doc_id") > mid), minJaccard = 0.6)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The ADMISSION decision over the persisted index — same split as
    * [[dedupDelta]] (history = ids ≤ max/2 builds the index, the upper half
    * arrives as a shard): output the admitted docs (no near-dup in history,
    * no lower-id near-dup within the shard). This is what a production
    * ingest keeps; [[dedupDelta]] is the evidence it acted on. */
  def dedupAdmit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    val idx = scratchIndexDir("dedupadmit")
    graft.analytics.DedupIndex.build(docs.filter(col("doc_id") <= mid), idx)
    graft.analytics.DedupIndex
      .admitDelta(spark, idx, docs.filter(col("doc_id") > mid), minJaccard = 0.6)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Right-to-be-forgotten over the persisted dedup index: same
    * history/delta split as [[dedupDelta]], but history docs with
    * doc_id % 5 == 0 are [[graft.analytics.DedupIndex.forget]]-ed before
    * the shard arrives — pairs touching a forgotten history doc vanish
    * (the shard doc is no longer blocked by it), delta-internal pairs are
    * untouched. The oracle is the delta SQL minus pairs whose history
    * side is forgotten. */
  def dedupIndexForget(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    val idx = scratchIndexDir("dedupforget")
    graft.analytics.DedupIndex.build(docs.filter(col("doc_id") <= mid), idx)
    graft.analytics.DedupIndex.forget(spark, idx,
      docs.filter(col("doc_id") <= mid && col("doc_id") % 5 === 0).select("doc_id"))
    graft.analytics.DedupIndex
      .dedupDelta(spark, idx, docs.filter(col("doc_id") > mid), minJaccard = 0.6)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Skewed equi-join through the auto-engaged salted dispatch
    * ([[graft.operators.Salting.adaptiveJoin]], VERDICT r11 #6): events
    * with ~10% of rows re-keyed to one hot user (the SkewSpec corpus
    * shape — the key that pins a reducer at scale) enriched against a
    * per-user dim table, then aggregated per segment. `factor = 2.0`
    * engages the salted branch whenever the hot key exceeds 2× a core's
    * even share — at the driver's 32-way parallelism the 10% hot key is
    * 3.2 shares, so the salted plan is what CORRECTNESS exercises; both
    * branches emit identical rows (SkewSpec plan-shape + parity). */
  def skewJoinAgg(spark: SparkSession, dir: String, factor: Double = 2.0): DataFrame = {
    val skewed = Tables(spark, dir).events
      .withColumn("user_id",
        when(col("event_id") % 10 === 0, lit(7L)).otherwise(col("user_id")))
    val dim = skewed.select(col("user_id").as("uid")).distinct()
      .withColumn("segment", pmod(col("uid"), lit(7L)))
    graft.operators.Salting.adaptiveJoin(skewed, dim, "user_id", "uid", factor = factor)
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
      .orderBy(col("segment"))
  }

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).documents
      .select(col("doc_id"), GraftFunctions.simhashFast(col("text")).as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** End-to-end dedup: corpus minus the higher-id side of every near-dup
    * pair (greedy keep-lowest-id). */
  def dedupNgramKeepers(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val pairs = Dedup.ngramJaccardPairs(docs, minJaccard = 0.6,
      maxDf = Some(Dedup.dfCapFor(docs.count())))
    Dedup.keepAfterNearDup(docs, pairs)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Cluster-exact dedup: one keeper (min id) per transitive near-dup
    * component, vs the greedy drop-higher-id of [[dedupNgramKeepers]]. */
  def dedupCcKeepers(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val pairs = Dedup.ngramJaccardPairs(docs, minJaccard = 0.6,
      maxDf = Some(Dedup.dfCapFor(docs.count())))
    Dedup.connectedComponentKeepers(docs, pairs)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Cluster-exact keepers via alternating star contraction — same output
    * contract (and oracle) as [[dedupCcKeepers]], O(log² n) rounds instead
    * of O(diameter). */
  def dedupCcStar(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val pairs = Dedup.ngramJaccardPairs(docs, minJaccard = 0.6,
      maxDf = Some(Dedup.dfCapFor(docs.count())))
    Dedup.starContractionKeepers(docs, pairs)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Quality-aware keepers: per near-dup component keep the highest-quality
    * doc (tie → lowest id) — the keeper policy a production pipeline wants. */
  def dedupQualityKeepers(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val pairs = Dedup.ngramJaccardPairs(docs, minJaccard = 0.6,
      maxDf = Some(Dedup.dfCapFor(docs.count())))
    Dedup.qualityKeepers(docs, pairs, GraftFunctions.qualityFast(col("text")))
      .select(col("doc_id"), col("comp"), col("n_members"), col("quality"))
      .orderBy(col("doc_id"))
  }

  def dedupSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables(spark, dir).documents, maxHamming = 3, bands = 6)
      .orderBy(col("id_a"), col("id_b"))

  /** Near-dup verification stage: simhash candidate pairs annotated with
    * the edit distance of their 48-char prefixes — the cheap
    * second-opinion filter a curation pipeline applies before dropping a
    * document (hamming says "similar signature", levenshtein says "similar
    * text"). The join fans only the PAIR table (pairs ≪ corpus) through
    * two id-keyed hash joins; levenshtein runs on bounded prefixes so the
    * O(m·n) DP stays constant-cost per pair. */
  def dedupFuzzyVerify(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3, bands = 6)
    val pref = docs.select(col("doc_id"), substring(col("text"), 1, 48).as("pref"))
    pairs
      .join(pref.select(col("doc_id").as("id_a"), col("pref").as("pa")), "id_a")
      .join(pref.select(col("doc_id").as("id_b"), col("pref").as("pb")), "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"),
        levenshtein(col("pa"), col("pb")).cast("long").as("lev"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact all-pairs runs the block-partitioned theta-join (identical
    * results to the naive non-equi join, but distributable: no corpus
    * broadcast, bounded per-task memory). */
  def embedNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupPairsBlocked(Tables(spark, dir).embeddings, minCos = 0.4)
      .orderBy(col("id_a"), col("id_b"))

  def simTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** nprobe scales with the corpus to hold the probed SHARE at 30% (= 6
    * lists on the 500-vector oracle corpus, so the sf0.01 oracle is
    * byte-unchanged; see ProductQuantization.scaledNprobe). */
  def simIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val nprobe = graft.analytics.ProductQuantization.scaledNprobe(
      graft.analytics.ProductQuantization.autoTrainN(emb.count()))
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 5, centroidStep = 25, nprobe = nprobe)
      .orderBy(col("query_id"), col("rank"))
  }

  /** MMR-diversified retrieval: the greedy relevance-vs-novelty re-rank
    * over the exact top-12 candidates (λ = 7/10, k = 4 picks), unrolled
    * into static plan stages; selection sequence is integer-deterministic
    * and reproduced step-for-step by the SQL-unrolled oracle. */
  def embedMmr(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    Similarity.mmrTopK(emb, emb.filter(col("vec_id") < 3), k = 4, depth = 12)
      .orderBy(col("query_id"), col("step"))
  }

  /** Intra-document repeated-span trim (spanTokens=2 fits this corpus:
    * its within-doc repetition lives at the 1–2-token scale; real crawls
    * use 16). Zero-shuffle narrow op — see Dedup.intraDocSpanDedup. */
  def dedupIntradoc(spark: SparkSession, dir: String): DataFrame =
    Dedup.intraDocSpanDedup(Tables(spark, dir).documents, spanTokens = 2)
      .orderBy(col("doc_id"))

  /** Cross-split 8-gram-leakage audit over the standard 80/10/10 hash
    * split — the release-gate report for eval integrity (8-grams because
    * trigram leakage saturates at 100% on shared boilerplate). */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame =
    Dedup.splitLeakageReport(Tables(spark, dir).documents)
      .orderBy(col("from_split"), col("to_split"))

  /** Anti-dominance curation quota: no source over 4% of the corpus
    * (a bite-vs-this-corpus default: 20 uniform sources hold 5% each, so
    * every source is over quota and sheds its lowest-quality fifth);
    * best-quality docs win inside an over-quota source. */
  def curateDomainCap(spark: SparkSession, dir: String): DataFrame = {
    Sampling.domainCap(Tables(spark, dir).documents)
      .orderBy(col("source"), col("src_rank"))
  }

  /** Two-round Lloyd k-means over the embedding corpus (deterministic
    * id-step seeding, integer-exact quantized arithmetic). */
  def embedKmeans(spark: SparkSession, dir: String): DataFrame = {
    Clustering.kmeansStats(Tables(spark, dir).embeddings, centroidStep = 40, rounds = 2)
      .orderBy(col("centroid_id"))
  }

  /** Embedding-space outlier gate: squared distance to the recomputed own-
    * cluster mean, flagged beyond 4× the cluster's mean d². */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
    Clustering.clusterOutliers(Tables(spark, dir).embeddings, centroidStep = 40, rounds = 2)
      .orderBy(col("vec_id"))
  }

  /** Token counting beyond whitespace: BPE-ish piece classes (letter runs,
    * digit runs, single punctuation) via one regex scan. */
  def textTokensRe(spark: SparkSession, dir: String): DataFrame = {
    def n(pat: String) = size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long")
    Tables(spark, dir).documents
      .select(col("doc_id"),
        n("[A-Za-z]+").as("n_words"),
        n("[0-9]+").as("n_nums"),
        n("[^A-Za-z0-9\\s]").as("n_punct"),
        n("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]").as("n_pieces"))
      .orderBy(col("doc_id"))
  }

  def simLshBucket(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshBucketPairs(Tables(spark, dir).embeddings, minCos = 0.35, planes = 4)
      .orderBy(col("id_a"), col("id_b"))

  /** OR-amplified LSH: 3 repetitions × 4 planes — the recall knob over
    * [[simLshBucket]]'s single repetition. */
  def simLshBanded(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshBucketPairsBanded(Tables(spark, dir).embeddings,
        minCos = 0.35, reps = 3, planes = 4)
      .orderBy(col("id_a"), col("id_b"))

  def mmFrames(spark: SparkSession, dir: String): DataFrame =
    Multimodal.frameFeatures(spark, dir)
      .orderBy(col("doc_id"), col("frame_idx"))

  def mmResize(spark: SparkSession, dir: String): DataFrame =
    Multimodal.resizedFeatures(spark, dir)
      .orderBy(col("doc_id"))

  def mmDecode(spark: SparkSession, dir: String): DataFrame =
    Multimodal.mediaFeatures(spark, dir)
      .select(col("doc_id"), col("format"), col("n_bytes"), col("first_byte"), col("checksum"))
      .orderBy(col("doc_id"))

  // Real-codec passes (MediaCodecs): genuine BMP/PPM/WAV byte parsing, not
  // the synthetic probe — dims/duration/digest verified by closed-form oracle.
  def mmDecodeImage(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeImageFeatures(spark, dir)

  def mmResizeImage(spark: SparkSession, dir: String): DataFrame =
    Multimodal.resizeImageFeatures(spark, dir)

  def mmDecodeWav(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeWavFeatures(spark, dir)

  /** Data-mixing primitive: keep 50% of `en` docs, 10% of the rest —
    * hash-deterministic (reproducible across runs/retries, oracled). */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratified(Tables(spark, dir).documents, "lang", "doc_id",
        rates = Map("en" -> 500), defaultPerMille = 100)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Deterministic 5-per-language reservoir sample. */
  def samplePerGroup(spark: SparkSession, dir: String): DataFrame =
    Sampling.perGroupSample(Tables(spark, dir).documents, "lang", "doc_id", k = 5)
      .select(col("lang"), col("doc_id"))
      .orderBy(col("lang"), col("doc_id"))

  /** Quality-weighted sample: keep probability = the doc's quality score. */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables(spark, dir).documents
      .withColumn("quality", GraftFunctions.qualityFast(col("text")))
    Sampling.weightedSample(scored, col("quality"), "doc_id")
      .select(col("doc_id"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** Train/val/test split with per-split balance stats. */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    Sampling.splitAssign(Tables(spark, dir).documents, "doc_id")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"))
      .orderBy(col("split"))

  def textTopTokens(spark: SparkSession, dir: String): DataFrame =
    Sampling.topTokens(Tables(spark, dir).documents, k = 20)
      .orderBy(col("n").desc, col("token"))

  def docLenHistogram(spark: SparkSession, dir: String): DataFrame =
    Sampling.lengthHistogram(Tables(spark, dir).documents, bucketWidth = 50)
      .orderBy(col("bucket"))

  /** The end-to-end curation pipeline — the flagship composition a
    * training-data team actually runs, as ONE Spark DAG: language-ID →
    * quality gate → exact dedup (min-id keeper per identical text) →
    * greedy near-dup dedup over the survivors. Every stage is narrow or
    * hash-keyed; the only corpus shuffles are the two dedup group-bys and
    * the inverted-index join, all on hash/shingle keys. */
  /** The pipeline's language+quality+exact-dedup survivor set (exposed so
    * tests can prove properties — e.g. df-cap recall-neutrality — on the
    * EXACT frame the pipeline deduplicates). An eager, lineage-free
    * `localCheckpoint` with nothing for the caller to release; see
    * [[curateKeptCounted]]. */
  def curateKept(spark: SparkSession, dir: String): DataFrame =
    curateKeptCounted(spark, dir)._1

  /** [[curateKept]] plus the documents-table row count, read in the same
    * pass (an observed metric on the documents scan, so the df cap costs
    * no second corpus scan). The checkpoint feeds three DAG branches (pair
    * generation, the anti-join's left side, the output projection), so the
    * scan + scoring subtree runs once; and because its leaf is an RDD scan,
    * not a cached relation, the pair leg's identical exchanges canonicalize
    * equal and are reused (SCALING.md § "Lineage-free corpus frames in
    * the composed pipelines"). */
  private[graft] def curateKeptCounted(spark: SparkSession, dir: String): (DataFrame, Long) = {
    // both join sides below scan the whole table, so both copies of this
    // observation count every row, and Spark reports them as one metric
    val nDocs = Observation()
    val docs = Tables(spark, dir).documents.observe(nDocs, count(lit(1)).as("n_docs"))
    val scored = docs
      .select(col("doc_id"), col("text"),
        GraftFunctions.langIdFast(col("text")).as("lang_pred"),
        GraftFunctions.qualityFast(col("text")).as("quality"))
      .filter(col("lang_pred") === "en" && col("quality") >= 0.55)
    val exactKeepers = scored.groupBy(sha2(col("text"), 256))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val kept = scored.join(exactKeepers, Seq("doc_id"), "left_semi").localCheckpoint(true)
    val n = Checkpoints.awaitObserved(nDocs, Tables(spark, dir).documents.agg(count(lit(1))).head())
    (kept, n.getLong(0))
  }

  def pipelineCurate(spark: SparkSession, dir: String): DataFrame = {
    val (kept, nDocs) = curateKeptCounted(spark, dir)
    val pairs = Dedup.ngramJaccardPairs(kept.select(col("doc_id"), col("text")),
      minJaccard = 0.6, maxDf = Some(Dedup.dfCapFor(nDocs)))
    // materialize the small result, then release the corpus checkpoint
    val out = Dedup.keepAfterNearDup(kept, pairs)
      .select(col("doc_id"), col("lang_pred"), col("quality"))
      .orderBy(col("doc_id"))
      .localCheckpoint(true)
    Checkpoints.releaseCheckpoint(kept)
    out
  }

  /** Decontamination vs a fake "benchmark": docs 0–4 play the eval set;
    * survivors share NO trigram with them. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    Dedup.decontaminate(docs.filter(col("doc_id") >= 5), docs.filter(col("doc_id") < 5))
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** The bloom-screened decontamination twin: same probe split, same rows
    * (the screen is recall-lossless; the exact join removes fpp hits), but
    * the corpus-side explode is pre-filtered by the serialized probe bloom
    * before any exchange. Shares `decontaminate`'s oracle verbatim. */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    Dedup.decontaminateBloom(docs.filter(col("doc_id") >= 5), docs.filter(col("doc_id") < 5))
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** The PERSISTED screen: registry built from docs 0–2, a second "suite"
    * (3–4) appended by bloom OR-merge, then the corpus admitted through the
    * stored index. Admissions ≡ exact `decontaminate` vs the full registry,
    * so this row oracles the append/merge semantics too. */
  def decontaminateIndex(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val idx = scratchIndexDir("bloomindex")
    graft.analytics.BloomIndex.build(docs.filter(col("doc_id") < 3), idx)
    graft.analytics.BloomIndex.append(
      docs.filter(col("doc_id") >= 3 && col("doc_id") < 5), idx)
    graft.analytics.BloomIndex.decontaminate(spark, idx, docs.filter(col("doc_id") >= 5))
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Contamination audit for the same probe split as `decontaminate`:
    * per (eval doc, corpus doc) shared-shingle counts and leak fraction. */
  def contaminationReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    Dedup.contaminationReport(docs.filter(col("doc_id") >= 5),
        docs.filter(col("doc_id") < 5))
      .orderBy(col("probe_id"), col("doc_id"))
  }

  /** PII redaction over adversarial constructed inputs: every doc gets a
    * deterministic email + phone + IPv4 spliced into real text (the corpus
    * itself is synthetic word-salad with no PII, so the fixture builds the
    * worst case the way o10_escape does for the escape chain). */
  def textPiiRedact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .withColumn("raw", concat(
        substring(col("text"), 1, 40),
        lit(" reach user"), col("doc_id").cast("string"),
        lit("@mail.example.org or 555-867-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
        lit("."), ((col("doc_id") * 7) % 256).cast("string"), lit(" end")))
      .select(col("doc_id"), col("raw"),
        TextAnalysis.redactPii(col("raw")).as("redacted"))
      .orderBy(col("doc_id"))

  /** Card-number redaction over a constructed fixture: each row carries a
    * Luhn-VALID 16-digit number (must be redacted) and its Luhn-INVALID
    * twin (same 15-digit base, check digit + 1 — must survive), plus a
    * phone-shaped number (separated 3/3/4 runs — must survive). Both
    * engines derive the pair arithmetically from doc_id, so the oracle
    * knows exactly which substring disappears. */
  def textCardRedact(spark: SparkSession, dir: String): DataFrame = {
    val base = lpad(((col("doc_id") * 37) % 1000000000L).cast("string"), 15, "0")
    val ds = transform(split(reverse(base), ""), x => x.cast("int"))
    val mapped = transform(ds, (d, i) =>
      when(i % 2 === 0, when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d))
    val luhnSum = aggregate(mapped, lit(0), (a, x) => a + x)
    val cd = (lit(10) - (luhnSum % 10)) % 10
    val valid = concat(base, cd.cast("string"))
    val invalid = concat(base, ((cd + 1) % 10).cast("string"))
    Tables(spark, dir).documents
      .withColumn("raw", concat(
        substring(col("text"), 1, 32), lit(" pay "), valid,
        lit(" ref "), invalid, lit(" tel 555-867-5309 end")))
      .select(col("doc_id"), col("raw"),
        GraftFunctions.cardRedactFast(col("raw")).as("redacted"))
      .orderBy(col("doc_id"))
  }

  /** Per-doc repetition ratios (the Gopher repetition quality gates). */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionStats(Tables(spark, dir).documents)
      .orderBy(col("doc_id"))

  /** Sequence prep: 32-token chunks, stride 24 (8-token overlap). */
  def docChunks(spark: SparkSession, dir: String): DataFrame =
    Sampling.docChunks(Tables(spark, dir).documents, size = 32, stride = 24)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Training-shard routing: 64 shards, balance stats per shard. */
  def shardStats(spark: SparkSession, dir: String): DataFrame =
    Sampling.shardStats(Tables(spark, dir).documents, nShards = 64)
      .orderBy(col("shard"))

  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    Search.tfidfTopTerms(docs, k = 3, nDocs = docs.count())
      .orderBy(col("doc_id"), col("rank"))
  }

  def bm25Search(spark: SparkSession, dir: String): DataFrame =
    Search.bm25TopDocs(Tables(spark, dir).documents,
      queryTerms = Seq("data", "fast", "query"), k = 20)

  /** Same ranking served from the persisted inverted index: build once,
    * probe only the query terms' hash-bucket partitions. */
  def bm25IndexSearch(spark: SparkSession, dir: String): DataFrame = {
    val idx = scratchIndexDir("searchindex")
    Trace.phase("build")(graft.analytics.SearchIndex.build(Tables(spark, dir).documents, idx))
    graft.analytics.SearchIndex.query(spark, idx,
      queryTerms = Seq("data", "fast", "query"), k = 20)
  }

  /** Right-to-be-forgotten over the persisted BM25 index: build on the
    * full corpus, [[graft.analytics.SearchIndex.forget]] every doc with
    * doc_id % 5 == 2, then query — the tombstoned docs' postings are
    * anti-joined out and their exact negative df/n/dl_sum contributions are
    * merge-on-read parts, so the ranking is bit-identical to a one-shot
    * BM25 over the filtered corpus (the oracle is `bm25_search`'s SQL with
    * the same exclusion). */
  def bm25IndexForget(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val idx = scratchIndexDir("searchindex-forget")
    graft.analytics.SearchIndex.build(docs, idx)
    graft.analytics.SearchIndex.forget(spark, idx,
      docs.filter(col("doc_id") % 5 === 2).select("doc_id"))
    graft.analytics.SearchIndex.query(spark, idx,
      queryTerms = Seq("data", "fast", "query"), k = 20)
  }

  /** More-like-this from the persisted index (r14): seed doc 1's top-10
    * terms by exact-integer tf × idf_micro from the forward store, BM25
    * over them with micro-rounded integer contributions — see
    * [[graft.analytics.SearchIndex.moreLikeThis]]. */
  def bm25Mlt(spark: SparkSession, dir: String): DataFrame = {
    val idx = scratchIndexDir("searchindex-mlt")
    Trace.phase("build")(graft.analytics.SearchIndex.build(Tables(spark, dir).documents, idx))
    graft.analytics.SearchIndex.moreLikeThis(spark, idx, docId = 1L, k = 20,
      topTerms = 10)
  }

  /** Batch more-like-this (r14): per-seed top-20 related docs for seeds
    * {1, 2, 3} in one declarative plan — the related-items precompute
    * shape; see [[graft.analytics.SearchIndex.moreLikeThisBatch]]. */
  def bm25MltBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val idx = scratchIndexDir("searchindex-mltb")
    Trace.phase("build")(graft.analytics.SearchIndex.build(Tables(spark, dir).documents, idx))
    graft.analytics.SearchIndex.moreLikeThisBatch(spark, idx,
      Seq(1L, 2L, 3L).toDF("doc_id"), k = 20, topTerms = 10)
  }

  /** Hybrid retrieval: RRF-fuse the dense cosine top-50 for query vector 0
    * with the BM25 top-50 for the standard query terms. Both legs are
    * k-sized before fusion; the no-partition rank window runs over a ≤50-row
    * frame. */
  def searchRrf(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val kLeg = 50
    val dense = Similarity
      .bruteForceTopK(t.embeddings, t.embeddings.filter(col("vec_id") === 0), k = kLeg)
      .select(col("vec_id").as("id"), col("rank"))
    val bm = Search.bm25TopDocs(t.documents,
      queryTerms = Seq("data", "fast", "query"), k = kLeg)
    val sparse = bm.select(col("doc_id").as("id"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id"))).as("rank"))
    Search.hybridRrf(dense, sparse, kConst = 60, topN = 20)
  }

  /** PMI collocations over the corpus (min bigram count 5, top 50). */
  def textCollocations(spark: SparkSession, dir: String): DataFrame =
    Search.collocations(Tables(spark, dir).documents, minCount = 5, k = 50)

  /** BPE merge training over the corpus word-frequency table (4 merges). */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    graft.analytics.Bpe.trainMerges(Tables(spark, dir).documents, merges = 4)

  /** Topic labels for the embedding k-means clusters (top-3 TF-ICF terms). */
  def clusterTopics(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    Clustering.clusterTopics(t.embeddings, t.documents, centroidStep = 40, rounds = 2, topK = 3)
  }

  /** Exact top-20 tokens cross-checked by a Count-Min sketch. */
  def textCmsTopk(spark: SparkSession, dir: String): DataFrame =
    graft.analytics.Sketches.cmsTopTokens(Tables(spark, dir).documents, k = 20)

  /** The HLL distinct-count cube: per-(day, event_type) register sketches
    * rolled up to per-type distinct users by register-max merge — the
    * events table is scanned once to BUILD the cube and never again to
    * ANSWER. The exact integer register sum rides next to the rounded
    * estimate, so the oracle gates the sketch state itself, not just the
    * estimate. */
  def aggHllCube(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events.withColumn("day", to_date(col("ts")))
    val daily = graft.analytics.HllSketch.registers(
      ev, Seq("day", "event_type"), col("user_id"))
    val merged = graft.analytics.HllSketch.mergeRegisters(daily, Seq("event_type"))
    graft.analytics.HllSketch.estimate(merged, Seq("event_type"))
      .orderBy(col("event_type"))
  }

  /** The quantile cube: per-(day, event_type) DDSketch-style histograms
    * over event value cents, merged per type, walked for p50/p95/p99 —
    * representatives are integer cents, so the oracle hash-matches the
    * sketch output exactly rather than within a tolerance. */
  def aggQuantileCube(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .withColumn("day", to_date(col("ts")))
      .withColumn("cents", round(col("value") * 100).cast("long"))
    val daily = graft.analytics.QuantileSketch.histogram(
      ev, Seq("day", "event_type"), col("cents"))
    val merged = graft.analytics.QuantileSketch.mergeHistograms(daily, Seq("event_type"))
    graft.analytics.QuantileSketch.quantiles(merged, Seq("event_type"))
      .orderBy(col("event_type"))
  }

  /** Tokenizer fertility under the learned 4-merge BPE vocab. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val pairs = graft.analytics.Bpe.trainMerges(docs, merges = 4).collect()
      .map(r => (r.getAs[String]("lsym"), r.getAs[String]("rsym"))).toSeq
    graft.analytics.Bpe.encodeStats(docs, pairs)
  }

  /** Per-source corpus mix report (docs/tokens/length/lang/dup-rate). */
  /** The DATASET CARD in one oracled query — the (section, metric, value)
    * datasheet a corpus release ships with: size totals, per-language
    * shares, the exact-duplicate rate, quality quartiles read from the
    * DDSketch histogram (no global sort), and the train/val/test split
    * sizes. Composes the existing aggregate shapes over ONE checkpointed
    * scoring pass plus the text-hash pass; every output frame is
    * sections-sized, every ratio is exact-integer rational rounding
    * (HALF_UP micro-units), so the whole card hash-matches its SQL twin.
    * At 100 TB this is the cheap release gate: two corpus scans, no joins
    * wider than a broadcast 1-row total. */
  def corpusDatasheet(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val scored = docs.select(col("doc_id"), col("lang"), col("text"),
        Sampling.strictTokenCount(col("text")).cast("long").as("n_tok"),
        length(col("text")).cast("long").as("n_chars"),
        round(GraftFunctions.qualityFast(col("text")) * 10000).cast("long").as("q_micro"))
      .localCheckpoint(true)
    def entry(section: String, metric: String, value: org.apache.spark.sql.Column) =
      struct(lit(section).as("section"), lit(metric).as("metric"),
        value.cast("double").as("value"))
    val size = scored
      .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("st"), sum(col("n_chars")).as("sc"))
      .select(explode(array(
        entry("size", "n_docs", col("n")),
        entry("size", "n_tokens", col("st")),
        entry("size", "n_chars", col("sc")),
        entry("size", "avg_tokens",
          expr("(st * 20000 + n) div (2 * n)").cast("double") / 10000.0)
      )).as("r")).select(col("r.*"))
    val langs = scored.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(scored.agg(count(lit(1)).as("n"))))
      .select(lit("lang_share").as("section"), col("lang").as("metric"),
        (expr("(c * 20000 + n) div (2 * n)").cast("double") / 10000.0).as("value"))
    val dup = docs
      .agg(count(lit(1)).as("n"), count_distinct(sha2(col("text"), 256)).as("d"))
      .select(lit("dedup").as("section"), lit("exact_dup_rate").as("metric"),
        (expr("((n - d) * 20000 + n) div (2 * n)").cast("double") / 10000.0).as("value"))
    val hist = graft.analytics.QuantileSketch.histogram(
      scored.withColumn("g", lit(1L)), Seq("g"), col("q_micro"))
    val quartiles = graft.analytics.QuantileSketch.quantiles(hist, Seq("g"),
        Seq(("p25", 0.25), ("p50", 0.5), ("p75", 0.75)))
      .select(explode(array(
        entry("quality_micro", "p25", col("p25")),
        entry("quality_micro", "p50", col("p50")),
        entry("quality_micro", "p75", col("p75"))
      )).as("r")).select(col("r.*"))
    val splits = Sampling.splitAssign(docs, "doc_id")
      .groupBy(col("split")).agg(count(lit(1)).as("c"))
      .select(lit("split").as("section"), col("split").as("metric"),
        col("c").cast("double").as("value"))
    val out = size.unionByName(langs).unionByName(dup)
      .unionByName(quartiles).unionByName(splits)
      .orderBy(col("section"), col("metric"))
      .localCheckpoint(true)
    Checkpoints.releaseCheckpoint(scored)
    out
  }

  /** The round-9 curation guards composed into ONE oracled admission DAG:
    * per-domain anti-dominance cap (best-quality docs win inside an
    * over-quota source) → intra-doc repeated-span REPAIR of the admitted
    * text → sketch-calibrated quality gate scored on the REPAIRED text
    * (threshold = that corpus's own p25, so the gate adapts to what the
    * repair did). Output carries the provenance a pipeline logs per
    * admitted doc: its domain rank, how many spans the repair removed, its
    * repaired-text score, and the threshold it cleared. Scale shape is the
    * parts': one corpus pass per stage, no join wider than doc_id, the
    * sketch walk instead of a global sort. The two multi-referenced
    * stages are MATERIALIZED (the `corpusDatasheet` pattern): `capped`
    * feeds both the trim join and the final provenance join, and `scored`
    * feeds both the threshold histogram and the final filter — without
    * the eager `localCheckpoint` each reference would re-run every
    * upstream stage (domain-cap window + trim + scoring), a recompute
    * amplifier that compounds at 100×. Materialized, each stage runs
    * exactly once and the checkpointed frames are narrow (ids + a few
    * longs), never the document text. */
  def pipelineAdmit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val capped = Sampling.domainCap(docs)
      .select(col("doc_id"), col("source"), col("src_rank"))
      .localCheckpoint(true)
    val trimmed = Dedup.intraDocSpanDedup(
      docs.join(capped.select(col("doc_id")), Seq("doc_id")), spanTokens = 2)
    val scored = trimmed.select(col("doc_id"), col("n_removed"),
        round(GraftFunctions.qualityFast(col("kept_text")) * 10000).cast("long").as("q_micro"))
      .localCheckpoint(true)
    val hist = graft.analytics.QuantileSketch.histogram(
      scored.withColumn("g", lit(1L)), Seq("g"), col("q_micro"))
    val thr = graft.analytics.QuantileSketch.quantiles(
        hist, Seq("g"), Seq(("p25", 0.25)))
      .select(col("p25"))
    scored.crossJoin(broadcast(thr))
      .filter(col("q_micro") >= col("p25"))
      .join(capped, Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("src_rank"),
        col("n_removed"), col("q_micro"), col("p25"))
      .orderBy(col("doc_id"))
  }

  def corpusReport(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.corpusReport(Tables(spark, dir).documents)

  /** DSIR importance weights over the documents corpus, target = the
    * language gate's 'en' slice. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    Search.dsirLogWeights(Tables(spark, dir).documents, dims = 64)
      .orderBy(col("doc_id"))

  def textTokFreq(spark: SparkSession, dir: String): DataFrame =
    Sampling.tokenFrequencyStats(Tables(spark, dir).documents)
      .orderBy(col("doc_id"))

  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    Quantization.int8Affine(Tables(spark, dir).embeddings)
      .orderBy(col("id"))

  def embedPq(spark: SparkSession, dir: String): DataFrame = {
    ProductQuantization.pqCodes(Tables(spark, dir).embeddings)
      .orderBy(col("vec_id"), col("sub"))
  }

  def simPqAdc(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    ProductQuantization.adcTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Transitive duplicate closure via a RECURSIVE CTE (Spark 4 SQL
    * surface): walk the near-dup pair graph along its id_a < id_b edges —
    * a DAG by construction, so UNION ALL recursion terminates (Spark does
    * not yet support distinct-UNION recursion, which cyclic reachability
    * would need; the cc operator covers the undirected form). Per source
    * doc: how many docs its duplication transitively reaches. */
  def dedupClosure(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    // MATERIALIZE the pair table before recursing: each recursion step
    // re-executes the referenced view's plan, so an unmaterialized view
    // would re-run the full shingle inverted-index join once PER STEP
    // (measured 21 s → 1.5 s at sf0.1). The checkpoint makes every step a
    // join against an in-memory few-hundred-row edge list.
    val pairs = Dedup.ngramJaccardPairs(docs, minJaccard = 0.6,
        maxDf = Some(Dedup.dfCapFor(docs.count())))
      .localCheckpoint(true)
    pairs.createOrReplaceTempView("dup_pairs_v")
    // eager: materializes before the edge checkpoint is released, and
    // leaves nothing of the session's behind
    val out = spark.sql(
      """WITH RECURSIVE reach(src, dst) AS (
        |  SELECT id_a AS src, id_b AS dst FROM dup_pairs_v
        |  UNION ALL
        |  SELECT r.src, p.id_b FROM reach r JOIN dup_pairs_v p ON r.dst = p.id_a)
        |SELECT src, count(DISTINCT dst) AS n_reach,
        |  min(dst) AS first_dup, max(dst) AS last_dup
        |FROM reach GROUP BY src ORDER BY src""".stripMargin)
      .localCheckpoint(true)
    spark.catalog.dropTempView("dup_pairs_v"): Unit
    Checkpoints.releaseCheckpoint(pairs)
    out
  }

  /** IVF-PQ served from the PERSISTED index: build into a scratch dir,
    * query the stored structure — the build-once/query-many serving path
    * end-to-end. Same params and scoring as [[simIvfPqTopK]], so it shares
    * that oracle SQL. */
  def simPqIndexTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val idx = scratchIndexDir("pqindex")
    val nprobe = Trace.phase("build") {
      val nprobe = graft.analytics.ProductQuantization.scaledNprobe(
        graft.analytics.ProductQuantization.autoTrainN(emb.count()))
      PqIndex.build(emb, idx)
      nprobe
    }
    PqIndex.query(spark, idx, emb.filter(col("vec_id") < 5), k = 5, nprobe = nprobe)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Two-stage IVF-PQ serving: ADC prunes + ranks inside the probed lists,
    * the top-20 survivors per query are re-scored by exact cosine. The
    * recall lift over raw ADC is measured in SCALING.md § "ANN recall@10 vs
    * the nprobe knob at sf0.1". */
  def simPqIndexRescored(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val idx = scratchIndexDir("pqindex-rs")
    val (nprobe, depth) = Trace.phase("build") {
      val n = emb.count()
      val nprobe = graft.analytics.ProductQuantization.scaledNprobe(
        graft.analytics.ProductQuantization.autoTrainN(n))
      PqIndex.build(emb, idx)
      (nprobe, graft.analytics.ProductQuantization.scaledDepth(n))
    }
    PqIndex.queryRescored(spark, idx, emb.filter(col("vec_id") < 5), emb,
        k = 5, depth = depth, nprobe = nprobe)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Right-to-be-forgotten over the persisted ANN index: build on the full
    * corpus, [[graft.analytics.PqIndex.forget]] every vec with
    * vec_id % 7 == 3, then query — forgotten vectors are anti-joined out
    * of the candidate stream BEFORE ranking, so they can never appear in
    * any top-k and their slots fill with the next-best survivors. The
    * oracle is the ivfpq SQL with the same candidate exclusion. */
  def simPqIndexForget(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val nprobe = graft.analytics.ProductQuantization.scaledNprobe(
      graft.analytics.ProductQuantization.autoTrainN(emb.count()))
    val idx = scratchIndexDir("pqindex-forget")
    PqIndex.build(emb, idx)
    PqIndex.forget(spark, idx, emb.filter(col("vec_id") % 7 === 3).select("vec_id"))
    PqIndex.query(spark, idx, emb.filter(col("vec_id") < 5), k = 5, nprobe = nprobe)
      .orderBy(col("query_id"), col("rank"))
  }

  def simIvfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val nprobe = graft.analytics.ProductQuantization.scaledNprobe(
      graft.analytics.ProductQuantization.autoTrainN(emb.count()))
    ProductQuantization.ivfPqTopK(emb, emb.filter(col("vec_id") < 5), k = 5,
      nprobe = nprobe)
      .orderBy(col("query_id"), col("rank"))
  }

  /** SemDeDup: k-means-bucketed semantic dedup — near-dup search confined
    * to within-cluster pairs (same seeding/rounds as [[embedKmeans]], same
    * 0.4 cosine threshold as [[embedNearDup]], so the drop set is the
    * co-clustered subset of the exact all-pairs answer). */
  def semdedupKeepers(spark: SparkSession, dir: String): DataFrame =
    Clustering.semdedupKeepers(Tables(spark, dir).embeddings,
        centroidStep = 40, rounds = 2, minCos = 0.4)
      .orderBy(col("vec_id"))

  /** Temperature mixing over the lang strata (the non-uniform dimension of
    * this corpus — sources are uniform by construction). */
  def sampleTemperature(spark: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMixWeights(Tables(spark, dir).documents, "lang")
      .orderBy(col("stratum"))

  /** Budget allocation from the temperature weights: per-stratum target
    * docs + repeat (epoch) factors, budget = rebalance the corpus size. */
  def sampleEpochs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    Sampling.epochAllocationSelf(docs, "lang")
      .orderBy(col("stratum"))
  }

  /** The materialized training mix for the epoch allocation above — same
    * strata and budget, but the actual repeated corpus rather than the
    * per-stratum report. */
  def sampleMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    Sampling.materializeMixSelf(docs, "lang")
      .orderBy(col("doc_id"), col("epoch"))
  }

  /** Concat-and-chunk sequence packing (8 shards, 1024-token windows):
    * per-doc placement in the shard-concatenated token stream. */
  def packWindows(spark: SparkSession, dir: String): DataFrame =
    Sampling.packSequences(Tables(spark, dir).documents,
        windowTokens = 1024, nShards = 8)
      .orderBy(col("doc_id"))

  /** Per-shard packing manifest for the same packing parameters. */
  def packShardsQ(spark: SparkSession, dir: String): DataFrame =
    Sampling.packShards(Tables(spark, dir).documents,
        windowTokens = 1024, nShards = 8)
      .orderBy(col("shard"))

  /** Curriculum-ordered packing: each shard's stream ordered by the
    * quality score DESCENDING (easiest/cleanest first, the curriculum-
    * learning schedule), ties by id — same shards and window math as
    * [[packWindows]], ordering within shard partitions only (no global
    * sort). The score rides the output as the ordering witness. */
  def packCurriculumQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .withColumn("q_micro",
        round(GraftFunctions.qualityFast(col("text")) * 10000).cast("long"))
    Sampling.packCurriculum(docs, windowTokens = 1024, nShards = 8, col("q_micro"))
      .select(col("doc_id"), col("score"), col("n_tok"), col("shard"),
        col("tok_start"), col("tok_end"), col("first_window"),
        col("last_window"), col("n_windows"))
      .orderBy(col("doc_id"))
  }

  /** Shuffled-order packing (seed "ord"): same shards and windows, but
    * each shard's stream is hash-decorrelated — the order a trainer
    * actually consumes. */
  def packShuffled(spark: SparkSession, dir: String): DataFrame =
    Sampling.packSequences(Tables(spark, dir).documents,
        windowTokens = 1024, nShards = 8, shuffleSeed = Some("ord"))
      .orderBy(col("doc_id"))

  /** Window composition map for the same packing parameters: which doc
    * slices, at which offsets, make up each training sequence. */
  def packWindowMapQ(spark: SparkSession, dir: String): DataFrame =
    Sampling.packWindowMap(Tables(spark, dir).documents,
        windowTokens = 1024, nShards = 8)
      .orderBy(col("shard"), col("window_id"), col("doc_id"))

  /** The full training-data DAG composed end-to-end: quality gate + exact
    * dedup (all languages, so the mix is genuinely multi-stratum) →
    * temperature/epoch mix materialized with text carried through (one
    * narrow pass, no corpus re-join) → sequence packing of the mixed
    * stream. `mix_id = doc_id*1000 + epoch` keys the packed stream:
    * unique (epoch counts are single digits at any sane budget) and
    * deterministic. Near-dup dedup is demonstrated separately in
    * `pipeline_curate`; this chain is the mix-and-pack half. */
  def pipelinePack(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val scored = docs
      .select(col("doc_id"), col("text"),
        GraftFunctions.langIdFast(col("text")).as("lang_pred"),
        GraftFunctions.qualityFast(col("text")).as("quality"))
      .filter(col("quality") >= 0.55)
    val keepers = scored.groupBy(sha2(col("text"), 256))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val kept = scored.join(keepers, Seq("doc_id"), "left_semi").localCheckpoint(true)
    val out = mixAndPack(kept, "lang_pred")
    Checkpoints.releaseCheckpoint(kept)
    out
  }

  /** The mix-and-pack tail of [[pipelinePack]] and [[pipelineFull]]: the
    * temperature mix of `kept` over `stratum` with text carried, then
    * sequence packing (1024-token windows, 8 shards) keyed by
    * `mix_id = doc_id*1000 + epoch`, returned as an eager checkpoint. */
  private def mixAndPack(kept: DataFrame, stratum: String): DataFrame = {
    val mixed = Sampling.materializeMixSelf(kept, stratum, carry = Seq("text"))
    val stream = mixed.select(
      (col("doc_id") * 1000 + col("epoch")).as("mix_id"), col("text"))
    Sampling.packSequences(stream, windowTokens = 1024, nShards = 8,
        idCol = "mix_id")
      .select(col("mix_id"), expr("mix_id div 1000").as("doc_id"),
        (col("mix_id") % 1000).as("epoch"), col("shard"), col("n_tok"),
        col("tok_start"), col("tok_end"), col("first_window"),
        col("last_window"), col("n_windows"))
      .orderBy(col("mix_id"))
      .localCheckpoint(true)
  }

  /** THE full production curation DAG in one query — what a training-data
    * team actually ships, end to end: benchmark decontamination (drop docs
    * sharing a trigram with the eval registry, docs 0–4) → C4 span dedup
    * MATERIALIZED (16-token spans, first-occurrence-wins, text rewritten)
    * → quality-aware near-dup keepers over the REWRITTEN text (highest
    * quality per component survives) → sqrt-temperature mix over the
    * ground-truth lang strata with text carried → sequence packing of the
    * mixed stream (1024-token windows, 8 shards). One DuckDB oracle
    * hash-matches the whole composition.
    *
    * Scale shape: the stages compose without ever re-joining the corpus —
    * decontamination is a broadcast anti-join, span dedup shuffles
    * span-hash keys, the keeper pass shuffles shingle keys and pair ids,
    * the mix is a strata-broadcast narrow pass (text carried, no re-join),
    * and packing is per-shard prefix sums. Every corpus-sized exchange is
    * on hash keys; nothing quadratic, nothing driver-sized. */
  def pipelineFull(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val clean = Dedup.decontaminate(
      docs.filter(col("doc_id") >= 5), docs.filter(col("doc_id") < 5))
    // the corpus frames shared across branches are eager, lineage-free
    // checkpoints; spanned's filling pass also counts it for the df cap
    val (spanned, nSpanned) = Checkpoints.observedCheckpoint(
      Dedup.spanDedupMaterialize(clean, spanTokens = 16)
        .select(col("doc_id"), col("kept_text").as("text"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id"),
      count(lit(1)))
    val pairs = Dedup.ngramJaccardPairs(spanned.select(col("doc_id"), col("text")),
      minJaccard = 0.6, maxDf = Some(Dedup.dfCapFor(nSpanned.getLong(0))))
    // budget = |kept| derived INSIDE the strata aggregate (no driver
    // count() job over the kept frame — VERDICT r10 #7)
    val kept = Dedup.qualityKeepers(spanned, pairs,
        GraftFunctions.qualityFast(col("text")))
      .select(col("doc_id"), col("text"), col("lang"))
      .localCheckpoint(true)
    val out = mixAndPack(kept, "lang")
    Checkpoints.releaseCheckpoint(kept)
    Checkpoints.releaseCheckpoint(spanned)
    out
  }

  /** Sketch-CALIBRATED quality gate: the keep threshold is not a magic
    * constant but the corpus's own 25th percentile, read from the mergeable
    * DDSketch histogram ([[QuantileSketch]]) over integer quality
    * micro-units — the adaptive-threshold pattern a 100 TB pipeline needs
    * (an exact percentile would be a full sort; the sketch is one narrow
    * pass + a ≤512-row walk, and distributed shards merge by count-sum
    * before the walk). Output: every kept doc with its quality and the
    * threshold it cleared, integer-deterministic end to end. */
  def textQualityCalibrated(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val scored = docs.select(col("doc_id"),
        GraftFunctions.qualityFast(col("text")).as("quality"))
      .withColumn("q_micro", round(col("quality") * 10000).cast("long"))
    val hist = graft.analytics.QuantileSketch.histogram(
      scored.withColumn("g", lit(1L)), Seq("g"), col("q_micro"))
    val thr = graft.analytics.QuantileSketch.quantiles(
        hist, Seq("g"), Seq(("p25", 0.25)))
      .select(col("p25"))
    scored.crossJoin(broadcast(thr))
      .filter(col("q_micro") >= col("p25"))
      .select(col("doc_id"), col("q_micro"), col("p25"))
      .orderBy(col("doc_id"))
  }

  /** Per-doc n-gram NOVELTY: the fraction of a doc's distinct trigram
    * shingles that occur nowhere else in the corpus (df = 1) — the
    * boilerplate-vs-original signal that complements [[textTokFreq]]'s
    * token-level rarity (a doc of common words in a unique ORDER scores
    * high here, low there). One shingle-keyed df aggregate + one
    * doc-keyed ratio aggregate; the shuffle keys are shingle strings and
    * doc ids, nothing quadratic. */
  def textNovelty(spark: SparkSession, dir: String): DataFrame = {
    val exp = Tables(spark, dir).documents
      .select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("s"))
    val dfc = exp.groupBy(col("s")).agg(count(lit(1)).as("df"))
    exp.join(dfc, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty", round(col("n_unique").cast("double") / col("n_sh"), 4))
      .orderBy(col("doc_id"))
  }

  /** JL random projection of the embeddings to 16 dims (per-(vec, plane)
    * rows) — the storage/compute shrink step ahead of clustering or ANN. */
  def embedProject(spark: SparkSession, dir: String): DataFrame =
    Similarity.randomProject(Tables(spark, dir).embeddings)
      .orderBy(col("vec_id"), col("p"))

  def textHashVec(spark: SparkSession, dir: String): DataFrame =
    Sampling.hashingVectorize(Tables(spark, dir).documents)
      .orderBy(col("doc_id"), col("bucket"))

  /** In-engine classifier training: 3 batch-perceptron rounds over hashed
    * features with lang-ID labels — integer-exact weights cross-engine. */
  def clfTrain(spark: SparkSession, dir: String): DataFrame =
    Search.perceptronTrain(Tables(spark, dir).documents)
      .orderBy(col("bucket"))

  def textLmScore(spark: SparkSession, dir: String): DataFrame =
    Search.bigramSurprisal(Tables(spark, dir).documents).orderBy(col("doc_id"))

  /** Kneser-Ney-smoothed twin of [[textLmScore]]. */
  def textKnScore(spark: SparkSession, dir: String): DataFrame =
    Search.knSurprisal(Tables(spark, dir).documents).orderBy(col("doc_id"))

  /** Held-out KN scoring: LM trained on the hash-bucket < 800 split scores
    * the ≥ 800 docs — every backoff branch (unseen bigram / head / word)
    * fires. */
  def textKnHeldout(spark: SparkSession, dir: String): DataFrame =
    Search.knHeldoutScore(Tables(spark, dir).documents).orderBy(col("doc_id"))

  /** Linear quality-classifier inference: hashed features × broadcast
    * weight table → exact-int logit + keep decision. */
  def textClfScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    Search.linearClassifierScore(docs, Search.derivedWeights(docs))
      .orderBy(col("doc_id"))
  }

  def dedupPrefix(spark: SparkSession, dir: String): DataFrame =
    Dedup.prefixDupPairs(Tables(spark, dir).documents)
      .orderBy(col("id_a"), col("id_b"))

  /** Containment dedup with the df cap engaged (same 100 TB default as
    * dedup_ngram; the oracle is the uncapped all-pairs form — equality
    * holds because the cap exceeds every df on this corpus). */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    Dedup.ngramContainmentPairs(docs, minContainment = 0.9,
        maxDf = Some(Dedup.dfCapFor(docs.count())))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Gopher quality gates (token count, mean token length, stopword
    * presence, repetition cap) — the pipeline's cheapest-first filter. */
  def textGopherGates(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherGates(Tables(spark, dir).documents)
      .orderBy(col("doc_id"))

  /** Winnowing (MOSS) fingerprints: the substring-level dedup index.
    * k=3-token grams, window w=4 — any ≥6-token verbatim overlap between
    * two documents is guaranteed to share a fingerprint. */
  def textWinnow(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).documents
      .select(col("doc_id"),
        explode(TextAnalysis.winnowFingerprints(col("text"), k = 3, w = 4)).as("fp"))
      .orderBy(col("doc_id"), col("fp"))
  }

  /** C4-style corpus span dedup: per-doc span/removal/kept-token counts
    * after global first-occurrence-wins dedup of 16-token spans. */
  def dedupSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.spanDedupStats(Tables(spark, dir).documents, spanTokens = 16)
      .orderBy(col("doc_id"))

  /** Span-dedup materializer: the corpus text AFTER C4 span removal —
    * surviving spans re-joined in position order. */
  def dedupSpansKeepers(spark: SparkSession, dir: String): DataFrame =
    Dedup.spanDedupMaterialize(Tables(spark, dir).documents, spanTokens = 16)
      .orderBy(col("doc_id"))

  /** MOSS pair stage: documents sharing >= 2 winnow fingerprints, with the
    * hot-fingerprint df cap engaged (the 100 TB default — cap exceeds every
    * df on this corpus, so the oracle's uncapped form matches exactly). */
  def dedupWinnowPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    Dedup.winnowDupPairs(docs, k = 3, w = 4, minShared = 2,
        maxDf = Some(Dedup.dfCapFor(docs.count())))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Encoding-repair round-trip: the corpus is ASCII, so the query first
    * enriches it deterministically with the accented/typographic chars a
    * real web crawl carries (per doc_id residue class), renders the classic
    * UTF-8→cp1252 mis-decode with [[TextAnalysis.mojibakeEncode]], then
    * repairs with the operator under test ([[TextAnalysis.fixMojibake]]).
    * `roundtrip_ok` proves repair(corrupt(s)) == s per document; the char
    * counts expose how much mojibake each doc carried. Zero shuffle. */
  def textFixEncoding(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val enriched =
      when(col("doc_id") % 3 === 0, replace(col("text"), lit("e"), lit("é")))
        .when(col("doc_id") % 3 === 1, replace(col("text"), lit("o"), lit("ö")))
        .otherwise(concat(lit("“"), replace(col("text"), lit("a"), lit("ä")),
          lit("’s tail—end…")))
    docs.select(col("doc_id"), enriched.as("__orig"))
      .withColumn("__bad", TextAnalysis.mojibakeEncode(col("__orig")))
      .withColumn("__fixed", TextAnalysis.fixMojibake(col("__bad")))
      .select(col("doc_id"),
        length(col("__orig")).cast("long").as("n_chars_orig"),
        length(col("__bad")).cast("long").as("n_chars_bad"),
        length(col("__fixed")).cast("long").as("n_chars_fixed"),
        (col("__fixed") === col("__orig")).as("roundtrip_ok"),
        sha2(col("__fixed"), 256).as("fixed_hash"))
      .orderBy(col("doc_id"))
  }

  /** HTML main-content extraction: each doc is wrapped in a deterministic
    * page skeleton (title, style payload, nav menu, a second entity-bearing
    * content paragraph, a footer) and [[TextAnalysis.htmlExtract]] must
    * recover exactly the content paragraphs — nav/footer/style die on the
    * segment token-density gate, entities decode. `extract_ok` is the
    * per-doc proof; the segment counts and text/html density ride along as
    * the curation metrics. Zero shuffle. */
  def textHtmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val html = concat(
      lit("<html><head><title>doc</title><style>p{color:red}</style></head>" +
        "<body><div class=\"nav\">home | about | contact</div><p>"),
      col("text"),
      lit("</p><p>quote &quot;metric &amp; value&quot; end of section paragraph</p>" +
        "<div class=\"footer\">&copy; 2026 "),
      col("source"), lit("</div></body></html>"))
    val expected = concat(TextAnalysis.collapseWs(col("text")),
      lit(" quote \"metric & value\" end of section paragraph"))
    docs.select(col("doc_id"), html.as("__html"), expected.as("__want"))
      .withColumn("__segs", TextAnalysis.htmlSegments(col("__html")))
      .withColumn("__text", TextAnalysis.htmlExtract(col("__html"), minTokens = 7))
      .select(col("doc_id"),
        size(col("__segs")).cast("long").as("n_segments"),
        length(col("__html")).cast("long").as("n_chars_html"),
        length(col("__text")).cast("long").as("n_chars_text"),
        round(length(col("__text")).cast("double") / length(col("__html")), 4)
          .as("density"),
        (col("__text") === col("__want")).as("extract_ok"))
      .orderBy(col("doc_id"))
  }

  /** Per-doc character-entropy gate (micro-nat-exact — see
    * [[TextAnalysis.charEntropy]]'s determinism contract). */
  def textEntropy(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.charEntropy(Tables(spark, dir).documents)
      .orderBy(col("doc_id"))

  /** Composed RAW-WEB ingest DAG — the round-10 guards as one oracled
    * chain, the "crawl dump → clean corpus" shape: each doc arrives as a
    * mojibake-corrupted HTML page (synthesized deterministically: the
    * [[textFixEncoding]] residue-class enrichment → the
    * [[textHtmlExtract]] page skeleton → cp1252 mis-decode of the WHOLE
    * page), and ingest runs repair → main-content extraction →
    * char-entropy gate calibrated to the corpus's own p25 (DDSketch
    * bucket walk — no global sort). Every doc gets a routable VERDICT row
    * with provenance (chars at each stage, entropy, threshold) — the
    * admission-DAG contract, not a silent filter.
    *
    * Materialization discipline (the r9 pipeline_admit lesson): the
    * repair+extract stage feeds both the entropy explode and the final
    * report, and the scored frame feeds both the histogram and the final
    * verdict — each is `localCheckpoint(true)`-pinned so no subtree
    * re-runs. */
  /** The deterministic corrupted-page synthesis shared by
    * [[pipelineWebIngest]] and its streaming twin's parity spec
    * (WebIngestParitySpec): residue-class unicode enrichment → page
    * skeleton → cp1252 mis-decode of the whole page. Returns
    * (doc_id, page). */
  def webIngestPages(docs: DataFrame): DataFrame = {
    val enriched =
      when(col("doc_id") % 3 === 0, replace(col("text"), lit("e"), lit("é")))
        .when(col("doc_id") % 3 === 1, replace(col("text"), lit("o"), lit("ö")))
        .otherwise(concat(lit("“"), replace(col("text"), lit("a"), lit("ä")),
          lit("’s tail—end…")))
    val page = concat(
      lit("<html><head><title>doc</title><style>p{color:red}</style></head>" +
        "<body><div class=\"nav\">home | about | contact</div><p>"),
      enriched,
      lit("</p><p>quote &quot;metric &amp; value&quot; end of section paragraph</p>" +
        "<div class=\"footer\">&copy; 2026 "),
      col("source"), lit("</div></body></html>"))
    docs.select(col("doc_id"), TextAnalysis.mojibakeEncode(page).as("page"))
  }

  def pipelineWebIngest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val stage = webIngestPages(docs)
      .select(col("doc_id"), col("page").as("__raw"))
      .select(col("doc_id"),
        length(col("__raw")).cast("long").as("n_chars_raw"),
        TextAnalysis.htmlExtract(TextAnalysis.fixMojibake(col("__raw")), minTokens = 7)
          .as("__text"))
      .localCheckpoint(true)
    val scored = stage.select(col("doc_id"), col("n_chars_raw"))
      .join(TextAnalysis.charEntropy(
          stage.select(col("doc_id"), col("__text").as("text"))), "doc_id")
      .withColumn("e_micro", round(col("entropy_nats") * 10000).cast("long"))
      .localCheckpoint(true)
    val hist = graft.analytics.QuantileSketch.histogram(
      scored.withColumn("g", lit(1L)), Seq("g"), col("e_micro"))
    val thr = graft.analytics.QuantileSketch.quantiles(
        hist, Seq("g"), Seq(("p25", 0.25)))
      .select(col("p25"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_chars_raw"),
        col("n_chars").as("n_chars_text"), col("n_distinct_chars"),
        col("e_micro"), col("p25"),
        (col("e_micro") >= col("p25")).as("verdict"))
      .orderBy(col("doc_id"))
  }

  /** Content-defined-chunking duplicate-chunk report (w=4 window, expected
    * 16-token chunks) — see [[Dedup.cdcDupChunks]]. */
  def dedupCdc(spark: SparkSession, dir: String): DataFrame =
    Dedup.cdcDupChunks(Tables(spark, dir).documents, w = 4, modulus = 16)
      .orderBy(col("chunk_hash"))

  /** Incremental chunk-level admission against the PERSISTED CDC index —
    * same history/delta split as [[dedupDelta]] (history = ids ≤ max/2
    * builds the index, the upper half arrives as a shard): per delta doc
    * the chunk-duplicate mass vs history and the admission verdict. See
    * [[graft.analytics.CdcIndex]]. */
  def dedupCdcAdmit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val idx = scratchIndexDir("cdcindex")
    val mid = Trace.phase("build") {
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      graft.analytics.CdcIndex.build(docs.filter(col("doc_id") <= mid), idx)
      mid
    }
    graft.analytics.CdcIndex
      .screenDelta(spark, idx, docs.filter(col("doc_id") > mid))
      .orderBy(col("doc_id"))
  }

  /** Right-to-be-forgotten over the persisted CDC chunk index: build on
    * history, [[graft.analytics.CdcIndex.forget]] every history doc with
    * doc_id % 5 == 0, then screen the delta — the forgotten docs' chunk
    * rows leave the reachable hash set (attribution-exact: a chunk also
    * carried by a surviving history doc keeps matching), so the verdicts
    * equal screening against history-minus-forgotten. Oracle = the
    * `dedup_cdc_admit` SQL with the same history exclusion. */
  def cdcIndexForget(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    val idx = scratchIndexDir("cdcindex-forget")
    graft.analytics.CdcIndex.build(docs.filter(col("doc_id") <= mid), idx)
    graft.analytics.CdcIndex.forget(spark, idx,
      docs.filter(col("doc_id") <= mid && col("doc_id") % 5 === 0).select("doc_id"))
    graft.analytics.CdcIndex
      .screenDelta(spark, idx, docs.filter(col("doc_id") > mid))
      .orderBy(col("doc_id"))
  }

  /** Fill-in-the-middle packing transform (50% rate, sha-derived cuts) —
    * see [[Sampling.fimTransform]]. */
  def packFim(spark: SparkSession, dir: String): DataFrame =
    Sampling.fimTransform(Tables(spark, dir).documents, ratePerMille = 500)
      .orderBy(col("doc_id"))

  /** Decile gate-tuning curve from one corpus pass — see
    * [[Sampling.thresholdSweep]]. */
  def curateThresholdSweep(spark: SparkSession, dir: String): DataFrame =
    Sampling.thresholdSweep(Tables(spark, dir).documents)
      .orderBy(col("quantile"))

  /** The rewrite the report justifies: corpus-wide first-occurrence chunk
    * dedup with per-doc reconstruction — see [[Dedup.cdcRewrite]]. */
  def dedupCdcRewrite(spark: SparkSession, dir: String): DataFrame =
    Dedup.cdcRewrite(Tables(spark, dir).documents, w = 4, modulus = 16)
      .orderBy(col("doc_id"))

  /** Corpus-level boilerplate-LINE strip ([[Dedup.boilerplateLines]], the
    * C4 "line in ≥3 documents" rule): each doc becomes a deterministic
    * page — a per-source nav header, the doc text, a global subscribe
    * banner, a per-source copyright footer — and the strip must remove
    * exactly the shared lines (every source has ≥3 docs; the banner is
    * corpus-wide) while content survives UNLESS the doc text itself
    * appears in ≥3 docs (the corpus's planted exact duplicates — the rule
    * working as specified, recorded by `recovered`). */
  def textBoilerplateLines(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val paged = docs.select(col("doc_id"),
      concat_ws("\n",
        concat(lit("home | products | about | contact — "), col("source")),
        col("text"),
        lit("subscribe to our newsletter for updates"),
        concat(lit("copyright 2026 "), col("source"),
          lit(" all rights reserved"))).as("text"))
    Dedup.boilerplateLines(paged, minDocs = 3)
      .join(docs.select(col("doc_id"), col("text").as("__orig")), "doc_id")
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        (col("kept_text") === col("__orig")).as("recovered"),
        sha2(col("kept_text"), 256).as("kept_hash"))
      .orderBy(col("doc_id"))
  }

  /** Classifier ROC-AUC over the derived-weight scorer — see
    * [[Search.classifierAuc]] (exact integer Mann-Whitney; 1-row). */
  def clfAuc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    Search.classifierAuc(docs, Search.derivedWeights(docs))
  }

  /** Precision/recall/F1 sweep over every distinct logit threshold — see
    * [[Search.classifierPrCurve]]. */
  def clfPrCurve(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    Search.classifierPrCurve(docs, Search.derivedWeights(docs))
      .orderBy(col("threshold"))
  }

  /** D4 prototypicality pruning over the embedding corpus — see
    * [[Clustering.clusterPrototypes]] (drop the closest 1/5 per
    * cluster). */
  def embedPrototypes(spark: SparkSession, dir: String): DataFrame = {
    Clustering.clusterPrototypes(Tables(spark, dir).embeddings,
        centroidStep = 40, rounds = 2)
      .orderBy(col("vec_id"))
  }

  /** Canonical-URL dedup over a deterministic synthesized crawl manifest:
    * every consecutive id-triple is the SAME page under three messy
    * variants — `https://www.` + `utm_` param, uppercase scheme/host +
    * `:443` + trailing slash + `fbclid`, and a `gclid` + fragment form —
    * so [[graft.analytics.UrlOps.canonicalizeUrl]] must collapse each
    * triple to one canonical key. The oracle derives the canonical form
    * from the synthesis variables DIRECTLY (ground truth, not a mirrored
    * regex chain), so it verifies canonicalization intent. */
  def curateUrlDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val page = expr("doc_id div 3").cast("string")
    val id = expr("(doc_id div 3) % 7").cast("string")
    val url = when(expr("doc_id % 3 = 0"),
        concat(lit("https://www.example.com/articles/item"), page,
          lit("?id="), id, lit("&utm_source=feed")))
      .when(expr("doc_id % 3 = 1"),
        concat(lit("HTTPS://EXAMPLE.COM:443/articles/item"), page,
          lit("/?fbclid=x1y&id="), id))
      .otherwise(
        concat(lit("https://example.com/articles/item"), page,
          lit("?id="), id, lit("&gclid=zz#frag")))
    graft.analytics.UrlOps.urlDedup(docs.select(col("doc_id"), url.as("url")))
      .orderBy(col("doc_id"))
  }

  /** Snapshot diff between two deterministic releases of the corpus (old:
    * drops ids ≡5 mod 13, mutates ids ≡3 mod 11; new: drops ids ≡9 mod
    * 17) — see [[graft.analytics.Versioning.corpusDiff]]. */
  def corpusDiffQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val old = docs.filter(expr("doc_id % 13 != 5"))
      .withColumn("text", when(expr("doc_id % 11 = 3"),
        concat(col("text"), lit(" [old revision]"))).otherwise(col("text")))
    val nw = docs.filter(expr("doc_id % 17 != 9"))
    graft.analytics.Versioning.corpusDiff(old, nw).orderBy(col("doc_id"))
  }

  /** Reliability diagram of the derived-weight scorer — see
    * [[Search.classifierCalibration]] (10 bins, all-integer). */
  def clfCalibration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    Search.classifierCalibration(docs, Search.derivedWeights(docs))
      .orderBy(col("bin"))
  }

  /** ROUGE-2 between each doc (candidate) and its id-successor (reference)
    * — see [[Search.rouge2]]; the synthetic corpus's shared vocab makes
    * overlaps dense and nontrivial. */
  def evalRouge2(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val cand = docs.select(col("doc_id").as("pair_id"), col("text").as("cand"))
    val ref = docs.select((col("doc_id") - 1).as("pair_id"), col("text").as("ref"))
    Search.rouge2(cand.join(ref, "pair_id")).orderBy(col("pair_id"))
  }

  /** Length-bucketed batching layout + padding-waste report — see
    * [[Sampling.lengthBucketBatches]] (8-doc batches, 8 shards). */
  def packLengthBuckets(spark: SparkSession, dir: String): DataFrame =
    Sampling.lengthBucketBatches(Tables(spark, dir).documents,
        batchSize = 8, nShards = 8)
      .orderBy(col("band"), col("shard"), col("batch_idx"))

  /** k-anonymity release gate over (source, lang, 64-char size band) — see
    * [[graft.analytics.Privacy.kAnonymity]] (k=5). */
  def privacyKAnon(spark: SparkSession, dir: String): DataFrame =
    graft.analytics.Privacy.kAnonymity(Tables(spark, dir).documents,
        Seq("source" -> col("source"), "lang" -> col("lang"),
          "len_band" -> expr("n_chars div 64")), k = 5)
      .orderBy(col("doc_id"))

  /** Term-blocklist gate with a severe tier — see
    * [[TextAnalysis.blocklistGate]]; the list is drawn from the corpus
    * vocabulary so every branch (severe block, distinct-count block,
    * clean pass) is exercised. */
  def curateBlocklist(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    import spark.implicits._
    val bl = Seq(("slow", false), ("fast", false), ("merge", false),
      ("hash", false), ("spark", true)).toDF("term", "severe")
    TextAnalysis.blocklistGate(docs, bl, minDistinct = 3).orderBy(col("doc_id"))
  }

  /** SFT chat-template serialization of the event stream with
    * assistant-only loss-mask spans — see [[Sampling.chatTemplate]]. */
  def packChatTemplate(spark: SparkSession, dir: String): DataFrame =
    Sampling.chatTemplate(Tables(spark, dir).events).orderBy(col("user_id"))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curate_url_dedup" -> (curateUrlDedup(_, _)),
    "corpus_diff"      -> (corpusDiffQ(_, _)),
    "clf_calibration"  -> (clfCalibration(_, _)),
    "eval_rouge2"      -> (evalRouge2(_, _)),
    "pack_length_buckets" -> (packLengthBuckets(_, _)),
    "privacy_k_anon"   -> (privacyKAnon(_, _)),
    "curate_blocklist" -> (curateBlocklist(_, _)),
    "pack_chat_template" -> (packChatTemplate(_, _)),
    "text_boilerplate_lines" -> (textBoilerplateLines(_, _)),
    "clf_auc"          -> (clfAuc(_, _)),
    "clf_pr_curve"     -> (clfPrCurve(_, _)),
    "embed_prototypes" -> (embedPrototypes(_, _)),
    "text_fix_encoding" -> (textFixEncoding(_, _)),
    "text_html_extract" -> (textHtmlExtract(_, _)),
    "text_entropy"     -> (textEntropy(_, _)),
    "pipeline_web_ingest" -> (pipelineWebIngest(_, _)),
    "dedup_cdc"        -> (dedupCdc(_, _)),
    "dedup_cdc_rewrite" -> (dedupCdcRewrite(_, _)),
    "pack_fim"         -> (packFim(_, _)),
    "dedup_cdc_admit"  -> (dedupCdcAdmit(_, _)),
    "cdc_index_forget" -> (cdcIndexForget(_, _)),
    "curate_threshold_sweep" -> (curateThresholdSweep(_, _)),
    "text_gopher_gates" -> (textGopherGates(_, _)),
    "text_winnow"      -> (textWinnow(_, _)),
    "dedup_spans"      -> (dedupSpans(_, _)),
    "dedup_spans_keepers" -> (dedupSpansKeepers(_, _)),
    "dedup_winnow_pairs" -> (dedupWinnowPairs(_, _)),
    "semdedup_keepers" -> (semdedupKeepers(_, _)),
    "text_clf_score"   -> (textClfScore(_, _)),
    "clf_train"        -> (clfTrain(_, _)),
    "sample_epochs"    -> (sampleEpochs(_, _)),
    "sample_mix"       -> (sampleMix(_, _)),
    "pack_windows"     -> (packWindows(_, _)),
    "pack_shards"      -> (packShardsQ(_, _)),
    "pack_window_map"  -> (packWindowMapQ(_, _)),
    "pack_shuffled"    -> (packShuffled(_, _)),
    "pack_curriculum"  -> (packCurriculumQ(_, _)),
    "pipeline_pack"    -> (pipelinePack(_, _)),
    "pipeline_curate"  -> (pipelineCurate(_, _)),
    "pipeline_full"    -> (pipelineFull(_, _)),
    "text_quality_calibrated" -> (textQualityCalibrated(_, _)),
    "text_novelty"     -> (textNovelty(_, _)),
    "decontaminate"    -> (decontaminate(_, _)),
    "decontaminate_bloom" -> (decontaminateBloom(_, _)),
    "decontaminate_index" -> (decontaminateIndex(_, _)),
    "contamination_report" -> (contaminationReport(_, _)),
    "text_tok_freq"    -> (textTokFreq(_, _)),
    "text_pii_redact"  -> (textPiiRedact(_, _)),
    "text_card_redact" -> (textCardRedact(_, _)),
    "text_repetition"  -> (textRepetition(_, _)),
    "doc_chunks"       -> (docChunks(_, _)),
    "shard_stats"      -> (shardStats(_, _)),
    "tfidf_top_terms"  -> (tfidfTopTerms(_, _)),
    "bm25_search"      -> (bm25Search(_, _)),
    "bm25_index_search" -> (bm25IndexSearch(_, _)),
    "bm25_index_forget" -> (bm25IndexForget(_, _)),
    "bm25_mlt"         -> (bm25Mlt(_, _)),
    "bm25_mlt_batch"   -> (bm25MltBatch(_, _)),
    "search_rrf"       -> (searchRrf(_, _)),
    "dsir_weights"     -> (dsirWeights(_, _)),
    "text_collocations" -> (textCollocations(_, _)),
    "corpus_report"    -> (corpusReport(_, _)),
    "bpe_merges"       -> (bpeMerges(_, _)),
    "bpe_encode"       -> (bpeEncode(_, _)),
    "cluster_topics"   -> (clusterTopics(_, _)),
    "text_cms_topk"    -> (textCmsTopk(_, _)),
    "agg_hll_cube"     -> (aggHllCube(_, _)),
    "agg_quantile_cube" -> (aggQuantileCube(_, _)),
    "text_lm_score"    -> (textLmScore(_, _)),
    "text_kn_score"    -> (textKnScore(_, _)),
    "text_kn_heldout"  -> (textKnHeldout(_, _)),
    "dedup_prefix"     -> (dedupPrefix(_, _)),
    "dedup_containment" -> (dedupContainment(_, _)),
    "embed_pq"         -> (embedPq(_, _)),
    "embed_project"    -> (embedProject(_, _)),
    "sim_pq_adc"       -> (simPqAdc(_, _)),
    "sample_temperature" -> (sampleTemperature(_, _)),
    "text_hash_vec"    -> (textHashVec(_, _)),
    "sim_ivfpq_topk"   -> (simIvfPqTopK(_, _)),
    "sim_pqindex_topk" -> (simPqIndexTopK(_, _)),
    "sim_pqindex_rescored" -> (simPqIndexRescored(_, _)),
    "embed_mmr"        -> (embedMmr(_, _)),
    "curate_domain_cap" -> (curateDomainCap(_, _)),
    "dedup_intradoc"   -> (dedupIntradoc(_, _)),
    "split_leakage"    -> (splitLeakage(_, _)),
    "corpus_datasheet" -> (corpusDatasheet(_, _)),
    "pipeline_admit"   -> (pipelineAdmit(_, _)),
    "dedup_closure"    -> (dedupClosure(_, _)),
    "embed_kmeans"     -> (embedKmeans(_, _)),
    "embed_quantize"   -> (embedQuantize(_, _)),
    "sample_stratified" -> (sampleStratified(_, _)),
    "sample_per_group" -> (samplePerGroup(_, _)),
    "split_assign"     -> (splitAssign(_, _)),
    "sample_weighted"  -> (sampleWeighted(_, _)),
    "text_top_tokens"  -> (textTopTokens(_, _)),
    "doc_len_histogram" -> (docLenHistogram(_, _)),
    "text_tokens"      -> (textTokens(_, _)),
    "text_langid"      -> (textLangId(_, _)),
    "text_quality"     -> (textQuality(_, _)),
    "text_fingerprint" -> (textFingerprint(_, _)),
    "dedup_exact"      -> (dedupExact(_, _)),
    "dedup_ngram"      -> (dedupNgram(_, _)),
    "dedup_ngram_keepers" -> (dedupNgramKeepers(_, _)),
    "dedup_cc_keepers" -> (dedupCcKeepers(_, _)),
    "dedup_cc_star"    -> (dedupCcStar(_, _)),
    "embed_outliers"   -> (embedOutliers(_, _)),
    "dedup_quality_keepers" -> (dedupQualityKeepers(_, _)),
    "dedup_minhash"    -> (dedupMinhash(_, _)),
    "dedup_delta"      -> (dedupDelta(_, _)),
    "dedup_admit"      -> (dedupAdmit(_, _)),
    "dedup_index_forget" -> (dedupIndexForget(_, _)),
    "sim_pqindex_forget" -> (simPqIndexForget(_, _)),
    "skew_join_agg"    -> ((s: SparkSession, d: String) => skewJoinAgg(s, d)),
    "dedup_simhash"    -> (dedupSimhash(_, _)),
    "dedup_simhash_pairs" -> (dedupSimhashPairs(_, _)),
    "dedup_fuzzy_verify" -> (dedupFuzzyVerify(_, _)),
    "embed_neardup"    -> (embedNearDup(_, _)),
    "sim_topk"         -> (simTopK(_, _)),
    "sim_lsh_bucket"   -> (simLshBucket(_, _)),
    "sim_lsh_banded"   -> (simLshBanded(_, _)),
    "sim_ivf_topk"     -> (simIvfTopK(_, _)),
    "text_tokens_re"   -> (textTokensRe(_, _)),
    "mm_decode"        -> (mmDecode(_, _)),
    "mm_resize"        -> (mmResize(_, _)),
    "mm_frames"        -> (mmFrames(_, _)),
    "mm_decode_image"  -> (mmDecodeImage(_, _)),
    "mm_resize_image"  -> (mmResizeImage(_, _)),
    "mm_decode_wav"    -> (mmDecodeWav(_, _)),
  )
}
