package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design (the 100 TB stance for each):
  *   - exact: group on a 256-bit content hash, never on the raw text — the
  *     shuffle moves 32-byte keys, not documents.
  *   - n-gram Jaccard: inverted-index candidate generation (explode shingles,
  *     self-join on shingle) with a document-frequency cap on hot shingles so
  *     a stop-shingle can't produce a quadratic candidate blowup; exact
  *     Jaccard is then verified per candidate pair only.
  *   - MinHash+LSH: k independent hash slots banded b×r; candidates share a
  *     band bucket — the classic sub-quadratic near-dup path. Signatures are
  *     computed in one pass over shingles; band join shuffles (band, bucket)
  *     keys only.
  *   - SimHash: one 60-bit signature per doc computed by a per-row fold —
  *     zero shuffle; pairing via banding the signature.
  *   - embedding cosine: exact all-pairs is provided for oracle-checkable
  *     correctness at test scale; the scale path is LSH bucketing (see
  *     [[Similarity]]) which prunes the cross join to same-bucket pairs.
  *
  * All hashing is derived from sha256 prefixes so the DuckDB oracle can
  * reproduce it bit-for-bit (`('0x'||substr(sha256(x),1,15))::BIGINT` ≡
  * Spark `conv(substr(sha2(x,256),1,15),16,10)::long` — 60 bits, no sign
  * issues in either engine).
  */
object Dedup {

  /** Distinct word n-gram shingles of `text` (default trigrams). Short docs
    * (< n tokens) get an empty shingle set. Backed by the compiled
    * [[graft.functions.WordShingles]] expression (the equivalent
    * transform/sequence HOF formulation pays interpreted per-gram dispatch —
    * ~25 s for 5000 docs at sf0.1, measured). */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.GraftFunctions.wordShingles(text, n)

  /** 60-bit hash of a string via sha256 prefix (oracle-reproducible). */
  def hash60(s: Column, seed: String = ""): Column =
    conv(substring(sha2(concat(lit(seed), s), 256), 1, 15), 16, 10).cast("long")

  /** Driver-side twin of [[hash60]] — bit-identical, for building literal
    * probe filters (e.g. partition pruning on a hash-bucketed layout). */
  def hash60Local(s: String, seed: String = ""): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hex = md.digest((seed + s).getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Exact dedup: one keeper (min doc_id) per distinct text. Groups on the
    * content hash; collision probability at 2^-256 is ignorable. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("text_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Default hot-shingle document-frequency cap: 1% of the corpus, floored
    * at 20 so tiny corpora never cap — and CEILINGED at an absolute
    * [[DfCapCeiling]] (r15, the dedup_scale5 finding): a purely RELATIVE
    * cap makes the capped self-join mass Σ min(df,cap)² itself quadratic
    * in corpus size (df and cap both scale with n for sub-1%-share
    * boilerplate shingles — measured as the dedup tier's shuffle bytes
    * growing at a 1.49 sf1→sf3 exponent while true pairs stayed linear,
    * DEDUPSCALE5_r15.md). With an absolute ceiling the mass is bounded by
    * |vocab| × ceiling² — linear in n. The cap bounds the inverted-index
    * self-join at Σ min(df,cap)² instead of Σ df² — one stop-shingle with
    * df=10⁶ would otherwise contribute 10¹² candidate rows. Recall safety:
    * a true pair is only lost if EVERY shared shingle exceeds the cap —
    * near-dup pairs share ≥minJaccard of their (many) shingles, so this
    * needs every distinctive trigram of the pair to be corpus-hot
    * (measured max-over-true-pairs of min shared df: 3 at sf0.01, 10 at
    * sf0.1; the sampled sf1 completeness check re-validates per round);
    * the exact-Jaccard recount restores precision for all surviving
    * candidates. */
  def dfCapFor(nDocs: Long): Int =
    math.min(math.max(20L, nDocs / 100L), DfCapCeiling.toLong).toInt

  /** Absolute ceiling of [[dfCapFor]] — the knob that keeps candidate mass
    * linear in corpus size (see scaladoc there). 256 → 64 in r17
    * (VERDICT r16 #5, DEDUPSCALE5_r17): under the Heaps-vocabulary scale
    * corpus the capped mass Σ min(df,cap)² reads a 1.63–1.70 sf1→sf3
    * exponent at ceiling 256 — the plateau never engages at reachable
    * test scales because sub-cap head dfs keep growing ∝ corpus — while
    * ceiling 64 measures 0.95 (≈ the Zipf-head asymptote: #shingles at
    * cap ∝ n, mass ∝ n·cap²·const). Measured recall cost at 64: 0.00% of
    * true (j≥0.6) pairs at sf1h, −2.77% at sf3h — and every lost pair is
    * a pair whose EVERY shared trigram is corpus-hot (boilerplate-only
    * overlap; ScaleUp replication inflates these dfs linearly, so the
    * test-corpus delta is an upper bound for a real Heaps corpus whose
    * rare distinctive content does not recur). The df-independent
    * MinHash-LSH leg ([[minhashLshPairs]]) recovers 70.6% of the sf3h
    * lost pairs (163/231, SCALING.md § "Round 17: Heaps-vocabulary
    * certification" — the remainder sit on the
    * banding S-curve near the 0.6 threshold), so the union-of-legs loss
    * is 0.81% at sf3h and 0.00% at sf1h (DEDUPSCALE5_r17). Callers with
    * corpora whose true duplicates genuinely share only hot shingles can
    * pass a larger explicit `maxDf`. */
  val DfCapCeiling = 64

  /** Candidate pairs sharing ≥1 shingle (inverted index), with exact Jaccard
    * verified on the full shingle sets; returns pairs with
    * `jaccard >= minJaccard`. `maxDf` drops shingles occurring in more than
    * that many documents from the *index only* (candidate recall knob, not a
    * correctness knob for the verified Jaccard).
    *
    * EAGER on the capped path (ADVICE r17): the df-capped core runs one
    * Spark job at DataFrame-CONSTRUCTION time (the candidate frame is
    * checkpointed, and the same pass counts the pairs needing a recount),
    * so calling this with `maxDf` executes the inverted-index self-join
    * even if the result is never acted on, and downstream predicate
    * pushdown into the operator is unavailable — the repo's established
    * eager-operator contract. */
  def ngramJaccardPairs(docs: DataFrame, minJaccard: Double, n: Int = 3,
                        maxDf: Option[Int] = None,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val withSh = docs.select(col(idCol).as("doc_id"), shingles(col(textCol), n).as("sh"))
    val inverted0 = withSh.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val sizes = withSh.select(col("doc_id"), size(col("sh")).as("nsh"))
    maxDf match {
      case None =>
        // |A∩B| comes straight from the index: shingles are distinct per
        // doc, so the number of joined rows per pair IS the intersection
        // size — no re-join of the full shingle arrays, no per-pair
        // array_intersect.
        val a = inverted0.as("a"); val b = inverted0.as("b")
        val common = a.join(b,
            col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(count(lit(1)).as("common"))
        common
          .join(sizes.select(col("doc_id").as("id_a"), col("nsh").as("n_a")), "id_a")
          .join(sizes.select(col("doc_id").as("id_b"), col("nsh").as("n_b")), "id_b")
          .withColumn("inter", col("common").cast("double"))
          .withColumn("jaccard", round(col("inter") / (col("n_a") + col("n_b") - col("inter")), 4))
          .filter(col("jaccard") >= minJaccard)
          .select(col("id_a"), col("id_b"), col("jaccard"))
      case Some(cap) => ngramJaccardPairsCapped(withSh, minJaccard, cap)
    }
  }

  /** Df-capped candidate generation with EXACT results. The index drops
    * shingles with df > cap (bounding the self-join at Σ min(df,cap)²), and
    * exactness is restored analytically, not by brute recount:
    *
    *   - a capped shingle is dropped globally, so for any candidate pair
    *     `inter_true = common + |shared capped shingles|`, bounded by
    *     `common + least(dropped_a, dropped_b)` where `dropped_x` is the
    *     number of doc x's shingles over the cap;
    *   - if `least(dropped_a, dropped_b) = 0` the bound is tight:
    *     `inter = common` exactly — no recount;
    *   - otherwise the pair is recounted from the full shingle sets, but
    *     only if its UPPER-bound jaccard clears `minJaccard` (jaccard is
    *     monotone in `inter`, so pairs whose optimistic bound fails can be
    *     dropped unseen).
    *
    * The recount set is therefore only pairs that (a) share a hot shingle
    * on both sides and (b) are plausibly near-dups — a vanishing fraction
    * of candidates (empty on the test corpus, where the cap exceeds every
    * df). Recall caveat (documented, inherent to df-capping): a true pair
    * whose EVERY shared shingle is capped is never a candidate. */
  private def ngramJaccardPairsCapped(withShIn: DataFrame,
                                      minJaccard: Double, cap: Int): DataFrame = {
    def jac(inter: Column, nA: Column, nB: Column): Column =
      round(inter / (nA + nB - inter), 4)
    exactIntersectionsCapped(withShIn, cap, jac(_, _, _) >= minJaccard)
      .withColumn("jaccard", jac(col("inter"), col("n_a"), col("n_b")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Shared df-capped candidate core: all pairs with ≥1 shared (uncapped)
    * shingle whose OPTIMISTIC score — `keep(inter_max, n_a, n_b)` with
    * `inter_max` the analytical intersection upper bound — holds, with
    * exact `inter` restored (bound-tight or recounted). `keep` must be
    * monotone non-decreasing in its first argument, or the optimistic
    * pre-filter would drop pairs the exact score admits.
    * Returns (id_a, id_b, inter: double, n_a, n_b). */
  private def exactIntersectionsCapped(withSh: DataFrame, cap: Int,
      keep: (Column, Column, Column) => Column): DataFrame = {
    val inverted0 = withSh.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val sizes = withSh.select(col("doc_id"), size(col("sh")).as("nsh"))
    val dfs = inverted0.groupBy("shingle").agg(count(lit(1)).as("df"))
    val inverted = inverted0.join(dfs.filter(col("df") <= cap).select("shingle"), "shingle")
    val a = inverted.as("a"); val b = inverted.as("b")
    val common = a.join(b,
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    // per-doc count of capped-out shingles (0 for most docs)
    val dropped = inverted0
      .join(dfs.filter(col("df") > cap).select("shingle"), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dropped"))
    val meta = sizes.join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), col("nsh"), coalesce(col("n_dropped"), lit(0L)).as("nd"))
    // Materialized ONCE: the exact and recounted branches below both
    // fork from here, and that fork used to re-execute the whole
    // inverted-index self-join + candidate aggregate per branch (under
    // AQE the two branches run as concurrent stage-jobs — the pair-leg
    // profile showed the candidate exchanges written up to 8x in the
    // composed pipelines). The frame is candidate-pair-sized (already
    // optimistically filtered), far below the exchange it caps. The same
    // pass counts the recount branch's rows.
    val (bounded, recount) = Checkpoints.observedCheckpoint(common
      .join(meta.select(col("doc_id").as("id_a"), col("nsh").as("n_a"), col("nd").as("d_a")), "id_a")
      .join(meta.select(col("doc_id").as("id_b"), col("nsh").as("n_b"), col("nd").as("d_b")), "id_b")
      .withColumn("extra_max", least(col("d_a"), col("d_b")))
      .withColumn("inter_max", (col("common") + col("extra_max")).cast("double"))
      // optimistic score; pairs failing even this can't pass the exact filter
      .filter(keep(col("inter_max"), col("n_a"), col("n_b"))),
      count_if(col("extra_max") > 0))
    val exact = bounded.filter(col("extra_max") === 0)
      .withColumn("inter", col("common").cast("double"))
      .select(col("id_a"), col("id_b"), col("inter"), col("n_a"), col("n_b"))
    // the recount branch re-tokenizes the corpus on BOTH join sides; on
    // the common path (no candidate shares a hot shingle on both sides —
    // every oracle corpus, and any corpus whose cap exceeds the pair-wise
    // shared dfs) the two corpus passes are skipped outright. Returns the
    // identical frame: an empty recount union is a no-op.
    if (recount.getLong(0) == 0) exact
    else {
      val sa = withSh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val sb = withSh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      val recounted = bounded.filter(col("extra_max") > 0).select("id_a", "id_b")
        .join(sa, "id_a").join(sb, "id_b")
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double").as("inter"),
          size(col("sh_a")).as("n_a"), size(col("sh_b")).as("n_b"))
      exact.unionByName(recounted)
    }
  }

  /** Shingle CONTAINMENT near-dup pairs: `inter / min(|A|, |B|)` — the
    * asymmetric companion to Jaccard that catches subset duplication
    * (a document embedded verbatim inside a longer one scores containment
    * ≈ 1 while its Jaccard can be arbitrarily low). Same df-capped
    * inverted-index shape as [[ngramJaccardPairs]]; containment is monotone
    * in the intersection, so the optimistic-bound pre-filter is sound.
    * EAGER like the Jaccard form (ADVICE r17): construction runs the
    * candidate jobs — see [[ngramJaccardPairs]]'s contract note. */
  def ngramContainmentPairs(docs: DataFrame, minContainment: Double, n: Int = 3,
                            maxDf: Option[Int] = None,
                            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val withSh = docs.select(col(idCol).as("doc_id"), shingles(col(textCol), n).as("sh"))
    def cont(inter: Column, nA: Column, nB: Column): Column =
      round(inter / least(nA, nB), 4)
    val cap = maxDf.getOrElse(Int.MaxValue)
    exactIntersectionsCapped(withSh, cap, cont(_, _, _) >= minContainment)
      .withColumn("containment", cont(col("inter"), col("n_a"), col("n_b")))
      .filter(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** Modulus for the minhash affine rehash family — prime below 2^30 so
    * `(h % M) * A + B` stays under 2^60: exact int64 in Spark AND DuckDB
    * (which errors on signed overflow rather than wrapping). */
  val MinhashM: Long = 1073741789L

  /** Deterministic affine coefficients for slot j (mirrored by the oracle). */
  def minhashA(j: Int): Long = (2654435761L * (j + 1)) % MinhashM
  def minhashB(j: Int): Long = (97531L * (j + 3)) % MinhashM

  /** MinHash signature: k min-hash slots over the shingle set. One sha256
    * per shingle (the expensive part) then k cheap affine rehashes
    * `(h·A_j + B_j) mod M` — the classic universal-hash family; 16× fewer
    * cryptographic hashes than hashing per (slot, shingle). An empty (or
    * null) shingle set has no signature: NULL, as in its native twin
    * [[graft.functions.MinhashSignatureExpr]] — not k null slots. */
  def minhashSignature(sh: Column, k: Int): Column =
    when(size(sh) > 0, minhashSlots(transform(sh, s => hash60(s) % MinhashM), k))

  /** Slots from an already sha-hashed base array (callers materialize the
    * base as its own column so the sha pass runs once, not k times). */
  def minhashSlots(base: Column, k: Int): Column =
    array((0 until k).map(j =>
      array_min(transform(base, h => (h * minhashA(j) + minhashB(j)) % MinhashM))): _*)

  /** MinHash+LSH near-dup pairs: signatures banded `bands`דrowsPerBand`;
    * pairs sharing any band bucket are candidates; exact Jaccard (on the full
    * shingle sets) then filters to `minJaccard`. Sub-quadratic: the only
    * all-pairs structure is within a band bucket. */
  def minhashLshPairs(docs: DataFrame, minJaccard: Double,
                      bands: Int = 4, rowsPerBand: Int = 4, n: Int = 3,
                      idCol: String = "doc_id", textCol: String = "text",
                      maxBucket: Int = BandBucketCap): DataFrame = {
    // tokenize ONCE (r17): the shingle frame feeds five branches (the
    // bucket-population aggregate, the tagged join, the hot-doc full
    // signatures, and both verify sides) — unmaterialized, each branch
    // re-tokenized the corpus. The banded frame (a few fixed-width rows
    // per doc) is checkpointed too, so the signature pass also runs once,
    // not per branch; the result is materialized before both are released.
    val withSh = shingleFrame(docs, n, idCol, textCol).localCheckpoint(true)
    val banded = minhashBanded(withSh, bands, rowsPerBand).localCheckpoint(true)
    val out = jaccardVerify(bandedCandidates(banded, maxBucket), withSh, minJaccard)
      .localCheckpoint(true)
    Checkpoints.releaseCheckpoint(banded)
    Checkpoints.releaseCheckpoint(withSh)
    out
  }

  /** Default band-bucket population cap for [[bandedCandidates]] (r15, the
    * dedup_scale5 finding): the banded self-join expands Σ m(m−1)/2 over
    * bucket populations m, and DEGENERATE collision classes (docs sharing a
    * band signature by structure, not similarity — short/boilerplate docs)
    * have populations growing ∝ corpus, so their pair mass is quadratic: at
    * sf3, buckets over this cap carried 52% of the candidate mass while
    * verified pairs stayed linear (96% of candidates were false —
    * DEDUPSCALE5_r15.md / SCALING.md § "Dedup-tier scale variance,
    * DECIDED"). No oracle
    * corpus reaches it (max population 13 at sf0.1). */
  private[analytics] val BandBucketCap = 64

  /** Candidate pairs from a [[minhashBanded]] frame, bucket-population
    * capped: buckets at or under `cap` expand all-pairs (exact, the plain
    * LSH contract); buckets OVER it pair only docs whose FULL signature
    * (all bands) matches. The full-signature refinement keeps what a
    * genuinely hot bucket legitimately holds — large exact/near-exact
    * duplicate clusters, whose members agree on every band and whose pair
    * list is output-justified — while dropping the degenerate cross
    * products (j≈0 docs colliding on one band slice). Recall caveat, same
    * class as [[dfCapFor]]'s: a mid-similarity true pair colliding ONLY in
    * over-cap buckets with differing full signatures is never a candidate;
    * at j ≥ 0.6 a pair matches each band independently (p = j^rows per
    * band), so this needs every matching band to be population-degenerate.
    * `cap <= 0` disables capping (the exact all-pairs expansion). */
  private[analytics] def bandedCandidates(banded: DataFrame, cap: Int): DataFrame = {
    val allPairs = (f: DataFrame, extraKey: Seq[String]) => {
      val keys = (Seq("band", "bucket") ++ extraKey)
      val cond = keys.map(k => col(s"x.$k") === col(s"y.$k"))
        .reduce(_ && _) && col("x.doc_id") < col("y.doc_id")
      f.as("x").join(f.as("y"), cond)
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
    }
    if (cap <= 0) allPairs(banded, Seq.empty).distinct()
    else {
      val pops = banded.groupBy("band", "bucket").agg(count(lit(1)).as("__m"))
      val tagged = banded.join(pops, Seq("band", "bucket"))
      val cold = tagged.filter(col("__m") <= cap)
        .select("doc_id", "band", "bucket")
      val hot = tagged.filter(col("__m") > cap)
        .select("doc_id", "band", "bucket")
      // full signature of the HOT docs only (band-ordered bucket concat) —
      // the common no-hot-bucket path aggregates empty frames
      val fsig = banded
        .join(hot.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
        .groupBy("doc_id")
        .agg(concat_ws("|", transform(
          array_sort(collect_list(struct(col("band"), col("bucket")))),
          s => s.getField("bucket"))).as("__fsig"))
      val hotPairs = allPairs(hot.join(fsig, "doc_id"), Seq("__fsig"))
      allPairs(cold, Seq.empty).union(hotPairs).distinct()
    }
  }

  /** (doc_id, sh) shingle-set frame — the shared head of every MinHash
    * path (one-shot pairs, the persisted index build, and delta probes). */
  private[analytics] def shingleFrame(docs: DataFrame, n: Int = 3,
                                      idCol: String = "doc_id",
                                      textCol: String = "text"): DataFrame = {
    docs.select(col(idCol).as("doc_id"), shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
  }

  /** One row per (doc, band): bucket key = the band's slice of the minhash
    * signature. Same expression whether the frame is a corpus, an index
    * build, or a delta — band buckets are a pure function of the text. */
  private[analytics] def minhashBanded(withSh: DataFrame, bands: Int,
                                       rowsPerBand: Int): DataFrame = {
    val k = bands * rowsPerBand
    withSh
      .withColumn("sig", graft.functions.GraftFunctions.minhashSigFast(col("sh"), k))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), lit(bands - 1)),
          bIdx => concat_ws(",", slice(col("sig"), bIdx * rowsPerBand + 1, lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs against a
    * (doc_id, sh) shingle frame — the LSH verify stage. */
  private[analytics] def jaccardVerify(cand: DataFrame, shin: DataFrame,
                                       minJaccard: Double): DataFrame = {
    val sa = shin.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val sb = shin.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    cand.join(sa, "id_a").join(sb, "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        round(col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Benchmark decontamination: drop every corpus doc that shares at least
    * one word n-gram with the probe (benchmark/eval) set — the standard
    * pre-training hygiene pass. The probe shingle set is tiny relative to
    * the corpus (eval suites are small), so the membership check is a
    * broadcast LEFT ANTI join against the distinct probe shingles: the
    * corpus streams, nothing corpus-sized shuffles. */
  def decontaminate(docs: DataFrame, probes: DataFrame, n: Int = 3,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val probeSh = probes.select(explode(shingles(col(textCol), n)).as("shingle")).distinct()
    val contaminated = docs
      .select(col(idCol), explode(shingles(col(textCol), n)).as("shingle"))
      .join(broadcast(probeSh), "shingle")
      .select(idCol).distinct()
    docs.join(contaminated.withColumnRenamed(idCol, "__cid"),
      docs(idCol) === col("__cid"), "left_anti")
  }

  /** [[decontaminate]] behind a bloom-filter screen — the runtime-filter
    * pattern for the regime where the probe set outgrows a broadcast (a
    * multi-suite eval registry, or dedup-against-history where "probes"
    * are billions of shingles from prior crawls).
    *
    * Build: the distinct probe shingles are hashed to 64 bits and folded
    * into a [[org.apache.spark.util.sketch.BloomFilter]] DISTRIBUTED
    * (`stat.bloomFilter` aggregates per-partition filters and ORs them on
    * the driver — blooms are mergeable, so the build never collects keys).
    * Screen: the corpus shingle explode probes the serialized filter via
    * the compiled [[graft.functions.BloomMightContainLong]] BEFORE any
    * join — at ~10 bits/key (1% fpp) the filter is 10–20× smaller than a
    * broadcast hash relation over the same keys, and the probe is a few
    * bit tests. Verify: survivors (true hits + fpp) flow into the exact
    * shingle join, so the result is IDENTICAL to [[decontaminate]] — a
    * bloom never false-negatives, making the screen recall-lossless.
    *
    * Shape at 100 TB: the verify join is deliberately UNHINTED — at test
    * scale Catalyst broadcasts it, and in the big-probe regime it becomes
    * a shuffle join whose corpus side the screen has already cut to
    * hit-rate + fpp of its raw volume. That shuffle reduction, not the
    * hash-probe saving, is the point of the pattern. */
  def decontaminateBloom(docs: DataFrame, probes: DataFrame, n: Int = 3,
                         fpp: Double = 0.01,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val probeSh = probes.select(explode(shingles(col(textCol), n)).as("shingle"))
      .distinct()
      .localCheckpoint(true) // one tokenize: feeds the build AND the verify
    val nProbe = math.max(probeSh.count(), 1L)
    val bloom = probeSh.select(xxhash64(col("shingle")).as("h"))
      .stat.bloomFilter("h", nProbe, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val contaminated = docs
      .select(col(idCol), explode(shingles(col(textCol), n)).as("shingle"))
      .filter(graft.functions.GraftFunctions.bloomContains(xxhash64(col("shingle")), bytes))
      .join(probeSh, "shingle")
      .select(idCol).distinct()
    docs.join(contaminated.withColumnRenamed(idCol, "__cid"),
      docs(idCol) === col("__cid"), "left_anti")
  }

  /** Contamination REPORT — the audit view [[decontaminate]] drops: for
    * every probe (eval/benchmark) doc, which corpus docs share word
    * n-grams with it, how many distinct shingles leak, and what fraction
    * of the probe that covers. This is what a curation review actually
    * reads before deciding a drop threshold; the drop pass is the
    * anti-join twin.
    *
    * Shape at 100 TB: identical to [[decontaminate]] — probe shingles are
    * eval-suite-sized, so both the hit join and the per-probe totals are
    * BROADCASTs against the streaming corpus shingle explode; the only
    * corpus-sized shuffle is the (probe_id, doc_id)-keyed count, whose
    * cardinality is hits, not corpus. */
  def contaminationReport(docs: DataFrame, probes: DataFrame, n: Int = 3,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val pSh = shingleFrame(probes, n, idCol, textCol)
      .select(col("doc_id").as("probe_id"), explode(col("sh")).as("shingle"))
    val pN = pSh.groupBy("probe_id").agg(count(lit(1)).as("probe_n"))
    val cSh = shingleFrame(docs, n, idCol, textCol)
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
    cSh.join(broadcast(pSh), "shingle")
      .groupBy("probe_id", "doc_id").agg(count(lit(1)).as("n_shared"))
      .join(broadcast(pN), "probe_id")
      .select(col("probe_id"), col("doc_id"), col("n_shared"), col("probe_n"),
        round(col("n_shared").cast("double") / col("probe_n"), 4).as("leak_frac"))
  }

  /** SimHash: 60-bit signature — bit i is the sign of the sum over token
    * OCCURRENCES of ±1 depending on bit i of the token's 60-bit hash
    * (frequency-weighted, the textbook form — unweighted distinct-token
    * simhash degenerates on small vocabularies where documents share token
    * sets). Per-row fold: narrow, shuffle-free. */
  def simhash(text: Column): Column = {
    val bits = 60
    val toks = split(text, "\\s+")
    val hashes = transform(toks, t => hash60(t))
    val counts = aggregate(
      hashes,
      array_repeat(lit(0L), bits),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(bits - 1)),
        (a, i) => a + when(call_function("shiftright", h, i.cast("int")).bitwiseAND(1) === 1, 1L).otherwise(-1L)))
    aggregate(
      zip_with(counts, sequence(lit(0), lit(bits - 1)),
        (c, i) => when(c > 0, call_function("shiftleft", lit(1L), i.cast("int"))).otherwise(0L)),
      lit(0L), (acc, v) => acc + v)
  }

  /** Materialize a deduplicated corpus from a near-dup pair set: greedy
    * keep-lowest-id — every doc appearing on the `id_b` (higher-id) side of
    * a pair is dropped via one anti-join. No broadcast hint: on a dirty
    * corpus the drop-id set can be a large fraction of the corpus (well past
    * driver/broadcast limits), so the join strategy is left to AQE, which
    * broadcasts exactly when the measured build side is small. For
    * transitive clusters this keeps at least one representative per cluster
    * and may keep more than one (greedy, not connected components — see
    * [[connectedComponentKeepers]] for the cluster-exact variant). */
  def keepAfterNearDup(docs: DataFrame, pairs: DataFrame,
                       idCol: String = "doc_id"): DataFrame =
    docs.join(pairs.select(col("id_b")).distinct(),
      docs(idCol) === col("id_b"), "left_anti")

  /** Connected-components dedup materializer: keep exactly ONE document (the
    * minimum id) per transitive near-dup cluster — the cluster-exact variant
    * of the greedy [[keepAfterNearDup]] (which can keep >1 representative
    * when a∼b, b∼c but a≁c).
    *
    * Algorithm: capped-round min-label propagation over the pair graph —
    * each round every vertex takes the min label among itself and its
    * neighbors; converged when no label changes (exact components), capped
    * at `maxRounds` (bounds cost on adversarial long-chain graphs; rounds
    * needed = cluster diameter, and near-dup clusters are dense/shallow in
    * practice). Each round is one shuffle join + one aggregate — the
    * standard scalable CC loop (GraphX/Pregel shape) expressed in
    * DataFrames. Each round ends in an eager `localCheckpoint`: `step`
    * references the incoming label frame TWICE (the union and the
    * propagation join), so an uncut logical plan DOUBLES per round —
    * persist caches execution but the analyzer still walks the whole tree,
    * which goes exponential on deep graphs (measured: analyzer OOM near
    * round 50 on a long-cycle graph). A superseded round is released once
    * the next one is checkpointed; for diameter-heavy graphs see the
    * O(log²)-round [[starContractionKeepers]].
    *
    * Output: `docs` minus every clustered doc that is not its cluster's
    * minimum id. */
  def connectedComponentKeepers(docs: DataFrame, pairs: DataFrame,
                                maxRounds: Int = 10, idCol: String = "doc_id"): DataFrame = {
    // checkpoint the pair set BEFORE the symmetric union: edges scans it
    // twice, and the pair query upstream (inverted-index join) is the
    // expensive part; once edges is materialized nothing reads it again
    val pr = pairs.select(col("id_a"), col("id_b")).localCheckpoint(true)
    val edges = pr.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pr.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    Checkpoints.releaseCheckpoint(pr)
    // seed with the first propagation step applied: label₀(v) = min(v,
    // neighbors(v)) — one aggregate (same shuffle the distinct() would
    // cost) that saves an entire loop round on shallow clusters
    var labels = edges.groupBy(col("src").as("id"))
      .agg(least(first(col("src")), min(col("dst"))).as("label"))
      .localCheckpoint(true)
    // Convergence via monotonicity, one action per round: next(v) =
    // min(label(v), labels of neighbors) never increases, so Σlabel is
    // strictly decreasing until the fixpoint — a stationary sum IS
    // convergence, with no extra change-detection join. Decimal(38) keeps
    // the sum exact for any realistic id space.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var round = 0
    var converged = false
    def step(l: DataFrame): DataFrame = {
      val prop = edges.join(l, edges("dst") === l("id"))
        .select(edges("src").as("id"), col("label"))
      l.unionByName(prop).groupBy("id").agg(min("label").as("label"))
    }
    while (round < maxRounds && !converged) {
      // ONE propagation step per driver action. (A double-step variant that
      // halves driver round-trips was tried and measured SLOWER at shallow
      // diameters — near-dup clusters converge in 1-2 rounds after the
      // seeded step, so the extra join+aggregate per action costs more than
      // the saved round-trip; two independent benches confirmed.)
      val next = step(labels).localCheckpoint(true) // eager: the round's one materialization
      val s = labelSum(next) // reads the checkpointed blocks
      converged = s == prevSum
      prevSum = s
      Checkpoints.releaseCheckpoint(labels)
      labels = next
      round += 1
    }
    if (!converged)
      // a silent cap-out would yield >1 keeper in long-chain clusters while
      // still CLAIMING cluster-exactness — make it loud
      System.err.println(s"[graft] connectedComponentKeepers: round cap $maxRounds hit " +
        "before convergence — components with diameter > cap keep extra representatives")
    val dropped = labels.filter(col("label") =!= col("id")).select(col("id").as("__drop_id"))
    val out = docs.join(dropped, docs(idCol) === col("__drop_id"), "left_anti")
    Checkpoints.releaseCheckpoint(edges)
    out
  }

  /** Connected-components keepers via ALTERNATING STAR CONTRACTION — the
    * two-phase large-star/small-star algorithm from the MapReduce CC
    * literature (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"), the scale-path twin of [[connectedComponentKeepers]]:
    *
    *   large-star(u): ∀v ∈ Γ(u) with v > u, connect v to m(u) = min(Γ(u) ∪ {u})
    *   small-star(u): ∀v ∈ Γ(u) with v < u (plus u itself), connect to
    *                  m = min of those smaller neighbors
    *
    * Alternating the two contracts every component to a depth-1 star rooted
    * at its minimum id in **O(log² n) rounds regardless of diameter** —
    * label propagation needs diameter-many rounds, so on adversarial
    * long-chain graphs (each doc near-dup of the next) propagation pays
    * O(diameter) shuffles where star contraction pays O(log²). Near-dup
    * graphs are usually dense and shallow (propagation wins by a constant);
    * this operator is the bound for when they aren't.
    *
    * Every phase is edge-scale relational work: one per-node min aggregate +
    * one join, emitting the contracted edge list. Edges are kept distinct
    * and as (big, small) ordered pairs, so both phases read one layout.
    * Convergence = the edge set reached a fixpoint, checked EXACTLY
    * (count equality + empty exceptAll — an edge-scale anti-join, no hash
    * collision risk on a correctness gate).
    *
    * Each round ends in an EAGER `localCheckpoint`, not a persist: a phase
    * references its input twice (the symmetric union) and then self-joins
    * it, so the logical plan is ~16× its input's per round — persist caches
    * execution but the ANALYZER still walks the uncut tree, which goes
    * exponential (measured: analyzer OOM by round ~10). Checkpointing makes
    * each round's plan a constant-size leaf, and the same pass counts the
    * round's edges (an observed metric, no count job); a superseded round
    * is released once the next one is checkpointed. On a real
    * cluster localCheckpoint trades executor-loss resilience for speed —
    * acceptable for an edge-scale frame that a retry rebuilds.
    *
    * Output contract is identical to [[connectedComponentKeepers]]: `docs`
    * minus every clustered doc that is not its component's minimum id —
    * the two implementations share one oracle. */
  def starContractionKeepers(docs: DataFrame, pairs: DataFrame,
                             maxRounds: Int = 16, idCol: String = "doc_id"): DataFrame = {
    val dropped = starContractionLabels(pairs, maxRounds)
      .select(col("id").as("__drop_id"))
    docs.join(dropped, docs(idCol) === col("__drop_id"), "left_anti")
  }

  /** The component-label table behind [[starContractionKeepers]]: one
    * `(id, root)` row per NON-ROOT member of the pair graph, where `root`
    * is the component's minimum id (roots and untouched docs are absent —
    * `coalesce(root, id)` recovers the total component assignment).
    * Pairs-scale output; see the keeper variant for the algorithm. */
  def starContractionLabels(pairs: DataFrame, maxRounds: Int = 16): DataFrame = {
    // (big, small) ordered unordered-edge layout; pairs arrive id_a < id_b
    // each step's edge count comes from its checkpoint pass (observed)
    def checkpointed(edges: DataFrame): (DataFrame, Long) = {
      val (cp, m) = Checkpoints.observedCheckpoint(edges, count(lit(1)))
      (cp, m.getLong(0))
    }
    var (e, eCnt) = checkpointed(
      pairs.select(col("id_b").as("big"), col("id_a").as("small")).distinct())
    var round = 0
    // an empty edge set is already the fixpoint: no round runs
    var converged = eCnt == 0
    def phase(edges: DataFrame, large: Boolean): DataFrame = {
      val sym = edges.select(col("big").as("u"), col("small").as("v"))
        .unionByName(edges.select(col("small").as("u"), col("big").as("v")))
      if (large) {
        // m(u) over the FULL neighborhood incl. u; connect strictly-larger
        // neighbors v > u to m(u). m(u) <= u < v keeps (v, m) in layout.
        val m = sym.groupBy("u").agg(least(first(col("u")), min(col("v"))).as("m"))
        sym.join(m, "u").where(col("v") > col("u"))
          .select(col("v").as("big"), col("m").as("small")).distinct()
      } else {
        // small-star: strictly-smaller neighborhood; every member (and u)
        // re-attaches to its min. v != m rows are (v, m) with v > m; the
        // (u, m) attachment keeps u reachable from the root.
        val smaller = sym.where(col("v") < col("u"))
        val m = smaller.groupBy("u").agg(min(col("v")).as("m"))
        val reattach = smaller.join(m, "u").where(col("v") =!= col("m"))
          .select(col("v").as("big"), col("m").as("small"))
        reattach.unionByName(
            m.select(col("u").as("big"), col("m").as("small")))
          .distinct()
      }
    }
    while (round < maxRounds && !converged) {
      // eager checkpoint = the round's one materialization, and its count
      val (next, nCnt) = checkpointed(phase(phase(e, large = true), large = false))
      // exact fixpoint test: same cardinality and no edge outside the old
      // set (both sides distinct, so this is set equality)
      converged = nCnt == eCnt && next.exceptAll(e).isEmpty
      Checkpoints.releaseCheckpoint(e)
      e = next
      eCnt = nCnt
      round += 1
    }
    if (!converged)
      System.err.println(s"[graft] starContractionLabels: round cap $maxRounds hit " +
        "before fixpoint — components may keep extra representatives")
    // fixpoint edges are depth-1 stars: every non-root points at its
    // component min. groupBy guards the (capped, non-converged) case.
    e.groupBy(col("big").as("id")).agg(min(col("small")).as("root"))
  }

  /** QUALITY-AWARE dedup materializer: per transitive near-dup cluster keep
    * the HIGHEST-quality document instead of the lowest id — what a
    * production pipeline actually wants from dedup (the first-crawled copy
    * of a page is not the cleanest one). `quality` is any deterministic
    * per-doc scoring column ([[graft.functions.GraftFunctions.qualityFast]]
    * in the oracled query); ties break to the lowest id so the choice is
    * reproducible.
    *
    * Components come from [[starContractionLabels]] (O(log²) rounds);
    * untouched docs are their own singleton component and always keep.
    *
    * Shape at 100 TB: the label table is pairs-scale and joins the corpus
    * on its id key (one hash join, AQE-broadcast when small); the keeper
    * choice is one `row_number` window over `comp` — a single shuffle,
    * two-stage group-limit under the hood. Output: every kept doc with its
    * component, member count, and winning quality. */
  def qualityKeepers(docs: DataFrame, pairs: DataFrame, quality: Column,
                     maxRounds: Int = 16, idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = starContractionLabels(pairs, maxRounds)
    val withComp = docs.withColumn("quality", quality)
      .join(labels.select(col("id").as("__lid"), col("root")),
        docs(idCol) === col("__lid"), "left")
      .withColumn("comp", coalesce(col("root"), col(idCol)))
      .drop("__lid", "root")
    val w = Window.partitionBy(col("comp")).orderBy(col("quality").desc, col(idCol))
    withComp
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy(col("comp"))))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** SimHash near-dup pairs, sub-quadratic via signature banding: split the
    * 60-bit signature into `bands` equal bit-bands; a pair with hamming
    * distance ≤ `maxHamming < bands` must share at least one exact band
    * (pigeonhole), so candidates = same-band-value pairs, then verify
    * `bit_count(xor) <= maxHamming`. One shuffle on (band, value) keys;
    * all-pairs structure only inside a band bucket. */
  /** The (band, band-value) fan-out of a 60-bit signature — THE shared
    * banding layout: batch pairing ([[simhashPairs]]) and the streaming
    * state operator key on it, and their cross-parity depends on both
    * using this one definition. Emits `bands` structs (band, bv). */
  def signatureBands(sig: Column, bands: Int): Column = {
    val bitsPerBand = 60 / bands
    val mask = (1L << bitsPerBand) - 1
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        shiftright(sig, b * bitsPerBand).bitwiseAND(mask).as("bv"))): _*)
  }

  def simhashPairs(docs: DataFrame, maxHamming: Int, bands: Int = 6,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxHamming < bands, "banding needs maxHamming < bands (pigeonhole guarantee)")
    val sig = docs.select(col(idCol).as("doc_id"),
      graft.functions.GraftFunctions.simhashFast(col(textCol)).as("sig"))
    val banded = sig.select(col("doc_id"), col("sig"),
      explode(signatureBands(col("sig"), bands)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band"), col("bb.bv"))
    val x = banded.as("x"); val y = banded.as("y")
    x.join(y, col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
  }

  /** Exact embedding near-dup pairs: all pairs with cosine ≥ `minCos`.
    * Naive non-equi self-join — plans as BroadcastNestedLoopJoin, meaning
    * ONE ENTIRE SIDE is broadcast (driver + executor memory bound on the
    * corpus). Kept only as the simplest-possible reference for tests; the
    * entry query runs [[embeddingNearDupPairsBlocked]] (same results,
    * distributable plan) and the sub-quadratic paths are
    * [[Similarity.lshBucketPairs]] / minhash banding. */
  def embeddingNearDupPairs(emb: DataFrame, minCos: Double,
                            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = Similarity.withNorm(emb, idCol, vecCol, "id_a", "v_a", "n_a")
    val b = Similarity.withNorm(emb, idCol, vecCol, "id_b", "v_b", "n_b")
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", round(Similarity.cosPre(col("v_a"), col("v_b"), col("n_a"), col("n_b")), 6))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Exact all-pairs as a block-partitioned (triangle) theta-join: rows are
    * hashed into `blocks` buckets, and each unordered block pair (p ≤ q)
    * becomes ONE equi-join key — the left side replicates a block-b row to
    * keys {(b,q): q ≥ b}, the right side to {(p,b): p ≤ b}, so every
    * unordered row pair meets at exactly one key (same-block pairs only at
    * (b,b)). The n² comparison work is spread over blocks·(blocks+1)/2
    * hash-join reducers with NO corpus broadcast and per-task input of
    * ~2·|corpus|/blocks rows — the memory-bounded exact form of the
    * all-pairs baseline (still quadratic compute: use LSH/minhash banding
    * when recall < 100% is acceptable). Output ≡ [[embeddingNearDupPairs]]
    * row-for-row. */
  def embeddingNearDupPairsBlocked(emb: DataFrame, minCos: Double, blocks: Int = 8,
                                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // normalize ONCE (r17): the frame feeds both triangle sides; see
    // Similarity.lshBucketPairsBanded's note. EAGER localCheckpoint: the
    // norms materialize here, at construction time, and both sides read
    // the lineage-free blocks (ADVICE r17 — the earlier comment described
    // a lazy persist this never was).
    val e = Similarity.withNorm(emb, idCol, vecCol, "id", "v", "nrm")
      .withColumn("blk", pmod(hash(col("id")), lit(blocks)))
      .localCheckpoint(true)
    val left = e.withColumn("bp", explode(array((0 until blocks).map(x => lit(x)): _*)))
      .filter(col("bp") >= col("blk"))
      .select(col("blk").as("kp"), col("bp").as("kq"),
        col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
    val right = e.withColumn("bp", explode(array((0 until blocks).map(x => lit(x)): _*)))
      .filter(col("bp") <= col("blk"))
      .select(col("bp").as("kp"), col("blk").as("kq"),
        col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
    left.join(right, Seq("kp", "kq"))
      // same-block keys see both orientations → dedup by id order there;
      // cross-block keys see each unordered pair exactly once (in block
      // orientation, not id orientation) → keep all, normalize ids below
      .filter(col("kp") =!= col("kq") || col("id_a") < col("id_b"))
      .withColumn("cos", round(Similarity.cosPre(col("v_a"), col("v_b"), col("n_a"), col("n_b")), 6))
      .filter(col("cos") >= minCos)
      // cosine is orientation-symmetric bit-for-bit (same index-order fold),
      // so sorting the ids is pure relabeling
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("cos"))
  }

  /** Prefix-hash duplicate candidates: documents sharing their first
    * `nTokens` tokens verbatim (templated boilerplate, mirrored pages,
    * re-crawls with divergent tails — the cheap first net a dedup cascade
    * casts before the shingle/minhash stages). Key = sha256 of the joined
    * prefix, so the self-join shuffles 32-byte digests, never text, and is
    * equi-keyed — candidate volume is Σ(group²) over identical-prefix
    * groups, sub-quadratic unless the corpus genuinely shares prefixes. */
  def prefixDupPairs(docs: DataFrame, nTokens: Int = 8,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val pfx = docs.select(col(idCol).as("doc_id"),
      sha2(concat_ws(" ",
        slice(TextAnalysis.tokens(col(textCol)), 1, nTokens)), 256).as("h"))
    val a = pfx.toDF("id_a", "h")
    val b = pfx.toDF("id_b", "hb")
    a.join(b, col("h") === col("hb") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("h").as("prefix_hash"))
  }

  /** Candidate near-dup pairs from shared winnowing fingerprints — the pair
    * stage of the MOSS scheme over [[TextAnalysis.winnowFingerprints]]'s
    * index. `n_shared` counts shared selected fingerprints; `minShared >= 2`
    * is the standard noise floor (a single shared fingerprint is one k-token
    * gram — often coincidence; multiple shared window-minima indicate a
    * sustained verbatim run).
    *
    * Scale shape mirrors the shingle inverted index: explode to (doc, fp),
    * OPTIONAL hot-fingerprint df cap (`maxDf` — the semi-join shares the
    * self-join's fp key, so the exchange is reused), equi self-join on
    * 8-byte fingerprint ints, then a pair-keyed count. Candidate volume is
    * Σ min(df,cap)² over fingerprint groups — sub-quadratic unless documents
    * genuinely share text. Recall under the cap: a true pair is lost only if
    * EVERY shared fingerprint is hotter than the cap (same argument,
    * and the same default, as [[dfCapFor]]). */
  def winnowDupPairs(docs: DataFrame, k: Int = 3, w: Int = 4,
                     minShared: Long = 2, maxDf: Option[Long] = None,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // fingerprint ONCE (r17): the (doc, fp) frame feeds the df aggregate,
    // the semi-join probe side, and both self-join sides — unpersisted,
    // each branch re-ran the winnowing (k-gram hashes + window minima)
    // over the corpus. Checkpoint is fingerprint-rows-sized (the selected
    // minima only, a fraction of the token stream).
    val fps = docs.select(col(idCol).as("doc_id"),
      explode(TextAnalysis.winnowFingerprints(col(textCol), k, w)).as("fp"))
      .localCheckpoint(true)
    val kept = maxDf.fold(fps) { cap =>
      val cool = fps.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap).select("fp")
      fps.join(cool, Seq("fp"), "left_semi")
    }
    // explicit selects, not positional toDF: the semi-join above reorders
    // columns to (fp, doc_id)
    val a = kept.select(col("doc_id").as("id_a"), col("fp"))
    val b = kept.select(col("doc_id").as("id_b"), col("fp").as("fpb"))
    a.join(b, col("fp") === col("fpb") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Corpus-level exact SPAN dedup (the C4 move — Raffel et al. 2020 run it
    * on three-sentence spans; here the span is a fixed token window, the
    * unit this corpus supports): every non-overlapping `spanTokens`-token
    * span is hashed, the FIRST occurrence corpus-wide (lowest
    * (doc_id, chunk_idx)) is the keeper, and every other occurrence is
    * marked removed. This catches cross-document boilerplate that
    * whole-document dedup cannot — two documents sharing one viral
    * paragraph are untouched by exact dedup and often below every
    * near-dup threshold.
    *
    * Per-doc accounting comes back as (n_spans, n_removed, n_kept_tok): the
    * numbers a curation pipeline reports and thresholds on ("drop docs that
    * lost >50% of their spans").
    *
    * Scale shape: span extraction is the ZERO-shuffle [[Sampling.docChunks]]
    * explode; the keeper aggregate and the span↔keeper join are both keyed
    * on the 128-bit span hash (the join reuses the aggregate's exchange —
    * same key), and the final per-doc rollup shuffles doc_id. Nothing ever
    * shuffles span text, and the canonical-occurrence rule is a linear key
    * `doc_id·10⁶ + chunk_idx` (chunk_idx < 10⁶ by construction at any sane
    * span size), so both engines order occurrences identically with pure
    * int64 arithmetic. */
  /** The (span, keeper-flag) stream under [[spanDedupStats]] and
    * [[spanDedupMaterialize]]: every `spanTokens`-token span with its text,
    * position, and whether it is the corpus-wide first occurrence of its
    * content. */
  /** The linear first-occurrence order key SHARED by batch span dedup and
    * its streaming twin ([[graft.streaming.EventTimeOps.streamingSpanDedup]])
    * — cross-parity depends on both using this one definition. It is only
    * an order embedding while chunk_idx < 10⁶ and doc_id ≥ 0 — enforce it,
    * don't assume it: a 16M-token doc or a negative id would silently
    * corrupt keeper selection otherwise. */
  private[graft] def spanOccKey(docId: Column, chunkIdx: Column): Column =
    when(chunkIdx < 1000000L && docId >= 0L, docId * 1000000L + chunkIdx)
      .otherwise(raise_error(concat(
        lit("span occ_key out of range: doc_id="), docId.cast("string"),
        lit(" chunk_idx="), chunkIdx.cast("string"))))

  private def spanOccurrences(docs: DataFrame, spanTokens: Int,
                              textCol: String, idCol: String): DataFrame = {
    val spans = Sampling.docChunksWithText(docs, size = spanTokens,
        stride = spanTokens, textCol = textCol, idCol = idCol, hashChars = 32)
      .select(col("doc_id"), col("chunk_idx"), col("n_tok"),
        col("chunk_text"), col("chunk_hash"),
        spanOccKey(col("doc_id"), col("chunk_idx")).as("occ_key"))
    val keepers = spans.groupBy("chunk_hash")
      .agg(min(col("occ_key")).as("first_key"))
    spans.join(keepers, Seq("chunk_hash"))
      .withColumn("removed", (col("occ_key") =!= col("first_key")).cast("int"))
  }

  def spanDedupStats(docs: DataFrame, spanTokens: Int = 16,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    spanOccurrences(docs, spanTokens, textCol, idCol)
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_spans"),
        sum(col("removed")).as("n_removed"),
        sum(when(col("removed") === 0, col("n_tok")).otherwise(0L)).as("n_kept_tok"))

  /** Span-dedup MATERIALIZER: the corpus after C4 span removal — each
    * document's surviving spans re-joined in position order (docs whose
    * every span was removed vanish, like C4's fully-boilerplate pages).
    * This is the frame the pipeline actually ships to training; the stats
    * variant above is the report it logs.
    *
    * Extra cost over the stats: span TEXT rides the hash-keyed shuffle
    * (values, not keys — partitioning is still by the 128-bit hash) and the
    * per-doc re-join is a `sort_array(collect_list(struct(idx, text)))` —
    * grouping by doc_id with ≤ ⌈tokens/spanTokens⌉ structs per group, the
    * same per-doc memory the document itself already needs. */
  def spanDedupMaterialize(docs: DataFrame, spanTokens: Int = 16,
                           textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    spanOccurrences(docs, spanTokens, textCol, idCol)
      .filter(col("removed") === 0)
      .groupBy("doc_id")
      .agg(array_join(transform(
          sort_array(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
          s => s.getField("chunk_text")), " ").as("kept_text"),
        count(lit(1)).as("n_kept_spans"))

  /** WITHIN-document repeated-span removal — the intra-doc twin of the
    * corpus-level C4 span dedup above: every non-overlapping
    * `spanTokens`-token span that repeats EARLIER IN THE SAME DOCUMENT is
    * dropped, first occurrence kept in position order. This is the
    * surgical form of the Gopher repetition gates: `gopherGates` DROPS a
    * document whose repeated-fraction crosses a threshold, this operator
    * REPAIRS it (looping scraper output, chat transcripts with repeated
    * boilerplate turns) and keeps the informative prefix.
    *
    * Scale shape is the interesting part: because the spans under test all
    * live in ONE row, this needs none of the corpus machinery — no
    * explode, no hash-keyed aggregate, no join. It is a single narrow
    * projection (tokens → span array → first-occurrence filter), ZERO
    * shuffles at any corpus size, streaming-safe as a stateless map.
    * First-occurrence-in-position-order is exactly `array_distinct`
    * semantics, and Spark's ArrayDistinct is a LINEAR hash-set walk that
    * preserves first-occurrence order — O(spans) per row with hashed
    * lookups, so even a 100k-token document at spanTokens=2 (50k spans)
    * costs one hash pass, not the 2.5e9 string compares the earlier
    * `array_position`-per-element form paid. */
  def intraDocSpanDedup(docs: DataFrame, spanTokens: Int = 16,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    withSpanTrim(docs.select(col(idCol).as("doc_id"), col(textCol)),
        spanTokens, textCol)
      .select(col("doc_id"), col("n_spans"), col("n_removed"), col("kept_text"))

  /** Column-adding form of [[intraDocSpanDedup]]: appends
    * (n_spans, n_removed, kept_text) and PRESERVES every input column —
    * the shape a streaming ingest needs, where provenance columns
    * (source, quota index) must ride along through the stateless trim.
    * Same zero-shuffle narrow projection; streaming-safe. */
  def withSpanTrim(docs: DataFrame, spanTokens: Int = 16,
                   textCol: String = "text"): DataFrame = {
    val st = spanTokens
    docs
      .withColumn("__toks", graft.analytics.TextAnalysis.tokens(col(textCol)))
      .withColumn("__spans", expr(
        s"""transform(sequence(0L, (size(__toks) + ${st - 1}L) div ${st}L - 1L),
           |  i -> array_join(slice(__toks, int(i * $st + 1), $st), ' '))""".stripMargin))
      .withColumn("n_spans",
        org.apache.spark.sql.functions.size(col("__spans")).cast("long"))
      .withColumn("__kept", array_distinct(col("__spans")))
      .withColumn("n_removed",
        (col("n_spans") - org.apache.spark.sql.functions.size(col("__kept"))).cast("long"))
      .withColumn("kept_text", array_join(col("__kept"), " "))
      .drop("__toks", "__spans", "__kept")
  }

  /** Cross-split contamination audit — did the hash split leak eval
    * content into training? For each precedence-ordered split pair
    * (train→val, train→test, val→test): how many docs of the LATER split
    * share at least one word `n`-gram with any doc of the earlier one.
    * This is the report a pipeline gates a release on: `decontaminate`
    * removes known eval sets from the corpus, this measures what the
    * SPLIT itself leaks (near-duplicate docs landing across the boundary,
    * shared boilerplate straddling train/test). The 8-gram default is the
    * discriminative scale on this corpus: 3-grams saturate at 100% (every
    * doc shares common trigrams), 8-grams isolate the true near-dup
    * straddlers.
    *
    * Scale shape: NO pair join anywhere (unlike `contaminationReport`,
    * whose per-pair output is its point) — shingles collapse to per-split
    * presence counts keyed on the 60-bit shingle hash, docs pick up leak
    * flags through a join on the same hash key, and the rollup is
    * split-keyed. Output is 3 rows at any corpus size; every corpus-sized
    * exchange carries 8-byte shingle hashes, never text. (The shingle
    * stream is evaluated on both the aggregate and join legs — at 100 TB,
    * persist `ds` or let AQE's runtime exchange reuse collapse them.) */
  def splitLeakageReport(docs: DataFrame, n: Int = 8,
                         trainPerMille: Int = 800, valPerMille: Int = 100,
                         textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val withSplit = Sampling.splitAssign(docs, idCol, trainPerMille, valPerMille)
    val ds = withSplit
      .select(col("split"), col(idCol).as("doc_id"),
        explode(shingles(col(textCol), n)).as("g"))
      .select(col("split"), col("doc_id"), hash60(col("g")).as("h"))
    val counts = ds.groupBy("h").agg(
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
      sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"))
    // a doc's own shingles are distinct, so for CROSS-split pairs its own
    // contribution to the earlier split's count is zero — n >= 1 suffices
    val flags = ds.join(counts, Seq("h"))
      .groupBy(col("doc_id"), col("split"))
      .agg(
        max(when(col("n_train") >= 1 && col("split") =!= "train", 1L)
          .otherwise(0L)).as("from_train"),
        max(when(col("n_val") >= 1 && col("split") =!= "val", 1L)
          .otherwise(0L)).as("from_val"))
    val leaked = flags.groupBy("split")
      .agg(sum(col("from_train")).as("lt"), sum(col("from_val")).as("lv"))
    // denominators from the split assignment itself: docs too short to
    // shingle never leak but still belong to the split
    // materialize the 3-row rollup ONCE: the three output branches below
    // would otherwise each re-run the corpus-sized shingle aggregation
    val agg = withSplit.groupBy("split").agg(count(lit(1)).as("n_docs"))
      .join(leaked, Seq("split"), "left")
      .na.fill(0L, Seq("lt", "lv"))
      .localCheckpoint(true)
    def row(from: String, to: String, leakCol: String) =
      agg.filter(col("split") === to)
        .select(lit(from).as("from_split"), lit(to).as("to_split"),
          col("n_docs"), col(leakCol).as("n_leaked"))
    row("train", "val", "lt")
      .unionByName(row("train", "test", "lt"))
      .unionByName(row("val", "test", "lv"))
      .withColumn("leak_frac",
        round(col("n_leaked").cast("double") / col("n_docs"), 4))
  }

  /** Content-defined chunking (CDC) duplicate-chunk report — the
    * rsync/LBFS/FastCDC idea applied to token streams: a boundary falls
    * AFTER token `i` wherever the rolling hash of the `w`-token window
    * ending at `i` satisfies `hash % modulus == 0`, so chunk boundaries
    * are a pure function of local CONTENT. An insertion or deletion
    * re-chunks only its neighborhood — every chunk outside the edit window
    * keeps its identity, which is exactly what fixed-stride spans
    * ([[intraDocSpanDedup]]'s complement) cannot do. Expected chunk length
    * is `modulus` tokens (+ the `w−1` window warmup).
    *
    * Returns the chunk stream (doc_id, chunk_idx, chunk) — a partition of
    * each document's tokens in order; [[cdcDupChunks]] rolls it up into the
    * storage-dedup view (every chunk occurring more than once corpus-wide).
    *
    * Shape at 100 TB: chunking is ONE narrow per-row projection — windows
    * come from zipping `w` row-level slices (never `element_at(split(..))`
    * inside a lambda: interpreted HOFs re-evaluate captured EXPRESSIONS per
    * element, the measured O(tokens²) trap in [[TextAnalysis.bigrams]]'s
    * scaladoc; `__toks`/`__win` below are materialized attributes, which
    * CollapseProject will not inline into multi-use lambdas). Per-chunk
    * slices are O(chunk) so a document chunks in O(tokens·w). The only
    * shuffle is the chunk-hash aggregate, whose map-side combine collapses
    * each partition's duplicate mass before the exchange; the shuffle key
    * is an 8-byte hash, never chunk text. */
  def cdcChunks(docs: DataFrame, w: Int = 4, modulus: Int = 16,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(w >= 1 && modulus >= 1, s"w and modulus must be >= 1, got w=$w modulus=$modulus")
    val df = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("__toks"))
    val t = col("__toks")
    val nw = greatest(size(t) - (w - 1), lit(0))
    // w-token window strings by zipping w row-level slices (w fixed at plan time)
    val windows = (2 to w).foldLeft(slice(t, lit(1), nw)) { (acc, j) =>
      zip_with(acc, slice(t, lit(j), nw), (a, b) => concat_ws(" ", a, b))
    }
    df
      .withColumn("__win", windows)
      // 1-based token position of each boundary (window idx is 0-based, the
      // window ends at token idx + w); hash60 is non-negative so % is safe
      .withColumn("__bend",
        filter(
          transform(col("__win"), (s, i) =>
            when(hash60(s) % modulus === 0, i + w).otherwise(-1)),
          p => p > 0))
      .withColumn("__starts",
        concat(array(lit(1)), transform(col("__bend"), p => p + 1)))
      .withColumn("__ends", concat(col("__bend"), array(size(t))))
      // a boundary at the last token leaves an empty trailing span — drop it
      .withColumn("__chunks",
        filter(
          zip_with(col("__starts"), col("__ends"), (s, e) =>
            when(e >= s, concat_ws(" ", slice(t, s, e - s + lit(1))))),
          c => c.isNotNull))
      // outer + attribute null-filter, NOT plain posexplode: the optimizer
      // infers `size(child) > 0 AND isnotnull(child)` from a non-outer
      // Generate and pushes it below the projections by SUBSTITUTING the
      // whole chunk expression tree into the Filter — the chunking work
      // would run 3× per row (measured in the executed plan). The outer
      // form infers nothing; empty docs yield one null row, dropped here
      // by a cheap attribute predicate.
      .select(col("doc_id"),
        posexplode_outer(col("__chunks")).as(Seq("chunk_idx", "chunk")))
      .filter(col("chunk").isNotNull)
  }

  /** CORPUS-WIDE chunk-level rewrite over [[cdcChunks]] — the
    * exact-substring-dedup act (Lee et al.'s "Deduplicating Training Data"
    * applied at chunk granularity): every chunk keeps only its FIRST
    * occurrence (lexicographic min of (doc_id, chunk_idx)); later
    * occurrences — across documents or within one — are removed and each
    * document is rebuilt from its surviving chunks in order. Because
    * boundaries are content-defined, two documents sharing a long span
    * share its interior chunks verbatim even at different offsets, which
    * is exactly what [[intraDocSpanDedup]]'s fixed strides cannot catch
    * across documents.
    *
    * Shape at 100 TB: chunking is the narrow projection documented on
    * [[cdcChunks]]. The first-occurrence winner per chunk is ONE
    * digest-keyed aggregate (min of a (doc_id, idx) struct — map-side
    * combinable, 8-byte shuffle key); occurrences join winners on the same
    * digest (co-partitioned from the aggregate, no extra exchange under
    * AQE), and the rebuild is a doc_id-keyed sorted string_agg. No
    * corpus-sized collect, no pair join — duplicate mass any size shrinks,
    * never amplifies. */
  def cdcRewrite(docs: DataFrame, w: Int = 4, modulus: Int = 16,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // materialize the chunk stream ONCE: it feeds both the winner aggregate
    // and the join back, and an unmaterialized multi-referenced subtree is
    // the pipeline_admit recompute amplifier (r9) — the chunking (sha256
    // per window) would run twice per row. Winner selection stays an
    // AGGREGATE (map-side-combinable min of a (doc_id, idx) struct), not a
    // row_number window: a boilerplate chunk with df=10⁷ would pile into
    // one window group's sort, while the aggregate combines it map-side.
    val chunks = cdcChunks(docs, w, modulus, idCol, textCol)
      .withColumn("__h", hash60(col("chunk")))
      .localCheckpoint(true)
    val winners = chunks.groupBy(col("__h"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("__w"))
    val flagged = chunks.join(winners, "__h")
      .withColumn("__keep", struct(col("doc_id"), col("chunk_idx")) === col("__w"))
    // one doc-keyed pass: totals + surviving text (collect_list drops the
    // nulls the un-kept branch produces, so no second aggregate is needed)
    val rebuilt = flagged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ",
          sort_array(collect_list(when(col("__keep"),
            struct(col("chunk_idx"), col("chunk")))))
            .getField("chunk")).as("kept_text"))
    docs.select(col(idCol).as("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Duplicated-chunk rollup over [[cdcChunks]] (see the chunking contract
    * there): every chunk occurring more than once corpus-wide. */
  def cdcDupChunks(docs: DataFrame, w: Int = 4, modulus: Int = 16,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    cdcChunks(docs, w, modulus, idCol, textCol)
      .groupBy(hash60(col("chunk")).as("chunk_hash"))
      .agg(max(size(split(col("chunk"), " "))).cast("long").as("n_tokens"),
        count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keeper_id"))
      .filter(col("n_occ") > 1)

  /** Corpus-level boilerplate-LINE removal — the C4/RefinedWeb line rule:
    * a line occurring in at least `minDocs` DISTINCT documents is
    * boilerplate (nav menus, footers, cookie banners, license headers) and
    * EVERY occurrence is removed; each document is rebuilt from its
    * surviving lines in original order. This deliberately differs from
    * [[cdcRewrite]]'s keep-first-occurrence contract: a boilerplate line
    * has no meaningful first owner, so all copies go (C4 drops any line
    * "appearing in three or more documents" outright). Within-doc
    * repetition alone never triggers it — the signal is distinct-document
    * frequency, which is what separates boilerplate from content.
    *
    * Output: (doc_id, n_lines, n_kept, kept_text) — one row per input doc
    * (the rewrite contract shared with [[cdcRewrite]]).
    *
    * Shape at 100 TB: line extraction is one narrow split+posexplode; the
    * df aggregate groups by an 8-byte line hash with map-side partial
    * distinct on (hash, doc_id), so a line pasted into 10⁷ docs collapses
    * per partition before the exchange; occurrences join the df table on
    * the same digest (co-partitioned from the aggregate under AQE) and the
    * rebuild is one doc_id-keyed sorted aggregate. No corpus-sized
    * collect, no pair join, text crosses the wire once. */
  def boilerplateLines(docs: DataFrame, minDocs: Int = 3,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // materialize the line stream ONCE: it feeds both the df aggregate and
    // the join back (the multi-reference rule — see cdcRewrite)
    val lines = docs
      .select(col(idCol).as("doc_id"),
        posexplode_outer(split(col(textCol), "\n")).as(Seq("line_idx", "line")))
      .filter(col("line").isNotNull)
      .withColumn("__h", hash60(col("line")))
      .localCheckpoint(true)
    val dfTab = lines.groupBy(col("__h"))
      .agg(countDistinct(col("doc_id")).as("line_df"))
    val flagged = lines.join(dfTab, "__h")
      .withColumn("__keep", col("line_df") < minDocs)
    val rebuilt = flagged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws("\n",
          sort_array(collect_list(when(col("__keep"),
            struct(col("line_idx"), col("line")))))
            .getField("line")).as("kept_text"))
    docs.select(col(idCol).as("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }
}
