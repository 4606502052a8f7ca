package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Product quantization (PQ) for embedding compression + asymmetric-distance
  * ANN — the standard memory-bound scale path for vector search (IVF-PQ
  * family): split each d-dim vector into `m` contiguous subvectors, run a
  * small k-means PER SUBSPACE, store each vector as `m` one-byte-ish
  * centroid codes, and answer queries by summing per-subspace distances
  * looked up from a query-specific table (ADC — asymmetric distance
  * computation: the query stays exact, only the corpus is quantized).
  *
  * Why this wins at 100 TB: a 64-dim float vector is 256 bytes; its PQ code
  * is `m` small ints — a large scan-size reduction, and scoring a
  * candidate is `m` table lookups + a fixed-length add chain instead of a
  * d-term dot product. The codebooks (m × k centroids) and the per-query
  * distance tables (|queries| × m × k) are broadcast; the corpus-sized
  * stages are one narrow codes scan and a map-side-combined per-(query,vec)
  * aggregation. Typically composed with IVF ([[Similarity.ivfTopK]]) as
  * IVF-PQ: coarse lists prune, PQ scores the survivors.
  *
  * Default geometry m=32 × subDim=2 (round 11): the measured recall curve
  * (SCALING.md § "Round 11: the PQ recall curve") showed the old 8×8 split's raw ADC
  * recall@5 plateaus ~0.20 regardless of nprobe or codebook size — the
  * quantization error of 8-dim cells exceeds neighbor gaps on this
  * corpus — while 16×4 reaches ~0.37–0.45 and 32×2 crosses the 0.5 bar
  * (0.58–0.68 at sf0.1). The cost is 4× code rows per candidate through
  * the ADC join/pivot (code storage is still ≤ vector storage / 2); the
  * oracle generates its pivot/`+`-chain from the same two constants
  * (AnalyticsOracles.PqM/PqSubDim) so the engines cannot drift.
  *
  * Cross-engine determinism (same contract as [[Clustering]]): vectors are
  * quantized to integer micro-units up front; subspace Lloyd uses exact
  * integer distances in round 1 and exact-int-sum/count centroid means in
  * round 2; every remaining double chain (distance, ADC sum) has a FIXED
  * evaluation order mirrored by the DuckDB oracle, and ADC totals add the
  * m per-subspace terms in explicit subspace order (a fixed `+` chain, not
  * an unordered aggregate — double addition is not associative).
  *
  * Seeding mirrors [[Clustering.kmeansStats]]: vectors with
  * `vec_id % centroidStep == 0` seed every subspace's codebook.
  *
  * Materialization: the [[Search]] rule — each public operator releases
  * its training checkpoints and returns an eager, lineage-free
  * `localCheckpoint`.
  */
object ProductQuantization {

  private def dot(a: Column, b: Column): Column = GraftFunctions.arrayDot(a, b)

  /** Default bound on the quantizer TRAINING set (r13, the measured r12
    * remedy made default): with full-corpus training both quantizer
    * capacities grow with n (nlist = n/coarseStep, codebooks =
    * n/centroidStep), so the assignment crossJoins are n × (n/const) —
    * O(n²), measured exponent 2.25 sf1→sf3 (SCALING.md r12). Training on a
    * bounded sample and encoding the full corpus under it makes the
    * capacities constants and the encode joins linear — measured exponent
    * 0.79, 11× faster at sf3, recall 0.63 raw / 0.84 rescored@5, above the
    * 0.4/0.7 floors (SCALING.md § "Measured remediation: bounded-sample
    * training"). 5000 keeps every oracle and
    * bench corpus (≤2000 vectors) on the bit-identical full-train path;
    * at real scale raise it per corpus (10⁵–10⁶ is the production range —
    * train cost is O(target²) FIXED, encode and serve stay linear). */
  val TrainSampleTarget = 5000L

  /** The training-set size the default build policy uses for an n-vector
    * corpus: min(n, target). Probe widths derive from THIS, not from n
    * ([[scaledNprobe]] of autoTrainN keeps the probed share at 30% of the
    * trained list count whether or not sampling engaged — identical to
    * scaledNprobe(n) at or below the target, a constant above it). */
  def autoTrainN(n: Long, target: Long = TrainSampleTarget): Long = math.min(n, target)

  /** Deterministic bounded training sample: the lowest `target` vectors by
    * (xxhash64(vec_id), vec_id) — a fixed pseudo-random subset, independent
    * of input order and partitioning, so rebuilds train identically.
    * Callers engage it only above the target ([[overTarget]]); at or below
    * it builds keep the full-train path byte-for-byte (the sf0.01 oracle
    * corpus is 500 vectors). Delegates to [[hashHeadSample]] (r14): a
    * hash-threshold prefilter bounds the driver-side top-k merge by
    * ~2×target ROWS TOTAL instead of target rows PER PARTITION, removing
    * the extreme-partition-count caveat the r13 `orderBy+limit` carried —
    * while selecting the EXACT same set, so trained quantizers (and the
    * recall floors measured over them) are unchanged. */
  private[analytics] def autoTrainSample(quantized: DataFrame,
                                         target: Long = TrainSampleTarget): DataFrame =
    hashHeadSample(quantized, "vec_id", target).select("vec_id", "qi")

  /** The lowest `target` rows of `df` by (xxhash64(keyCol), keyCol) —
    * computed WITHOUT a global TakeOrdered over the corpus. One
    * column-pruned aggregation pass counts survivors under 41 halving hash
    * cutoffs (fraction 1, 1/2, … 2⁻⁴⁰ of the hash space); the smallest
    * cutoff with ≥ target survivors is a superset of the answer (the
    * target-th smallest hash is ≤ any cutoff that ≥ target rows fall
    * under), so the exact head is recovered by an orderBy+limit over just
    * those ~≤2×target survivors. Driver merge is bounded by the survivor
    * count, independent of partition count — the 100 TB-safe shape of the
    * deterministic sample. `target` is clamped to Int range (a Long target
    * above Int.MaxValue would otherwise overflow `limit` negative —
    * ADVICE r13). */
  private[analytics] def hashHeadSample(df: DataFrame, keyCol: String,
                                        target: Long): DataFrame = {
    val tgt = math.min(target, Int.MaxValue.toLong - 1L).toInt
    val h = xxhash64(col(keyCol))
    // cut(0) = whole hash space; cut(i) = lowest 2^-i of it. 2⁻⁴⁰ covers
    // corpora up to ~tgt·2⁴⁰ rows — beyond any plausible vector count.
    val cuts: IndexedSeq[Long] = Long.MaxValue +: (1 to 40).map(i =>
      if (i == 1) 0L else Long.MinValue + (1L << (64 - i)))
    val aggs = cuts.map(c => sum(when(h <= lit(c), 1L).otherwise(0L)))
    val counts = df.agg(aggs.head, aggs.tail: _*).head()
    val idx = cuts.indices.reverse
      .find(i => !counts.isNullAt(i) && counts.getLong(i) >= tgt)
      .getOrElse(0)
    df.filter(h <= lit(cuts(idx)))
      .orderBy(h, col(keyCol))
      .limit(tgt)
  }

  /** Per-(vector, subspace) codebook assignment after a 2-round subspace
    * Lloyd. Returns (vec_id, sub, cid, dist): the chosen centroid and the
    * squared distance to it (micro-unit scale). */
  def pqAssign(emb: DataFrame, m: Int = 32, subDim: Int = 2,
               centroidStep: Int = 40,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (cents1, codes) = trainAndCodes(emb, m, subDim, centroidStep, idCol, vecCol)
    Checkpoints.releaseCheckpoint(cents1)
    codes
  }

  /** Shared training pipeline: the trained codebooks (sub, cid, m, nm) and
    * the final code assignment, both eager checkpoints the caller
    * releases. */
  private def trainAndCodes(emb: DataFrame, m: Int, subDim: Int, centroidStep: Int,
                            idCol: String, vecCol: String): (DataFrame, DataFrame) =
    trainAndCodesQ(
      emb.select(col(idCol).as("vec_id"), Clustering.quantize(col(vecCol)).as("qi")),
      m, subDim, centroidStep)

  /** Per-(vec, subspace) slice frame — the shared head of PQ training, of
    * encoding a new frame under a stored codebook, and of the query
    * distance tables ([[queryTables]]). */
  private def subSlices(quantized: DataFrame, m: Int, subDim: Int): DataFrame =
    quantized
      .select(col("vec_id"), explode(sequence(lit(0), lit(m - 1))).as("sub"), col("qi"))
      .select(col("vec_id"), col("sub"),
        slice(col("qi"), col("sub") * subDim + 1, lit(subDim)).as("sqi"))
      .withColumn("sqd", transform(col("sqi"), _.cast("double")))
      .withColumn("nq", dot(col("sqd"), col("sqd")))

  /** Nearest-codeword assignment of sub-slices to a (sub, cid, m, nm)
    * codebook — the SAME rule whether the codebook is mid-training or read
    * back from a persisted index (append path).
    *
    * Compiled form (r18): the codebooks are collected (bounded: m ×
    * trainN/centroidStep rows by construction) and broadcast into
    * [[graft.functions.NearestBookCode]] — one projection pass over `subs`
    * instead of a |subs| × k broadcast-join exploded through a min_by hash
    * aggregate (the measured majority of every PQ build profile). Scores,
    * tie-breaks, null/ragged-vector handling, and the inner join's
    * dropped-sub semantics are replicated exactly (see the expression's
    * scaladoc); results are bit-identical (PqIndexSpec parity
    * + the full oracle gate). */
  private def assignToBooks(subs: DataFrame, cents: DataFrame, m: Int): DataFrame =
    withBookAssignment(subs, cents, m)
      .select(col("vec_id"), col("sub"),
        col("__best.cid").as("cid"), col("__best.score").as("dist"))

  /** Encode a quantized (vec_id, qi) frame under a (sub, cid, m, nm)
    * codebook, as (vec_id, sub, cid, dist): the full-corpus encode of a
    * sampled-train build and of every [[PqIndex.append]]. */
  private[analytics] def encode(quantized: DataFrame, books: DataFrame,
                                m: Int, subDim: Int): DataFrame =
    assignToBooks(subSlices(quantized, m, subDim), books, m)

  /** [[assignToBooks]] keeping the caller's columns: `subs` plus the
    * winning (cid, dist) as `__best` — lets training read the slice
    * columns off the assignment row without re-joining `subs`.
    *
    * The inner join this replaces dropped rows whose sub has no trained
    * book; that case is decided DRIVER-side from the collected books (a
    * runtime `isNotNull` filter would be pushed below the projection by
    * alias substitution and evaluate the whole argmin twice per row —
    * guide §4.4's duplication, measured at 2× the assignment pass). Books
    * covering every sub present (the non-degenerate corpus: subSlices
    * generates subs 0..m-1 and each trained book keeps its sub id) need no
    * filter at all; a partial book set keeps the filter; an empty one is
    * the replaced join's empty result. */
  private def withBookAssignment(subs: DataFrame, cents: DataFrame,
                                 m: Int): DataFrame = {
    val spark = subs.sparkSession
    val books = graft.functions.CentroidTable.collectBooks(cents)
    if (books.isEmpty)
      subs.filter(lit(false))
        .withColumn("__best", lit(null).cast(graft.functions.CentroidTable.outType))
    else {
      val bc = spark.sparkContext.broadcast(books)
      val assigned = subs.withColumn("__best",
        org.apache.spark.sql.graft.GraftBridge.column(
          graft.functions.NearestBookCode(
            org.apache.spark.sql.graft.GraftBridge.expression(col("sub")),
            org.apache.spark.sql.graft.GraftBridge.expression(col("sqd")),
            org.apache.spark.sql.graft.GraftBridge.expression(col("nq")),
            bc)))
      // subSlices generates sub ∈ 0..m-1, so a book set covering that full
      // range can never return null — the filter is only kept for the
      // degenerate partial-book corpus
      if ((0 until m).forall(books.contains)) assigned
      else assigned.filter(col("__best").isNotNull)
    }
  }

  /** [[trainAndCodes]] from an already-quantized (vec_id, qi) frame — the
    * shared-scan path for composed index builds (see
    * [[Clustering.trainedCentroidsFromQuantized]]). Catalyst collapses the
    * unmaterialized delegation above into the same single-projection scan, so
    * the two entry points plan identically for plain callers. */
  private[analytics] def trainAndCodesQ(quantized: DataFrame, m: Int, subDim: Int,
                                        centroidStep: Int): (DataFrame, DataFrame) = {
    val subs = subSlices(quantized, m, subDim).localCheckpoint(true)
    def assign(cents: DataFrame): DataFrame = assignToBooks(subs, cents, m)
    val seeds = subs.filter(col("vec_id") % centroidStep === 0)
      .select(col("sub"), col("vec_id").as("cid"), col("sqd").as("m"), col("nq").as("nm"))
    // ONE pass from the round-1 assignment to the trained codebooks (r17):
    // per-(sub, cid, pos) component sums and the per-(sub, cid) member
    // count come out of a single posexplode_outer aggregate. The old
    // sums/counts PAIR forked `a1`, and under AQE the two branches ran as
    // concurrent stage-jobs, each re-executing the broadcast-join + argmax
    // over |vecs| x m x k rows — the expensive half of PQ training
    // (measured: twin jobs dominated the pqindex build profile). Exactness
    // of n: every (vec, sub) member lands exactly one row at pos 0
    // (non-empty slice) or pos null (empty slice), so summing c over
    // {pos is null, pos = 0} equals the old count(*), degenerate slices
    // included; null-pos rows stay out of ps (collect_list skips nulls),
    // and (sub, cid) groups whose every slice is empty drop out as the old
    // inner join dropped them.
    // r18: the round-1 assignment is the compiled projection (see
    // assignToBooks) carrying the slice columns, so the old
    // a1-join-back-to-subs on (vec_id, sub) disappears with the argmin
    // aggregate — the component sums read sqi straight off the assignment
    // row.
    val a1 = withBookAssignment(subs, seeds, m)
    val byPos = a1
      .select(col("sub"), col("__best.cid").as("cid"),
        posexplode_outer(col("sqi")).as(Seq("pos", "v")))
      .groupBy("sub", "cid", "pos").agg(sum("v").as("s"), count(lit(1)).as("c"))
    val cents1 = byPos
      .groupBy("sub", "cid")
      .agg(collect_list(when(col("pos").isNotNull, struct(col("pos"), col("s")))).as("ps"),
        sum(when(col("pos").isNull || col("pos") === 0, col("c")).otherwise(0L)).as("n"))
      .where(size(col("ps")) > 0)
      .select(col("sub"), col("cid"),
        transform(array_sort(col("ps")), x => x.getField("s").cast("double") / col("n")).as("m"))
      .withColumn("nm", dot(col("m"), col("m")))
      .localCheckpoint(true)
    val codes = assign(cents1).localCheckpoint(true)
    Checkpoints.releaseCheckpoint(subs)
    (cents1, codes)
  }

  /** ADC top-k: exact queries against the PQ-coded corpus. Distance tables
    * (query × sub × cid) come from one broadcast-sized join; the corpus
    * contributes its codes only — packed to ONE row per vector
    * ([[packCodes]]), so the scored stream is |vecs| × |queries| rows,
    * not |vecs| × m × |queries| (round 11: the 32×2 geometry made the
    * row-per-subspace shape carry 32 rows per candidate through the old
    * conditional-aggregate pivot; packing removes the pivot exchange and
    * the m-fold row blowup while producing bit-identical sums). */
  def adcTopK(emb: DataFrame, queries: DataFrame, k: Int,
              m: Int = 32, subDim: Int = 2, centroidStep: Int = 40,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val quantized = emb
      .select(col(idCol).as("vec_id"), Clustering.quantize(col(vecCol)).as("qi"))
      .localCheckpoint(true)
    val quantizedTrain = resolveTrain(quantized)
    val (cents1, codesTrain) = trainAndCodesQ(quantizedTrain, m, subDim, centroidStep)
    val codes =
      if (quantizedTrain eq quantized) codesTrain
      else encode(quantized, cents1, m, subDim)
    val pairs = packCodes(codes)
      .crossJoin(broadcast(queryTables(queryRows(quantized, queries, idCol), cents1, m, subDim)))
    val out = rankPacked(pairs, m, k).localCheckpoint(true)
    Seq(cents1, codesTrain, quantizedTrain, quantized).foreach(Checkpoints.releaseCheckpoint)
    out
  }

  /** The training-sample policy, the one rule every trained quantizer
    * follows ([[Similarity.ivfTopK]], [[adcTopK]], [[ivfPqTopK]],
    * [[PqIndex.build]]): the training frame over an already-quantized
    * corpus is an explicit `trainOn` (quantized and checkpointed), the
    * corpus itself when `fullTrain` or at/below the sample target, else the
    * deterministic bounded sample ([[autoTrainSample]]), checkpointed. The
    * over-target decision is a BOUNDED `limit(target+1).count()` probe,
    * not a full corpus count — it stops as soon as target+1 rows exist,
    * so small corpora pay one short job and 100 TB corpora never pay a
    * counting pass. A result other than `quantized` itself is a
    * checkpoint the caller releases. */
  private[analytics] def resolveTrain(quantized: DataFrame,
                                      trainOn: Option[DataFrame] = None,
                                      fullTrain: Boolean = false,
                                      target: Long = TrainSampleTarget,
                                      idCol: String = "vec_id",
                                      vecCol: String = "embedding"): DataFrame =
    trainOn match {
      case Some(t) => t
        .select(col(idCol).as("vec_id"), Clustering.quantize(col(vecCol)).as("qi"))
        .localCheckpoint(true)
      case None if fullTrain => quantized
      case None if !overTarget(quantized, target) => quantized
      case None => autoTrainSample(quantized, target).localCheckpoint(true)
    }

  /** True iff `df` has more than `target` rows — evaluated with a bounded
    * limit, never a full count. */
  private def overTarget(df: DataFrame, target: Long): Boolean = {
    val probe = math.min(target + 1, Int.MaxValue.toLong - 1).toInt
    df.limit(probe).count() > target
  }

  /** The query vectors' rows of the FULL quantized corpus (the training
    * frame may not contain the query ids under sampled training). */
  private def queryRows(quantized: DataFrame, queries: DataFrame, idCol: String): DataFrame =
    quantized.join(broadcast(queries.select(col(idCol).as("vec_id")).distinct()), "vec_id")

  /** Per-query subspace distance tables, the one query-side ADC rule of
    * the one-shot operators and the stored [[PqIndex]]: each query of the
    * quantized (vec_id, qi) frame `queries` is sliced like the corpus
    * ([[subSlices]]), scored against every codeword of `books` (sub, cid,
    * m, nm) in the training assignment's d² arithmetic, and packed
    * ([[packDt]]) to (query_id, dts). The query stays exact (asymmetric). */
  private[analytics] def queryTables(queries: DataFrame, books: DataFrame,
                                     m: Int, subDim: Int): DataFrame =
    packDt(subSlices(queries, m, subDim)
      .join(broadcast(books), "sub")
      .select(col("vec_id").as("query_id"), col("sub"), col("cid"),
        (col("nq") + col("nm") - lit(2.0) * dot(col("sqd"), col("m"))).as("d2")), m)

  /** Pack per-(vec, subspace) code rows to one row per vector:
    * (vec_id, pcodes) with `pcodes[s]` = the subspace-s codeword. The
    * serve-side currency of every ADC path: candidate joins, shuffles,
    * and the stored-index scan carry the m codes as one compact array
    * row instead of m rows, shrinking each m-fold. */
  private[analytics] def packCodes(codes: DataFrame): DataFrame =
    codes.groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("cid")))),
        _.getField("cid")).as("pcodes"))

  /** Pack a (query_id, sub, cid, d2) distance-table stream to one row per
    * query: (query_id, dts) where `dts[s]` is the subspace-s lookup map
    * cid → d2. Broadcast-sized — the same payload the unpacked broadcast
    * carried, reshaped for O(1) per-candidate lookup. (Built as m
    * conditional map aggregates: structs containing maps are not
    * orderable in Spark, so a sort-then-project pivot is unavailable.) */
  private def packDt(dt: DataFrame, m: Int): DataFrame = {
    val subMaps = (0 until m).map(s =>
      map_from_entries(collect_list(when(col("sub") === s,
        struct(col("cid"), col("d2"))))).as(s"dm$s"))
    dt.groupBy("query_id")
      .agg(subMaps.head, subMaps.tail: _*)
      .select(col("query_id"),
        array((0 until m).map(s => col(s"dm$s")): _*).as("dts"))
  }

  /** Score and rank a packed (query_id, vec_id, pcodes, dts) candidate
    * stream: adc_raw totals the m per-subspace lookups in EXPLICIT
    * ascending-subspace order (a fixed `+` chain — double addition is not
    * associative, and the DuckDB oracle's generated chain adds in the
    * same order, so the sums are bit-identical to the old pivot path).
    * Totals are ~1e12 (micro² scale): decimal-rounding a double there
    * sits at the edge of the 15-16 significant digits a double carries,
    * where engines' round() implementations legitimately disagree — emit
    * the WHOLE-unit integer instead (exact below 2^53). */
  private[analytics] def rankPacked(pairs: DataFrame, m: Int, k: Int): DataFrame = {
    def term(s: Int) = element_at(col("dts")(s), col("pcodes")(s))
    val adc = (1 until m).foldLeft(term(0)) { (acc, s) => acc + term(s) }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("adc_raw").asc, col("vec_id").asc)
    pairs.withColumn("adc_raw", adc)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), round(col("adc_raw"), 0).cast("long").as("adc"))
  }

  /** Scale-stable probe width. Probing a FIXED number of lists is not a
    * scale-stable default: with `coarseStep`-sized cells the list count is
    * n/coarseStep, so fixed nprobe shrinks the probed corpus SHARE
    * linearly as the corpus grows — measured by the r10 sampled sf1
    * oracle, where recall@5 fell to 0.12 (ADC) / 0.32 (rescored) at 10×
    * the corpus with nprobe=6. The stable knob is the probed share:
    * nprobe = ceil(shareMille/1000 × nlist) — exactly 6 on the 500-vector
    * oracle corpus (20 lists × 0.3), so the sf0.01 oracle is unchanged,
    * and the probed fraction (hence recall-vs-cost) holds at ANY scale.
    * Candidates per query stay share × n: linear, partition-pruned. */
  def scaledNprobe(nVecs: Long, coarseStep: Int = 25, shareMille: Long = 300): Int = {
    val nlist = math.max(1L, nVecs / coarseStep)
    math.max(1L, (nlist * shareMille + 999L) / 1000L).toInt
  }

  /** Scale-stable rescore depth for two-stage serving: the exact-cosine
    * rescore pass must cover a fixed FRACTION of the ADC-scanned
    * candidates, not a fixed count — depth 20 over the oracle corpus's
    * ~150 probed candidates is ~13%; holding the count at 20 while the
    * probed set grows 40× starves the rescorer (measured: recall@5 0.48
    * at sf1 with depth=20 vs the 0.5 floor). depth = max(20, nlist)
    * keeps the fraction (nlist = probed-share × n / coarseStep × ...):
    * exactly 20 on the 500-vector oracle corpus, so the sf0.01 oracle's
    * `rn <= 20` is unchanged. */
  def scaledDepth(nVecs: Long, coarseStep: Int = 25): Int =
    math.max(20L, nVecs / coarseStep).toInt

  /** IVF-PQ: the composed production shape — IVF coarse lists prune the
    * candidate set, PQ ADC scores only the survivors. At 100 TB the scan
    * touches codes for ~nprobe/|lists| of the corpus instead of every raw
    * vector — the two knobs (nprobe for recall, m×k for precision) move
    * independently.
    *
    * This operator and the stored [[PqIndex]] call the same rule
    * functions, so a freshly built index answers exactly what this
    * returns: the training sample ([[resolveTrain]]), TRAINED coarse
    * centroids ([[Clustering.trainedCentroidsFromQuantized]]), list
    * assignment ([[Clustering.assignNearest]]), the probe
    * ([[Clustering.probeLists]]), subspace training and encoding
    * ([[trainAndCodesQ]], [[encode]]), the query distance tables
    * ([[queryTables]]) and the ranking ([[rankPacked]]).
    *
    * Training defaults to a BOUNDED sample above [[TrainSampleTarget]]
    * vectors (see there: the measured O(n²)→linear fix); the full corpus is
    * always encoded and assigned under the trained quantizer. `trainOn`
    * pins an explicit training frame; `fullTrain = true` opts back into
    * corpus-sized training. Probe widths should derive from the TRAINED
    * size: `scaledNprobe(autoTrainN(n))`. */
  def ivfPqTopK(emb: DataFrame, queries: DataFrame, k: Int,
                coarseStep: Int = 25, nprobe: Int = 6,
                m: Int = 32, subDim: Int = 2, centroidStep: Int = 40,
                idCol: String = "vec_id", vecCol: String = "embedding",
                trainOn: Option[DataFrame] = None, fullTrain: Boolean = false,
                trainSampleTarget: Long = TrainSampleTarget): DataFrame = {
    // Quantize the corpus ONCE: coarse training, list assignment, and the
    // subspace-PQ training all read this checkpoint — at 100 TB the
    // composed index build is one source scan plus checkpoint passes, not
    // three independent scans of the raw vectors.
    val quantized = emb
      .select(col(idCol).as("vec_id"), Clustering.quantize(col(vecCol)).as("qi"))
      .localCheckpoint(true)
    val quantizedTrain =
      resolveTrain(quantized, trainOn, fullTrain, trainSampleTarget, idCol, vecCol)
    val cent = Clustering.trainedCentroidsFromQuantized(quantizedTrain, coarseStep)
    val assigned = Clustering.assignNearest(Clustering.withScoring(quantized), cent, cosine = true)
      .select(col("vec_id"), col("cid").as("centroid_id"))
    val probes = Clustering.probeLists(
        queries.select(col(idCol).as("query_id"), Clustering.quantize(col(vecCol)).as("qi")),
        cent, nprobe)
      .select(col("query_id"), col("centroid_id"))
    val cand = probes.join(assigned, "centroid_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    val (cents1, codesTrain) = trainAndCodesQ(quantizedTrain, m, subDim, centroidStep)
    // encode the FULL corpus under the trained codebooks (identical to the
    // training codes when training was full — same slices, same rule)
    val codes =
      if (quantizedTrain eq quantized) codesTrain
      else encode(quantized, cents1, m, subDim)
    val pairs = cand.join(packCodes(codes), "vec_id")
      .join(broadcast(queryTables(queryRows(quantized, queries, idCol), cents1, m, subDim)),
        "query_id")
    // materialize the result before releasing the training checkpoints
    val out = rankPacked(pairs, m, k).localCheckpoint(true)
    Seq(cent, cents1, codesTrain, quantizedTrain, quantized)
      .foreach(Checkpoints.releaseCheckpoint)
    out
  }

  /** PQ codes + per-subspace squared reconstruction error, emitted as a
    * whole micro²-unit integer (~1e10 ≪ 2^53 — exact in both engines;
    * decimal-rounding a double at that magnitude is NOT cross-engine
    * stable, see [[adcTopK]]). */
  def pqCodes(emb: DataFrame, m: Int = 32, subDim: Int = 2,
              centroidStep: Int = 40,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqAssign(emb, m, subDim, centroidStep, idCol, vecCol)
      .select(col("vec_id"), col("sub").cast("long").as("sub"),
        col("cid").as("code"), round(col("dist"), 0).cast("long").as("err2"))
}
