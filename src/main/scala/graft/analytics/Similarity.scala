package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k (exact; per-pair math is a codegen'd
  * left fold, bitwise-reproducible by the DuckDB oracle). Scale path:
  * random-hyperplane LSH bucketing — sign-bit signatures put near vectors in
  * the same bucket, pruning the cross join to same-bucket candidates.
  *
  * 100 TB design notes:
  *   - top-k broadcasts the (small) query set and streams the corpus; the
  *     scored pairs are reduced MAP-SIDE by a bounded-heap aggregate
  *     ([[graft.functions.TopKByScore]]) so the only shuffle carries one
  *     serialized ≤k heap per (query × map-partition) — never the corpus.
  *     (A `row_number() <= k` window gets a similar two-stage plan from
  *     Spark's InferWindowGroupLimit, but only while k ≤
  *     spark.sql.window.group.limit.threshold, and its partial stage still
  *     fully sorts each partition; the heap is config-independent and
  *     O(n log k) — see TopKPlanSpec for the measured shuffle row counts.)
  *   - the hyperplane table is a deterministic constant (derived from sha256
  *     parity, so the oracle reproduces it exactly) materialized at plan
  *     time as a literal — no side files, no driver→executor closure state.
  */
object Similarity {

  /** Cosine similarity of two double arrays as a sequential left fold —
    * identical evaluation order to the oracle's `list_reduce`, so results
    * match bit-for-bit. */
  def cosine(a: Column, b: Column): Column = {
    val dot = fsum(zip_with(a, b, (x, y) => x * y))
    dot / (norm(a) * norm(b))
  }

  private def fsum(arr: Column): Column = aggregate(arr, lit(0.0), (acc, v) => acc + v)

  /** L2 norm as a sequential fold (oracle-parity). */
  def norm(a: Column): Column = sqrt(fsum(transform(a, x => x * x)))

  /** Project `emb` to (id, v: array<double>, norm) — norms computed ONCE per
    * vector instead of per pair (at N² pair scale the norm recompute is 2/3
    * of the flops). The identical fold yields the identical double, so
    * hoisting it cannot change results. */
  private[analytics] def withNorm(emb: DataFrame, idCol: String, vecCol: String,
                                  idAs: String, vAs: String, nAs: String): DataFrame = {
    emb.select(col(idCol).as(idAs), col(vecCol).cast("array<double>").as(vAs))
      .withColumn(nAs, norm(col(vAs)))
  }

  /** Pairwise cosine from pre-normed sides via the native codegen'd dot
    * product ([[graft.functions.ArrayDotProduct]]). */
  private[analytics] def cosPre(va: Column, vb: Column, na: Column, nb: Column): Column =
    graft.functions.GraftFunctions.arrayDot(va, vb) / (na * nb)

  /** Exact brute-force top-k neighbors for each query vector.
    * Output: (query_id, rank, vec_id, cos). Self-pairs excluded.
    *
    * Two-stage top-k: the partial ObjectHashAggregate keeps a k-bounded heap
    * per query per map partition, so only k·|queries| rows per partition
    * reach the exchange regardless of corpus size; the final merge ranks
    * k·P candidates per query, never the corpus. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = withNorm(corpus, idCol, vecCol, "vec_id", "v", "nv")
    val q = withNorm(queries, idCol, vecCol, "query_id", "qv", "nq")
    c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(cosPre(col("qv"), col("v"), col("nq"), col("nv")), 6))
      .groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions.topKByScore(col("cos"), col("vec_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col.id").as("vec_id"), col("col.score").as("cos"))
  }

  /** Deterministic ±1 hyperplane weights: w(plane, dim) = +1 iff the first
    * hex byte of sha256("plane_dim") is even. Computed driver-side once and
    * embedded as a literal lookup; the oracle recomputes the identical
    * expression inline. */
  def planeWeights(planes: Int, dims: Int): Array[Array[Double]] =
    Array.tabulate(planes, dims) { (p, d) =>
      val hex = org.apache.commons.codec.digest.DigestUtils.sha256Hex(s"${p}_${d}")
      if (Integer.parseInt(hex.substring(0, 2), 16) % 2 == 0) 1.0 else -1.0
    }

  /** Random-hyperplane LSH bucket id (0..2^planes-1): bit p set iff the
    * projection of the vector on plane p is positive. */
  def lshBucket(vec: Column, planes: Int, dims: Int): Column =
    lshBucketAt(vec, 0, planes, dims)

  /** Johnson–Lindenstrauss random projection to `k` dims: the SAME
    * deterministic sha-derived ±1 plane family as the LSH bucketing, but
    * emitting the projected VALUES instead of their signs — the cheap
    * dimensionality reduction that shrinks a d-dim corpus k/d× for
    * downstream clustering or ANN pre-filtering while preserving pairwise
    * distances within the JL bound. One row per (vec, plane); narrow
    * per-row left-fold (fixed order, oracle-exact), zero shuffle at any
    * corpus size; doubles rounded at the output boundary only. */
  def randomProject(emb: DataFrame, k: Int = 16, dims: Int = 64,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val w = planeWeights(k, dims)
    val vecD = transform(col(vecCol), _.cast("double"))
    val projs = array((0 until k).map { p =>
      round(aggregate(
        zip_with(vecD, array(w(p).map(lit): _*), (x, c) => x * c),
        lit(0.0), (acc, v) => acc + v), 4)
    }: _*)
    val guarded = when(size(col(vecCol)) === dims, projs)
      .otherwise(raise_error(concat(
        lit(s"randomProject: expected $dims-dim vector, got "),
        size(col(vecCol)).cast("string"))))
    emb.select(col(idCol).as("vec_id"), posexplode(guarded))
      .select(col("vec_id"), col("pos").cast("long").as("p"), col("col").as("proj"))
  }

  /** Bucket from planes [firstPlane, firstPlane+planes) of the global
    * deterministic plane family — the building block for OR-amplified
    * (banded-repetition) LSH, where each repetition uses a disjoint plane
    * slice. */
  def lshBucketAt(vec: Column, firstPlane: Int, planes: Int, dims: Int): Column = {
    val w = planeWeights(firstPlane + planes, dims)
    val bucket = (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(vec, array(w(firstPlane + p).map(lit): _*), (x, c) => x * c),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(0L)
    }.reduce(_ + _)
    // zip_with null-pads on length mismatch, which would silently collapse
    // every vector into bucket 0 — make the contract violation loud instead
    when(size(vec) === dims, bucket)
      .otherwise(raise_error(concat(
        lit(s"lshBucket: expected $dims-dim vector, got "), size(vec).cast("string"))))
  }

  /** IVF (inverted-file) approximate top-k — the second scale path beside
    * hyperplane LSH. Coarse centroids are TRAINED ([[Clustering
    * .trainedCentroids]]: seeded quantized-integer Lloyd, one exact-int
    * recompute — deterministic, so the operator stays oracle-checkable),
    * vectors are assigned to their highest-coarse-cosine centroid (inverted
    * lists), and each query searches only its `nprobe` nearest centroids'
    * lists. Final candidate scoring is exact cosine on the raw vectors.
    *
    * The coarse rules are the ones every IVF path calls: the training
    * sample of [[ProductQuantization.resolveTrain]] (bounded above
    * [[ProductQuantization.TrainSampleTarget]] vectors, full training at
    * or below it), list assignment by [[Clustering.assignNearest]] and the
    * probe by [[Clustering.probeLists]].
    *
    * At 100 TB: centroids broadcast (they are the index's only global
    * structure — training them costs two extra corpus passes ONCE at index
    * build); assignment is one streaming pass over the corpus; the
    * candidate search shuffles on `centroid_id` — i.e. the inverted lists
    * are the co-location unit, and recall is tuned by `nprobe` without
    * touching the stored lists. Trained means track the data distribution,
    * so lists stay balanced under skew — the recall-per-probe win over an
    * every-Nth pick (measured at sf0.01: see SCALING.md). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              centroidStep: Int, nprobe: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val quantized = corpus.select(col(idCol).as("vec_id"), Clustering.quantize(col(vecCol)).as("qi"))
    val train = ProductQuantization.resolveTrain(quantized)
    val cent = Clustering.trainedCentroidsFromQuantized(train, centroidStep)
    if (!(train eq quantized)) Checkpoints.releaseCheckpoint(train)

    // inverted lists: every vector → its highest-coarse-cosine centroid;
    // raw v/nv stay on the projected row for the exact final scoring
    val assigned = Clustering.assignNearest(Clustering.withScoring(
        withNorm(corpus, idCol, vecCol, "vec_id", "v", "nv")
          .withColumn("qi", Clustering.quantize(col("v")))), cent, cosine = true)
      .select(col("vec_id"), col("v"), col("nv"), col("cid").as("centroid_id"))
    // probe lists: every query → its nprobe nearest centroids
    val probes = Clustering.probeLists(
        withNorm(queries, idCol, vecCol, "query_id", "qv", "nq")
          .withColumn("qi", Clustering.quantize(col("qv"))), cent, nprobe)
      .select(col("query_id"), col("qv"), col("nq"), col("centroid_id"))

    // final ranking through the bounded heap (same two-stage shape as
    // bruteForceTopK): only ≤k candidates per (query × partition) shuffle
    probes.join(assigned, "centroid_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(cosPre(col("qv"), col("v"), col("nq"), col("nv")), 6))
      .groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions.topKByScore(col("cos"), col("vec_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col.id").as("vec_id"), col("col.score").as("cos"))
  }

  /** Exact-cosine rescoring of a (query_id, vec_id) candidate frame: each
    * candidate's raw vector is fetched from `corpus` (the candidate ids
    * broadcast — a pruned fetch, no corpus shuffle), scored against its
    * query's raw vector, and the top `k` per query by exact cosine (ties →
    * lowest vec_id) come back as (query_id, rank, vec_id, cos). */
  private[analytics] def rescoreTopK(cand: DataFrame, corpus: DataFrame, queries: DataFrame,
                                     k: Int, idCol: String, vecCol: String): DataFrame = {
    val c = withNorm(corpus, idCol, vecCol, "vec_id", "v", "nv")
    val q = withNorm(queries, idCol, vecCol, "query_id", "qv", "nqv")
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    c.join(broadcast(cand), "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("cos", round(cosPre(col("qv"), col("v"), col("nqv"), col("nv")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("cos"))
  }

  /** LSH-pruned near-dup pairs: only same-bucket pairs are scored; exact
    * cosine then filters to `minCos`. Same output contract as
    * [[Dedup.embeddingNearDupPairs]] minus cross-bucket misses (recall is
    * governed by `planes`). */
  def lshBucketPairs(emb: DataFrame, minCos: Double, planes: Int = 12, dims: Int = 64,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    lshBucketPairsBanded(emb, minCos, reps = 1, planes = planes, dims = dims,
      idCol = idCol, vecCol = vecCol)

  /** OR-amplified hyperplane LSH: `reps` independent repetitions, each
    * bucketing on a disjoint `planes`-plane slice of the deterministic
    * plane family; a pair is a candidate if it collides in ANY repetition.
    * Per-pair recall goes from (1−θ/π)^planes to
    * 1−(1−(1−θ/π)^planes)^reps — the standard recall knob.
    *
    * Shuffle economics: the bucket join and the candidate dedup move only
    * (rep, bucket, id) / (id, id) rows — the vectors re-join AFTER the
    * distinct, so OR-amplification costs reps× the id-level index, never
    * reps× vector payloads or comparisons. Same output contract as
    * [[Dedup.embeddingNearDupPairsBlocked]]; the single-repetition form
    * ([[lshBucketPairs]]) is `reps = 1` of this plan. */
  def lshBucketPairsBanded(emb: DataFrame, minCos: Double, reps: Int = 3,
                           planes: Int = 4, dims: Int = 64,
                           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // normalize ONCE (r17): `e` feeds the bucket index and both verify
    // sides — unmaterialized, each branch re-ran the scan + norm pass. The
    // result is eagerly materialized before `e` is released.
    val e = withNorm(emb, idCol, vecCol, "vec_id", "v", "n").localCheckpoint(true)
    val bucketed = e.select(col("vec_id"),
        posexplode(array((0 until reps).map(r =>
          lshBucketAt(col("v"), r * planes, planes, dims)): _*)))
      .withColumnRenamed("pos", "rep").withColumnRenamed("col", "bucket")
    val cand = bucketed.as("x").join(bucketed.as("y"),
        col("x.rep") === col("y.rep") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
    val out = cand
      .join(e.select(col("vec_id").as("id_a"), col("v").as("v_a"), col("n").as("n_a")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("v").as("v_b"), col("n").as("n_b")), "id_b")
      .withColumn("cos", round(cosPre(col("v_a"), col("v_b"), col("n_a"), col("n_b")), 6))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
      .localCheckpoint(true)
    Checkpoints.releaseCheckpoint(e)
    out
  }

  /** Maximal-marginal-relevance diversified top-k: greedy selection where
    * round `s` keeps the candidate maximizing
    * `lamNum·cos(q,c) − lamCompl·max(sim(c, already-selected))` — the
    * standard retrieval re-rank that trades raw relevance for novelty so k
    * near-duplicate passages don't fill the whole result.
    *
    * Distribution shape: the CORPUS-scale work is exactly one
    * [[bruteForceTopK]] candidate pass (at serving scale, substitute the
    * IVF-PQ index probe — any (query_id, vec_id, cos) candidate frame
    * works) plus one broadcast-semi-join fetch of the candidates' raw
    * vectors; everything after operates on |queries|·depth rows. The
    * greedy loop is unrolled at PLAN-construction time into k static
    * stages (anti-join the selected set, max-sim aggregate against it,
    * argmax) — no driver-side data loop, no collect.
    *
    * Determinism: cosines are quantized to integer micro-units after the
    * shared round-6 boundary, scores are pure BIGINT arithmetic
    * (λ = lamNum/(lamNum+lamCompl) without ever forming a double), and
    * every argmax breaks ties by lowest vec_id — so the SQL-unrolled
    * DuckDB oracle reproduces the selection sequence exactly.
    * Output: (query_id, step 1..k, vec_id, mmr_score). */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, k: Int = 4, depth: Int = 12,
              lamNum: Long = 7L, lamCompl: Long = 3L,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && depth >= k, "need depth >= k >= 1")
    val cand = bruteForceTopK(corpus, queries, depth, idCol, vecCol)
      .withColumn("cosq", round(col("cos") * 1e6).cast("long"))
      .select(col("query_id"), col("vec_id"), col("cosq"))
      .localCheckpoint(true) // tiny (|queries|·depth); cut the corpus-scan lineage
    val cv = withNorm(corpus, idCol, vecCol, "vec_id", "v", "nv")
      .join(broadcast(cand.select(col("query_id"), col("vec_id"))), "vec_id")
    val pa = cv.select(col("query_id"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nv").as("na"))
    val pb = cv.select(col("query_id"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nv").as("nb"))
    val pairs = pa.join(pb, Seq("query_id"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("sim",
        round(round(cosPre(col("va"), col("vb"), col("na"), col("nb")), 6) * 1e6).cast("long"))
      .select(col("query_id"), col("id_a"), col("id_b"), col("sim"))
      .localCheckpoint(true) // |queries|·depth² rows
    // argmax per query with lowest-vec_id tie break, as one max(struct) agg
    def pick(scored: DataFrame): DataFrame =
      scored.groupBy(col("query_id"))
        .agg(max(struct(col("score"), (-col("vec_id")).as("ni"))).as("m"))
        .select(col("query_id"), (-col("m.ni")).as("vec_id"),
          col("m.score").as("mmr_score"))
    var selected = pick(cand.withColumn("score", col("cosq") * lamNum))
      .withColumn("step", lit(1L))
    for (s <- 2 to k) {
      val rem = cand.join(selected.select(col("query_id"), col("vec_id")),
        Seq("query_id", "vec_id"), "left_anti")
      val ms = pairs
        .join(selected.select(col("query_id"), col("vec_id").as("id_b")),
          Seq("query_id", "id_b"))
        .groupBy(col("query_id"), col("id_a").as("vec_id"))
        .agg(max(col("sim")).as("maxsel"))
      val scored = rem.join(ms, Seq("query_id", "vec_id"))
        .withColumn("score", col("cosq") * lamNum - col("maxsel") * lamCompl)
      // checkpoint the ≤|queries|·s-row frame each round: `selected` feeds
      // THREE legs of the next step (anti-join, sim join, union), so an
      // un-checkpointed unroll re-embeds every earlier step's subtree per
      // leg — plan size (and repeated tiny-join work) grows exponentially
      // in k (measured: 212 exchanges at k=4). Eager tiny barriers keep
      // the unrolled plan linear in k.
      selected = selected.unionByName(
        pick(scored).withColumn("step", lit(s.toLong)))
        .localCheckpoint(true)
    }
    selected.select(col("query_id"), col("step"), col("vec_id"), col("mmr_score"))
  }
}
