package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBridge
import graft.functions.{CentroidTable, GraftFunctions, NearestCentroidCos, NearestCentroidEuclid}

/** Distributed k-means (Lloyd iterations) over the embedding corpus — the
  * classic Spark clustering workload, shaped for 100 TB:
  *
  *   - centroids BROADCAST every round (they are the only global state,
  *     k × dims doubles);
  *   - assignment is one compiled per-row argmin against the broadcast
  *     centroid table ([[assignNearest]]): corpus rows in and out, no
  *     exchange;
  *   - centroid recomputation is a per-dimension sum (posexplode →
  *     groupBy(cid, pos) with map-side combine → k·dims partials per
  *     partition), never a collect;
  *   - distances go through the codegen'd [[graft.functions.ArrayDotProduct]]
  *     as d² = |a|² + |b|² − 2a·b with norms computed once per side.
  *
  * Cross-engine determinism: embeddings are QUANTIZED to integer micro-units
  * up front (`round(x·1e6)` per component). Round-1 distances are then exact
  * integers in doubles (|q|² ≤ dims·(2e6)² ≪ 2^53), and round-2 centroids
  * are `exact-int-sum / count` divisions — identical IEEE ops on identical
  * inputs in any engine. The left-to-right dot-product fold matches DuckDB
  * `list_reduce` exactly (same contract as the cosine oracle).
  *
  * Seeding is deterministic: vectors with `id % centroidStep == 0` are the
  * initial centroids (same convention as [[Similarity.ivfTopK]]).
  *
  * Materialization: the [[Search]] rule — each public operator releases
  * its own intermediate checkpoints and returns an eager, lineage-free
  * `localCheckpoint`.
  */
object Clustering {

  /** Integer micro-unit quantization of a float/double vector. */
  def quantize(vec: Column): Column =
    transform(vec.cast("array<double>"), x => round(x * 1e6).cast("long"))

  private def sqNorm(v: Column): Column = GraftFunctions.arrayDot(v, v)

  /** The quantized scoring projection: adds `qd` (the micro-unit `qi` as
    * doubles — exact integers, identical in any engine) and `nqd`, its
    * squared norm, to `df`'s columns. Every centroid assignment and probe
    * of the vector layer scores a vector through these two columns. */
  private[analytics] def withScoring(df: DataFrame): DataFrame =
    df.withColumn("qd", transform(col("qi"), _.cast("double")))
      .withColumn("nqd", sqNorm(col("qd")))

  /** Coarse score of a quantized vector against a centroid mean: cosine in
    * integer-micro space — `round(dot(qd, m) / (sqrt(nq) · sqrt(nm)), 6)`
    * with the exact parenthesization the oracle mirrors. */
  private[analytics] def coarseCos(qd: Column, m: Column, nq: Column, nm: Column): Column =
    round(GraftFunctions.arrayDot(qd, m) / (sqrt(nq) * sqrt(nm)), 6)

  /** Nearest-centroid assignment, the one rule behind every Lloyd round,
    * every IVF inverted list and every [[PqIndex]] build and append: adds
    * `cid`, the best centroid of `cents` (cid, m, nm) for each row of
    * `scored` (which carries [[withScoring]]'s columns), and `score`, its
    * score, to the caller's columns. `cosine` picks the metric: highest
    * [[coarseCos]], else lowest squared Euclidean distance. Ties keep the
    * lowest cid.
    *
    * The centroid table is collected to the driver (k rows — the model
    * state, bounded by construction) and broadcast into one compiled
    * per-row argmax ([[graft.functions.NearestCentroidCos]] /
    * [[graft.functions.NearestCentroidEuclid]]). It replaced a crossJoin of
    * the broadcast centroids collapsed through a max_by/min_by hash
    * aggregate, which materialized rows × k scored rows; scores, ties and
    * degenerate-row semantics are that aggregate's exactly. An empty table
    * is the aggregate's empty result, decided driver-side: a runtime
    * isNotNull filter would be pushed below the projection by alias
    * substitution and evaluate the argmax twice per row (guide §4.4), and
    * a non-empty table never returns null. */
  private[analytics] def assignNearest(scored: DataFrame, cents: DataFrame,
                                       cosine: Boolean): DataFrame = {
    val table = CentroidTable.collect(cents)
    if (table.isEmpty)
      return scored.filter(lit(false))
        .withColumn("cid", lit(0L)).withColumn("score", lit(null).cast("double"))
    val bc = scored.sparkSession.sparkContext.broadcast(table)
    val (qd, nqd) = (GraftBridge.expression(col("qd")), GraftBridge.expression(col("nqd")))
    scored
      .withColumn("__best", GraftBridge.column(
        if (cosine) NearestCentroidCos(qd, nqd, bc) else NearestCentroidEuclid(qd, nqd, bc)))
      .withColumn("cid", col("__best.cid"))
      .withColumn("score", col("__best.score"))
      .drop("__best")
  }

  /** The nprobe probe, the one rule behind every IVF query path: each row
    * of `queries` (query_id, qi, ...) meets the broadcast centroids `cents`
    * (cid, m, nm) in a crossJoin, is scored by [[coarseCos]], and keeps
    * the `nprobe` best (ties → lowest id) as `centroid_id`, one row per
    * probed list; callers select what they keep of their own columns.
    * Queries are few, so the window over |queries| × k rows is tiny. */
  private[analytics] def probeLists(queries: DataFrame, cents: DataFrame,
                                    nprobe: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("centroid_id"))
    withScoring(queries)
      .crossJoin(broadcast(cents.select(col("cid").as("centroid_id"),
        col("m").as("cm"), col("nm").as("cnm"))))
      .withColumn("ccos", coarseCos(col("qd"), col("cm"), col("nqd"), col("cnm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nprobe)
  }

  /** Per-cluster component means over (cid, qi) member rows — exact
    * integer sums, one IEEE division per component, squared norm attached.
    * The shared centroid-mean block of [[recompute]] and
    * [[memberDistances]] (extracted r16 — the two copies had already
    * drifted once in shape). Output: (cid, m: array<double>, nm). */
  private def centroidMeans(members: DataFrame): DataFrame = {
    // ONE pass over the members (r17): per-(cid, pos) component sums and
    // the per-cid member count come out of a single posexplode_outer
    // aggregate. The old sums/counts PAIR forked `members`, and under AQE
    // the two branches ran as concurrent stage-jobs, each re-executing the
    // upstream (for [[recompute]] callers: the whole crossJoin argmax —
    // measured as twin jobs dominating every Lloyd round). Exactness of n:
    // posexplode_outer gives every member exactly one row at pos 0
    // (non-empty vector) or pos null (empty/null vector), so summing c over
    // {pos is null, pos = 0} counts each member once — identical to the old
    // count(*), including degenerate empty-vector members. Null-pos rows
    // are excluded from ps (collect_list skips null entries); cids whose
    // every member is empty are dropped, as the old inner join did.
    val byPos = members.select(col("cid"), posexplode_outer(col("qi")).as(Seq("pos", "v")))
      .groupBy("cid", "pos").agg(sum("v").as("s"), count(lit(1)).as("c"))
    byPos.groupBy("cid")
      .agg(collect_list(when(col("pos").isNotNull, struct(col("pos"), col("s")))).as("ps"),
        sum(when(col("pos").isNull || col("pos") === 0, col("c")).otherwise(0L)).as("n"))
      .where(size(col("ps")) > 0)
      .select(col("cid"),
        transform(array_sort(col("ps")), x => x.getField("s").cast("double") / col("n")).as("m"))
      .withColumn("nm", sqNorm(col("m")))
  }

  /** Recompute centroids as per-dimension means of the quantized vectors
    * (exact integer sums; one IEEE division per component). The assignment
    * frame carries `qi` itself since r18 (it is a projection of the corpus,
    * not an aggregate), so the old join back to `quantized` is gone. */
  private def recompute(assigned: DataFrame): DataFrame =
    centroidMeans(assigned.select(col("cid"), col("qi")))

  /** Fixed-round Lloyd assignment joined with the scoring vectors:
    * `(vec_id, cid, qd, nqd, qi)` — the shared core under [[kmeansStats]] and
    * [[semdedupKeepers]]. `rounds` assignments run in total, with
    * `rounds − 1` centroid recomputations between them.
    *
    * The result is an eager checkpoint, materialized before the
    * corpus-sized intermediate checkpoint is released; each caller in this
    * module releases it once its own result is checkpointed. */
  private[analytics] def kmeansAssignments(emb: DataFrame, centroidStep: Int,
                                           rounds: Int = 2, idCol: String = "vec_id",
                                           vecCol: String = "embedding"): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    // ONE checkpointed scoring frame carrying qi alongside (qd, nqd): the
    // assignment is a projection over it, so neither the final output nor
    // the per-round recompute needs a join back to a quantized frame
    val corpus = withScoring(
        emb.select(col(idCol).as("vec_id"), quantize(col(vecCol)).as("qi")))
      .localCheckpoint(true)
    var assigned = assignNearest(corpus, seeds(corpus, centroidStep), cosine = false)
    var r = 1
    while (r < rounds) {
      // per-round centroid means come back to the driver as the next
      // round's broadcast table (k rows — the model-to-driver pattern)
      assigned = assignNearest(corpus, recompute(assigned), cosine = false)
      r += 1
    }
    // materialized while corpus is live (the assignment projection reads
    // it), then the intermediate checkpoint is released
    val out = assigned
      .select(col("vec_id"), col("cid"), col("qd"), col("nqd"), col("qi"))
      .localCheckpoint(true)
    Checkpoints.releaseCheckpoint(corpus)
    out
  }

  /** The deterministic seed centroids of a scoring frame: its vectors with
    * `vec_id % centroidStep == 0`, as (cid, m, nm). */
  private def seeds(corpus: DataFrame, centroidStep: Int): DataFrame =
    corpus.filter(col("vec_id") % centroidStep === 0)
      .select(col("vec_id").as("cid"), col("qd").as("m"), col("nqd").as("nm"))

  /** TRAINED centroids: the spherical-k-means means after `rounds − 1`
    * exact-integer recomputations (default two — measured on sf0.01 ground
    * truth, recall@10 rises monotonically with recomputes while candidate
    * cost is flat; see IvfRecallSpec / SCALING.md), seeded by `vec_id %
    * centroidStep == 0`. Output: (cid, m: array<double>, nm: squared norm).
    *
    * This is the coarse quantizer for [[Similarity.ivfTopK]] and
    * [[ProductQuantization.ivfPqTopK]] — trained means instead of an
    * every-Nth corpus pick, which costs recall at real scale (untrained
    * centroids don't track the data distribution, so inverted lists are
    * unbalanced and nprobe misses grow with skew). Training is spherical:
    * each round assigns by the same cosine [[assignNearest]] that serves
    * IVF lists, so the trained lists are balanced under the metric that
    * probes them (a Euclidean-trained/cosine-served mismatch measurably
    * costs recall — see IvfRecallSpec).
    *
    * The returned frame is k-row-small: callers broadcast it into
    * assignment / probe scoring without re-running the corpus-sized
    * training passes. */
  def trainedCentroids(emb: DataFrame, centroidStep: Int, rounds: Int = 3,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    trainedCentroidsFromQuantized(
      emb.select(col(idCol).as("vec_id"), quantize(col(vecCol)).as("qi")), centroidStep, rounds)
  }

  /** [[trainedCentroids]] from an ALREADY-QUANTIZED (vec_id, qi) frame —
    * lets a composed index build (IVF-PQ) quantize the corpus ONCE and
    * share the checkpointed frame between coarse training, list
    * assignment, and subspace-PQ training instead of re-scanning the
    * source per stage. `quantized` is read once, by this operator's own
    * checkpoint of the scoring projection, which it releases. */
  def trainedCentroidsFromQuantized(quantized: DataFrame, centroidStep: Int,
                                    rounds: Int = 3): DataFrame = {
    require(rounds >= 2, s"a trained quantizer needs >= 1 recompute (rounds >= 2), got $rounds")
    // qi rides along so each round's recompute reads the assignment row
    // directly (see [[recompute]]); one checkpoint instead of a join per round
    val corpus = withScoring(quantized.select(col("vec_id"), col("qi"))).localCheckpoint(true)
    var cents = recompute(assignNearest(corpus, seeds(corpus, centroidStep), cosine = true))
    var r = 2
    while (r < rounds) {
      cents = recompute(assignNearest(corpus, cents, cosine = true))
      r += 1
    }
    val out = cents.localCheckpoint(true)
    Checkpoints.releaseCheckpoint(corpus)
    out
  }

  /** Per-cluster stats after the final assignment: member count, min member
    * id, and the (exact-arithmetic) mean of the first quantized component. */
  def kmeansStats(emb: DataFrame, centroidStep: Int, rounds: Int = 2,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val asg = kmeansAssignments(emb, centroidStep, rounds, idCol, vecCol)
    val out = asg
      .groupBy(col("cid").as("centroid_id"))
      .agg(count(lit(1)).as("n_members"),
        min(col("vec_id")).as("min_member"),
        round(sum(element_at(col("qi"), 1)).cast("double") / count(lit(1)), 4).as("mean_q0"))
      .localCheckpoint(true)
    Checkpoints.releaseCheckpoint(asg)
    out
  }

  /** Embedding-space OUTLIER filter — the noise-pruning gate of an
    * embedding-based curation pipeline (mislabeled, off-distribution, or
    * corrupt documents sit far from every cluster of the embedding space;
    * SemDeDup prunes what is too CLOSE, this prunes what is too FAR).
    *
    * After the final Lloyd assignment, per-cluster means are recomputed
    * from the assigned members (exact integer sums / count — one IEEE
    * division per component), each member's squared distance to its OWN
    * cluster mean is quantized to an integer (`round(d²)` of micro-unit
    * arithmetic, the [[ProductQuantization]] err2 convention), and a row is
    * flagged when d² exceeds `factor ×` the cluster's mean d² (cluster
    * means are exact-int-sum / count, so the comparison is one
    * deterministic IEEE multiply + compare in any engine). Singleton
    * clusters have mean d² = their only member's d², so they never flag.
    *
    * Shape at 100 TB: the corpus makes ONE narrow pass against two
    * broadcast k-row tables (recomputed means, per-cluster distance
    * stats); the only corpus-sized exchanges are the Lloyd rounds
    * themselves.
    *
    * Output: (vec_id, cid, d2, is_outlier). */
  /** Squared distance of every member to its FINAL cluster's recomputed
    * mean (exact int sums / n, d² rounded to BIGINT — the err2
    * convention): the shared core of [[clusterOutliers]] and
    * [[clusterPrototypes]]. Input is the checkpointed assignment frame from
    * [[kmeansAssignments]]; centroids broadcast back, so the only shuffle
    * is the (cid, pos) component aggregate. */
  private def memberDistances(asg: DataFrame): DataFrame = {
    val cents = centroidMeans(asg)
    asg.join(broadcast(cents), "cid")
      .withColumn("d2",
        round(col("nqd") + col("nm") -
          lit(2.0) * GraftFunctions.arrayDot(col("qd"), col("m"))).cast("long"))
      .select(col("vec_id"), col("cid"), col("d2"))
  }

  def clusterOutliers(emb: DataFrame, centroidStep: Int, rounds: Int = 2,
                      factor: Double = 4.0,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val asg = kmeansAssignments(emb, centroidStep, rounds, idCol, vecCol)
    // d feeds BOTH the per-cluster stats and the verdict join — checkpoint
    // it so the centroid aggregate + broadcast join run once, not per
    // branch (r16 review sweep)
    val d = memberDistances(asg).localCheckpoint(true)
    val stats = d.groupBy("cid").agg(sum(col("d2")).as("sd2"), count(lit(1)).as("n"))
    val out = d.join(broadcast(stats), "cid")
      .withColumn("is_outlier",
        col("d2").cast("double") > lit(factor) * (col("sd2").cast("double") / col("n")))
      .select(col("vec_id"), col("cid"), col("d2"), col("is_outlier"))
      .localCheckpoint(true)
    Checkpoints.releaseCheckpoint(d)
    Checkpoints.releaseCheckpoint(asg)
    out
  }

  /** D4-style prototypicality pruning (Tirumala et al., "D4: Improving
    * LLM Pretraining via Document De-Duplication and Diversification"):
    * after semantic dedup, the examples CLOSEST to their cluster centroid
    * are the most prototypical — templated, redundant with the cluster
    * center — and dropping a fraction of them diversifies the corpus.
    * Per cluster, members rank by ascending d² to the final recomputed
    * centroid (ties → lowest vec_id) and the first
    * `floor(n·dropNum/dropDen)` are pruned; `keep` carries the verdict,
    * rank and d² ride along as provenance. The integer rational cap
    * (default 1/5 = the paper's ballpark) keeps the cut exact
    * cross-engine — no float fraction ever compares.
    *
    * Shape at 100 TB: distances come from [[memberDistances]] (centroids
    * broadcast; one component aggregate); the rank window partitions by
    * cluster — cluster-sized sorts (mean size = centroidStep, corpus-
    * independent), never a global one. Complements [[clusterOutliers]]
    * (FAR members = noise) on the same d² frame: the two gates trim both
    * tails of the cluster-distance distribution. */
  def clusterPrototypes(emb: DataFrame, centroidStep: Int, rounds: Int = 2,
                        dropNum: Int = 1, dropDen: Int = 5,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dropNum >= 0 && dropDen >= 1 && dropNum < dropDen,
      s"drop fraction must be in [0,1): got $dropNum/$dropDen")
    val asg = kmeansAssignments(emb, centroidStep, rounds, idCol, vecCol)
    val d = memberDistances(asg)
    val byCid = Window.partitionBy("cid")
    val rk = Window.partitionBy("cid").orderBy(col("d2"), col("vec_id"))
    val out = d
      .withColumn("proto_rank", row_number().over(rk).cast("long"))
      .withColumn("__n", count(lit(1)).over(byCid))
      .withColumn("keep", col("proto_rank") > expr(s"__n * $dropNum div $dropDen"))
      .select(col("vec_id"), col("cid"), col("d2"), col("proto_rank"), col("keep"))
      .localCheckpoint(true)
    Checkpoints.releaseCheckpoint(asg)
    out
  }

  /** Cluster topic labeling — the corpus-understanding pass over a curated
    * set: k-means clusters of the embedding space, each labeled by its top
    * TF-ICF terms (cluster term frequency × inverse CLUSTER frequency —
    * the tf-idf argument with clusters as the documents, so terms every
    * cluster shares score near zero and each label is what makes that
    * cluster distinct).
    *
    * Determinism: icf is [[Search.idfMicro]]-quantized, scores are exact
    * int64, rank ties break on the token string.
    *
    * Shape at 100 TB: the (doc, cluster) assignment joins the token stream
    * on doc id — both sides corpus-sized but co-keyed (one equi-join);
    * everything after is vocabulary-×-k-sized: (cid, token) tf aggregate
    * with map-side combine, token-keyed cf aggregate of THAT, per-cluster
    * ranking a k-partition window with the two-stage group-limit. */
  def clusterTopics(emb: DataFrame, docs: DataFrame, centroidStep: Int = 40,
                    rounds: Int = 2, topK: Int = 3): DataFrame = {
    val asg = kmeansAssignments(emb, centroidStep, rounds)
    val assign = asg.select(col("vec_id").as("doc_id"), col("cid"))
    val tf = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .join(assign, "doc_id")
      .groupBy("cid", "token").agg(count(lit(1)).as("tf"))
    val cf = tf.groupBy("token").agg(count(lit(1)).as("cf"))
    val nClusters = assign.agg(countDistinct(col("cid"))).head().getLong(0)
    val w = Window.partitionBy("cid")
      .orderBy(col("score_micro").desc, col("token"))
    val out = tf.join(cf, "token")
      .withColumn("score_micro", col("tf") * Search.idfMicro(col("cf"), nClusters))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("cid"), col("rank"), col("token"), col("tf"), col("cf"),
        col("score_micro"))
      .orderBy(col("cid"), col("rank"))
      .localCheckpoint(true)
    Checkpoints.releaseCheckpoint(asg)
    out
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup that
    * makes the quadratic pair search tractable by comparing embeddings
    * WITHIN k-means clusters only — near-duplicates land in the same cell,
    * so the cid-keyed equi self-join scores Σ|cluster|² pairs instead of n²
    * (k is the cost/recall knob, exactly the IVF argument applied to dedup).
    * Pairs with cosine ≥ `minCos` drop their higher id (the same greedy
    * min-id-keeper contract as [[Dedup.keepAfterNearDup]]); survivors come
    * back as (vec_id, cid).
    *
    * Determinism: cosines use the integer-quantized vectors (exact-int dot
    * products in doubles) rounded at the comparison boundary, so the
    * keep/drop decision is bit-identical cross-engine. */
  def semdedupKeepers(emb: DataFrame, centroidStep: Int, rounds: Int = 2,
                      minCos: Double = 0.4,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = kmeansAssignments(emb, centroidStep, rounds, idCol, vecCol)
    val a = v.select(col("vec_id").as("id_a"), col("cid"),
      col("qd").as("qda"), col("nqd").as("nqa"))
    val b = v.select(col("vec_id").as("id_b"), col("cid").as("cidb"),
      col("qd").as("qdb"), col("nqd").as("nqb"))
    val dropped = a.join(b, col("cid") === col("cidb") && col("id_a") < col("id_b"))
      .filter(round(
        GraftFunctions.arrayDot(col("qda"), col("qdb")) /
          (sqrt(col("nqa")) * sqrt(col("nqb"))), 6) >= minCos)
      .select(col("id_b")).distinct()
    val out = v.join(dropped, col("vec_id") === col("id_b"), "left_anti")
      .select(col("vec_id"), col("cid"))
      .localCheckpoint(true) // before releasing the assignment checkpoint (out reads v twice)
    Checkpoints.releaseCheckpoint(v)
    out
  }
}
