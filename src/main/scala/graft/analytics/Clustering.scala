package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{CentroidTable, GraftFunctions}

/** Distributed k-means (Lloyd iterations) over the embedding corpus — the
  * classic Spark clustering workload, shaped for 100 TB:
  *
  *   - centroids BROADCAST every round (they are the only global state,
  *     k × dims doubles);
  *   - assignment is a map-side-combined argmin: the crossJoin scores
  *     corpus×k rows, but `min_by` partial aggregation collapses them to
  *     ONE row per vector before the shuffle;
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

  /** One Lloyd assignment: nearest centroid per vector (ties → lowest
    * centroid id), as a compiled per-row argmin over the driver-collected
    * centroid table (r18 — see [[graft.functions.NearestCentroidEuclid]]:
    * the old crossJoin + min_by hash aggregate materialized corpus × k rows
    * per round; scores, tie-breaks and degenerate-row semantics are
    * replicated exactly). Adds `cid` to `corpus`'s columns; rows survive
    * iff the centroid table is non-empty (the replaced join's inner
    * semantics). Input `corpus`: (vec_id, qd: array<double>, nq, ...). */
  private def assignEuclid(corpus: DataFrame, cents: CentroidTable): DataFrame = {
    // empty centroid table = the replaced crossJoin's empty result, decided
    // DRIVER-side (a runtime isNotNull filter would be pushed below the
    // projection by alias substitution and evaluate the argmin twice per
    // row — guide §4.4's duplication); non-empty tables never return null
    if (cents.isEmpty)
      return corpus.filter(lit(false)).withColumn("cid", lit(0L))
    val bc = corpus.sparkSession.sparkContext.broadcast(cents)
    corpus
      .withColumn("__best", org.apache.spark.sql.graft.GraftBridge.column(
        graft.functions.NearestCentroidEuclid(
          org.apache.spark.sql.graft.GraftBridge.expression(col("qd")),
          org.apache.spark.sql.graft.GraftBridge.expression(col("nq")),
          bc)))
      .withColumn("cid", col("__best.cid"))
      .drop("__best")
  }

  /** Driver-collected (cid, m, nm) centroid table — bounded by construction
    * (k = trainN / centroidStep rows, the training loop's model state). */
  private def collectCents(cents: DataFrame): CentroidTable =
    CentroidTable.collect(cents)

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
    * `(vec_id, cid, qd, nq, qi)` — the shared core under [[kmeansStats]] and
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
    // ONE checkpointed scoring frame carrying qi alongside (qd, nq) — the r18
    // compiled assignment is a projection over it, so neither the final
    // output nor the per-round recompute needs a join back to a separate
    // quantized frame (the pre-r18 shape kept two caches and joined both).
    val corpus = emb
      .select(col(idCol).as("vec_id"), quantize(col(vecCol)).as("qi"))
      .withColumn("qd", transform(col("qi"), _.cast("double")))
      .withColumn("nq", sqNorm(col("qd")))
      .localCheckpoint(true)
    val seed = collectCents(corpus.filter(col("vec_id") % centroidStep === 0)
      .select(col("vec_id").as("cid"), col("qd").as("m"), col("nq").as("nm")))
    var assigned = assignEuclid(corpus, seed)
    var r = 1
    while (r < rounds) {
      // per-round centroid means come back to the driver as the next
      // round's broadcast table (k rows — the model-to-driver pattern)
      assigned = assignEuclid(corpus, collectCents(recompute(assigned)))
      r += 1
    }
    // materialized while corpus is live (the assignment projection reads
    // it), then the intermediate checkpoint is released
    val out = assigned
      .select(col("vec_id"), col("cid"), col("qd"), col("nq"), col("qi"))
      .localCheckpoint(true)
    Checkpoints.releaseCheckpoint(corpus)
    out
  }

  /** One SPHERICAL Lloyd assignment: highest-cosine centroid per vector
    * (ties → lowest centroid id) — the training twin of IVF's serve-time
    * assignment, so the trained lists are balanced under the SAME metric
    * that probes them (a Euclidean-trained/cosine-served mismatch measurably
    * costs recall — see IvfRecallSpec). Compiled per-row argmax since r18
    * ([[graft.functions.NearestCentroidCos]] — exact replacement of the
    * crossJoin + max_by(cid, struct(ccos, -cid)) aggregate, same scores,
    * ties, and degenerate-row semantics). Adds `cid` to `corpus`'s columns. */
  private def assignCos(corpus: DataFrame, cents: CentroidTable): DataFrame = {
    // driver-side empty guard — see [[assignEuclid]]'s note on why a
    // runtime isNotNull filter is the wrong tool here
    if (cents.isEmpty)
      return corpus.filter(lit(false)).withColumn("cid", lit(0L))
    val bc = corpus.sparkSession.sparkContext.broadcast(cents)
    corpus
      .withColumn("__best", org.apache.spark.sql.graft.GraftBridge.column(
        graft.functions.NearestCentroidCos(
          org.apache.spark.sql.graft.GraftBridge.expression(col("qd")),
          org.apache.spark.sql.graft.GraftBridge.expression(col("nq")),
          bc)))
      .withColumn("cid", col("__best.cid"))
      .drop("__best")
  }

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
    * unbalanced and nprobe misses grow with skew).
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
    val corpus = quantized
      .select(col("vec_id"), col("qi"), transform(col("qi"), _.cast("double")).as("qd"))
      .withColumn("nq", sqNorm(col("qd")))
      .localCheckpoint(true)
    val seed = collectCents(corpus.filter(col("vec_id") % centroidStep === 0)
      .select(col("vec_id").as("cid"), col("qd").as("m"), col("nq").as("nm")))
    var cents = recompute(assignCos(corpus, seed))
    var r = 2
    while (r < rounds) {
      cents = recompute(assignCos(corpus, collectCents(cents)))
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
        round(col("nq") + col("nm") -
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
    import org.apache.spark.sql.expressions.Window
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
    import org.apache.spark.sql.expressions.Window
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
      col("qd").as("qda"), col("nq").as("nqa"))
    val b = v.select(col("vec_id").as("id_b"), col("cid").as("cidb"),
      col("qd").as("qdb"), col("nq").as("nqb"))
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
