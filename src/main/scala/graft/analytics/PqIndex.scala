package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.GraftFunctions

/** PERSISTED IVF-PQ index: build once, query many — the production ANN
  * serving shape ([[ProductQuantization.ivfPqTopK]] retrains per call,
  * which is the right contract for an oracled one-shot query but not for a
  * corpus queried repeatedly; this is the missing half).
  *
  * On-disk layout under `dir`:
  *   - `coarse/`    (cid, m, nm) — trained coarse centroids, k rows
  *   - `codebooks/` (sub, cid, m, nm) — subspace codebooks, m×k rows
  *   - `codes/`     (vec_id, sub, cid) PARTITIONED BY centroid_id — the PQ
  *     codes laid out as inverted lists, so probing is PARTITION PRUNING:
  *     a query that probes `nprobe` of L lists reads ~nprobe/L of the
  *     index bytes and none of the raw vectors (PqIndexSpec measures the
  *     pruned scan).
  *   - `vlists/`    (vec_id, centroid_id) PARTITIONED BY vec-hash bucket
  *     (r14) — the id→list sidecar: [[compact]]'s affected-list discovery
  *     reads only the tombstoned ids' buckets of this tiny store instead
  *     of scanning two columns of the whole codes store (the measured
  *     1.3–1.7 s discovery floor of r13 — VERDICT r13 #3). Queries never
  *     read it.
  *
  * At 100 TB this is the structure that makes ANN serving viable: the
  * coarse centroids and codebooks are broadcast-sized, the codes are ~32×
  * smaller than the raw vectors, and the inverted-list partitioning turns
  * every query batch into a static-pruned scan of a few directories.
  *
  * Determinism: build reuses the exact training pipeline of
  * [[ProductQuantization.ivfPqTopK]] (shared-quantized coarse Lloyd +
  * subspace Lloyd), and query reuses its exact scoring arithmetic — so
  * querying a freshly built index returns bit-identical rows to the
  * one-shot operator (the `sim_pqindex_topk` oracle row IS
  * `sim_ivfpq_topk`'s SQL). */
object PqIndex {

  /** Stored-layout version: 2 = packed pcodes (one row per vector, round
    * 11). The layout and the PQ geometry (m, subDim) are properties of the
    * BUILD — querying or appending a packed index with a different
    * geometry would silently read wrong array slots (or throw under ANSI
    * array indexing), so [[build]] records them in `_graft_meta.json` and
    * [[query]]/[[append]] read them back before touching the codes. */
  private val LayoutVersion = 2

  /** The PQ geometry the stored codes were packed under. */
  private final case class Meta(m: Int, subDim: Int)

  /** The geometry of a stored meta record `txt`; a record of another
    * layout version fails loudly. */
  private def geometry(txt: String, dir: String): Meta = {
    def field(k: String): Int = IndexMeta.field(txt, k, dir).toInt
    if (field("layout") != LayoutVersion)
      throw new IllegalStateException(s"PQ index at $dir was written as layout=" +
        s"${field("layout")}, this code reads layout=$LayoutVersion - rebuild the index")
    Meta(field("m"), field("subDim"))
  }

  private def required(spark: SparkSession, dir: String): String =
    IndexMeta.required(spark, dir, "PqIndex.build")

  private def readMeta(spark: SparkSession, dir: String): Meta =
    geometry(required(spark, dir), dir)

  /** The `vlists/` sidecar's vec-hash width: chosen by corpus size at
    * build ([[IndexMeta.bucketPolicy]], r15 — VERDICT r14 #4), recorded in
    * `_graft_meta.json` and read back by every later operation. The width
    * bounds the share of the sidecar a [[compact]] discovery reads (same
    * role as `SearchIndex`'s docBuckets). */
  private def vbucketsOf(txt: String, dir: String): Int =
    IndexMeta.field(txt, "vbuckets", dir).toInt

  private def writeMeta(spark: SparkSession, dir: String, m: Int, subDim: Int,
                        trained: String = "full",
                        ccosP5Micro: Option[Long] = None,
                        driftAppended: Long = 0L,
                        driftOutliers: Long = 0L,
                        driftBaseMicro: Option[Long] = None,
                        driftCalibMicro: Option[Long] = None,
                        driftLastMicro: Option[Long] = None,
                        vbuckets: Int = 0): Unit = {
    val driftFields = ccosP5Micro
      .map(v => s""","ccos_p5_micro":$v,"drift_appended":$driftAppended,""" +
        s""""drift_outliers":$driftOutliers""")
      .getOrElse("") +
      driftBaseMicro.map(v => s""","drift_base_micro":$v""").getOrElse("") +
      driftCalibMicro.map(v => s""","drift_calib_micro":$v""").getOrElse("") +
      driftLastMicro.map(v => s""","drift_last_micro":$v""").getOrElse("")
    val layoutFields = if (vbuckets > 0) s""","vbuckets":$vbuckets""" else ""
    // IndexMeta.write swaps atomically: every append REWRITES this file
    // (drift fields), and a lock-free query racing a truncate-then-write
    // could have read a partial object (ADVICE r15-review)
    IndexMeta.write(spark, dir, s"""{"layout":$LayoutVersion,"m":$m,"subDim":$subDim,""" +
      s""""trained":"$trained"$driftFields$layoutFields}""")
  }

  /** The recorded training mode ("full" / "sampled" / "explicit") of a
    * stored index — observability for the default-policy branch (PqIndexSpec
    * asserts the engaged branch per corpus size). Indexes written before
    * r13 carry no field — and before r11 no meta FILE at all — → "full"
    * (the only mode that existed; ADVICE r13: a missing file must not
    * throw from an observability probe). */
  def trainedMode(spark: SparkSession, dir: String): String =
    IndexMeta.readText(spark, dir).fold("full")(trainedOf)

  private def trainedOf(txt: String): String =
    """"trained":"(\w+)"""".r.findFirstMatchIn(txt).fold("full")(_.group(1))

  /** Quantizer-drift observability (r14, VERDICT r13 #8). `trainCcosP5Micro`
    * is the 5th percentile of the corpus's best coarse-centroid cosine at
    * BUILD time (micro-units) — the train-time fit of the quantizer.
    * `appended`/`outliers` accumulate across [[append]]s: an outlier is an
    * appended vector whose best coarse cosine falls BELOW that train-time
    * p5 (equivalently: nearest-centroid distance above the train-time
    * p95), i.e. a vector the stored quantizer describes worse than it
    * described the 5% tail of its own training corpus. Read `fraction` as
    * a TREND, not against 0.05: even same-distribution appends land above
    * 0.05 (the quantizer fits its own training draw better than fresh
    * draws — the ordinary generalization gap, pronounced on small
    * corpora), so the rebuild trigger is the fraction RISING across
    * appends relative to the deployment's own post-build baseline
    * (PqIndexSpec: same-distribution ≈ baseline, out-of-distribution
    * spikes far above it). Pure observability: queries and stored
    * structures are unaffected by these numbers. */
  final case class DriftStats(trainCcosP5Micro: Option[Long],
                              appended: Long, outliers: Long,
                              baselineMicro: Option[Long] = None,
                              calibMicro: Option[Long] = None,
                              lastMicro: Option[Long] = None) {
    def fraction: Option[Double] =
      if (appended > 0) Some(outliers.toDouble / appended) else None
    /** The IN-SAMPLE baseline outlier fraction recorded at build time
      * (r15) — the share of the built corpus itself below the train p5
      * (≈0.05 for a full-train build by construction). Observability: the
      * advisory compares against [[calibration]], not this — fresh draws
      * generalize worse than the training corpus described itself, by a
      * factor that depends on corpus size (measured 8× on the spec corpus,
      * PqIndexSpec), so an in-sample number cannot anchor a threshold. */
    def baseline: Option[Double] = baselineMicro.map(_ / 1e6)
    /** The deployment's OWN post-build baseline: the outlier fraction of
      * the FIRST append after build — fresh same-distribution data scored
      * by the stored quantizer, i.e. exactly the level later appends
      * should hold if nothing shifted. */
    def calibration: Option[Double] = calibMicro.map(_ / 1e6)
    /** The LATEST append's own outlier fraction (not the cumulative
      * average, which dilutes a recent shift under a long history). */
    def last: Option[Double] = lastMicro.map(_ / 1e6)
  }

  /** Read the [[DriftStats]] recorded in `_graft_meta.json`; all-zero for
    * indexes predating the drift signal. */
  def driftStats(spark: SparkSession, dir: String): DriftStats =
    IndexMeta.readText(spark, dir).fold(DriftStats(None, 0L, 0L))(driftOf)

  private def driftOf(txt: String): DriftStats =
    DriftStats(IndexMeta.long(txt, "ccos_p5_micro"),
      IndexMeta.long(txt, "drift_appended").getOrElse(0L),
      IndexMeta.long(txt, "drift_outliers").getOrElse(0L),
      IndexMeta.long(txt, "drift_base_micro"),
      IndexMeta.long(txt, "drift_calib_micro"),
      IndexMeta.long(txt, "drift_last_micro"))

  /** Actionable rebuild signal (r15, VERDICT r14 #6): true when the LATEST
    * append's outlier fraction exceeds `factor ×` the deployment's own
    * post-build baseline — the FIRST append's fraction, recorded in meta as
    * the calibration ([[DriftStats.calibration]]). The build-time in-sample
    * fraction cannot anchor this threshold (fresh draws run a
    * corpus-size-dependent generalization gap above it — see
    * [[DriftStats.baseline]]); the first append IS fresh data under the
    * stored quantizer, so it measures that gap directly and later appends
    * are judged against it: same-distribution appends sit ≈1× calibration
    * with binomial variance only (a 250-row append has σ ≈ 0.03 of the
    * fraction — the default 1.5× sits >5σ from the no-shift null), while a
    * genuine shift multiplies it (PqIndexSpec: uncorrelated data lands
    * 1.9× on a deliberately hard toy geometry — 16-dim, ~10 centroids,
    * where random vectors still max-cos high — and separates further at
    * real dimensionality/centroid counts). Caveat (scaladoc contract): the
    * calibration assumes the first post-build append is representative —
    * calibrate on a known-clean shard, or rebuild to reset it. Pure
    * observability: never blocks appends or queries; single-append or
    * pre-r15 indexes never advise. */
  def driftAdvisory(spark: SparkSession, dir: String, factor: Double = 1.5): Boolean = {
    val s = driftStats(spark, dir)
    (s.lastMicro, s.calibMicro) match {
      case (Some(l), Some(c)) => l > factor * math.max(c, 1000L)
      case _ => false
    }
  }

  private[analytics] val CodesSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("pcodes", ArrayType(LongType)), StructField("centroid_id", IntegerType)))

  private[analytics] val VlistsSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("centroid_id", LongType), StructField("vbucket", IntegerType)))

  private def readCodes(spark: SparkSession, dir: String): DataFrame =
    IndexMeta.readStore(spark, s"$dir/codes", CodesSchema)

  private def readVlists(spark: SparkSession, dir: String): DataFrame =
    IndexMeta.readStore(spark, s"$dir/vlists", VlistsSchema)

  /** Coarse-list assignment of a quantized frame under a (cid, m, nm)
    * centroid table — the same rule at build time and when the centroids
    * are read back from the stored index (append path). Returns
    * (vec_id, centroid_id, best_ccos); the winning cosine feeds the drift
    * signal ([[driftStats]]) and is dropped before anything is stored. */
  private def assignCoarse(quantized: DataFrame, cent: DataFrame): DataFrame = {
    // compiled per-row argmax over the driver-collected centroid table
    // (r18 — graft.functions.NearestCentroidCos): replaces the crossJoin +
    // max_by hash aggregate over |vecs| × k scored rows; winner AND its
    // ccos (the old max(ccos) — the winner's score by construction) come
    // off one projection. Ties, null/ragged vectors, and the empty-table
    // case reproduce the aggregate exactly (see the expression scaladoc).
    val centT = graft.functions.CentroidTable.collect(cent)
    if (centT.isEmpty)
      // the replaced aggregate emitted nothing on an empty centroid side —
      // decided driver-side (a runtime isNotNull filter would push below
      // the projection and evaluate the argmax twice per row, guide §4.4)
      return quantized.filter(lit(false))
        .select(col("vec_id"), lit(0L).as("centroid_id"),
          lit(null).cast("double").as("best_ccos"))
    val centB = quantized.sparkSession.sparkContext.broadcast(centT)
    quantized
      .select(col("vec_id"), transform(col("qi"), _.cast("double")).as("qd"))
      .withColumn("nqd", GraftFunctions.arrayDot(col("qd"), col("qd")))
      .withColumn("__best", org.apache.spark.sql.graft.GraftBridge.column(
        graft.functions.NearestCentroidCos(
          org.apache.spark.sql.graft.GraftBridge.expression(col("qd")),
          org.apache.spark.sql.graft.GraftBridge.expression(col("nqd")),
          centB)))
      .select(col("vec_id"), col("__best.cid").as("centroid_id"),
        col("__best.score").as("best_ccos"))
  }

  /** Write codes + the `vlists/` sidecar. Both writes read the assignment
    * frame (vec_id, centroid_id, best_ccos), so the caller passes it
    * checkpointed (and derives the drift numbers from the same frame). */
  private def writeCodes(codes: DataFrame, assigned: DataFrame, dir: String,
                         mode: String, vbuckets: Int): Unit = {
    // The codes store and the vlists sidecar are independent writes over
    // the same checkpointed assignment — run them CONCURRENTLY from driver
    // threads (r18, guide §2.6) so the two job+commit latencies overlap.
    // Per-store notes:
    //   - codes cluster by list before the partitioned write: without
    //     this every shuffle partition appends its own file to every list
    //     directory (tasks × lists small files); with it each list is one
    //     file, written once and read in one footer open per probe. At
    //     real scale cap file size with spark.sql.files.maxRecordsPerFile
    //     instead of one-per-list. Stored layout is PACKED (round 11): one
    //     (vec_id, pcodes) row per vector instead of m code rows — the
    //     codes scan, the probe join, and the list files all shrink m-fold
    //     (32× at the default geometry).
    //   - vlists (r14): two longs per vector, vec-hash partitioned —
    //     [[compact]] discovers affected lists from the tombstoned ids'
    //     buckets alone (O(|ids|), not O(index)).
    Par.run(
      () => IndexMeta.writeStore(ProductQuantization.packCodes(codes)
        .join(assigned.select("vec_id", "centroid_id"), "vec_id")
        .select(col("vec_id"), col("pcodes"), col("centroid_id")),
        s"$dir/codes", mode, Seq("centroid_id")),
      () => IndexMeta.writeStore(assigned.select(col("vec_id"), col("centroid_id"))
        .withColumn("vbucket", IndexMeta.bucketOf(col("vec_id"), vbuckets)),
        s"$dir/vlists", mode, Seq("vbucket")))
  }

  /** Build and write the index. One source scan: the quantized frame is
    * shared by coarse training, list assignment, and PQ training, and the
    * pass that checkpoints it also counts the corpus.
    *
    * Training is BOUNDED by default (r13, the measured r12 remedy made
    * default — [[ProductQuantization.TrainSampleTarget]]): above the
    * target the quantizer trains on a deterministic hash-ordered sample
    * while the FULL corpus is assigned and encoded under it, so nlist and
    * the codebooks are constants and the build is linear in n (measured
    * exponent 0.79 vs 2.25 full-train, 11× at sf3, recall above the
    * floors — SCALING.md r12). At or below the target nothing changes:
    * oracle corpora full-train bit-identically. `trainOn` pins an explicit
    * training frame (the [[append]]-parity reference shape); `fullTrain =
    * true` opts back into corpus-sized training regardless of size. The
    * sample itself is partition-count-safe (r14:
    * [[ProductQuantization.hashHeadSample]] bounds the driver merge by the
    * survivor count, not partitions × target). At 100 TB:
    * raise `trainSampleTarget` to 10⁵–10⁶, rebuild on drift, [[append]]
    * between rebuilds. Probe widths derive from the trained size:
    * `scaledNprobe(autoTrainN(n))`. */
  def build(emb: DataFrame, dir: String,
            coarseStep: Int = 25, m: Int = 32, subDim: Int = 2, centroidStep: Int = 40,
            idCol: String = "vec_id", vecCol: String = "embedding",
            trainOn: Option[DataFrame] = None, fullTrain: Boolean = false,
            trainSampleTarget: Long = ProductQuantization.TrainSampleTarget): Unit =
    IndexLock.withLock(emb.sparkSession, dir) {
    val (quantized, counted) = Checkpoints.observedCheckpoint(
      emb.select(col(idCol).as("vec_id"), Clustering.quantize(col(vecCol)).as("qi")),
      count(lit(1)))
    val nCorpus = counted.getLong(0)
    val quantizedTrain = ProductQuantization.resolveTrain(
      quantized, trainOn, fullTrain, trainSampleTarget, idCol, vecCol)
    val subsetTrain = !(quantizedTrain eq quantized)
    val cent = Clustering.trainedCentroidsFromQuantized(quantizedTrain, coarseStep)
    // the coarse-centroid store write (checkpointed k rows) and the
    // subspace-PQ training are independent — overlap them (r18, guide §2.6)
    var trained: (DataFrame, DataFrame) = null
    Par.run(
      () => cent.write.mode("overwrite").parquet(s"$dir/coarse"),
      () => trained =
        ProductQuantization.trainAndCodesQ(quantizedTrain, m, subDim, centroidStep))
    val assigned = assignCoarse(quantized, cent).localCheckpoint(true)
    val (cents1, codesTrain) = trained
    cents1.write.mode("overwrite").parquet(s"$dir/codebooks")
    // encode the FULL corpus under the trained codebooks (identical to the
    // training codes when training was full — same slices, same assign rule)
    val codes =
      if (!subsetTrain) codesTrain
      else ProductQuantization.assignToBooks(
        ProductQuantization.subSlices(quantized, m, subDim), cents1, m)
    // sidecar width by corpus size (r15, VERDICT r14 #4), recorded in meta
    // and read back by [[compact]] — never recomputed from a constant;
    // nCorpus was counted by the pass that checkpointed the corpus
    val vbuckets = IndexMeta.bucketPolicy(nCorpus)
    writeCodes(codes, assigned, dir, "overwrite", vbuckets)
    // drift baseline (r14, VERDICT r13 #8): the train-time p5 of the
    // corpus's best coarse cosine — [[append]] counts arrivals below it.
    // r15 (VERDICT r14 #6) also records the POST-BUILD baseline fraction:
    // the share of the encoded corpus itself below that p5 (≈0.05 for a
    // full-train build by construction; the honest generalization number
    // for a sampled-train build, where most of the corpus was never
    // trained on) — [[driftAdvisory]] compares append-time fractions
    // against it.
    val driftRow = assigned.agg(
        percentile_approx(col("best_ccos"), lit(0.05), lit(10000)),
        count(lit(1))).head()
    val p5Micro = Option(driftRow.get(0))
      .map(v => math.round(v.asInstanceOf[Double] * 1e6))
    val baseMicro = p5Micro.map { p5 =>
      val below = assigned.filter(col("best_ccos") * 1e6 < p5).count()
      val n = driftRow.getLong(1)
      if (n > 0) math.round(below.toDouble / n * 1e6) else 0L
    }
    writeMeta(emb.sparkSession, dir, m, subDim,
      trained = if (trainOn.nonEmpty) "explicit"
                else if (subsetTrain) "sampled" else "full",
      ccosP5Micro = p5Micro, driftBaseMicro = baseMicro, vbuckets = vbuckets)
    IndexMeta.clearTombstones(emb.sparkSession, dir)
    Seq(assigned, cent, cents1, codesTrain, quantizedTrain, quantized)
      .foreach(Checkpoints.releaseCheckpoint)
    }

  /** Append a delta to the index: encode the new vectors under the STORED
    * quantizer (coarse centroids + codebooks) and append their codes to
    * the inverted-list layout. The production serving pattern — append
    * continuously, retrain (rebuild) periodically; until a rebuild, the
    * index equals a one-shot [[build]] of the union trained on the
    * original corpus (`trainOn` parity, proven in PqIndexSpec).
    *
    * Each append also updates the DRIFT signal in `_graft_meta.json`
    * ([[driftStats]]): the count of appended vectors whose best coarse
    * cosine falls below the build-time p5 accumulates, making "when to
    * rebuild" a data-driven read instead of a guess. The delta is sliced
    * under the recorded (m, subDim). */
  def append(delta: DataFrame, dir: String,
             idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = delta.sparkSession
    IndexLock.withLock(spark, dir) {
    val txt = required(spark, dir)
    val g = geometry(txt, dir)
    val quantized = delta
      .select(col(idCol).as("vec_id"), Clustering.quantize(col(vecCol)).as("qi"))
      .localCheckpoint(true)
    val cent = spark.read.parquet(s"$dir/coarse")
    val books = spark.read.parquet(s"$dir/codebooks")
    val assigned = assignCoarse(quantized, cent).localCheckpoint(true)
    val codes = ProductQuantization.assignToBooks(
      ProductQuantization.subSlices(quantized, g.m, g.subDim), books, g.m)
    // append under the STORED sidecar width (the bucket rule is a pure
    // function of the id only at constant width)
    val vbuckets = vbucketsOf(txt, dir)
    writeCodes(codes, assigned, dir, "append", vbuckets)
    val prior = driftOf(txt)
    prior.trainCcosP5Micro.foreach { p5 =>
      val st = assigned.agg(count(lit(1)),
        sum(when(col("best_ccos") * 1e6 < p5, 1L).otherwise(0L))).head()
      val (n, out) = (st.getLong(0), if (st.isNullAt(1)) 0L else st.getLong(1))
      // this append's OWN fraction: the first one calibrates the
      // deployment's post-build baseline, the latest one is what
      // [[driftAdvisory]] judges against it (an empty delta changes nothing)
      val fracMicro = if (n > 0) Some(math.round(out.toDouble / n * 1e6)) else None
      writeMeta(spark, dir, g.m, g.subDim, trained = trainedOf(txt),
        ccosP5Micro = Some(p5),
        driftAppended = prior.appended + n,
        driftOutliers = prior.outliers + out,
        driftBaseMicro = prior.baselineMicro,
        driftCalibMicro = prior.calibMicro.orElse(fracMicro),
        driftLastMicro = fracMicro.orElse(prior.lastMicro),
        vbuckets = vbuckets)
    }
    Checkpoints.releaseCheckpoint(assigned)
    Checkpoints.releaseCheckpoint(quantized)
    }
  }

  /** Delete vectors from the index without rewriting it: append their ids
    * to a TOMBSTONE set that every query anti-joins (broadcast — the
    * tombstone set is ids only) BEFORE ranking, so a forgotten vector can
    * never appear in any top-k and its slot is filled by the next-best
    * survivor, exactly as if it had never been indexed. This is the
    * right-to-be-forgotten shape at 100 TB: the delete is O(|ids|) — no
    * touch of the inverted lists — and the space is reclaimed lazily by
    * [[compact]] (delete-fast / compact-later, the standard LSM posture).
    *
    * Forgotten ids stay excluded until [[compact]]; re-adding a forgotten
    * id via [[append]] requires compacting first (documented contract —
    * the tombstone would otherwise keep suppressing it). */
  def forget(spark: SparkSession, dir: String, ids: DataFrame,
             idCol: String = "vec_id"): Unit =
    IndexLock.withLock(spark, dir) {
      vbucketsOf(required(spark, dir), dir): Unit
      IndexMeta.forget(dir, IndexMeta.idFrame(ids, idCol, "vec_id"))
    }

  /** Rewrite ONLY the inverted lists that contain tombstoned vectors and
    * clear the tombstone set. Queries before and after compaction return
    * identical rows (CompactionSpec); compaction only reclaims space and
    * restores [[append]]-ability for forgotten ids.
    *
    * Partition-scoped (r13, VERDICT r12 #2; [[IndexMeta.rewritePartitions]]):
    * the affected lists come from the `vlists/` sidecar — only the
    * tombstoned ids' vbuckets are read (r14, O(|ids|), not O(index)) — and
    * only those lists are rewritten. At 100 TB one forgotten vector
    * rewrites ONE list, not the index — compact cost is proportional to the
    * tombstoned-list share (measured at sf1 in SCALING.md r13). The sidecar
    * drops the tombstoned ids from THEIR vbuckets the same way. */
  def compact(spark: SparkSession, dir: String): Unit =
    IndexLock.withLock(spark, dir) {
      val vbuckets = vbucketsOf(required(spark, dir), dir)
      IndexMeta.tombstones(spark, dir).foreach { tomb =>
        val vb = tomb.select(IndexMeta.bucketOf(col("vec_id"), vbuckets).as("b"))
          .distinct().collect().map(_.getInt(0)).toSeq
        val affected = readVlists(spark, dir)
          .filter(col("vbucket").isin(vb: _*))
          .join(broadcast(tomb), Seq("vec_id"), "left_semi")
          .select(col("centroid_id").cast("long")).distinct()
          .collect().map(_.getLong(0)).toSeq
        // skipped when the ids weren't in the index at all
        if (affected.nonEmpty) {
          IndexMeta.rewritePartitions(readCodes(spark, dir), s"$dir/codes",
            Seq("centroid_id"), "centroid_id", affected, tomb, "vec_id")
          IndexMeta.rewritePartitions(readVlists(spark, dir), s"$dir/vlists",
            Seq("vbucket"), "vbucket", vb, tomb, "vec_id")
        }
        IndexMeta.clearTombstones(spark, dir)
      }
    }

  /** Query the stored index: probe `nprobe` lists per query, ADC-score the
    * survivors from the stored codes, rank top-k. The probed list ids are
    * collected (≤ |queries|·nprobe longs) and pushed as a LITERAL partition
    * filter, so the codes scan statically prunes to the probed
    * directories. Output schema and values match
    * [[ProductQuantization.ivfPqTopK]] exactly. */
  def query(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
            nprobe: Int = 6,
            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val g = readMeta(spark, dir)
    ProductQuantization.rankPacked(
      adcJoined(spark, dir, g, queries, nprobe, idCol, vecCol), g.m, k)
  }

  /** Two-stage serving: ADC ranks the probed lists, the top `depth`
    * survivors per query are re-scored by EXACT cosine against their raw
    * vectors, and the final top-k is ranked on the exact score.
    *
    * This is the production answer to the measured ADC plateau (SCALING.md
    * recall curve: ADC saturates where codebook quantization error exceeds
    * neighbor gaps): the quantized scan still prunes the corpus to
    * ~nprobe/L, but the ranking the user sees is exact over a
    * |queries|·depth candidate set. At 100 TB the rescore leg is a
    * broadcast of the (tiny) candidate ids against the raw-vector table —
    * a static semi-join fetch of `depth` rows per query, NOT a corpus
    * scan; cost scales with depth, not corpus size. Output:
    * (query_id, rank, vec_id, cos) — same shape as the exact operators. */
  def queryRescored(spark: SparkSession, dir: String, queries: DataFrame,
                    corpus: DataFrame, k: Int, depth: Int = 20, nprobe: Int = 6,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val g = readMeta(spark, dir)
    val cand = ProductQuantization.rankPacked(
        adcJoined(spark, dir, g, queries, nprobe, idCol, vecCol), g.m, depth)
      .select(col("query_id"), col("vec_id"))
    val c = Similarity.withNorm(corpus, idCol, vecCol, "vec_id", "v", "nv")
    val q = Similarity.withNorm(queries, idCol, vecCol, "query_id", "qv", "nqv")
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    c.join(broadcast(cand), "vec_id") // candidate ids broadcast: pruned fetch, no corpus shuffle
      .join(broadcast(q), "query_id")
      .withColumn("cos", round(Similarity.cosPre(col("qv"), col("v"), col("nqv"), col("nv")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("cos"))
  }

  /** Shared probe + ADC-score leg of [[query]]/[[queryRescored]]: probe
    * `nprobe` lists per query (literal partition filter on the codes scan),
    * join stored codes to the query distance tables, sliced under the
    * stored geometry `g`. */
  private def adcJoined(spark: SparkSession, dir: String, g: Meta, queries: DataFrame,
                        nprobe: Int, idCol: String, vecCol: String): DataFrame = {
    val cent = broadcast(spark.read.parquet(s"$dir/coarse")
      .select(col("cid").as("centroid_id"), col("m").as("cm"), col("nm").as("cnm")))
    val q = queries.select(col(idCol).as("query_id"),
      Clustering.quantize(col(vecCol)).as("qi"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("centroid_id"))
    val probes = q
      .select(col("query_id"), transform(col("qi"), _.cast("double")).as("qd"))
      .withColumn("nqd", GraftFunctions.arrayDot(col("qd"), col("qd")))
      .crossJoin(cent)
      .withColumn("ccos", Similarity.coarseCos(col("qd"), col("cm"), col("nqd"), col("cnm")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("centroid_id"))
    val probedLists = probes.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).sorted
    val codes = readCodes(spark, dir)
      .filter(col("centroid_id").isin(probedLists: _*))
    // query-side subspace distance tables vs the stored codebooks — the
    // query stays exact (asymmetric), same construction as the one-shot op
    val books = broadcast(spark.read.parquet(s"$dir/codebooks"))
    val qsubs = q
      .select(col("query_id"), explode(sequence(lit(0), lit(g.m - 1))).as("sub"), col("qi"))
      .select(col("query_id"), col("sub"),
        slice(col("qi"), col("sub") * g.subDim + 1, lit(g.subDim)).as("sqi"))
      .withColumn("sqd", transform(col("sqi"), _.cast("double")))
      .withColumn("nq", GraftFunctions.arrayDot(col("sqd"), col("sqd")))
    val dt = qsubs.join(books, "sub")
      .select(col("query_id"), col("sub"), col("cid"),
        (col("nq") + col("nm") - lit(2.0) * GraftFunctions.arrayDot(col("sqd"), col("m"))).as("d2"))
    // stored codes are packed (one pcodes row per vector); the per-query
    // tables broadcast packed too, so the scored stream is one row per
    // (query, candidate) — see [[ProductQuantization.rankPacked]].
    // Tombstoned vectors ([[forget]]) are anti-joined out of the candidate
    // stream BEFORE ranking, so ranks fill with survivors.
    val cand = IndexMeta.live(spark, dir,
      probes.join(codes, "centroid_id").filter(col("vec_id") =!= col("query_id")), "vec_id")
    cand.join(broadcast(ProductQuantization.packDt(dt, g.m)), "query_id")
  }
}
