package graft.analytics

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** The persisted IVF-PQ index: (1) serving from the stored structure is
  * bit-identical to the one-shot operator (same training + scoring
  * arithmetic, so this must be EXACT equality, not approximate); (2) the
  * inverted-list partitioning makes probing a static partition-pruned scan
  * — a query that probes nprobe lists reads only those directories. */
class PqIndexSpec extends SparkSpec {

  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
    p.collect { case x => x }.flatMap {
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(s) ++ allNodes(s.plan)
      case a: AdaptiveSparkPlanExec => Seq(a) ++ allNodes(a.executedPlan)
      case x => Seq(x)
    }

  private def rows(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
      r.getAs[Long]("vec_id"), r.getAs[Long]("adc"))).toSet

  test("stored-index query returns bit-identical rows to the one-shot operator") {
    val emb = graft.Tables(spark, sf("sf0.01")).embeddings
    val dir = Files.createTempDirectory("pqidx").toString
    PqIndex.build(emb, dir)
    val queries = emb.filter(col("vec_id") < 3)
    val fromIndex = rows(PqIndex.query(spark, dir, queries, k = 5))
    val oneShot = ProductQuantization.ivfPqTopK(emb, queries, k = 5)
    val want = rows(oneShot)
    assert(fromIndex.nonEmpty)
    assert(fromIndex == want)
  }

  test("append encodes under the stored quantizer: equals a one-shot build of the union trained on history") {
    val emb = graft.Tables(spark, sf("sf0.01")).embeddings
    val mid = emb.agg(max("vec_id")).head().getLong(0) / 2
    val h1 = emb.filter(col("vec_id") <= mid)
    val h2 = emb.filter(col("vec_id") > mid)
    val queries = emb.filter(col("vec_id") < 3)

    val incDir = Files.createTempDirectory("pqinc").toString
    PqIndex.build(h1, incDir)
    PqIndex.append(h2, incDir)
    val incremental = rows(PqIndex.query(spark, incDir, queries, k = 5))

    val refDir = Files.createTempDirectory("pqref").toString
    PqIndex.build(emb, refDir, trainOn = Some(h1))
    val reference = rows(PqIndex.query(spark, refDir, queries, k = 5))

    assert(incremental.nonEmpty)
    assert(incremental == reference)
    // the appended half is really in the index: some top-5 hit has a high id
    assert(incremental.exists { case (_, _, vecId, _) => vecId > mid },
      "fixture should surface appended vectors in the results")
  }

  test("probing is partition pruning: a query reads only its probed lists") {
    val emb = graft.Tables(spark, sf("sf0.01")).embeddings
    val dir = Files.createTempDirectory("pqidx2").toString
    PqIndex.build(emb, dir)
    val totalLists = new java.io.File(s"$dir/codes").listFiles()
      .count(_.getName.startsWith("centroid_id="))
    assert(totalLists > 6, s"fixture needs more lists than nprobe, got $totalLists")

    val oneQuery = emb.filter(col("vec_id") === 0)
    val res = PqIndex.query(spark, dir, oneQuery, k = 5, nprobe = 6)
    assert(res.collect().nonEmpty)
    val codesScan = allNodes(res.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      })
      .collect { case s: FileSourceScanExec => s }
      .find(_.relation.location.rootPaths.exists(_.toString.contains("/codes")))
      .get
    assert(codesScan.partitionFilters.nonEmpty, codesScan.toString)
    val partitionsRead = codesScan.metrics.get("numPartitions").map(_.value)
    assert(partitionsRead.exists(n => n > 0 && n <= 6),
      s"one query with nprobe=6 must read <=6 of $totalLists lists, read $partitionsRead")
  }

  // ------------------------- bounded-sample training default (r13) -------

  test("default build at or below the sample target full-trains bit-identically") {
    val emb = graft.Tables(spark, sf("sf0.01")).embeddings // 500 vecs < target
    val defDir = Files.createTempDirectory("pq-deftrain").toString
    val fullDir = Files.createTempDirectory("pq-fulltrain").toString
    PqIndex.build(emb, defDir)
    PqIndex.build(emb, fullDir, fullTrain = true)
    assert(PqIndex.trainedMode(spark, defDir) == "full",
      "below the target the default policy must engage the full-train branch")
    assert(PqIndex.trainedMode(spark, fullDir) == "full")
    val queries = emb.filter(col("vec_id") < 3)
    val d = rows(PqIndex.query(spark, defDir, queries, k = 5))
    val f = rows(PqIndex.query(spark, fullDir, queries, k = 5))
    assert(d.nonEmpty && d == f)
  }

  test("default build above the sample target engages bounded training with constant capacities") {
    val emb = graft.Tables(spark, sf("sf0.01")).embeddings // 500 vecs
    val target = 100L
    val dir = Files.createTempDirectory("pq-sampled").toString
    PqIndex.build(emb, dir, trainSampleTarget = target)
    assert(PqIndex.trainedMode(spark, dir) == "sampled",
      "above the target the default policy must engage the sampled branch")
    // capacities derive from the SAMPLE, not the corpus: nlist is bounded
    // by target/coarseStep (+1 for seed survival slack), far below the
    // full-train 500/25 = 20
    val nlist = spark.read.parquet(s"$dir/coarse").count()
    assert(nlist <= target / 25 + 1 && nlist < 20,
      s"sampled nlist must be ~target/coarseStep, got $nlist")
    // the FULL corpus is encoded under the sampled quantizer
    val nCodes = spark.read.parquet(s"$dir/codes").count()
    assert(nCodes == emb.count(), s"all vectors must be encoded, got $nCodes")
    // deterministic: the sampled build equals an explicit trainOn build of
    // the same hash-ordered sample (the policy is just that sample)
    val sample = emb.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(target.toInt)
    val refDir = Files.createTempDirectory("pq-sampled-ref").toString
    PqIndex.build(emb, refDir, trainOn = Some(sample))
    assert(PqIndex.trainedMode(spark, refDir) == "explicit")
    val queries = emb.filter(col("vec_id") < 3)
    val nprobe = ProductQuantization.scaledNprobe(ProductQuantization.autoTrainN(500, target))
    val got = rows(PqIndex.query(spark, dir, queries, k = 5, nprobe = nprobe))
    val want = rows(PqIndex.query(spark, refDir, queries, k = 5, nprobe = nprobe))
    assert(got.nonEmpty && got == want)
  }

  test("hashHeadSample equals the global orderBy+limit head exactly (r14 scale-safe sample)") {
    val emb = graft.Tables(spark, sf("sf0.01")).embeddings
      .repartition(7) // odd partitioning: the head must not depend on it
    for (target <- Seq(1L, 37L, 100L, 499L)) {
      val got = ProductQuantization.hashHeadSample(emb, "vec_id", target)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      val want = emb.orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .limit(target.toInt).select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(got == want, s"target=$target: hash-threshold head must be the exact head")
    }
    // over-corpus target degrades to the whole frame
    assert(ProductQuantization.hashHeadSample(emb, "vec_id", 10000L).count() == emb.count())
  }

  test("trainedMode on an index without meta returns 'full' instead of throwing (ADVICE r13)") {
    val dir = Files.createTempDirectory("pq-nometa").toString
    assert(PqIndex.trainedMode(spark, dir) == "full")
  }

  // ------------------------- drift signal (r14, VERDICT r13 #8) ----------

  test("append updates the drift signal: same-distribution appends stay low, shifted ones spike") {
    val emb = graft.Tables(spark, sf("sf0.01")).embeddings
    val mid = emb.agg(max("vec_id")).head().getLong(0) / 2
    val h1 = emb.filter(col("vec_id") <= mid)
    val h2 = emb.filter(col("vec_id") > mid)

    val dir = Files.createTempDirectory("pq-drift").toString
    PqIndex.build(h1, dir)
    val base = PqIndex.driftStats(spark, dir)
    assert(base.trainCcosP5Micro.nonEmpty, "build must record the train-time ccos p5")
    assert(base.appended == 0L && base.outliers == 0L)

    // same distribution: the other half of the same corpus
    PqIndex.append(h2, dir)
    val near = PqIndex.driftStats(spark, dir)
    assert(near.appended == h2.count(), "appended count must accumulate")

    // drifted: deterministic junk vectors, uncorrelated with the corpus —
    // near-zero cosine to every trained centroid
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val far = h2.select((col("vec_id") + 1000000L).as("vec_id"),
      expr(s"transform(sequence(0, ${dim - 1}), " +
        "i -> CAST(pmod(vec_id * 31 + i, 7) - 3 AS FLOAT))").as("embedding"))
    PqIndex.append(far, dir)
    val drifted = PqIndex.driftStats(spark, dir)
    assert(drifted.appended == near.appended + far.count())
    assert(drifted.outliers > near.outliers,
      s"negated vectors must register as outliers: ${drifted.outliers} vs ${near.outliers}")
    val nearFrac = near.fraction.get
    val farOnlyFrac = (drifted.outliers - near.outliers).toDouble / far.count()
    assert(farOnlyFrac > nearFrac + 0.2,
      f"drifted append must spike the outlier fraction: far=$farOnlyFrac%.3f near=$nearFrac%.3f")
    // observability only: a rebuild resets the signal
    PqIndex.build(emb, dir)
    val reset = PqIndex.driftStats(spark, dir)
    assert(reset.appended == 0L && reset.outliers == 0L)
  }

  // ------------------------- id→list sidecar (r14, VERDICT r13 #3) -------

  test("vlists sidecar exists, tracks appends, and compact keeps it in sync partition-scoped") {
    val emb = graft.Tables(spark, sf("sf0.01")).embeddings
    val dir = Files.createTempDirectory("pq-vlists").toString
    PqIndex.build(emb, dir)
    val vl = spark.read.parquet(s"$dir/vlists")
    assert(vl.count() == emb.count(), "one sidecar row per vector")
    // sidecar agrees with the codes layout exactly
    val fromCodes = spark.read.parquet(s"$dir/codes")
      .select(col("vec_id"), col("centroid_id").cast("long").as("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromVl = vl.select(col("vec_id"), col("centroid_id").cast("long").as("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromVl == fromCodes)

    // forget one id; only ITS vbucket is rewritten by compact
    val victim = emb.agg(min("vec_id")).head().getLong(0)
    val vb = spark.range(1)
      .select(pmod(xxhash64(lit(victim)), lit(16)).cast("int")).head().getInt(0)
    import spark.implicits._
    PqIndex.forget(spark, dir, Seq(victim).toDF("vec_id"))
    def files(p: String): Set[(String, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] = {
        val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        kids.filter(_.isFile) ++ kids.filter(_.isDirectory).flatMap(walk)
      }
      walk(new java.io.File(p)).map(f => (f.getPath, f.length())).toSet
    }
    val untouchedBefore = (0 until 16).filterNot(_ == vb)
      .map(b => files(s"$dir/vlists/vbucket=$b"))
    PqIndex.compact(spark, dir)
    val untouchedAfter = (0 until 16).filterNot(_ == vb)
      .map(b => files(s"$dir/vlists/vbucket=$b"))
    assert(untouchedAfter == untouchedBefore,
      "compact must rewrite only the tombstoned ids' vbuckets")
    val left = spark.read.parquet(s"$dir/vlists").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(!left.contains(victim) && left.size == emb.count() - 1)
  }

  test("a pre-r15 or missing meta fails loudly instead of trusting a partial sidecar") {
    val emb = graft.Tables(spark, sf("sf0.01")).embeddings
    val mid = emb.agg(max("vec_id")).head().getLong(0) / 2
    val dir = Files.createTempDirectory("pq-nometa").toString
    PqIndex.build(emb.filter(col("vec_id") <= mid), dir)
    val victim = emb.agg(min("vec_id")).head().getLong(0)
    import spark.implicits._
    def failsLoudly(op: => Any): Unit = {
      val e = intercept[IllegalStateException](op)
      assert(e.getMessage.contains("rebuild"), e.getMessage)
    }
    // a pre-r15 meta records no sidecar width: the vlists/ sidecar cannot
    // be trusted to cover the index (an append onto a pre-r14 index leaves
    // it partial, and discovery from it would resurrect forgotten
    // vectors), so every sidecar-dependent entry point refuses the index
    val metaFile = java.nio.file.Paths.get(s"$dir/_graft_meta.json")
    val full = java.nio.file.Files.readAllBytes(metaFile)
    val stripped = new String(full, "UTF-8").replaceAll(""","vbuckets":\d+""", "")
    java.nio.file.Files.write(metaFile, stripped.getBytes("UTF-8"))
    // the out-of-band edit invalidates the local FS's checksum sidecar
    new java.io.File(s"$dir/._graft_meta.json.crc").delete()
    failsLoudly(PqIndex.forget(spark, dir, Seq(victim).toDF("vec_id")))
    failsLoudly(PqIndex.append(emb.filter(col("vec_id") > mid), dir))
    failsLoudly(PqIndex.compact(spark, dir))
    assert(!new java.io.File(s"$dir/tombstones").exists())
    // no meta at all: the query path refuses too
    assert(metaFile.toFile.delete())
    failsLoudly(PqIndex.forget(spark, dir, Seq(victim).toDF("vec_id")))
    failsLoudly(PqIndex.append(emb.filter(col("vec_id") > mid), dir))
    failsLoudly(PqIndex.compact(spark, dir))
    failsLoudly(PqIndex.query(spark, dir, emb.filter(col("vec_id") === victim), k = 10))
    // a rebuild restores the whole lifecycle, RTBF included
    PqIndex.build(emb.filter(col("vec_id") <= mid), dir)
    PqIndex.forget(spark, dir, Seq(victim).toDF("vec_id"))
    PqIndex.append(emb.filter(col("vec_id") > mid), dir)
    PqIndex.compact(spark, dir)
    val left = spark.read.parquet(s"$dir/codes").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(!left.contains(victim), "compact must physically remove a tombstoned id (RTBF)")
    val res = PqIndex.query(spark, dir, emb.filter(col("vec_id") === victim), k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(!res.contains(victim), "a forgotten vector must never reappear post-compact")
  }

  test("r15 meta records the sidecar layout; a fresh build's compact uses it") {
    val emb = graft.Tables(spark, sf("sf0.01")).embeddings
    val dir = Files.createTempDirectory("pq-meta-vl").toString
    PqIndex.build(emb, dir)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_graft_meta.json")), "UTF-8")
    assert(meta.contains("\"vbuckets\":16"), meta)
    assert(meta.contains("\"drift_base_micro\":"), meta)
  }

  test("driftAdvisory: false on same-distribution appends, true after a shifted one") {
    val emb = graft.Tables(spark, sf("sf0.01")).embeddings
    val mid = emb.agg(max("vec_id")).head().getLong(0) / 2
    val dir = Files.createTempDirectory("pq-advisory").toString
    PqIndex.build(emb.filter(col("vec_id") <= mid), dir)
    assert(PqIndex.driftStats(spark, dir).baselineMicro.nonEmpty,
      "build must record the post-build baseline fraction")
    assert(!PqIndex.driftAdvisory(spark, dir), "no appends yet: nothing to advise on")
    PqIndex.append(emb.filter(col("vec_id") > mid), dir)
    assert(!PqIndex.driftAdvisory(spark, dir),
      s"same-distribution appends must not advise a rebuild: ${PqIndex.driftStats(spark, dir)}")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val far = emb.filter(col("vec_id") > mid)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr(s"transform(sequence(0, ${dim - 1}), " +
          "i -> CAST(pmod(vec_id * 31 + i, 7) - 3 AS FLOAT))").as("embedding"))
    PqIndex.append(far, dir)
    assert(PqIndex.driftAdvisory(spark, dir),
      s"an uncorrelated append must advise a rebuild: ${PqIndex.driftStats(spark, dir)}")
  }

  test("a corpus with no seed id trains an empty coarse quantizer: every IVF path answers empty") {
    // ids 1-24: no multiple of the coarse step (25) or the codebook step
    // (40), so every centroid table is empty and each path meets the
    // empty-table guard of the one nearest-centroid assignment
    val emb = graft.Tables(spark, sf("sf0.01")).embeddings.filter(col("vec_id").between(1, 24))
    val queries = emb.filter(col("vec_id") < 3)
    val dir = Files.createTempDirectory("pq-noseed").toString
    val paths: Seq[(String, () => DataFrame)] = Seq(
      "ivfTopK" -> (() => Similarity.ivfTopK(emb, queries, k = 5, centroidStep = 25, nprobe = 6)),
      "ivfPqTopK" -> (() => ProductQuantization.ivfPqTopK(emb, queries, k = 5,
        coarseStep = 25, centroidStep = 40)),
      "PqIndex" -> { () =>
        PqIndex.build(emb, dir, coarseStep = 25, centroidStep = 40)
        PqIndex.query(spark, dir, queries, k = 5)
      })
    paths.foreach { case (name, run) => assert(run().count() == 0, name) }
  }

  test("one-shot ivfPqTopK follows the same training policy as the stored index") {
    val emb = graft.Tables(spark, sf("sf0.01")).embeddings
    val queries = emb.filter(col("vec_id") < 3)
    val target = 100L
    val nprobe = ProductQuantization.scaledNprobe(ProductQuantization.autoTrainN(500, target))
    val dir = Files.createTempDirectory("pq-oneshot-pol").toString
    PqIndex.build(emb, dir, trainSampleTarget = target)
    val fromIndex = rows(PqIndex.query(spark, dir, queries, k = 5, nprobe = nprobe))
    val oneShot = ProductQuantization.ivfPqTopK(emb, queries, k = 5,
      nprobe = nprobe, trainSampleTarget = target)
    val want = rows(oneShot)
    assert(fromIndex.nonEmpty && fromIndex == want)
  }
}
