package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The one cache-lifetime rule at the public boundary of graft.analytics:
  * an operator releases its own caches and returns an eager, lineage-free
  * `localCheckpoint`, so a caller has nothing to unpersist. Per operator,
  * on the sf0.001 corpus:
  *   - the result has no CacheManager entry (`storageLevel` is NONE);
  *   - its rows are the ones the operator returned when it handed back a
  *     persisted frame (row count and a digest of the sorted rows);
  *   - a second action over it reads no source partition (PlanShapeSpec's
  *     partition-scan counter, scoped to this test's own source);
  *   - the only persistent RDD the call leaves behind is the result's own
  *     checkpoint: every intermediate checkpoint was released (a census of
  *     `sc.getPersistentRDDs` ids before and after the call).
  * The index builds and appends, which return nothing, leave no persistent
  * RDD behind at all. */
class CacheLifetimeSpec extends SparkSpec {
  private val d = sf("sf0.001")

  /** `df` behind a counter bumped once per evaluated source partition. */
  private def counted(df: DataFrame) = {
    val scans = spark.sparkContext.longAccumulator("source-scans")
    val rdd = df.rdd.mapPartitions { it => scans.add(1); it }
    (spark.createDataFrame(rdd, df.schema), scans)
  }

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of the checkpoints `df`'s plan reads. */
  private def checkpointIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet

  private def lifetime(name: String, source: => DataFrame, rows: Long, sha: String)
                      (op: DataFrame => DataFrame): Unit =
    test(s"$name returns a lineage-free checkpoint: no cache entry, same rows, no source re-read") {
      val (src, scans) = counted(source)
      val before = persistentIds
      val out = op(src)
      val left = persistentIds -- before
      assert(scans.value > 0)
      assert(out.storageLevel == StorageLevel.NONE, s"$name left its result cached")
      assert(left.size == 1 && left == checkpointIds(out),
        s"$name left persistent RDDs $left; its result reads ${checkpointIds(out)}")
      scans.reset()
      val got = out.collect()
      assert(scans.value == 0, s"$name: a second action re-read ${scans.value} source partitions")
      assert((got.length.toLong, digest(got)) == ((rows, sha)))
    }

  private def docs = graft.Tables(spark, d).documents
  private def emb = graft.Tables(spark, d).embeddings

  lifetime("bm25TopDocs", docs, 20, "ddc7e1a0353b16f7")(
    Search.bm25TopDocs(_, Seq("data", "fast", "query"), k = 20))
  lifetime("bigramSurprisal", docs, 500, "a18236bd4c3e9c02")(Search.bigramSurprisal(_))
  lifetime("knSurprisal", docs, 500, "59d6b173f0cecf11")(Search.knSurprisal(_))
  lifetime("knHeldoutScore", docs, 118, "453bd596caba6ea1")(Search.knHeldoutScore(_))
  lifetime("collocations", docs, 50, "d11f6396423375db")(
    Search.collocations(_, minCount = 5, k = 50))
  lifetime("dsirLogWeights", docs, 500, "1fc1b5b3e06bcb3e")(Search.dsirLogWeights(_, dims = 64))
  lifetime("kmeansStats", emb, 13, "8f719e607c611b8a")(
    Clustering.kmeansStats(_, centroidStep = 40, rounds = 2))
  lifetime("semdedupKeepers", emb, 484, "ca611150fc025b68")(
    Clustering.semdedupKeepers(_, centroidStep = 40, rounds = 2, minCos = 0.4))
  lifetime("pqAssign", emb, 16000, "4bebd7b1d33999e4")(ProductQuantization.pqAssign(_))
  lifetime("adcTopK", emb, 25, "cf28b2748b6f5fc4")(e =>
    ProductQuantization.adcTopK(e, e.filter(col("vec_id") < 5), k = 5))
  lifetime("ivfPqTopK", emb, 25, "5f258efb76339827")(e =>
    ProductQuantization.ivfPqTopK(e, e.filter(col("vec_id") < 5), k = 5))

  /** The census alone, for the other operators that make checkpoints: the
    * call leaves behind at most the one checkpoint its result reads. */
  private def census(name: String)(op: => DataFrame): Unit =
    test(s"$name releases every intermediate checkpoint") {
      val before = persistentIds
      val out = op
      val left = persistentIds -- before
      assert(left.size <= 1 && left.subsetOf(checkpointIds(out)),
        s"$name left persistent RDDs $left; its result reads ${checkpointIds(out)}")
    }

  census("clusterOutliers")(Clustering.clusterOutliers(emb, centroidStep = 40))
  census("clusterPrototypes")(Clustering.clusterPrototypes(emb, centroidStep = 40))
  census("clusterTopics")(Clustering.clusterTopics(emb, docs))
  census("trainedCentroids")(Clustering.trainedCentroids(emb, centroidStep = 40))
  census("lshBucketPairsBanded")(Similarity.lshBucketPairsBanded(emb, minCos = 0.5))
  census("minhashLshPairs")(Dedup.minhashLshPairs(docs, minJaccard = 0.5))
  census("connectedComponentKeepers")(
    Dedup.connectedComponentKeepers(docs, Dedup.ngramJaccardPairs(docs, minJaccard = 0.3)))
  census("cmsTopTokens")(Sketches.cmsTopTokens(docs))
  census("perceptronTrain")(Search.perceptronTrain(docs))
  census("trainMerges")(Bpe.trainMerges(docs, merges = 20))

  /** `call` leaves no persistent RDD behind. */
  private def leavesNothing(name: String)(call: => Unit): Unit =
    test(s"$name releases every checkpoint it makes") {
      val before = persistentIds
      call
      val left = persistentIds -- before
      assert(left.isEmpty, s"$name left persistent RDDs $left")
    }

  private def scratch(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

  leavesNothing("PqIndex.build (full and sampled training) and append") {
    val dir = scratch("census-pq")
    PqIndex.build(emb.filter(col("vec_id") < 400), dir)
    PqIndex.build(emb.filter(col("vec_id") < 400), scratch("census-pq-s"), trainSampleTarget = 100)
    PqIndex.append(emb.filter(col("vec_id") >= 400), dir)
  }
  leavesNothing("SearchIndex.build and append") {
    val dir = scratch("census-search")
    SearchIndex.build(docs.filter(col("doc_id") < 400), dir)
    SearchIndex.append(docs.filter(col("doc_id") >= 400), dir)
  }
  leavesNothing("DedupIndex.build and append") {
    val dir = scratch("census-dedup")
    DedupIndex.build(docs.filter(col("doc_id") < 400), dir)
    DedupIndex.append(docs.filter(col("doc_id") >= 400), dir)
  }
}
