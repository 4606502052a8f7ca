package graft.functions

import graft.SparkSpec
import graft.analytics.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** The bloom membership probe and the screened decontamination built on it.
  * The invariant that makes the whole pattern sound: a bloom filter has NO
  * false negatives, so a screen can only over-admit (bounded by fpp), never
  * drop a true hit — the exact verify join then makes the composition
  * byte-identical to the unscreened operator. */
class BloomExpressionsSpec extends SparkSpec {

  private def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  test("bloom probe: zero false negatives, false positives under the fpp budget") {
    import spark.implicits._
    val members = (0L until 2000L).map(_ * 7919L)
    val bf = BloomFilter.create(members.size.toLong, 0.01)
    members.foreach(bf.putLong)
    val bytes = serialize(bf)

    val hits = members.toDF("h")
      .filter(GraftFunctions.bloomContains(col("h"), bytes)).count()
    assert(hits == members.size.toLong) // every member probes true

    // disjoint non-members: observed fpp stays within a loose 5x of target
    val nonMembers = (0L until 20000L).map(_ * 7919L + 3L)
    val fp = nonMembers.toDF("h")
      .filter(GraftFunctions.bloomContains(col("h"), bytes)).count()
    assert(fp.toDouble / nonMembers.size < 0.05, s"observed fpp ${fp.toDouble / nonMembers.size}")
  }

  test("broadcast cache is bounded: fresh filter bytes per call evict, same instance hits") {
    // r17 review: the r16 WeakHashMap could never clear (sc.broadcast
    // strongly holds the key array in the driver BlockManager), so fresh
    // bytes per call — the decontaminateBloom pattern — leaked one
    // broadcast per call forever. The LRU bound caps live entries and
    // unpersists evictees; same-instance reuse stays a cache hit.
    import spark.implicits._
    val probe = Seq(1L).toDF("h")
    def freshBytes(n: Long): Array[Byte] = {
      val bf = BloomFilter.create(100L, 0.01); bf.putLong(n); serialize(bf)
    }
    val reused = freshBytes(0L)
    probe.filter(GraftFunctions.bloomContains(col("h"), reused)).count()
    val afterFirst = GraftFunctions.bloomCacheSize
    probe.filter(GraftFunctions.bloomContains(col("h"), reused)).count()
    assert(GraftFunctions.bloomCacheSize == afterFirst,
      "probing with the SAME byte-array instance must not grow the cache")
    // a long-lived session churning fresh arrays: entries stay bounded
    (1L to 12L).foreach { i =>
      probe.filter(GraftFunctions.bloomContains(col("h"), freshBytes(i))).count()
    }
    assert(GraftFunctions.bloomCacheSize <= 4,
      s"cache must stay within its LRU bound, got ${GraftFunctions.bloomCacheSize}")
  }

  test("bloom probe composes with xxhash64 over strings end to end") {
    import spark.implicits._
    val words = Seq("alpha", "beta", "gamma", "delta")
    val hashes = words.toDF("w").select(xxhash64(col("w")).as("h"))
      .collect().map(_.getLong(0))
    val bf = BloomFilter.create(words.size.toLong, 0.01)
    hashes.foreach(bf.putLong)
    val bytes = serialize(bf)
    val probed = (words ++ Seq("omega", "zeta")).toDF("w")
      .filter(GraftFunctions.bloomContains(xxhash64(col("w")), bytes))
      .collect().map(_.getString(0)).toSet
    assert(words.toSet.subsetOf(probed)) // no false negatives through the hash
  }

  test("decontaminateBloom is row-identical to exact decontaminate") {
    val docs = graft.Tables(spark, sf("sf0.001")).documents
    val corpus = docs.filter(col("doc_id") >= 5)
    val probes = docs.filter(col("doc_id") < 5)
    val exact = Dedup.decontaminate(corpus, probes)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val bloomed = Dedup.decontaminateBloom(corpus, probes)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(exact.nonEmpty && exact == bloomed)
  }

  test("the bloom screen sits in the scan-side filter, before the verify join") {
    val docs = graft.Tables(spark, sf("sf0.001")).documents
    val out = Dedup.decontaminateBloom(
      docs.filter(col("doc_id") >= 5), docs.filter(col("doc_id") < 5))
    out.collect()
    // the probe expression must appear in the optimized plan as a Filter on
    // the exploded corpus side — i.e. the screen survives optimization and
    // runs before the exchange/join, which is the entire point
    val plan = out.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_bloom_contains"), s"screen missing from plan:\n$plan")
  }

  test("probe type checking rejects a non-literal bloom argument") {
    // SQL name: register on a session of its own, not the shared one
    val session = spark.newSession()
    GraftFunctions.register(session)
    import session.implicits._
    val df = Seq((1L, Array[Byte](1, 2, 3))).toDF("h", "blob")
    // a per-row (non-foldable) filter blob can't be deserialized once per
    // executor — the expression refuses it at analysis time
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("graft_bloom_contains", col("h"), col("blob"))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("binary literal bloom"))
  }
}
