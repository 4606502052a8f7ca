package graft.analytics

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** The persisted BM25 index: (1) serving from the stored postings is
  * bit-identical to the one-shot scorer (same tf/dl/df census and the same
  * fixed-order float chain — EXACT equality, not approximate); (2) probing
  * is static partition pruning — a query reads only its terms' hash-bucket
  * directories. */
class SearchIndexSpec extends SparkSpec {

  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
    p.collect { case x => x }.flatMap {
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(s) ++ allNodes(s.plan)
      case a: AdaptiveSparkPlanExec => Seq(a) ++ allNodes(a.executedPlan)
      case x => Seq(x)
    }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("stored-index query returns bit-identical rows to the one-shot scorer") {
    val docs = graft.Tables(spark, sf("sf0.01")).documents
    val dir = Files.createTempDirectory("searchidx").toString
    SearchIndex.build(docs, dir)
    val terms = Seq("data", "fast", "query")
    val fromIndex = rows(SearchIndex.query(spark, dir, terms, k = 20))
    val oneShot = Search.bm25TopDocs(docs, terms, k = 20)
    val want = rows(oneShot)
    assert(fromIndex.nonEmpty)
    assert(fromIndex == want)
  }

  test("appends merge on read: two appends equal the one-shot scorer over the union") {
    val docs = graft.Tables(spark, sf("sf0.01")).documents
    val hi = docs.agg(max("doc_id")).head().getLong(0)
    val (t1, t2) = (hi / 3, 2 * hi / 3)
    val dir = Files.createTempDirectory("searchidx3").toString
    SearchIndex.build(docs.filter(col("doc_id") <= t1), dir)
    SearchIndex.append(docs.filter(col("doc_id") > t1 && col("doc_id") <= t2), dir)
    SearchIndex.append(docs.filter(col("doc_id") > t2), dir)
    val terms = Seq("data", "fast", "query")
    val fromIndex = rows(SearchIndex.query(spark, dir, terms, k = 20))
    val oneShot = Search.bm25TopDocs(docs, terms, k = 20)
    val want = rows(oneShot)
    assert(fromIndex.nonEmpty)
    assert(fromIndex == want)
  }

  // ---------------- right-to-be-forgotten lifecycle (r13) ----------------

  private def files(dir: String): Set[(String, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] = {
      val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      kids.filter(_.isFile) ++ kids.filter(_.isDirectory).flatMap(walk)
    }
    walk(new java.io.File(dir)).map(f => (f.getPath, f.length())).toSet
  }

  test("forget equals a one-shot scorer over the filtered corpus, exactly") {
    val docs = graft.Tables(spark, sf("sf0.01")).documents
    val dir = Files.createTempDirectory("searchidx-forget").toString
    SearchIndex.build(docs, dir)
    val victims = docs.filter(col("doc_id") % 5 === 2).select("doc_id")
    SearchIndex.forget(spark, dir, victims)
    val terms = Seq("data", "fast", "query")
    val got = rows(SearchIndex.query(spark, dir, terms, k = 20))
    val oneShot = Search.bm25TopDocs(docs.filter(col("doc_id") % 5 =!= 2), terms, k = 20)
    val want = rows(oneShot)
    assert(got.nonEmpty && got == want,
      "forget must adjust df/n/dl_sum exactly, not just hide postings")
    // idempotence: re-forgetting the same ids (plus unknown ids) must not
    // double-subtract the statistics
    import spark.implicits._
    SearchIndex.forget(spark, dir, victims.union(Seq(999999999L).toDF("doc_id")))
    assert(rows(SearchIndex.query(spark, dir, terms, k = 20)) == want)
  }

  test("compact is partition-scoped and preserves answers; no-op compact touches nothing") {
    val docs = graft.Tables(spark, sf("sf0.01")).documents
    val dir = Files.createTempDirectory("searchidx-compact").toString
    SearchIndex.build(docs, dir)
    val terms = Seq("data", "fast", "query")
    // forget a couple of docs that DO carry postings for the query terms
    val hit = SearchIndex.query(spark, dir, terms, k = 5)
      .select("doc_id").collect().map(_.getLong(0)).take(2)
    import spark.implicits._
    SearchIndex.forget(spark, dir, hit.toSeq.toDF("doc_id"))
    val afterForget = rows(SearchIndex.query(spark, dir, terms, k = 20))
    // buckets the tombstoned docs touch (from their postings rows)
    val tombBuckets = spark.read.parquet(s"$dir/postings")
      .filter(col("doc_id").isin(hit.map(Long.box).toSeq: _*))
      .select(col("bucket").cast("long")).distinct().collect().map(_.getLong(0)).toSet
    val allBuckets = new java.io.File(s"$dir/postings").listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName.stripPrefix("bucket=").toLong).toSet
    assert(tombBuckets.nonEmpty && (allBuckets -- tombBuckets).nonEmpty,
      "fixture needs touched and untouched buckets")
    val untouchedBefore = (allBuckets -- tombBuckets).map(b => files(s"$dir/postings/bucket=$b"))
    // minShare = 0: the FULL-rewrite path (2 docs of a corpus are below any
    // realistic share threshold; the thresholded default has its own test)
    SearchIndex.compact(spark, dir, minShare = 0.0)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    val untouchedAfter = (allBuckets -- tombBuckets).map(b => files(s"$dir/postings/bucket=$b"))
    assert(untouchedAfter == untouchedBefore,
      "compact must not touch buckets without tombstoned postings")
    // rewritten buckets no longer contain the forgotten docs
    val left = spark.read.parquet(s"$dir/postings").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(hit.forall(!left.contains(_)))
    assert(rows(SearchIndex.query(spark, dir, terms, k = 20)) == afterForget)
    // tombstone-free compact is a byte-level no-op (lock diagnostics aside)
    val snap = files(dir).filterNot(f => f._1.contains("_lock"))
    SearchIndex.compact(spark, dir)
    assert(files(dir).filterNot(f => f._1.contains("_lock")) == snap)
  }

  test("all-forgotten index queries empty and revives on append after compact") {
    val docs = graft.Tables(spark, sf("sf0.01")).documents.limit(50)
      .localCheckpoint(true)
    val dir = Files.createTempDirectory("searchidx-empty").toString
    SearchIndex.build(docs, dir)
    val terms = Seq("data", "fast", "query")
    assert(rows(SearchIndex.query(spark, dir, terms, k = 20)).nonEmpty)
    SearchIndex.forget(spark, dir, docs.select("doc_id"))
    assert(rows(SearchIndex.query(spark, dir, terms, k = 20)).isEmpty)
    SearchIndex.compact(spark, dir)
    assert(rows(SearchIndex.query(spark, dir, terms, k = 20)).isEmpty)
    // ADVICE r13: a forget AFTER the all-forgotten compact must be a clean
    // no-op (census/ may legitimately hold zero dbucket partitions here),
    // not a schema-inference failure
    SearchIndex.forget(spark, dir, docs.select("doc_id"))
    assert(rows(SearchIndex.query(spark, dir, terms, k = 20)).isEmpty)
    // re-appending after compact: the index equals a fresh build
    SearchIndex.append(docs, dir)
    val got = rows(SearchIndex.query(spark, dir, terms, k = 20))
    val oneShot = Search.bm25TopDocs(docs, terms, k = 20)
    val want = rows(oneShot)
    assert(got == want)
  }

  test("forget never touches the postings store (forward index carries the df deltas)") {
    val docs = graft.Tables(spark, sf("sf0.01")).documents
    val dir = Files.createTempDirectory("searchidx-fwd").toString
    SearchIndex.build(docs, dir)
    // the r14 forward store exists, doc-hash partitioned
    val fwdBuckets = new java.io.File(s"$dir/forward").listFiles()
      .count(_.getName.startsWith("dbucket="))
    assert(fwdBuckets == 16, s"forward store should carry 16 dbuckets, got $fwdBuckets")
    // HIDE the postings dir: an O(|ids|) forget must not even list it
    val post = java.nio.file.Paths.get(s"$dir/postings")
    val hidden = java.nio.file.Paths.get(s"$dir/postings_hidden")
    java.nio.file.Files.move(post, hidden)
    val victims = docs.filter(col("doc_id") % 5 === 2).select("doc_id")
    try SearchIndex.forget(spark, dir, victims)
    finally java.nio.file.Files.move(hidden, post)
    val terms = Seq("data", "fast", "query")
    val got = rows(SearchIndex.query(spark, dir, terms, k = 20))
    val oneShot = Search.bm25TopDocs(docs.filter(col("doc_id") % 5 =!= 2), terms, k = 20)
    val want = rows(oneShot)
    assert(got.nonEmpty && got == want,
      "a postings-blind forget must still produce exact df/n/dl_sum deltas")
  }

  test("forget reads only the ids' doc-buckets: bytes read scale with |ids|, not index size") {
    val docs = graft.Tables(spark, sf("sf0.01")).documents
    val dir = Files.createTempDirectory("searchidx-fscale").toString
    SearchIndex.build(docs, dir)
    def dirBytes(p: String): Long =
      files(p).iterator.map(_._2).sum
    val storeBytes = dirBytes(s"$dir/forward") + dirBytes(s"$dir/census") +
      dirBytes(s"$dir/postings")
    // one forgotten id → ONE candidate dbucket of 16 in census and forward,
    // zero postings bytes; allow generous slack for parquet footers and the
    // tiny tombstone/id frames
    val victim = docs.agg(min("doc_id")).head().getLong(0)
    var read = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        read += t.taskMetrics.inputMetrics.bytesRead
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      import spark.implicits._
      SearchIndex.forget(spark, dir, Seq(victim).toDF("doc_id"))
      // listener events are async: wait until the byte count stabilizes
      var last = -1L
      var spins = 0
      while (read != last && spins < 50) { last = read; Thread.sleep(100); spins += 1 }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(read > 0, "listener should observe the forget's reads")
    assert(read < storeBytes / 3,
      s"a 1-id forget should read ~1/16 of census+forward and no postings: " +
        s"read $read of $storeBytes index bytes")
  }

  test("moreLikeThis: seed excluded, terms from the seed's own vocabulary, forget-aware") {
    val docs = graft.Tables(spark, sf("sf0.01")).documents
    val dir = Files.createTempDirectory("searchidx-mlt").toString
    SearchIndex.build(docs, dir)
    val seedId = 1L
    val res = SearchIndex.moreLikeThis(spark, dir, seedId, k = 20, topTerms = 10)
      .collect()
    assert(res.nonEmpty && res.length <= 20)
    assert(!res.exists(_.getAs[Long]("doc_id") == seedId), "seed must be excluded")
    // every matched-term count is bounded by the term budget
    assert(res.forall(r => r.getAs[Long]("n_terms") >= 1 && r.getAs[Long]("n_terms") <= 10))
    // integer micro scores, strictly ranked with the documented tie-break
    val pairs = res.map(r => (r.getAs[Long]("score_micro"), r.getAs[Long]("doc_id")))
    assert(pairs.sliding(2).forall { case Array((s1, d1), (s2, d2)) =>
      s1 > s2 || (s1 == s2 && d1 < d2); case _ => true })
    // deterministic: a second call returns identical rows
    val again = SearchIndex.moreLikeThis(spark, dir, seedId, k = 20, topTerms = 10)
      .collect().map(_.toSeq).toSeq
    assert(again == res.map(_.toSeq).toSeq)
    // forget-aware: tombstoning the top hit removes it; survivors keep ranks
    val topHit = res.head.getAs[Long]("doc_id")
    import spark.implicits._
    SearchIndex.forget(spark, dir, Seq(topHit).toDF("doc_id"))
    val after = SearchIndex.moreLikeThis(spark, dir, seedId, k = 20, topTerms = 10)
      .collect()
    assert(!after.exists(_.getAs[Long]("doc_id") == topHit))
  }

  test("moreLikeThisBatch on one seed equals the single-seed serving form exactly") {
    val docs = graft.Tables(spark, sf("sf0.01")).documents
    val dir = Files.createTempDirectory("searchidx-mltb").toString
    SearchIndex.build(docs, dir)
    import spark.implicits._
    val single = SearchIndex.moreLikeThis(spark, dir, 1L, k = 20, topTerms = 10)
      .collect().map(_.toSeq).toSeq
    val batch1 = SearchIndex.moreLikeThisBatch(spark, dir, Seq(1L).toDF("doc_id"),
        k = 20, topTerms = 10)
      .select("doc_id", "dl", "n_terms", "score_micro")
      .collect().map(_.toSeq).toSeq
    assert(single.nonEmpty && batch1.toSet == single.toSet)
    // multi-seed: each seed's slice is that seed's single-seed answer
    val b3 = SearchIndex.moreLikeThisBatch(spark, dir, Seq(1L, 2L, 3L).toDF("doc_id"),
        k = 20, topTerms = 10).collect()
    assert(b3.map(_.getAs[Long]("seed_id")).toSet == Set(1L, 2L, 3L))
    val slice2 = b3.filter(_.getAs[Long]("seed_id") == 2L)
      .map(r => Seq[Any](r.getAs[Long]("doc_id"), r.getAs[Long]("dl"),
        r.getAs[Long]("n_terms"), r.getAs[Long]("score_micro"))).toSet
    val single2 = SearchIndex.moreLikeThis(spark, dir, 2L, k = 20, topTerms = 10)
      .collect().map(_.toSeq).toSet
    assert(slice2 == single2)
  }

  test("compact folds the df/stats merge-on-read parts without changing answers") {
    val docs = graft.Tables(spark, sf("sf0.01")).documents
    val hi = docs.agg(max("doc_id")).head().getLong(0)
    val dir = Files.createTempDirectory("searchidx-fold").toString
    SearchIndex.build(docs.filter(col("doc_id") <= hi / 2), dir)
    SearchIndex.append(docs.filter(col("doc_id") > hi / 2), dir)
    SearchIndex.forget(spark, dir, docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
    def parts(sub: String) = new java.io.File(s"$dir/$sub").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts("df") > 1 && parts("stats") > 1,
      "fixture needs multiple merge-on-read parts before compacting")
    val terms = Seq("data", "fast", "query")
    val before = rows(SearchIndex.query(spark, dir, terms, k = 20))
    SearchIndex.compact(spark, dir)
    assert(rows(SearchIndex.query(spark, dir, terms, k = 20)) == before,
      "folding must preserve the exact integer sums")
    // folded: one write's worth of parts, and the negative parts are gone
    assert(spark.read.parquet(s"$dir/stats").count() == 1)
    val dfs = spark.read.parquet(s"$dir/df")
    assert(dfs.filter(col("df") <= 0).count() == 0,
      "folded df must hold positive per-token sums only")
  }

  test("layout meta fails fast: a mismatched buckets width throws instead of mis-pruning") {
    val docs = graft.Tables(spark, sf("sf0.01")).documents.limit(60).localCheckpoint(true)
    val dir = Files.createTempDirectory("searchidx-meta").toString
    SearchIndex.build(docs, dir) // records buckets=64, docBuckets in _graft_meta.json
    assert(new java.io.File(s"$dir/_graft_meta.json").isFile)
    val terms = Seq("data", "fast", "query")
    // default (omitted) resolves to the stored width
    assert(rows(SearchIndex.query(spark, dir, terms, k = 20)).nonEmpty)
    // an explicit WRONG width would statically prune the probe to the wrong
    // partition directories and silently return incomplete rows (VERDICT
    // r14 #1) — it must throw
    val e1 = intercept[IllegalStateException] {
      SearchIndex.query(spark, dir, terms, k = 20, buckets = 32)
    }
    assert(e1.getMessage.contains("buckets=64"))
    val e2 = intercept[IllegalStateException] {
      SearchIndex.append(docs, dir, buckets = 32)
    }
    assert(e2.getMessage.contains("buckets=64"))
    val e3 = intercept[IllegalStateException] {
      SearchIndex.moreLikeThis(spark, dir, 1L, k = 5, buckets = 32)
    }
    assert(e3.getMessage.contains("buckets=64"))
    // the matching explicit value still works
    assert(rows(SearchIndex.query(spark, dir, terms, k = 20, buckets = 64)).nonEmpty)
  }

  test("thresholded compact: below-minShare buckets stay byte-identical, answers stay exact") {
    val docs = graft.Tables(spark, sf("sf0.01")).documents
    val dir = Files.createTempDirectory("searchidx-share").toString
    SearchIndex.build(docs, dir)
    val terms = Seq("data", "fast", "query")
    val victim = docs.agg(min("doc_id")).head().getLong(0)
    import spark.implicits._
    SearchIndex.forget(spark, dir, Seq(victim).toDF("doc_id"))
    val postingsBefore = files(s"$dir/postings")
    // one doc of a corpus: every bucket's tombstoned share is far below the
    // default threshold — compact must rewrite NOTHING in postings and
    // RETAIN the tombstones (serving stays exact via the anti-join)
    SearchIndex.compact(spark, dir)
    assert(files(s"$dir/postings") == postingsBefore,
      "below-threshold buckets must not be rewritten (VERDICT r14 #2)")
    assert(new java.io.File(s"$dir/tombstones").exists(),
      "tombstones covering still-present postings must be retained")
    val oneShot1 = Search.bm25TopDocs(docs.filter(col("doc_id") =!= victim), terms, k = 20)
    val want1 = rows(oneShot1)
    assert(rows(SearchIndex.query(spark, dir, terms, k = 20)) == want1)
    // a second, repeated compact must not churn the postings either
    SearchIndex.compact(spark, dir)
    assert(files(s"$dir/postings") == postingsBefore)
    // now forget half the corpus: every affected bucket crosses the
    // threshold, the rewrite happens, and the tombstones clear fully
    SearchIndex.forget(spark, dir, docs.filter(col("doc_id") % 2 === 0).select("doc_id"))
    SearchIndex.compact(spark, dir)
    assert(!new java.io.File(s"$dir/tombstones").exists(),
      "a full reclaim must clear the tombstone set")
    val left = spark.read.parquet(s"$dir/postings").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(!left.contains(victim) && left.forall(_ % 2 != 0),
      "an above-threshold compact must physically remove the forgotten docs")
    val keep = docs.filter(col("doc_id") % 2 =!= 0 && col("doc_id") =!= victim)
    val oneShot2 = Search.bm25TopDocs(keep, terms, k = 20)
    val want2 = rows(oneShot2)
    assert(rows(SearchIndex.query(spark, dir, terms, k = 20)) == want2)
  }

  test("a meta-less index fails loudly on every entry point and says to rebuild") {
    // an index without its layout record (written before records existed,
    // or a build that never finished) has no known token or doc-hash
    // width: every entry point must refuse it instead of guessing one
    val docs = graft.Tables(spark, sf("sf0.01")).documents
    val hi = docs.agg(max("doc_id")).head().getLong(0)
    val dir = Files.createTempDirectory("searchidx-nometa").toString
    SearchIndex.build(docs.filter(col("doc_id") <= hi / 2), dir)
    assert(new java.io.File(s"$dir/_graft_meta.json").delete())
    val victim = docs.agg(min("doc_id")).head().getLong(0)
    val terms = Seq("data", "fast", "query")
    import spark.implicits._
    def failsLoudly(op: => Any): Unit = {
      val e = intercept[IllegalStateException](op)
      assert(e.getMessage.contains("rebuild"), e.getMessage)
    }
    failsLoudly(SearchIndex.append(docs.filter(col("doc_id") > hi / 2), dir))
    failsLoudly(SearchIndex.forget(spark, dir, Seq(victim).toDF("doc_id")))
    failsLoudly(SearchIndex.compact(spark, dir))
    failsLoudly(SearchIndex.query(spark, dir, terms, k = 20))
    failsLoudly(SearchIndex.moreLikeThis(spark, dir, victim, k = 5))
    failsLoudly(SearchIndex.moreLikeThisBatch(spark, dir, Seq(victim).toDF("doc_id"), k = 5))
    // a rebuild restores service
    SearchIndex.build(docs, dir)
    val oneShot = Search.bm25TopDocs(docs, terms, k = 20)
    val want = rows(oneShot)
    assert(rows(SearchIndex.query(spark, dir, terms, k = 20)) == want)
  }

  test("moreLikeThis refuses a forgotten seed; the batch form drops it") {
    val docs = graft.Tables(spark, sf("sf0.01")).documents
    val dir = Files.createTempDirectory("searchidx-mlt-tomb").toString
    SearchIndex.build(docs, dir)
    import spark.implicits._
    SearchIndex.forget(spark, dir, Seq(1L).toDF("doc_id"))
    val e = intercept[IllegalArgumentException] {
      SearchIndex.moreLikeThis(spark, dir, 1L, k = 10)
    }
    assert(e.getMessage.contains("forgotten"))
    val b = SearchIndex.moreLikeThisBatch(spark, dir, Seq(1L, 2L).toDF("doc_id"), k = 10)
      .collect()
    assert(b.nonEmpty && b.map(_.getAs[Long]("seed_id")).toSet == Set(2L),
      "a forgotten seed must not produce recommendations")
  }

  test("hot-term guard: df > maxDfShare*n terms never enter the MLT probe") {
    import spark.implicits._
    // 12 docs; "hot" carried by 11 (df 11 > floor(0.9*12) = 10, a truly
    // corpus-saturated term whose postings bucket is corpus-sized); the
    // seed's informative terms are rare1/rare2 (df 2 each). The assertion
    // is structural: guarded selection must not touch the saturated term's
    // postings at all, so docs sharing ONLY "hot" never become candidates.
    val docs = (Seq(
      1L -> "hot hot hot rare1 rare2",
      2L -> "hot rare1 pad2",
      3L -> "hot rare2 pad3") ++
      (4L to 9L).map(i => i -> s"hot pad$i") ++ Seq(
      10L -> "hot pad10",
      11L -> "hot pad11",
      12L -> "pad12")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("searchidx-hot").toString
    SearchIndex.build(docs, dir, buckets = 8)
    val guarded = SearchIndex.moreLikeThis(spark, dir, 1L, k = 12, topTerms = 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // only docs sharing a RARE term qualify; docs 4..9 share only "hot"
    assert(guarded == Set(2L, 3L), s"got $guarded")
    // counterfactual: disabling the guard admits the df=8 term and drags
    // the only-hot docs in — proving the guard (not chance) excluded them
    val unguarded = SearchIndex.moreLikeThis(spark, dir, 1L, k = 12, topTerms = 10,
        maxDfShare = 1.0)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert((4L to 9L).forall(unguarded.contains), s"got $unguarded")
    // batch form applies the same guard
    val b = SearchIndex.moreLikeThisBatch(spark, dir, Seq(1L).toDF("doc_id"), k = 12,
        topTerms = 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(b == Set(2L, 3L), s"got $b")
  }

  test("docBuckets: sized by corpus policy, honored at a non-default width end to end") {
    // policy: one bucket per 2^20 docs, clamped to [16, 4096]
    assert(IndexMeta.bucketPolicy(600) == 16)
    assert(IndexMeta.bucketPolicy(16L << 20) == 16)
    assert(IndexMeta.bucketPolicy(100L << 20) == 100)
    assert(IndexMeta.bucketPolicy(1L << 40) == 4096)
    val docs = graft.Tables(spark, sf("sf0.01")).documents
    val dir = Files.createTempDirectory("searchidx-db32").toString
    SearchIndex.build(docs, dir, docBuckets = 32)
    def dbDirs(sub: String) = new java.io.File(s"$dir/$sub").listFiles()
      .count(_.getName.startsWith("dbucket="))
    assert(dbDirs("forward") == 32 && dbDirs("census") == 32)
    val victims = docs.filter(col("doc_id") % 5 === 2).select("doc_id")
    SearchIndex.forget(spark, dir, victims)
    val terms = Seq("data", "fast", "query")
    val oneShot = Search.bm25TopDocs(docs.filter(col("doc_id") % 5 =!= 2), terms, k = 20)
    val want = rows(oneShot)
    assert(rows(SearchIndex.query(spark, dir, terms, k = 20)) == want)
    SearchIndex.compact(spark, dir, minShare = 0.0)
    assert(rows(SearchIndex.query(spark, dir, terms, k = 20)) == want)
    assert(rows(SearchIndex.moreLikeThis(spark, dir, 1L, k = 10).toDF()).nonEmpty)
  }

  test("token buckets: sized by postings policy, honored at a non-default width end to end") {
    // policy: one bucket per 2^20 postings rows, clamped to [64, 4096]
    assert(IndexMeta.tokenBucketPolicy(600) == 64)
    assert(IndexMeta.tokenBucketPolicy(64L << 20) == 64)
    assert(IndexMeta.tokenBucketPolicy(200L << 20) == 200)
    assert(IndexMeta.tokenBucketPolicy(1L << 40) == 4096)
    val docs = graft.Tables(spark, sf("sf0.01")).documents
    // default build: the oracle-scale corpus lands on the policy floor (the
    // historical 64) and records it in meta — existing indexes byte-stable
    val dirDef = Files.createTempDirectory("searchidx-tbdef").toString
    SearchIndex.build(docs, dirDef)
    assert(IndexMeta.readText(spark, dirDef).flatMap(IndexMeta.long(_, "buckets"))
      .contains(64L))
    // explicit non-default width: recorded, probed correctly, survives the
    // full forget/compact lifecycle, and a mismatching caller still throws
    val dir = Files.createTempDirectory("searchidx-tb96").toString
    SearchIndex.build(docs, dir, buckets = 96)
    assert(IndexMeta.readText(spark, dir).flatMap(IndexMeta.long(_, "buckets"))
      .contains(96L))
    val terms = Seq("data", "fast", "query")
    val wantAll = rows(Search.bm25TopDocs(docs, terms, k = 20))
    assert(rows(SearchIndex.query(spark, dir, terms, k = 20)) == wantAll)
    val victims = docs.filter(col("doc_id") % 5 === 2).select("doc_id")
    SearchIndex.forget(spark, dir, victims)
    val oneShot = Search.bm25TopDocs(docs.filter(col("doc_id") % 5 =!= 2), terms, k = 20)
    val want = rows(oneShot)
    assert(rows(SearchIndex.query(spark, dir, terms, k = 20)) == want)
    SearchIndex.compact(spark, dir, minShare = 0.0)
    assert(rows(SearchIndex.query(spark, dir, terms, k = 20)) == want)
    intercept[IllegalStateException] {
      SearchIndex.query(spark, dir, terms, k = 20, buckets = 64)
    }: Unit
  }

  test("a build crashed before its meta write fails loudly instead of mis-pruning at the legacy width") {
    // the widths are corpus-derived, so a fresh build whose data landed but
    // whose meta did not (the meta is written after the data) has unknown
    // widths: reads must fail loudly rather than probe a guessed width
    val docs = graft.Tables(spark, sf("sf0.01")).documents.limit(60).localCheckpoint(true)
    val dir = Files.createTempDirectory("searchidx-crashbuild").toString
    SearchIndex.build(docs, dir)
    // simulate the crash window: data present, meta never written
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/_graft_meta.json"))
    val e = intercept[IllegalStateException] {
      SearchIndex.query(spark, dir, Seq("data"), k = 5)
    }
    assert(e.getMessage.contains("rebuild"))
    // a fresh build repairs the state (meta back)
    SearchIndex.build(docs, dir)
    assert(new java.io.File(s"$dir/_graft_meta.json").isFile)
    assert(rows(SearchIndex.query(spark, dir, Seq("data"), k = 5)).nonEmpty)
  }

  test("a crashed rebuild beside a PRIOR build's meta: a prior meta keeps serving") {
    // the other half of the crash window (VERDICT r16 #3): a rebuild that
    // dies over a healthy index leaves the prior build's meta in place,
    // and serving continues from it
    val docs = graft.Tables(spark, sf("sf0.01")).documents.limit(60).localCheckpoint(true)
    val dir = Files.createTempDirectory("searchidx-priormeta").toString
    SearchIndex.build(docs, dir)
    val want = rows(SearchIndex.query(spark, dir, Seq("data"), k = 5))
    intercept[Exception] {
      SearchIndex.build(docs, dir, idCol = "no_such_column")
    }: Unit
    assert(new java.io.File(s"$dir/_graft_meta.json").isFile)
    assert(rows(SearchIndex.query(spark, dir, Seq("data"), k = 5)) == want,
      "a prior meta must keep serving, not throw")
  }

  test("a FAILED fresh build leaves no meta: reads fail until a rebuild") {
    // a build that dies before its meta write leaves no layout record, so
    // the next reader gets the explicit rebuild-me error instead of a
    // guessed width
    val docs = graft.Tables(spark, sf("sf0.01")).documents.limit(60).localCheckpoint(true)
    val dir = Files.createTempDirectory("searchidx-failedbuild").toString
    intercept[Exception] {
      SearchIndex.build(docs, dir, idCol = "no_such_column")
    }: Unit
    assert(!new java.io.File(s"$dir/_graft_meta.json").exists(),
      "failed build must leave no layout record")
    val e = intercept[IllegalStateException] {
      SearchIndex.query(spark, dir, Seq("data"), k = 5)
    }
    assert(e.getMessage.contains("rebuild"))
    // recovery path: a clean rebuild serves
    SearchIndex.build(docs, dir)
    assert(rows(SearchIndex.query(spark, dir, Seq("data"), k = 5)).nonEmpty)
  }

  test("fold-swap crash window: readers fall back to the backup, mutators repair it") {
    val docs = graft.Tables(spark, sf("sf0.01")).documents.limit(80).localCheckpoint(true)
    val dir = Files.createTempDirectory("searchidx-foldcrash").toString
    SearchIndex.build(docs, dir)
    val terms = Seq("data", "fast", "query")
    val want = rows(SearchIndex.query(spark, dir, terms, k = 20))
    assert(want.nonEmpty)
    // simulate a crash between foldSwap's two renames: the live df/ is
    // gone, the backup holds the complete store (ADVICE r14 — the r14
    // in-place overwrite could destroy the stats here)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$dir/df"),
      java.nio.file.Paths.get(s"$dir/df.__fold_old"))
    assert(rows(SearchIndex.query(spark, dir, terms, k = 20)) == want,
      "a reader in the swap window must see the complete backup store")
    // the next locked mutator repairs the layout before touching anything
    import spark.implicits._
    SearchIndex.forget(spark, dir, Seq(-1L).toDF("doc_id")) // absent id: stats no-op
    assert(new java.io.File(s"$dir/df").isDirectory &&
      !new java.io.File(s"$dir/df.__fold_old").exists(),
      "a mutator must restore the live root from the backup")
    assert(rows(SearchIndex.query(spark, dir, terms, k = 20)) == want)
  }

  test("token-sorted postings prune INSIDE buckets: fewer rows read than an unsorted twin") {
    // small parquet pages so min-max (column-index) pruning is observable
    // at spec scale (production files carry many pages/row groups per
    // bucket naturally)
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    val oldPage = hc.get("parquet.page.size")
    val oldLimit = hc.get("parquet.page.row.count.limit")
    hc.setInt("parquet.block.size", 16 * 1024)
    hc.setInt("parquet.page.size", 1024)
    hc.setInt("parquet.page.row.count.limit", 50)
    try {
      val docs = graft.Tables(spark, sf("sf0.01")).documents
      val sorted = Files.createTempDirectory("searchidx-sorted").toString
      // few buckets -> enough postings per bucket for multiple row groups
      SearchIndex.build(docs, sorted, buckets = 4)
      // unsorted twin: same postings, same bucketing, row order scrambled
      // by a hash sort (a bare repartition would inherit the sorted source
      // order through the shuffle and prune just as well)
      val unsorted = Files.createTempDirectory("searchidx-unsorted").toString
      spark.read.parquet(s"$sorted/postings")
        .repartition(col("bucket"))
        .sortWithinPartitions(col("bucket"), xxhash64(col("token"), col("doc_id")))
        .write.partitionBy("bucket").parquet(s"$unsorted/postings")
      spark.read.parquet(s"$sorted/df").write.parquet(s"$unsorted/df")
      // the twin carries the sorted index's layout record (same widths)
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sorted/_graft_meta.json"),
        java.nio.file.Paths.get(s"$unsorted/_graft_meta.json"))
      spark.read.parquet(s"$sorted/stats").write.parquet(s"$unsorted/stats")

      val terms = Seq("data", "fast", "query")
      def rowsRead(dir: String): (Set[Seq[Any]], Long) = {
        val q = SearchIndex.query(spark, dir, terms, k = 20, buckets = 4)
        val res = rows(q)
        val scan = allNodes(q.queryExecution.executedPlan match {
            case a: AdaptiveSparkPlanExec => a.executedPlan
            case p => p
          })
          .collect { case s: FileSourceScanExec => s }
          .find(_.relation.location.rootPaths.exists(_.toString.contains("/postings")))
          .get
        (res, scan.metrics("numOutputRows").value)
      }
      val (sRes, sRows) = rowsRead(sorted)
      val (uRes, uRows) = rowsRead(unsorted)
      assert(sRes == uRes, "layout must not change answers")
      assert(sRes.nonEmpty)
      // the pushed token filter prunes row groups only when tokens are
      // clustered: the sorted layout must read strictly less
      assert(sRows < uRows,
        s"sorted postings should prune inside buckets: read $sRows vs unsorted $uRows")
    } finally {
      def restore(k: String, v: String): Unit =
        if (v == null) hc.unset(k) else hc.set(k, v)
      restore("parquet.block.size", oldBlock)
      restore("parquet.page.size", oldPage)
      restore("parquet.page.row.count.limit", oldLimit)
    }
  }

  test("moreLikeThis's scoring probe is partition pruning like query's") {
    val docs = graft.Tables(spark, sf("sf0.01")).documents
    val dir = Files.createTempDirectory("searchidx-mlt-prune").toString
    SearchIndex.build(docs, dir)
    val totalBuckets = new java.io.File(s"$dir/postings").listFiles()
      .count(_.getName.startsWith("bucket="))
    val res = SearchIndex.moreLikeThis(spark, dir, 1L, k = 20, topTerms = 10)
    assert(res.collect().nonEmpty)
    val postScan = allNodes(res.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      })
      .collect { case s: FileSourceScanExec => s }
      .find(_.relation.location.rootPaths.exists(_.toString.contains("/postings")))
      .get
    assert(postScan.partitionFilters.nonEmpty, postScan.toString)
    val partitionsRead = postScan.metrics.get("numPartitions").map(_.value)
    assert(partitionsRead.exists(n => n > 0 && n <= 10 && n < totalBuckets),
      s"10 terms must read <=10 of $totalBuckets buckets, read $partitionsRead")
  }

  test("term probe is partition pruning: a query reads only its terms' buckets") {
    val docs = graft.Tables(spark, sf("sf0.01")).documents
    val dir = Files.createTempDirectory("searchidx2").toString
    SearchIndex.build(docs, dir)
    val totalBuckets = new java.io.File(s"$dir/postings").listFiles()
      .count(_.getName.startsWith("bucket="))
    assert(totalBuckets > 3, s"fixture needs more buckets than terms, got $totalBuckets")

    val res = SearchIndex.query(spark, dir, Seq("data", "fast", "query"), k = 20)
    assert(res.collect().nonEmpty)
    val postScan = allNodes(res.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      })
      .collect { case s: FileSourceScanExec => s }
      .find(_.relation.location.rootPaths.exists(_.toString.contains("/postings")))
      .get
    assert(postScan.partitionFilters.nonEmpty, postScan.toString)
    val partitionsRead = postScan.metrics.get("numPartitions").map(_.value)
    assert(partitionsRead.exists(n => n > 0 && n <= 3),
      s"3 terms must read <=3 of $totalBuckets buckets, read $partitionsRead")
  }

  test("partial compact: stale forward rows never churn buckets or strand the tombstone set") {
    import spark.implicits._
    // Craft per-bucket shares: doc 1 holds 100% of one postings bucket
    // (its unique token), 50% of another (a token shared with doc 2 only),
    // and 10% of a third (a token every doc has) — chosen so all involved
    // tokens land in DISTINCT token-hash buckets
    val pool = (1 to 2000).map(i => s"w$i")
    val distinct = pool.foldLeft(Vector.empty[String]) { (acc, w) =>
      if (acc.size < 7 && !acc.exists(a =>
        Dedup.hash60Local(a) % 64 == Dedup.hash60Local(w) % 64)) acc :+ w else acc
    }
    val Vector(uniq, shared, com1, com2, com3, com4, com5) = distinct
    val common = Seq(com1, com2, com3, com4, com5).mkString(" ")
    val docs = (Seq((1L, s"$uniq $shared $com1"), (2L, s"$shared $common")) ++
      (3L to 10L).map(i => (i, common))).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("searchidx-partialc").toString
    SearchIndex.build(docs, dir)
    SearchIndex.forget(spark, dir, Seq(1L).toDF("doc_id"))
    // minShare 0.5 makes the reclaim PARTIAL: the unique bucket (share 1.0)
    // is rewritten and emptied, the shared bucket (0.5) rewritten with doc
    // 2's row surviving, the common bucket (1/10) skipped
    SearchIndex.compact(spark, dir, minShare = 0.5)
    assert(new java.io.File(s"$dir/tombstones").exists())
    assert(new java.io.File(s"$dir/tombstones/_graft_partial").exists())
    assert(!new java.io.File(
      s"$dir/postings/bucket=${Dedup.hash60Local(uniq) % 64}").exists())
    // doc 1's rows in the rewritten buckets are GONE, but its forward rows
    // remain (it is retained via the skipped bucket). Re-compacting at the
    // same threshold must be a postings NO-OP: counting the stale forward
    // rows would inflate the surviving shared bucket's share (1 stale tomb
    // row vs 1 live row = 100%) and churn it on every compact forever
    val snap = files(s"$dir/postings")
    SearchIndex.compact(spark, dir, minShare = 0.5)
    assert(files(s"$dir/postings") == snap,
      "stale forward rows must not trigger spurious bucket rewrites")
    // shares accrue: with docs 2..6 also forgotten every residual bucket
    // crosses 0.5, and the reclaim must CONVERGE — the already-deleted
    // unique bucket must not be held 'affected but skipped' forever (it
    // can never appear in the totals join)
    SearchIndex.forget(spark, dir, (2L to 6L).toDF("doc_id"))
    SearchIndex.compact(spark, dir, minShare = 0.5)
    assert(!new java.io.File(s"$dir/tombstones").exists(),
      "once every residual bucket crossed the threshold the tombstones must clear")
    val keep = docs.filter(col("doc_id") >= 7L)
    val oneShot = Search.bm25TopDocs(keep, Seq(com1), k = 10)
    val want = rows(oneShot)
    assert(rows(SearchIndex.query(spark, dir, Seq(com1), k = 10)) == want)
  }

  test("hot-term guard falls back instead of failing when every seed term is hot") {
    import spark.implicits._
    // 20 docs; the seed's whole vocabulary sits in 19 of them: df = 19 >
    // floor(0.9 * 20) = 18 (hot) yet idf > 0 — the guard alone would empty
    // the term set and fail a seed r14 answered; the fallback ranks the
    // hot terms instead
    val docs = ((1L to 19L).map(i => (i, "alpha beta")) :+ (20L, "gamma delta"))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("searchidx-mlt-hot").toString
    SearchIndex.build(docs, dir)
    val single = SearchIndex.moreLikeThis(spark, dir, 1L, k = 5)
    val got = single.collect()
    assert(got.nonEmpty, "an all-hot seed must fall back, not fail")
    assert(got.map(_.getAs[Long]("doc_id")).forall(d => d >= 2L && d <= 19L))
    // batch-of-one equality holds through the per-seed fallback too
    val batch = SearchIndex.moreLikeThisBatch(spark, dir, Seq(1L).toDF("doc_id"), k = 5)
    assert(rows(batch.select("doc_id", "dl", "n_terms", "score_micro")) ==
      got.map(_.toSeq).toSet)
    // and a guarded corpus stays guarded: doc 20's cold terms rank
    // normally in the same batch (they have no co-occurring docs, so the
    // seed contributes no rows — but it must not throw)
    val mixed = SearchIndex.moreLikeThisBatch(spark, dir, Seq(1L, 20L).toDF("doc_id"), k = 5)
    assert(mixed.select("seed_id").distinct().as[Long].collect().toSet == Set(1L))
  }

  test("meta mid-swap window: readers fall back to the .tmp twin, never the legacy width") {
    val docs = graft.Tables(spark, sf("sf0.01")).documents
    val dir = Files.createTempDirectory("searchidx-metaswap").toString
    // a NON-default width: a reader that loses the meta would fall back to
    // the legacy 64 and silently prune probes to the wrong directories
    SearchIndex.build(docs, dir, buckets = 32)
    val terms = Seq("data", "fast", "query")
    val want = rows(SearchIndex.query(spark, dir, terms, k = 20))
    assert(want.nonEmpty)
    // simulate a writer crashed between IndexMeta.write's delete and
    // rename: live file gone, complete .tmp twin present
    val meta = new java.io.File(s"$dir/_graft_meta.json")
    val tmp = new java.io.File(s"$dir/_graft_meta.json.tmp")
    assert(meta.renameTo(tmp))
    assert(rows(SearchIndex.query(spark, dir, terms, k = 20)) == want,
      "the .tmp twin must be honored - the legacy-width fallback would mis-prune")
  }
}
