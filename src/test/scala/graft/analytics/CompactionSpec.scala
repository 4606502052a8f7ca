package graft.analytics

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The tombstone delete/compact lifecycle of the persisted indexes
  * ([[DedupIndex.forget]]/[[DedupIndex.compact]],
  * [[PqIndex.forget]]/[[PqIndex.compact]]) — the spec both scaladocs cite.
  *
  * Contracts proven for BOTH indexes:
  *  (a) a forgotten id never appears in any probe/top-k, and ranks/pairs
  *      backfill with survivors exactly as if it had never been indexed;
  *  (b) query results before vs after [[compact]] are row-identical
  *      (compaction reclaims space, never changes answers);
  *  (c) append-after-forget stays suppressed until compact and works after
  *      (the documented re-admission contract);
  *  (d) compact on a tombstone-free index is a no-op (no file touched);
  * plus the all-tombstoned edge (ADVICE r11): compact of an index whose
  * every row is forgotten leaves a READABLE empty index that accepts new
  * appends, and the PQ geometry meta check fails loudly on mismatch.
  */
class CompactionSpec extends SparkSpec {

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy(df.columns.map(col): _*).collect().toSeq.map(_.toSeq)

  /** Recursive (path, size) listing — the no-op fingerprint. `_lock` is
    * excluded: acquiring the writer lock rewrites its diagnostics content
    * by design, and a no-op compact still (correctly) takes the lock. */
  private def listing(dir: String): Set[(String, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] = {
      val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      kids.filter(_.isFile) ++ kids.filter(_.isDirectory).flatMap(walk)
    }
    walk(new java.io.File(dir))
      .filterNot(f => f.getName == "_lock" || f.getName == "._lock.crc")
      .map(f => (f.getPath, f.length())).toSet
  }

  // ---------------------------------------------------------------- dedup

  test("DedupIndex: forget excludes, compact preserves probes, no-op compact touches nothing") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val mid = docs.agg(max("doc_id")).head().getLong(0) / 2
    val history = docs.filter(col("doc_id") <= mid)
    val delta = docs.filter(col("doc_id") > mid)
    val idx = Files.createTempDirectory("compact-dedup").toString
    DedupIndex.build(history, idx)

    val before = pairSet(DedupIndex.dedupDelta(spark, idx, delta, minJaccard = 0.5))
    // forget every history doc that currently matches the delta — the
    // strongest visible change the fixture offers
    val forgotten = before.map(_._1).filter(_ <= mid)
    assert(forgotten.nonEmpty, "fixture needs history-side matches")
    import spark.implicits._
    DedupIndex.forget(spark, idx, forgotten.toSeq.toDF("doc_id"))

    // (a) forgotten ids never match; surviving pairs are EXACTLY the
    // before-pairs not touching a forgotten doc (nothing else moved)
    val afterForget = pairSet(DedupIndex.dedupDelta(spark, idx, delta, minJaccard = 0.5))
    assert(afterForget == before.filterNot(p => forgotten(p._1) || forgotten(p._2)))
    assert(afterForget.forall(p => !forgotten(p._1) && !forgotten(p._2)))

    // (b) compact: probe-before ≡ probe-after, tombstones cleared
    DedupIndex.compact(spark, idx)
    assert(!new java.io.File(s"$idx/tombstones").exists())
    val afterCompact = pairSet(DedupIndex.dedupDelta(spark, idx, delta, minJaccard = 0.5))
    assert(afterCompact == afterForget)

    // (d) tombstone-free compact is a byte-level no-op
    val snap = listing(idx)
    DedupIndex.compact(spark, idx)
    assert(listing(idx) == snap)
  }

  test("DedupIndex: append-after-forget is suppressed until compact, works after") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val history = docs.filter(col("doc_id") < 50)
    val h = history.agg(min("doc_id")).head().getLong(0)
    val idx = Files.createTempDirectory("compact-readd").toString
    DedupIndex.build(history, idx)
    // a delta doc that is an exact duplicate of history doc h
    val probe = docs.filter(col("doc_id") === h)
      .select(lit(999999L).as("doc_id"), col("text"))
    def matches(): Set[(Long, Long)] =
      pairSet(DedupIndex.dedupDelta(spark, idx, probe, minJaccard = 0.9))
    assert(matches().contains((h, 999999L)), "fixture: exact dup must match")

    import spark.implicits._
    DedupIndex.forget(spark, idx, Seq(h).toDF("doc_id"))
    assert(!matches().exists(p => p._1 == h || p._2 == h))
    // (c) re-append while tombstoned: STILL suppressed (the tombstone wins)
    DedupIndex.append(docs.filter(col("doc_id") === h).select("doc_id", "text"), idx)
    assert(!matches().exists(p => p._1 == h || p._2 == h))
    // compact removes every h row (original + the suppressed re-append) and
    // clears the tombstone; a fresh append is then visible again
    DedupIndex.compact(spark, idx)
    assert(!matches().exists(p => p._1 == h || p._2 == h))
    DedupIndex.append(docs.filter(col("doc_id") === h).select("doc_id", "text"), idx)
    assert(matches().contains((h, 999999L)))
  }

  test("DedupIndex: all-tombstoned compact leaves a readable empty index that accepts appends") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val history = docs.filter(col("doc_id") < 40)
    val idx = Files.createTempDirectory("compact-empty").toString
    DedupIndex.build(history, idx)
    DedupIndex.forget(spark, idx, history.select("doc_id"))
    DedupIndex.compact(spark, idx)
    // probes still work: no history matches, delta-internal pairs intact
    val delta = docs.filter(col("doc_id") >= 40 && col("doc_id") < 120)
    val got = DedupIndex.dedupDelta(spark, idx, delta, minJaccard = 0.5)
    assert(pairSet(got).forall(p => p._1 >= 40 && p._2 >= 40))
    // and the index accepts new content after the empty state
    DedupIndex.append(history.select("doc_id", "text"), idx)
    val again = pairSet(DedupIndex.dedupDelta(spark, idx, delta, minJaccard = 0.5))
    val fresh = Dedup.minhashLshPairs(
      history.select("doc_id", "text").unionByName(delta.select("doc_id", "text")),
      minJaccard = 0.5)
    val freshTouchingDelta = pairSet(fresh).filter(p => p._2 >= 40)
    assert(again == freshTouchingDelta)
  }

  // ------------------------------------------------------------------ pq

  test("PqIndex: forget excludes with survivor backfill, compact preserves queries, no-op compact") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val nprobe = ProductQuantization.scaledNprobe(emb.count())
    val idx = Files.createTempDirectory("compact-pq").toString
    PqIndex.build(emb, idx)
    val queries = emb.filter(col("vec_id") < 3)
    def topk(k: Int): DataFrame =
      PqIndex.query(spark, idx, queries, k = k, nprobe = nprobe)

    // deep ranking BEFORE any forget: the independent prediction of what
    // exclusion + backfill must produce
    val deep = topk(50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val before = rows(topk(5))

    // forget each query's rank-1 neighbor — the change must be visible
    val forgotten = deep.filter(_._2 == 1L).map(_._3).distinct
    assert(forgotten.nonEmpty)
    import spark.implicits._
    PqIndex.forget(spark, idx, forgotten.toSeq.toDF("vec_id"))

    // (a) EXACT backfill: survivors of the deep ranking, re-ranked, top-5 —
    // same ids, same adc values, ranks renumbered
    val expected = deep.filterNot(t => forgotten.contains(t._3))
      .groupBy(_._1).toSeq.flatMap { case (q, ts) =>
        ts.sortBy(_._2).take(5).zipWithIndex.map { case ((_, _, v, adc), i) =>
          Seq[Any](q, (i + 1).toLong, v, adc)
        }
      }
    val after = rows(topk(5))
    assert(after == expected.sortBy(s => (s(0).asInstanceOf[Long], s(1).asInstanceOf[Long]))
      .map(identity))
    assert(after.forall(r => !forgotten.contains(r(2).asInstanceOf[Long])))
    assert(after != before, "forgetting rank-1 neighbors must change the top-k")

    // (b) compact: query-before ≡ query-after; tombstones cleared
    PqIndex.compact(spark, idx)
    assert(!new java.io.File(s"$idx/tombstones").exists())
    assert(rows(topk(5)) == after)
    // rescored serving agrees on the survivor set too
    val resc = PqIndex.queryRescored(spark, idx, queries, emb, k = 5, nprobe = nprobe)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(resc.intersect(forgotten.toSet).isEmpty)

    // (d) tombstone-free compact is a byte-level no-op
    val snap = listing(idx)
    PqIndex.compact(spark, idx)
    assert(listing(idx) == snap)
  }

  test("PqIndex: append-after-forget is suppressed until compact, works after") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val nprobe = ProductQuantization.scaledNprobe(emb.count())
    val idx = Files.createTempDirectory("compact-pq-readd").toString
    PqIndex.build(emb, idx)
    val queries = emb.filter(col("vec_id") < 3)
    def resultIds(): Set[Long] =
      PqIndex.query(spark, idx, queries, k = 50, nprobe = nprobe)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    val y = resultIds().head
    import spark.implicits._
    PqIndex.forget(spark, idx, Seq(y).toDF("vec_id"))
    assert(!resultIds().contains(y))
    // (c) re-append while tombstoned: STILL suppressed
    PqIndex.append(emb.filter(col("vec_id") === y), idx)
    assert(!resultIds().contains(y))
    // compact clears the tombstone and drops ALL y rows; fresh append shows
    PqIndex.compact(spark, idx)
    assert(!resultIds().contains(y))
    PqIndex.append(emb.filter(col("vec_id") === y), idx)
    assert(resultIds().contains(y))
  }

  test("PqIndex: all-tombstoned compact leaves a readable empty index that accepts appends") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val small = emb.filter(col("vec_id") < 60)
    val idx = Files.createTempDirectory("compact-pq-empty").toString
    PqIndex.build(small, idx)
    PqIndex.forget(spark, idx, small.select("vec_id"))
    PqIndex.compact(spark, idx)
    val queries = emb.filter(col("vec_id") < 2)
    assert(PqIndex.query(spark, idx, queries, k = 5, nprobe = 2).count() == 0L)
    // appends re-populate the (still-trained) index
    PqIndex.append(small, idx)
    val got = PqIndex.query(spark, idx, queries, k = 5, nprobe = 2)
    assert(got.count() > 0L)
  }

  // -------------------- partition-scoped compaction (r13, VERDICT r12 #2)

  /** Per-file (path, size) fingerprint of a subtree. */
  private def files(dir: String): Set[(String, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] = {
      val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      kids.filter(_.isFile) ++ kids.filter(_.isDirectory).flatMap(walk)
    }
    walk(new java.io.File(dir)).map(f => (f.getPath, f.length())).toSet
  }

  test("PqIndex: compact rewrites only the lists containing tombstoned ids") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val idx = Files.createTempDirectory("compact-pq-scoped").toString
    PqIndex.build(emb, idx)
    // pick one list with >= 2 members; forget ONE of its vectors
    val byList = spark.read.parquet(s"$idx/codes")
      .select(col("vec_id"), col("centroid_id").cast("long").as("cid"))
      .collect().map(r => (r.getLong(1), r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val (targetList, members) = byList.find(_._2.size >= 2).get
    val victim = members.head
    val nprobe = ProductQuantization.scaledNprobe(emb.count())
    val queries = emb.filter(col("vec_id") < 3)
    import spark.implicits._
    PqIndex.forget(spark, idx, Seq(victim).toDF("vec_id"))
    val afterForget = rows(PqIndex.query(spark, idx, queries, k = 5, nprobe = nprobe))

    val untouchedBefore = byList.keySet.filterNot(_ == targetList)
      .map(cid => files(s"$idx/codes/centroid_id=$cid"))
    val touchedBefore = files(s"$idx/codes/centroid_id=$targetList")
    PqIndex.compact(spark, idx)
    // untouched list files byte-identical (same paths, same sizes); the
    // tombstoned list was rewritten (new part file names)
    val untouchedAfter = byList.keySet.filterNot(_ == targetList)
      .map(cid => files(s"$idx/codes/centroid_id=$cid"))
    assert(untouchedAfter == untouchedBefore,
      "compact must not touch lists without tombstoned ids")
    assert(files(s"$idx/codes/centroid_id=$targetList") != touchedBefore,
      "the list containing the tombstoned id must be rewritten")
    // the survivor set is intact and the answers unchanged
    assert(rows(PqIndex.query(spark, idx, queries, k = 5, nprobe = nprobe)) == afterForget)
    val left = spark.read.parquet(s"$idx/codes").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(!left.contains(victim) && left.size == byList.values.map(_.size).sum - 1)
  }

  test("PqIndex: compact deletes a fully-tombstoned list directory, leaves the rest") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val idx = Files.createTempDirectory("compact-pq-dellist").toString
    PqIndex.build(emb, idx)
    val byList = spark.read.parquet(s"$idx/codes")
      .select(col("vec_id"), col("centroid_id").cast("long").as("cid"))
      .collect().map(r => (r.getLong(1), r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val (targetList, members) = byList.head
    import spark.implicits._
    PqIndex.forget(spark, idx, members.toSeq.toDF("vec_id"))
    PqIndex.compact(spark, idx)
    assert(!new java.io.File(s"$idx/codes/centroid_id=$targetList").exists(),
      "a list whose every vector was forgotten must be deleted")
    val leftLists = spark.read.parquet(s"$idx/codes")
      .select(col("centroid_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(leftLists == byList.keySet - targetList)
  }

  test("DedupIndex: compact rewrites only the doc-hash buckets containing tombstoned docs") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val idx = Files.createTempDirectory("compact-dedup-scoped").toString
    DedupIndex.build(docs, idx)
    // forget one doc; its bucket is a pure function of the id
    val victim = docs.agg(min("doc_id")).head().getLong(0)
    val tb = spark.range(1).select(
      pmod(xxhash64(lit(victim)), lit(16)).cast("int")).head().getInt(0)
    import spark.implicits._
    DedupIndex.forget(spark, idx, Seq(victim).toDF("doc_id"))
    val delta = docs.filter(col("doc_id") =!= victim)
      .limit(20).select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val beforePairs = pairSet(DedupIndex.dedupDelta(spark, idx, delta, minJaccard = 0.5))

    def untouched(): Set[(String, Long)] =
      (0 until 16).filterNot(_ == tb).flatMap { b =>
        (0 until 4).flatMap(band => files(s"$idx/bands/band=$band/dbucket=$b")) ++
          files(s"$idx/shingles/dbucket=$b")
      }.toSet
    val before = untouched()
    val touchedShinBefore = files(s"$idx/shingles/dbucket=$tb")
    assert(touchedShinBefore.nonEmpty, "fixture: victim bucket must exist")
    DedupIndex.compact(spark, idx)
    assert(untouched() == before,
      "compact must not touch buckets without tombstoned docs")
    assert(files(s"$idx/shingles/dbucket=$tb") != touchedShinBefore,
      "the tombstoned doc's bucket must be rewritten")
    assert(pairSet(DedupIndex.dedupDelta(spark, idx, delta, minJaccard = 0.5)) == beforePairs)
  }

  test("DedupIndex: forget, compact and append run at the stored doc-hash width") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val idx = Files.createTempDirectory("dedup-meta-width").toString
    DedupIndex.build(docs, idx) // records docBuckets=16 + banding in meta
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$idx/_graft_meta.json")), "UTF-8")
    assert(meta.contains("\"docBuckets\":16") && meta.contains("\"bands\":4"), meta)
    val victim = docs.agg(min("doc_id")).head().getLong(0)
    val delta = docs.filter(col("doc_id") =!= victim)
      .limit(20).select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    import spark.implicits._
    // forget/compact partition pruning runs at the stored width
    DedupIndex.forget(spark, idx, Seq(victim).toDF("doc_id"))
    DedupIndex.compact(spark, idx)
    val left = spark.read.parquet(s"$idx/shingles").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(!left.contains(victim), "compact must find the victim's true bucket")
    // the probe still composes (appends under the stored width)
    DedupIndex.append(delta, idx)
    assert(pairSet(DedupIndex.dedupDelta(spark, idx,
      docs.filter(col("doc_id") === victim)
        .select(lit(5555555L).as("doc_id"), col("text")),
      minJaccard = 0.9)).nonEmpty,
      "appended twin content must still probe against the stored bands")
    // the on-disk second level keeps the BUILD width
    val widths = new java.io.File(s"$idx/shingles").listFiles()
      .filter(_.getName.startsWith("dbucket="))
      .map(_.getName.stripPrefix("dbucket=").toInt)
    assert(widths.forall(_ < 16) && widths.length > 8,
      s"appends must keep the stored 16-wide layout, saw ${widths.sorted.toSeq}")
  }

  test("DedupIndex: probes and appends band under the recorded geometry") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val idx = Files.createTempDirectory("dedup-meta-geom").toString
    DedupIndex.build(docs, idx, bands = 8, rowsPerBand = 2, n = 5)
    val meta = IndexMeta.readText(spark, idx).get
    assert(Seq("\"bands\":8", "\"rowsPerBand\":2", "\"ngram\":5").forall(meta.contains), meta)
    def copies(off: Long) = docs.filter(col("doc_id") % 100 === 0)
      .select((col("doc_id") + off).as("doc_id"), col("text"))
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val orig = copies(0L).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(orig.nonEmpty)
    // every history copy finds its original: the delta is banded like the
    // stored bands
    val p1 = pairs(DedupIndex.dedupDelta(spark, idx, copies(1000000L), minJaccard = 0.6))
    assert(orig.forall(id => p1((id, id + 1000000L))), p1)
    // appended copies are banded the same way: a second copy finds both
    DedupIndex.append(copies(1000000L), idx)
    val p2 = pairs(DedupIndex.dedupDelta(spark, idx, copies(2000000L), minJaccard = 0.6))
    assert(orig.forall(id => p2((id, id + 2000000L)) && p2((id + 1000000L, id + 2000000L))), p2)
  }

  test("a REBUILD clears stale tombstones in every persisted index") {
    import spark.implicits._
    // PqIndex: forget, rebuild, the forgotten vector ranks again
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val pqDir = Files.createTempDirectory("rebuild-pq").toString
    PqIndex.build(emb, pqDir)
    val queries = emb.filter(col("vec_id") < 3)
    val ids = PqIndex.query(spark, pqDir, queries, k = 20)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val victim = ids.head
    PqIndex.forget(spark, pqDir, Seq(victim).toDF("vec_id"))
    PqIndex.build(emb, pqDir) // rebuild over the forgotten index
    assert(PqIndex.query(spark, pqDir, queries, k = 20)
      .select("vec_id").collect().map(_.getLong(0)).toSet.contains(victim),
      "a rebuild must reset tombstones - the fresh corpus is all live")

    // DedupIndex: forget, rebuild, the forgotten doc matches again
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val h = docs.agg(min("doc_id")).head().getLong(0)
    val ddDir = Files.createTempDirectory("rebuild-dd").toString
    DedupIndex.build(docs.filter(col("doc_id") < 50), ddDir)
    val probe = docs.filter(col("doc_id") === h)
      .select(lit(999999L).as("doc_id"), col("text"))
    DedupIndex.forget(spark, ddDir, Seq(h).toDF("doc_id"))
    DedupIndex.build(docs.filter(col("doc_id") < 50), ddDir)
    assert(pairSet(DedupIndex.dedupDelta(spark, ddDir, probe, minJaccard = 0.9))
      .contains((h, 999999L)))

    // SearchIndex: forget, rebuild, ranking equals the unfiltered one-shot
    val terms = Seq("data", "fast", "query")
    val siDir = Files.createTempDirectory("rebuild-si").toString
    SearchIndex.build(docs, siDir)
    SearchIndex.forget(spark, siDir, docs.filter(col("doc_id") % 3 === 0).select("doc_id"))
    SearchIndex.build(docs, siDir)
    val oneShot = Search.bm25TopDocs(docs, terms, k = 20)
    val want = oneShot.orderBy(oneShot.columns.map(col): _*).collect().toSeq.map(_.toSeq)
    val si = SearchIndex.query(spark, siDir, terms, k = 20)
    assert(si.orderBy(si.columns.map(col): _*).collect().toSeq.map(_.toSeq) == want)

    // CdcIndex: forget, rebuild, the forgotten content screens dup again
    val cdcDir = Files.createTempDirectory("rebuild-cdc").toString
    val content = (0 until 120).map(i => s"x$i").mkString(" ")
    val cdcDocs = Seq((1L, content)).toDF("doc_id", "text")
    CdcIndex.build(cdcDocs, cdcDir)
    CdcIndex.forget(spark, cdcDir, Seq(1L).toDF("doc_id"))
    CdcIndex.build(cdcDocs, cdcDir)
    val v = CdcIndex.screenDelta(spark, cdcDir, Seq((9L, content)).toDF("doc_id", "text"))
      .head()
    assert(v.getAs[Long]("dup_permille") == 1000L)
  }

  test("SearchIndex: appending a tombstoned doc is dropped (stats stay exact) until compact") {
    import spark.implicits._
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val terms = Seq("data", "fast", "query")
    val dir = Files.createTempDirectory("append-tomb-si").toString
    val victim = docs.agg(min("doc_id")).head().getLong(0)
    SearchIndex.build(docs, dir)
    SearchIndex.forget(spark, dir, Seq(victim).toDF("doc_id"))
    val filtered = docs.filter(col("doc_id") =!= victim)
    def want(): Seq[Seq[Any]] = {
      val o = Search.bm25TopDocs(filtered, terms, k = 20)
      o.orderBy(o.columns.map(col): _*).collect().toSeq.map(_.toSeq)
    }
    def got(): Seq[Seq[Any]] = {
      val q = SearchIndex.query(spark, dir, terms, k = 20)
      q.orderBy(q.columns.map(col): _*).collect().toSeq.map(_.toSeq)
    }
    assert(got() == want())
    // append the tombstoned doc: it must be DROPPED, not counted-but-hidden
    // (a counted-but-hidden append would skew df/n and shift every score)
    SearchIndex.append(docs.filter(col("doc_id") === victim), dir)
    assert(got() == want(),
      "append of a tombstoned doc must not perturb the filtered-corpus ranking")
    // after a FULL compact (minShare = 0, the re-admission path) the
    // tombstone is gone and the same append is admitted
    SearchIndex.compact(spark, dir, minShare = 0.0)
    SearchIndex.append(docs.filter(col("doc_id") === victim), dir)
    val o2 = Search.bm25TopDocs(docs, terms, k = 20)
    val full = o2.orderBy(o2.columns.map(col): _*).collect().toSeq.map(_.toSeq)
    assert(got() == full)
  }

  test("PqIndex: geometry meta rejects mismatched or missing metadata with a rebuild message") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .filter(col("vec_id") < 80)
    val idx = Files.createTempDirectory("compact-pq-meta").toString
    PqIndex.build(emb, idx) // default 32x2
    val queries = emb.filter(col("vec_id") < 2)
    val meta = IndexMeta.readText(spark, idx).get
    assert(meta.contains("\"m\":32") && meta.contains("\"subDim\":2"), meta)
    // a record of another stored layout: fail loudly instead of reading
    // wrong array slots
    IndexMeta.write(spark, idx, meta.replace("\"layout\":2", "\"layout\":1"))
    val e1 = intercept[IllegalStateException] {
      PqIndex.query(spark, idx, queries, k = 5, nprobe = 2).collect()
    }
    assert(e1.getMessage.contains("rebuild"))
    val e2 = intercept[IllegalStateException] {
      PqIndex.append(emb, idx)
    }
    assert(e2.getMessage.contains("rebuild"))
    // missing meta (an index predating the packed layout): same loud failure
    assert(new java.io.File(s"$idx/_graft_meta.json").delete())
    val e3 = intercept[IllegalStateException] {
      PqIndex.query(spark, idx, queries, k = 5, nprobe = 2).collect()
    }
    assert(e3.getMessage.contains("rebuild"))
  }
}
