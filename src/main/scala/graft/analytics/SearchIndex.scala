package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PERSISTED BM25 search index: build once, query many — the retrieval
  * member of the build-once family ([[PqIndex]] for ANN, [[DedupIndex]]
  * for near-dup). [[Search.bm25TopDocs]] recomputes corpus statistics per
  * call, which is right for a one-shot oracled query but not for a corpus
  * served repeatedly; this is the missing half.
  *
  * On-disk layout under `dir`:
  *   - `postings/` (token, doc_id, tf, dl) PARTITIONED BY token hash
  *     bucket, token-SORTED within each bucket — the inverted index,
  *     denormalized with the doc length so scoring needs NO doc-table
  *     join.
  *   - `df/`    (token, df) — vocabulary-sized document frequencies.
  *     Merge-on-read (sum over parts per token): appends add parts, and
  *     [[forget]] appends NEGATIVE parts, so no mutation ever rewrites it.
  *   - `stats/` (n, dl_sum) rows — corpus size and token mass, summed on
  *     read under the same contract.
  *   - `census/` (doc_id, dl) PARTITIONED BY doc-hash bucket — one tiny
  *     row per doc INCLUDING token-less docs (they count toward n). Powers
  *     exact [[forget]] stat adjustment and partition-scoped [[compact]].
  *   - `forward/` (doc_id, token, tf) PARTITIONED BY the same doc-hash
  *     bucket (r14) — the per-doc token contributions, i.e. the postings
  *     transposed to doc order. Costs ~1× the postings bytes, and is what
  *     makes [[forget]] O(|ids|): the df deltas of a tombstone batch are
  *     read from the ids' own doc-buckets instead of a full postings pass
  *     (the one O(index) RTBF left in the family after r13 — VERDICT r13
  *     #1). Queries never read it.
  *   - `_graft_meta.json` (r15, VERDICT r14 #1) — the LAYOUT RECORD:
  *     `buckets` (token-hash width of postings/, chosen by
  *     [[IndexMeta.tokenBucketPolicy]]) and `docBuckets` (doc-hash width of
  *     census/ + forward/, chosen by [[IndexMeta.bucketPolicy]] from corpus
  *     size at build — VERDICT r14 #4). Probes recompute the bucket rules
  *     driver-side, so these constants are properties of the BUILD: a
  *     caller passing a different `buckets` would statically prune to the
  *     wrong directories and silently miss postings — every later operation
  *     therefore reads the stored values and FAILS FAST on an explicit
  *     mismatch, and an index without the record fails loudly
  *     ([[IndexMeta]]).
  *
  * A query probes only its terms' buckets: the term list is hashed
  * DRIVER-side ([[Dedup.hash60Local]], bit-identical to the stored
  * bucketing) into a LITERAL partition filter, so the postings scan
  * statically prunes to |terms| of `buckets` directories — at 100 TB a
  * query reads ~terms/buckets of the index and never the corpus. Inside a
  * bucket the token sort lets parquet page/row-group min-max stats prune
  * further (measured in SearchIndexSpec).
  *
  * Right-to-be-forgotten (r13, completing the family contract): [[forget]]
  * appends the doc ids to a tombstone set that [[query]] anti-joins out of
  * the postings stream, and appends the exact NEGATIVE df/stats
  * contributions of the forgotten docs — the merge-on-read sums then
  * describe the corpus-minus-forgotten exactly, so a query after forget is
  * bit-identical to a one-shot [[Search.bm25TopDocs]] over the filtered
  * corpus (the `bm25_index_forget` oracle row IS `bm25_search`'s SQL with
  * the same exclusion). [[compact]] reclaims space partition-scoped AND
  * share-scoped (r15, VERDICT r14 #2): a postings bucket is rewritten only
  * when its tombstoned-row share crosses `minShare` — below it, serving
  * stays exact through the tombstone anti-join and the bytes are reclaimed
  * by a later compact once the share accrues, so bytes-rewritten tracks the
  * tombstoned share instead of the index size. Re-appending a forgotten doc
  * requires a FULL compact (`minShare = 0`) first (same contract as the
  * twins).
  *
  * Determinism: tf/dl/df/idf and the fixed-order BM25 sum are the exact
  * expressions of [[Search.bm25TopDocs]], so querying a freshly built
  * index returns bit-identical rows (the `bm25_index_search` oracle row
  * IS `bm25_search`'s SQL). */
object SearchIndex {

  /** The recorded layout of a stored index — see the scaladoc above. */
  private final case class Meta(buckets: Int, docBuckets: Int)

  private def path(s: String) = new org.apache.hadoop.fs.Path(s)

  private def writeMeta(spark: SparkSession, dir: String, m: Meta): Unit =
    IndexMeta.write(spark, dir, s"""{"layout":1,"buckets":${m.buckets},""" +
      s""""docBuckets":${m.docBuckets}}""")

  private def readMeta(spark: SparkSession, dir: String): Meta = {
    val txt = IndexMeta.required(spark, dir, "SearchIndex.build")
    Meta(IndexMeta.field(txt, "buckets", dir).toInt, IndexMeta.field(txt, "docBuckets", dir).toInt)
  }

  /** Fail-fast width resolution (r15, VERDICT r14 #1): the stored value
    * wins; an EXPLICIT caller value that disagrees throws — it would prune
    * the probe to the wrong partition directories and silently drop
    * postings. `caller <= 0` means "use the stored width" (the default on
    * every read/mutate path). */
  private def resolveBuckets(m: Meta, caller: Int, dir: String): Int = {
    if (caller > 0 && caller != m.buckets)
      throw new IllegalStateException(
        s"BM25 index at $dir was built with buckets=${m.buckets}; caller asked for " +
          s"buckets=$caller - a mismatched width prunes probes to the wrong partition " +
          "directories. Pass the build value or omit the parameter.")
    m.buckets
  }

  private[analytics] val PostingsSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("dl", LongType), StructField("token", StringType),
    StructField("tf", LongType), StructField("bucket", IntegerType)))

  private[analytics] val CensusSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("dl", LongType), StructField("dbucket", IntegerType)))

  private[analytics] val ForwardSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("token", StringType), StructField("tf", LongType),
    StructField("dbucket", IntegerType)))

  private def readPostings(spark: SparkSession, dir: String): DataFrame =
    IndexMeta.readStore(spark, s"$dir/postings", PostingsSchema)

  private def readCensus(spark: SparkSession, dir: String): DataFrame =
    IndexMeta.readStore(spark, s"$dir/census", CensusSchema)

  private def readForward(spark: SparkSession, dir: String): DataFrame =
    IndexMeta.readStore(spark, s"$dir/forward", ForwardSchema)

  private def dbucketOf(c: org.apache.spark.sql.Column, docBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(c), lit(docBuckets)).cast("int")

  /** The distinct doc-buckets of an id frame — a pure function of the ids,
    * pushed as a literal partition filter on census and forward. */
  private def dbucketsOf(ids: DataFrame, docBuckets: Int): Seq[Int] =
    ids.select(dbucketOf(col("doc_id"), docBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq

  // ---------------- df/stats merge-on-read stores ----------------

  /** Read a merge-on-read sum store (`df/` or `stats/`). Prefers the live
    * root; falls back to the fold-swap backup dir so a lock-free reader
    * racing [[compact]]'s fold (or landing after a crash between the two
    * renames) still sees a complete store — the in-place overwrite the r14
    * fold used could expose a missing/partial dir (ADVICE r14). */
  private def readSumStore(spark: SparkSession, dir: String, sub: String): DataFrame = {
    val root = path(s"$dir/$sub")
    if (IndexMeta.fs(spark, root).exists(root)) spark.read.parquet(root.toString)
    else spark.read.parquet(s"$dir/$sub.__fold_old")
  }

  /** Swap a folded replacement into place via two directory RENAMES
    * (metadata ops) instead of a delete-then-rewrite job window: write the
    * folded parts to `<sub>.__fold_tmp`, rename the live root aside to
    * `<sub>.__fold_old`, rename tmp in, delete the backup. The exposed
    * window is two renames wide, and [[readSumStore]] falls back to the
    * backup when the root is momentarily (or after a crash, durably)
    * absent — the statistics can no longer be destroyed mid-fold
    * (ADVICE r14). */
  private def foldSwap(spark: SparkSession, dir: String, sub: String,
                       folded: DataFrame): Unit = {
    val root = path(s"$dir/$sub")
    val tmp = path(s"$dir/$sub.__fold_tmp")
    val old = path(s"$dir/$sub.__fold_old")
    val f = IndexMeta.fs(spark, root)
    f.delete(tmp, true); f.delete(old, true)
    folded.write.parquet(tmp.toString)
    if (!f.rename(root, old))
      throw new IllegalStateException(s"fold swap: cannot move $root aside")
    if (!f.rename(tmp, root))
      throw new IllegalStateException(s"fold swap: cannot move $tmp into place")
    f.delete(old, true): Unit
  }

  /** Crash repair for [[foldSwap]], run at the head of every locked
    * mutator: a crash between the two renames leaves the live root missing
    * and the backup holding the truth — restore it before any append lands
    * in a fresh (history-less) root. A leftover backup beside a live root
    * is stale and dropped. */
  private def repairFoldSwap(spark: SparkSession, dir: String): Unit =
    Seq("df", "stats").foreach { sub =>
      val root = path(s"$dir/$sub")
      val old = path(s"$dir/$sub.__fold_old")
      val tmp = path(s"$dir/$sub.__fold_tmp")
      val f = IndexMeta.fs(spark, root)
      if (!f.exists(root) && f.exists(old)) { f.rename(old, root): Unit }
      else if (f.exists(old)) { f.delete(old, true): Unit }
      f.delete(tmp, true): Unit
    }

  /** Sort order of the postings rows inside each token bucket: the probe
    * prunes to |terms| bucket directories but still row-filters `token IN
    * (...)` inside a bucket, and token-sorted files let parquet's row-group
    * and page min-max stats prune there too. */
  private val PostingsOrder = Seq("token", "doc_id")

  /** Write one index generation. `buckets0 > 0` / `docBuckets0 > 0` pin the
    * token and census/forward widths (appends MUST reuse the stored widths —
    * each bucket rule is a pure function of its key only at constant
    * width); `0` derives them from the corpus ([[IndexMeta
    * .tokenBucketPolicy]] over the postings row count /
    * [[IndexMeta.bucketPolicy]] over the doc count, build path). Returns
    * (tokenWidth, docWidth) used. */
  private def writeIndex(docs: DataFrame, dir: String, buckets0: Int, docBuckets0: Int,
                         mode: String, idCol: String, textCol: String): (Int, Int) = {
    val toks = TextAnalysis.tokens(col(textCol))
    // ONE corpus pass (r17): tokenize once and let the census derive from
    // the same checkpointed aggregate. The pre-r17 shape tokenized the raw
    // text a SECOND time just to compute (doc_id, dl) for the census — at
    // 100 TB that is a whole extra corpus read + regex pass per
    // build/append. explode_outer keeps blank/null-token docs as a single
    // null-token row so they still reach the census (and n / dl_sum)
    // exactly as before; the null row is filtered out of the postings by
    // the same length() predicate (length(NULL) > 0 is not true).
    // `toks` is materialized as a column first: size() and the generator
    // both reference it, and a single-select form instantiates the
    // tokenizer expression twice (ExtractGenerator hoists the explode
    // above the projection) — two regex passes per row. As a referenced-
    // twice non-cheap alias it survives CollapseProject, so the tokenizer
    // runs once per doc.
    // The pass that checkpoints it also counts the postings rows, which
    // size the token width on the build path.
    val isPosting = length(col("token")) > 0
    val (base, counted) = Checkpoints.observedCheckpoint(docs
        .select(col(idCol).as("doc_id"), toks.as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
          explode_outer(col("toks")).as("token"))
        .groupBy("doc_id", "dl", "token").agg(count(lit(1)).as("tf")),
      count_if(isPosting))
    val buckets =
      if (buckets0 > 0) buckets0 else IndexMeta.tokenBucketPolicy(counted.getLong(0))
    val postings = base.filter(isPosting)
      .withColumn("bucket", Dedup.hash60(col("token")) % buckets)
    // census covers ALL docs (a blank doc has no postings but still counts
    // toward n and dl_sum — explode_outer carried it into `base` as a
    // null-token row); stats derive from it — same census bm25TopDocs
    // takes. Derived from the checkpointed aggregate, NOT from a second
    // pass over the raw text (r17). distinct() collapses the per-token rows
    // back to one (doc_id, dl) row per doc; map-side partial distinct
    // collapses each doc's token rows before the exchange, so the shuffle
    // is ~doc-count-sized. Checkpointed BEFORE the doc-bucketed writes so
    // the build can size docBuckets from the actual corpus row count.
    val census0 = base
      .select(col("doc_id").cast("long").as("doc_id"), col("dl"))
      .distinct()
      .localCheckpoint(true)
    // unique-id contract, fail-fast on the catchable class (r17 review):
    // the same id carried with two different texts (a dirty append batch,
    // or string ids cast-colliding onto one long) used to double-count n
    // and dl_sum while the postings aggregate merged the rows — two
    // stores silently disagreeing; it now throws. Byte-identical
    // duplicate rows are NOT detectable here (the token aggregate already
    // absorbed them) — unique (id, text) input rows are the documented
    // build contract. Row count and distinct-id count come from ONE
    // aggregate job over the checkpointed census (they were two driver actions).
    val censusCounts = census0.agg(count(lit(1)), count_distinct(col("doc_id"))).head()
    val censusRows = censusCounts.getLong(0)
    val distinctIds = censusCounts.getLong(1)
    require(censusRows == distinctIds,
      s"index build requires unique doc ids: $censusRows distinct (doc_id, dl) census rows " +
        s"but $distinctIds distinct ids — the same id appears with different texts " +
        "(duplicate-id input rows, or string ids cast-colliding to the same long)")
    val docBuckets =
      if (docBuckets0 > 0) docBuckets0 else IndexMeta.bucketPolicy(censusRows)
    // The five stores are mutually independent writes over the two
    // checkpointed frames (base via postings, census0), so they run
    // CONCURRENTLY from driver threads (r18, guide §2.6): five serial
    // job+commit latencies collapse to the slowest one. Per-store notes:
    //   - postings are sorted by [[PostingsOrder]] INSIDE each bucket (r13, VERDICT
    //     r12 #4): the probe prunes to |terms| bucket directories, but
    //     inside a bucket it still row-filters `token IN (...)` — with
    //     token-sorted files the parquet row-group/page min-max stats
    //     prune WITHIN the bucket too (SearchIndexSpec measures rows read,
    //     sorted vs unsorted). The leading `bucket` key keeps the write's
    //     required partition ordering satisfied, so no second
    //     (order-destroying) sort is inserted before the writer.
    //   - forward (r14) is the same (doc_id, token, tf) rows as postings,
    //     laid out in DOC order — [[forget]]'s df deltas read only the
    //     tombstoned ids' dbuckets from here, never the postings (which
    //     are laid out in token order and would cost a full pass).
    Par.run(
      () => IndexMeta.writeStore(postings, s"$dir/postings", mode, Seq("bucket"),
        sortCols = PostingsOrder),
      () => postings.groupBy("token").agg(count(lit(1)).as("df"))
        .write.mode(mode).parquet(s"$dir/df"),
      () => IndexMeta.writeStore(postings
        .select(col("doc_id"), col("token"), col("tf"))
        .withColumn("dbucket", dbucketOf(col("doc_id"), docBuckets)),
        s"$dir/forward", mode, Seq("dbucket")),
      () => IndexMeta.writeStore(census0.withColumn("dbucket", dbucketOf(col("doc_id"), docBuckets)),
        s"$dir/census", mode, Seq("dbucket")),
      () => census0.agg(count(lit(1)).as("n"), sum(col("dl")).as("dl_sum"))
        .write.mode(mode).parquet(s"$dir/stats"))
    Checkpoints.releaseCheckpoint(census0)
    Checkpoints.releaseCheckpoint(base)
    (buckets, docBuckets)
  }

  /** Tokenize once; write postings, document frequencies, census, stats,
    * and the layout meta. `buckets = 0` (default since r16) sizes the
    * postings token-hash width from the postings row count
    * ([[IndexMeta.tokenBucketPolicy]]); `docBuckets = 0` (default) sizes
    * the census/forward width from the corpus ([[IndexMeta.bucketPolicy]]);
    * an explicit value pins either (the A/B-probe knob). Both land in the
    * meta and every later operation reads them back. */
  def build(docs: DataFrame, dir: String, buckets: Int = 0,
            idCol: String = "doc_id", textCol: String = "text",
            docBuckets: Int = 0): Unit =
    IndexLock.withLock(docs.sparkSession, dir) {
      val spark = docs.sparkSession
      require(buckets >= 0, s"buckets must be non-negative, got $buckets")
      repairFoldSwap(spark, dir)
      val (b, db) = writeIndex(docs, dir, buckets, docBuckets, "overwrite", idCol, textCol)
      writeMeta(spark, dir, Meta(b, db))
      IndexMeta.clearTombstones(spark, dir)
    }

  /** Append a shard: its postings, df increments, census rows, and stats
    * increment are written as new parts, and [[query]] MERGES them on read
    * (sum over df parts per token, sum over stats parts). BM25 has no
    * trained state — unlike [[PqIndex.append]] there is nothing to go
    * stale, so after any append sequence a query is EXACTLY a one-shot
    * build of the union (SearchIndexSpec proves it against
    * [[Search.bm25TopDocs]]). The layout widths come from the stored meta
    * (an explicit mismatching `buckets` throws — VERDICT r14 #1). Tombstoned
    * ids in the delta are DROPPED
    * (not suppressed-but-counted — see the body comment); compact first to
    * re-admit a forgotten id. */
  def append(delta: DataFrame, dir: String, buckets: Int = 0,
             idCol: String = "doc_id", textCol: String = "text"): Unit =
    IndexLock.withLock(delta.sparkSession, dir) {
      val spark = delta.sparkSession
      repairFoldSwap(spark, dir)
      val meta = readMeta(spark, dir)
      val b = resolveBuckets(meta, buckets, dir)
      // a TOMBSTONED id in the delta is dropped, not written: unlike the
      // twins (where suppressed rows are harmless), its postings would be
      // anti-joined away while its df/n/dl_sum additions skewed every
      // other doc's score — the only stats-exact append semantics is to
      // ignore it until [[compact]] (the documented re-admission contract)
      val cleaned = IndexMeta.tombstones(spark, dir).fold(delta)(t =>
        delta.join(broadcast(t.withColumnRenamed("doc_id", "__tomb_id")),
          delta(idCol).cast("long") === col("__tomb_id"), "left_anti"))
      writeIndex(cleaned, dir, b, meta.docBuckets, "append", idCol, textCol): Unit
    }

  /** Delete docs from the index without rewriting it. Appends (a) the ids
    * to the tombstone set [[query]] anti-joins out of the postings stream,
    * and (b) the docs' EXACT negative df / n / dl_sum contributions as
    * ordinary merge-on-read parts — so every statistic a later query reads
    * equals a fresh build of corpus-minus-forgotten, and the ranking is
    * bit-identical to [[Search.bm25TopDocs]] over the filtered corpus
    * (`bm25_index_forget` oracle). Delete cost is O(|ids|), independent of
    * index size (r14, VERDICT r13 #1): the ids' doc-buckets are a pure
    * function of the ids, so BOTH the presence probe (census) and the df
    * deltas (forward) statically prune to |ids|-many of the stored
    * docBuckets directories — the postings store is never touched
    * (SearchIndexSpec proves a forget succeeds with postings/ physically
    * absent). Ids already
    * tombstoned or absent from the index are ignored (no
    * double-subtraction). Re-appending a forgotten id requires a full
    * [[compact]] first (the tombstone would keep suppressing its
    * postings). */
  def forget(spark: SparkSession, dir: String, ids: DataFrame,
             idCol: String = "doc_id"): Unit =
    IndexLock.withLock(spark, dir) {
      repairFoldSwap(spark, dir)
      val docBuckets = readMeta(spark, dir).docBuckets
      val cand = IndexMeta.live(spark, dir, IndexMeta.idFrame(ids, idCol, "doc_id"), "doc_id")
        .localCheckpoint(true) // |ids|-bounded; read 3× below
      // the candidate doc-buckets — a pure function of the REQUESTED ids
      // (a superset of the present ones), pushed as literal partition
      // filters on census and forward
      val cb = dbucketsOf(cand, docBuckets)
      val present = readCensus(spark, dir)
        .filter(col("dbucket").isin(cb: _*))
        .join(broadcast(cand), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("dl"))
        .localCheckpoint(true) // |ids|-bounded
      if (!present.isEmpty) {
        // ids FIRST: a lock-free reader between these appends sees the
        // docs already excluded with momentarily stale-high df — monotone
        // (a forgotten doc never reappears); the reverse order could rank
        // a forgotten doc under already-lowered stats
        IndexMeta.forget(dir, present.select("doc_id"))
        // the two NEGATIVE-delta parts are independent writes off the
        // checkpointed `present` frame — overlapped (r18, guide §2.6).
        // The load-bearing ordering is ids-BEFORE-deltas (above); between
        // the two deltas either interleaving leaves a lock-free reader
        // with the same exposure class as the old serial order (tombstoned
        // docs already excluded, some statistics momentarily stale-high).
        Par.run(
          () => readForward(spark, dir).filter(col("dbucket").isin(cb: _*))
            .join(broadcast(present.select("doc_id")), Seq("doc_id"), "left_semi")
            .groupBy("token").agg((count(lit(1)) * -1L).as("df"))
            .write.mode("append").parquet(s"$dir/df"),
          () => present.agg((count(lit(1)) * -1L).as("n"), (sum(col("dl")) * -1L).as("dl_sum"))
            .write.mode("append").parquet(s"$dir/stats"))
      }
    }

  /** Reclaim the space of tombstoned docs, SHARE-scoped (r15, VERDICT r14
    * #2): a postings bucket is rewritten only when tombstoned rows are at
    * least `minShare` of its rows — below that, the rewrite would move a
    * whole bucket to drop a sliver, and serving is already exact through
    * the tombstone anti-join. Because a document's tokens hash across most
    * of the `buckets` token-hash directories, the r14 any-tombstone rule
    * made even a small forget batch rewrite nearly the whole postings
    * store; with the threshold, bytes-rewritten tracks the tombstoned
    * share (measured in SCALING.md § "BM25 compact rewrites ∝ tombstoned
    * share"). `minShare = 0` forces the
    * full rewrite — the RE-ADMISSION path: tombstones are cleared only
    * when every tombstoned posting is physically gone, so when any bucket
    * is skipped the WHOLE tombstone set is retained (monotone for lock-free
    * readers; a retained id stays un-re-appendable, the documented LSM
    * posture) and a later compact finishes the job once shares accrue.
    *
    * Docs whose every postings bucket WAS rewritten (plus blank docs) have
    * their census/forward rows reclaimed immediately; retained docs keep
    * theirs — a later compact's O(|ids|) discovery reads the affected
    * buckets from the forward store.
    *
    * The df/stats merge-on-read parts (one set per build/append, one
    * NEGATIVE set per forget) are FOLDED to their sums while we're here
    * (r14): the sums are exact integers, so queries before and after return
    * identical rows (SearchIndexSpec), and a long append/forget history
    * stops costing a part-file listing per query. The fold lands via an
    * atomic-rename swap with a reader fallback ([[foldSwap]]) — never an
    * in-place overwrite window (ADVICE r14). Tokens whose folded df is 0
    * (every carrier forgotten) drop out entirely. A tombstone-free compact
    * stays a byte-level no-op. */
  def compact(spark: SparkSession, dir: String, minShare: Double = 0.1): Unit =
    IndexLock.withLock(spark, dir) {
      repairFoldSwap(spark, dir)
      val meta = readMeta(spark, dir)
      IndexMeta.tombstones(spark, dir).foreach { tomb =>
        val t = broadcast(tomb)
        // A prior PARTIAL compact (some buckets rewritten, some skipped)
        // already purged the retained docs' rows from the rewritten
        // buckets, but their forward rows are kept (they drive the NEXT
        // discovery) — so forward-derived (bucket, doc) pairs are a
        // superset holding STALE entries for purged buckets. Counting
        // those as live would (a) keep a since-deleted bucket "affected"
        // forever — it never appears in the totals join, so it can never
        // be rewritten, lands in `skipped` every round, and the tombstone
        // set never clears; (b) inflate a surviving bucket's tombstoned
        // share and trigger spurious whole-bucket rewrites. The marker
        // records that state: the FIRST compact after forgets stays
        // forward-derived O(|ids|); after a partial one, the residual rows
        // are re-derived exactly from the candidate buckets themselves
        // (partition-pruned, doc_id column only).
        val partialMarker = path(IndexMeta.tombstoneRoot(dir) + "/_graft_partial")
        val f = IndexMeta.fs(spark, partialMarker)
        val hadPartial = f.exists(partialMarker)
        // (bucket, doc_id) of every tombstoned POSTINGS row, O(|ids|): the
        // ids' dbuckets are a pure function of the ids and the token-bucket
        // rule is recomputed from the stored width
        val derived = readForward(spark, dir)
          .filter(col("dbucket").isin(dbucketsOf(tomb, meta.docBuckets): _*))
          .join(t, Seq("doc_id"), "left_semi")
          .select((Dedup.hash60(col("token")) % meta.buckets).as("bucket"), col("doc_id"))
        val tombRows: DataFrame =
          if (!hadPartial) derived
          else {
            val candB = derived.select("bucket").distinct()
              .collect().map(_.getLong(0)).toSeq
            if (candB.isEmpty) derived
            else readPostings(spark, dir)
              .filter(col("bucket").isin(candB: _*))
              .join(t, Seq("doc_id"), "left_semi")
              .select(col("bucket").cast("long").as("bucket"), col("doc_id"))
          }
        val perBucket = tombRows.groupBy("bucket")
          .agg(count(lit(1)).as("tomb_rows"))
          .localCheckpoint(true) // ≤ buckets rows
        val affected = perBucket.select("bucket")
          .collect().map(_.getLong(0)).toSet
        var skipped = Set.empty[Long]
        if (affected.nonEmpty) {
          val rewrite: Set[Long] =
            if (minShare <= 0d) affected
            else {
              // per-bucket totals: a partition-column-only aggregate (the
              // scan reads no data columns, just footers and row counts),
              // PRUNED to the affected buckets (r16, VERDICT r15 #2 — the
              // unpruned form listed and footer-scanned every bucket of the
              // index for a share decision that only concerns the affected
              // ones; at 100 TB that is O(index-width) I/O per compact)
              val totals = readPostings(spark, dir)
                .filter(col("bucket").isin(affected.toSeq: _*))
                .groupBy(col("bucket").cast("long").as("bucket"))
                .agg(count(lit(1)).as("all_rows"))
              perBucket.join(totals, "bucket")
                .filter(col("tomb_rows").cast("double") >= lit(minShare) * col("all_rows"))
                .select("bucket").collect().map(_.getLong(0)).toSet
            }
          skipped = affected -- rewrite
          // marker BEFORE the postings rewrite (ADVICE r15): a crash
          // between the rewrite and a trailing marker write would leave
          // stale forward rows unflagged — re-opening the churn/strand
          // hazard the marker exists to close. A premature marker (crash
          // before the rewrite lands) only costs the next compact one
          // conservative postings-derived discovery pass.
          if (rewrite.nonEmpty && skipped.nonEmpty && !hadPartial)
            f.create(partialMarker, true).close()
          IndexMeta.rewritePartitions(readPostings(spark, dir), s"$dir/postings",
            Seq("bucket"), "bucket", rewrite.toSeq, tomb, "doc_id", sortCols = PostingsOrder)
        }
        // docs fully reclaimed from the postings (no row left in a skipped
        // bucket) release their census/forward rows; retained docs keep
        // them — the next compact's discovery depends on the forward rows
        val retained: Option[DataFrame] =
          if (skipped.isEmpty) None
          else {
            val r = tombRows.filter(col("bucket").isin(skipped.toSeq: _*))
              .select("doc_id").distinct().localCheckpoint(true)
            if (r.isEmpty) None else Some(r)
          }
        val cleared = retained
          .fold(tomb)(r => tomb.join(broadcast(r), Seq("doc_id"), "left_anti"))
          .localCheckpoint(true) // |ids|-bounded
        if (!cleared.isEmpty) {
          // census + forward share the dbucket rule, so one candidate set
          // scopes both; buckets holding NO cleared rows (e.g. ids cleared
          // by an earlier partial compact, still tombstoned) are left
          // byte-identical instead of rewritten-in-place
          val cbCleared = dbucketsOf(cleared, meta.docBuckets)
          def compactDocBucketed(stored: DataFrame, root: String): Unit = {
            val hitCb = stored.filter(col("dbucket").isin(cbCleared: _*))
              .join(broadcast(cleared), Seq("doc_id"), "left_semi")
              .select(col("dbucket").cast("int")).distinct()
              .collect().map(_.getInt(0)).toSeq
            IndexMeta.rewritePartitions(stored, root, Seq("dbucket"), "dbucket", hitCb,
              cleared, "doc_id")
          }
          compactDocBucketed(readCensus(spark, dir), s"$dir/census")
          compactDocBucketed(readForward(spark, dir), s"$dir/forward")
        }
        // fold the merge-on-read df/stats parts to their exact sums (the
        // same sums every query computes on read — bit-identical results,
        // one part instead of one per historical mutation). localCheckpoint
        // pins the folded frames BEFORE the swap moves their source aside.
        val dfFolded = readSumStore(spark, dir, "df")
          .groupBy("token").agg(sum(col("df")).as("df"))
          .filter(col("df") =!= 0L)
          .localCheckpoint(true)
        foldSwap(spark, dir, "df", dfFolded)
        val stFolded = readSumStore(spark, dir, "stats")
          .agg(sum(col("n")).as("n"), sum(col("dl_sum")).as("dl_sum"))
          .localCheckpoint(true)
        foldSwap(spark, dir, "stats", stFolded)
        // tombstones are cleared only on a FULL reclaim: with any bucket
        // skipped, suppressed postings remain on disk and the whole set is
        // retained (never shrunk in place — a lock-free reader must never
        // see a partial tombstone dir). A partial reclaim that REWROTE
        // anything has already left the marker (written BEFORE the rewrite,
        // ADVICE r15) telling the next compact its forward rows are stale
        // for the rewritten buckets (see tombRows above).
        if (skipped.isEmpty) IndexMeta.clearTombstones(spark, dir)
      }
    }

  /** BM25 top-k from the stored index — output schema and values match
    * [[Search.bm25TopDocs]] exactly for the same terms and k (over the
    * corpus minus any [[forget]]-tombstoned docs). `buckets` defaults to
    * the stored layout; an explicit mismatching value throws (r15, VERDICT
    * r14 #1 — it would prune the probe to the wrong directories). */
  def query(spark: SparkSession, dir: String, queryTerms: Seq[String], k: Int,
            buckets: Int = 0, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms == queryTerms.sorted,
      "queryTerms must be non-empty and sorted (fixed summation order is the determinism contract)")
    val bk = resolveBuckets(readMeta(spark, dir), buckets, dir)
    // merge-on-read across appended parts: one stats row / df row per
    // build-or-append (negative ones per forget), summed here
    val st = readSumStore(spark, dir, "stats")
      .agg(sum(col("n")).as("n"), sum(col("dl_sum")).as("dl_sum")).head()
    val n = st.getAs[Long]("n")
    if (n <= 0L) {
      // every doc forgotten: nothing can rank (avgdl is undefined)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("doc_id", LongType), StructField("dl", LongType)) ++
          queryTerms.map(t => StructField(s"tf_$t", LongType)) :+
          StructField("score", DoubleType)))
    }
    val avgdl = st.getAs[Long]("dl_sum").toDouble / n
    val dfMap = readSumStore(spark, dir, "df")
      .filter(col("token").isin(queryTerms: _*))
      .groupBy("token").agg(sum(col("df")).as("df"))
      .collect().map(r => r.getAs[String]("token") -> r.getAs[Long]("df")).toMap
    val probed = queryTerms.map(t => Dedup.hash60Local(t) % bk).distinct
    // forgotten docs' rows never reach the pivot (their df/n/dl_sum
    // contributions are already subtracted by the negative parts)
    val post = IndexMeta.live(spark, dir, readPostings(spark, dir)
      .filter(col("bucket").isin(probed: _*) && col("token").isin(queryTerms: _*)), "doc_id")
    val tfCols = queryTerms.map(t =>
      coalesce(max(when(col("token") === t, col("tf"))), lit(0L)).as(s"tf_$t"))
    val pivoted = post.groupBy("doc_id", "dl").agg(tfCols.head, tfCols.tail: _*)
    val score = queryTerms.map { t =>
      val df = dfMap.getOrElse(t, 0L)
      val tf = col(s"tf_$t").cast("double")
      (Search.idfMicro(lit(df), n).cast("double") / 1e6) *
        (tf * (k1 + 1)) / (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl))
    }.reduce(_ + _) // same fixed left-to-right chain as bm25TopDocs
    pivoted.withColumn("score", round(score, 4))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .select((Seq(col("doc_id"), col("dl")) ++
        queryTerms.map(t => col(s"tf_$t")) ++ Seq(col("score"))): _*)
  }

  /** More-like-this retrieval from the stored index (r14) — the serving
    * use of the `forward/` store beyond RTBF: take a SEED document's top
    * `topTerms` terms and rank the rest of the corpus by BM25 over them.
    *
    * Term selection is exact-integer: the seed's terms rank by
    * tf × idf_micro (both BIGINTs — no float order ambiguity), tie-broken
    * by token; reading them costs ONE forward doc-bucket (the seed's, a
    * static partition filter) plus a seed-vocab-sized df probe. Terms
    * carried by more than `maxDfShare` of the corpus are EXCLUDED before
    * ranking (r15, VERDICT r14 #5): a stopword-saturated seed could
    * otherwise select a df≈n term whose postings bucket is corpus-sized —
    * the guard keeps the probe bucket-bounded and such terms are
    * idf-worthless anyway (idf → 0 as df → n). Scoring is the standard
    * probe — |terms| postings buckets — but with the per-(doc, term) BM25
    * contribution rounded to MICRO-UNIT INTEGERS and integer-summed,
    * because the term set is data-dependent (a dynamic pivot with
    * [[query]]'s fixed float chain is unavailable) and integer addition is
    * order-free — the same cross-engine-exactness trick as the ADC family;
    * the `bm25_mlt` oracle row recomputes the whole thing in DuckDB. A
    * [[forget]]-tombstoned seed is REFUSED (r15, ADVICE r14):
    * recommendations must not derive from forgotten content even before
    * compact reclaims its forward rows. Output: (doc_id, dl, n_terms,
    * score_micro), seed excluded, tombstoned docs excluded, ties broken by
    * doc_id.
    *
    * At 100 TB: seed term extraction reads ~1/docBuckets of forward (one
    * bucket), the df probe is vocabulary-keyed, and the scoring scan
    * statically prunes to |terms| of `buckets` postings directories — a
    * MLT query costs a few directory reads, never a corpus pass. */
  def moreLikeThis(spark: SparkSession, dir: String, docId: Long, k: Int,
                   topTerms: Int = 10, buckets: Int = 0,
                   k1: Double = 1.2, b: Double = 0.75,
                   maxDfShare: Double = 0.9): DataFrame = {
    val meta = readMeta(spark, dir)
    val bk = resolveBuckets(meta, buckets, dir)
    val tombs = IndexMeta.tombstones(spark, dir)
    tombs.foreach { t =>
      if (!t.filter(col("doc_id") === docId).isEmpty)
        throw new IllegalArgumentException(s"doc $docId at $dir is forgotten: " +
          "more-like-this must not serve recommendations derived from forgotten content")
    }
    val st = readSumStore(spark, dir, "stats")
      .agg(sum(col("n")).as("n"), sum(col("dl_sum")).as("dl_sum")).head()
    val n = st.getAs[Long]("n")
    require(n > 0, s"BM25 index at $dir is empty")
    val avgdl = st.getAs[Long]("dl_sum").toDouble / n
    val maxDf = math.floor(maxDfShare * n).toLong
    // the seed's dbucket is a pure function of its id — one tiny job
    val db = spark.range(1)
      .select(dbucketOf(lit(docId), meta.docBuckets)).head().getInt(0)
    val seed = readForward(spark, dir)
      .filter(col("dbucket") === db && col("doc_id") === docId)
      .select(col("token"), col("tf"))
      .localCheckpoint(true) // seed-vocab-sized
    val seedDf = readSumStore(spark, dir, "df")
      .join(broadcast(seed.select("token")), Seq("token"), "left_semi")
      .groupBy("token").agg(sum(col("df")).as("df"))
    // exact-integer term ranking: weight = tf × idf_micro, both BIGINT;
    // hot terms (df > maxDfShare·n) are skipped — UNLESS that leaves
    // nothing (a tiny or homogeneous corpus where every informative seed
    // term is hot): the guard is a probe-cost bound, not a correctness
    // rule, so it must never turn a previously-answerable seed into a
    // failure; the fallback ranks every w > 0 term as pre-guard code did
    val ranked = seed.join(seedDf, "token")
      .withColumn("w", col("tf") * Search.idfMicro(col("df"), n))
      .filter(col("w") > 0)
      .localCheckpoint(true) // seed-vocab-sized; read twice on fallback
    def top(sel: DataFrame): Seq[String] =
      sel.orderBy(col("w").desc, col("token")).limit(topTerms)
        .select("token").collect().map(_.getString(0)).sorted.toSeq
    val guarded = top(ranked.filter(col("df") <= maxDf))
    val terms = if (guarded.nonEmpty) guarded else top(ranked)
    require(terms.nonEmpty, s"doc $docId has no indexed terms at $dir")
    val dfMap = readSumStore(spark, dir, "df")
      .filter(col("token").isin(terms: _*))
      .groupBy("token").agg(sum(col("df")).as("df"))
      .collect().map(r => r.getAs[String]("token") -> r.getAs[Long]("df")).toMap
    val probed = terms.map(t => Dedup.hash60Local(t) % bk).distinct
    val post = IndexMeta.live(spark, dir, readPostings(spark, dir)
      .filter(col("bucket").isin(probed: _*) && col("token").isin(terms: _*)), "doc_id")
    // per-(doc, term) contribution in micro-units: BIGINT, so the per-doc
    // sum is order-free and exact in both engines
    val idfByTerm = typedLit(dfMap.map { case (t, df) =>
      t -> math.round(math.log((n + 1).toDouble / (df + 1)) * 1e6)
    })
    val tf = col("tf").cast("double")
    val sMicro = round(
      (element_at(idfByTerm, col("token")).cast("double") / 1e6) *
        (tf * (k1 + 1)) / (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl)) *
        1e6).cast("long")
    post.withColumn("s_micro", sMicro)
      .filter(col("doc_id") =!= docId)
      .groupBy("doc_id", "dl")
      .agg(count(lit(1)).as("n_terms"), sum(col("s_micro")).as("score_micro"))
      .filter(col("score_micro") > 0)
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("dl"), col("n_terms"), col("score_micro"))
  }

  /** Batch more-like-this: top-k related docs for EVERY seed in one
    * declarative plan — the related-items PRECOMPUTE shape. Where
    * [[moreLikeThis]] is the serving form (driver-collected terms →
    * statically pruned probe, a few directory reads per query), this form
    * never touches the driver with data: seed vocabularies come from the
    * seeds' forward doc-buckets (the bucket set is collected — it is ≤
    * docBuckets ints, a pure function of the ids), per-seed term selection
    * is a (seed)-keyed window over exact-integer tf × idf_micro weights
    * (hot terms df > maxDfShare·n excluded, as in the single-seed form),
    * and scoring is ONE token-keyed join of the terms frame against the
    * postings — at 100 TB that join is the co-partitioned shuffle a
    * corpus-wide precompute is supposed to be, not |seeds| pruned probes.
    * Scoring arithmetic (micro-rounded integer contributions, order-free
    * sums) is IDENTICAL to the single-seed form: `moreLikeThisBatch(seeds
    * = {d})` returns exactly `moreLikeThis(d)` plus the seed_id column
    * (SearchIndexSpec). Tombstoned seeds are EXCLUDED from the batch (the
    * precompute analogue of the single-seed refusal — r15, ADVICE r14).
    * Output: (seed_id, doc_id, dl, n_terms, score_micro), per-seed top-k
    * by (score_micro desc, doc_id); seed and tombstoned docs excluded. */
  def moreLikeThisBatch(spark: SparkSession, dir: String, seeds: DataFrame, k: Int,
                        topTerms: Int = 10, seedCol: String = "doc_id",
                        k1: Double = 1.2, b: Double = 0.75,
                        maxDfShare: Double = 0.9): DataFrame = {
    val docBuckets = readMeta(spark, dir).docBuckets
    val st = readSumStore(spark, dir, "stats")
      .agg(sum(col("n")).as("n"), sum(col("dl_sum")).as("dl_sum")).head()
    val n = st.getAs[Long]("n")
    require(n > 0, s"BM25 index at $dir is empty")
    val avgdl = st.getAs[Long]("dl_sum").toDouble / n
    val maxDf = math.floor(maxDfShare * n).toLong
    val tombs = IndexMeta.tombstones(spark, dir)
    val seedIds0 = seeds.select(col(seedCol).cast("long").as("seed_id")).distinct()
    // forgotten seeds drop out of the precompute entirely (their forward
    // rows may still be on disk until compact — they must not seed)
    val seedIds = tombs.fold(seedIds0)(t => seedIds0.join(broadcast(t),
      col("seed_id") === col("doc_id"), "left_anti").select("seed_id"))
    // candidate forward buckets: a pure function of the seed ids, ≤
    // docBuckets ints — a corpus-wide seed set legitimately reads them all
    val cb = dbucketsOf(seedIds.select(col("seed_id").as("doc_id")), docBuckets)
    require(cb.nonEmpty, "seed set is empty (or every seed is forgotten)")
    val seedTf = readForward(spark, dir)
      .filter(col("dbucket").isin(cb: _*))
      .join(broadcast(seedIds), col("doc_id") === col("seed_id"), "inner")
      .select(col("seed_id"), col("token"), col("tf"))
    val dfSums = readSumStore(spark, dir, "df")
      .groupBy("token").agg(sum(col("df")).as("df"))
    // per-seed exact-integer term ranking (w = tf × idf_micro, BIGINTs).
    // The hot-term guard (df > maxDfShare·n skipped) falls back PER SEED
    // exactly as the single-seed form does: a seed whose every w > 0 term
    // is hot keeps its hot terms rather than silently vanishing from the
    // output — `any_cold` is a second frame over the same seed_id
    // partitioning (no extra shuffle), so the guard only ever REMOVES hot
    // terms from seeds that still have a cold one to rank
    val wTerm = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seed_id")).orderBy(col("w").desc, col("token"))
    val wSeed = org.apache.spark.sql.expressions.Window.partitionBy(col("seed_id"))
    val terms = seedTf.join(dfSums, "token")
      .withColumn("idf_micro", Search.idfMicro(col("df"), n))
      .withColumn("w", col("tf") * col("idf_micro"))
      .filter(col("w") > 0)
      .withColumn("hot", col("df") > maxDf)
      .withColumn("any_cold", max(when(col("hot"), 0).otherwise(1)).over(wSeed))
      .filter(!col("hot") || col("any_cold") === 0)
      .withColumn("rn", row_number().over(wTerm))
      .filter(col("rn") <= topTerms)
      .select(col("seed_id"), col("token"), col("idf_micro"))
    val post = IndexMeta.live(spark, dir, readPostings(spark, dir)
      .select(col("doc_id"), col("dl"), col("token"), col("tf")), "doc_id")
    val tf = col("tf").cast("double")
    val sMicro = round(
      (col("idf_micro").cast("double") / 1e6) *
        (tf * (k1 + 1)) / (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl)) *
        1e6).cast("long")
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seed_id")).orderBy(col("score_micro").desc, col("doc_id"))
    post.join(terms, "token")
      .filter(col("doc_id") =!= col("seed_id"))
      .withColumn("s_micro", sMicro)
      .groupBy("seed_id", "doc_id", "dl")
      .agg(count(lit(1)).as("n_terms"), sum(col("s_micro")).as("score_micro"))
      .filter(col("score_micro") > 0)
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= k)
      .select(col("seed_id"), col("doc_id"), col("dl"), col("n_terms"),
        col("score_micro"))
  }
}
