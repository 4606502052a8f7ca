package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PERSISTED chunk-hash index: the content-defined-chunking twin of
  * [[DedupIndex]] — build once over corpus history, screen every arriving
  * shard for chunk-level duplicate MASS (the exact-substring-dedup
  * admission signal) without ever rescanning history.
  *
  * On-disk layout under `dir`:
  *   - `chunks/` (chunk_hash, doc_id) PARTITIONED BY `bucket =
  *     chunk_hash % 64` — one 8-byte hash row per (doc, distinct chunk)
  *     per write. Text never lands in the index: the store is digest-only,
  *     so a 100 TB corpus's index is ~tokens/modulus longs (orders smaller
  *     than the text), and shuffles during build/screen move 8-byte keys.
  *     The `doc_id` ATTRIBUTION column (r13) exists for exact
  *     right-to-be-forgotten — a chunk hash leaves the reachable set only
  *     when NO non-forgotten doc carries it. Screening never reads the
  *     column (parquet prunes it), but attribution DOES grow the row
  *     count from one per globally-distinct chunk to one per
  *     (doc, distinct chunk): on heavily cross-doc-duplicated corpora the
  *     screen semi-join scans proportionally more (hash-only) rows — the
  *     storage/scan price of the only exact forget semantics (ADVICE
  *     r13; pre-aggregate distinct hashes per bucket at screen time if a
  *     corpus's sharing factor ever makes it bite).
  *
  * Screening uses a LEFT SEMI join from the delta's chunk stream to the
  * store — semi-join membership is exact even when appends have written a
  * hash more than once, so no store-side distinct pass is ever needed
  * (appends stay cheap and blind). Duplicate mass is reported in integer
  * per-mille (no doubles — cross-engine exact); the oracle row
  * `dedup_cdc_admit` IS the batch split semantics by construction.
  *
  * Right-to-be-forgotten (r13): [[forget]] appends doc ids to a tombstone
  * set; [[screenDelta]] excludes tombstoned docs' rows from the reachable
  * hash set BEFORE the semi join, so a forgotten doc's content stops
  * rejecting arrivals exactly as if it had never been indexed — while a
  * chunk also carried by a surviving doc keeps matching (the
  * attribution-exact contract; `cdc_index_forget` oracle row).
  * [[compact]] reclaims space partition-scoped (only buckets containing
  * tombstoned rows are rewritten). Re-appending a forgotten doc_id
  * requires [[compact]] first (the tombstone suppresses its rows).
  *
  * Append composes: chunk hashes are a pure function of text, so
  * build(h1) + append(h2) screens exactly like build(h1 ∪ h2)
  * (CdcIndexSpec proves it row-for-row). Every mutation runs under
  * [[IndexLock]], like every persisted index in this engine. */
object CdcIndex {

  private val Buckets = 64

  /** Layout/chunking record (r15, completing the family contract of
    * VERDICT r14 #1): the CDC window `w` and rolling-hash `modulus` are
    * properties of the BUILD — chunk boundaries are a pure function of
    * (text, w, modulus), so an [[append]] or [[screenDelta]] under
    * different values produces different chunk hashes and silently misses
    * every duplicate. Recorded at build, validated on every later
    * operation; an index without the record fails loudly ([[IndexMeta]]).
    * `buckets` is recorded for cross-version safety (the partition rule
    * must match what is on disk). */
  private def writeMeta(spark: SparkSession, dir: String, w: Int, modulus: Int): Unit =
    IndexMeta.write(spark, dir,
      s"""{"layout":1,"w":$w,"modulus":$modulus,"buckets":$Buckets}""")

  private def checkGeometry(spark: SparkSession, dir: String, w: Int, modulus: Int): Unit = {
    val txt = IndexMeta.required(spark, dir, "CdcIndex.build")
    def field(k: String): Long = IndexMeta.field(txt, k, dir)
    if (field("w") != w || field("modulus") != modulus || field("buckets") != Buckets)
      throw new IllegalStateException(
        s"CDC index at $dir was built with w=${field("w")} modulus=${field("modulus")} " +
          s"buckets=${field("buckets")}; caller asked for w=$w modulus=$modulus " +
          s"buckets=$Buckets - mismatched chunking cannot compose; pass the build " +
          "parameters or rebuild the index")
  }

  private[analytics] val ChunksSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("chunk_hash", LongType), StructField("bucket", IntegerType)))

  private def readChunks(spark: SparkSession, dir: String): DataFrame =
    IndexMeta.readStore(spark, s"$dir/chunks", ChunksSchema)

  private def hashes(docs: DataFrame, w: Int, modulus: Int,
                     idCol: String, textCol: String): DataFrame =
    Dedup.cdcChunks(docs, w, modulus, idCol, textCol)
      .select(col("doc_id"), Dedup.hash60(col("chunk")).as("chunk_hash"))
      .distinct()
      .withColumn("bucket", col("chunk_hash") % Buckets)

  /** Build and write the index from corpus history. */
  def build(docs: DataFrame, dir: String, w: Int = 4, modulus: Int = 16,
            idCol: String = "doc_id", textCol: String = "text"): Unit =
    IndexLock.withLock(docs.sparkSession, dir) {
      IndexMeta.writeStore(hashes(docs, w, modulus, idCol, textCol), s"$dir/chunks",
        "overwrite", Seq("bucket"))
      writeMeta(docs.sparkSession, dir, w, modulus)
      IndexMeta.clearTombstones(docs.sparkSession, dir)
    }

  private def appendUnlocked(delta: DataFrame, dir: String, w: Int, modulus: Int,
                             idCol: String, textCol: String): Unit = {
    checkGeometry(delta.sparkSession, dir, w, modulus)
    IndexMeta.writeStore(hashes(delta, w, modulus, idCol, textCol), s"$dir/chunks",
      "append", Seq("bucket"))
  }

  /** Append a shard's chunk hashes (blind — screen first via
    * [[screenDelta]] when admission should gate the append, or use
    * [[ingest]] which does both under one lock). */
  def append(delta: DataFrame, dir: String, w: Int = 4, modulus: Int = 16,
             idCol: String = "doc_id", textCol: String = "text"): Unit =
    IndexLock.withLock(delta.sparkSession, dir) {
      appendUnlocked(delta, dir, w, modulus, idCol, textCol)
    }

  /** Delete history docs from the screening set without rewriting the
    * store: their ids join a tombstone set whose rows [[screenDelta]]
    * anti-joins out of the reachable hash set — O(|ids|) delete, space
    * reclaimed lazily by [[compact]] (the family contract). */
  def forget(spark: SparkSession, dir: String, ids: DataFrame,
             idCol: String = "doc_id"): Unit =
    IndexLock.withLock(spark, dir) {
      IndexMeta.required(spark, dir, "CdcIndex.build"): Unit
      IndexMeta.forget(dir, IndexMeta.idFrame(ids, idCol, "doc_id"))
    }

  /** Rewrite ONLY the buckets containing tombstoned docs' rows and clear
    * the tombstone set ([[IndexMeta.rewritePartitions]]). Chunk buckets
    * are a function of content, not of the id, so the affected set comes
    * from a semi-join of the tombstones against the store. Screens before
    * and after return identical verdicts (CdcIndexSpec). */
  def compact(spark: SparkSession, dir: String): Unit =
    IndexLock.withLock(spark, dir) {
      IndexMeta.required(spark, dir, "CdcIndex.build"): Unit
      IndexMeta.tombstones(spark, dir).foreach { tomb =>
        val affected = readChunks(spark, dir)
          .join(broadcast(tomb), Seq("doc_id"), "left_semi")
          .select(col("bucket").cast("long")).distinct()
          .collect().map(_.getLong(0)).toSeq
        IndexMeta.rewritePartitions(readChunks(spark, dir), s"$dir/chunks", Seq("bucket"),
          "bucket", affected, tomb, "doc_id")
        IndexMeta.clearTombstones(spark, dir)
      }
    }

  /** Screen-then-admit ingest — the decision layer that makes shards
    * COMPOSE: every delta doc gets a [[screenDelta]] verdict against the
    * stored history, and only ADMITTED docs' chunk hashes are appended, so
    * a later shard's copy of an admitted doc is rejected while a copy of a
    * REJECTED doc's novel content is not (rejected content never enters
    * the store — the [[DedupIndex.ingest]] contract at chunk granularity).
    * One lock spans screen + append; the verdict frame is eagerly pinned
    * BEFORE the append so the screen can never observe its own write.
    * Returns the verdicts. */
  def ingest(spark: SparkSession, dir: String, delta: DataFrame,
             maxDupPerMille: Int = 500, w: Int = 4, modulus: Int = 16,
             idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    IndexLock.withLock(spark, dir) {
      val verdicts = screenDelta(spark, dir, delta, maxDupPerMille, w, modulus,
          idCol, textCol)
        .localCheckpoint(true)
      val keep = verdicts.filter(col("admit")).select(col("doc_id").as(idCol))
      appendUnlocked(delta.join(keep, Seq(idCol), "left_semi"), dir, w, modulus,
        idCol, textCol)
      verdicts
    }

  /** Screen an arriving shard against the stored history: per delta doc,
    * the chunk count, the count of chunk OCCURRENCES whose hash exists in
    * (non-forgotten) history, integer duplicate-mass per-mille, and the
    * admission verdict (`dup_permille <= maxDupPerMille`). Every delta doc
    * gets a verdict row — the routable-admission contract. */
  def screenDelta(spark: SparkSession, dir: String, delta: DataFrame,
                  maxDupPerMille: Int = 500, w: Int = 4, modulus: Int = 16,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    checkGeometry(spark, dir, w, modulus)
    // tombstoned docs' rows leave the reachable set ([[forget]]; lock-free
    // — see [[IndexMeta.tombstones]])
    val hist = IndexMeta.live(spark, dir, readChunks(spark, dir), "doc_id")
      .select(col("chunk_hash"))
    // the chunk stream feeds both the total and the hit count — materialize
    // once (the multi-reference rule)
    val chunks = Dedup.cdcChunks(delta, w, modulus, idCol, textCol)
      .select(col("doc_id"), Dedup.hash60(col("chunk")).as("chunk_hash"))
      .localCheckpoint(true)
    val tot = chunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    val hit = chunks.join(hist, Seq("chunk_hash"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    tot.join(hit, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dup"))
      .withColumn("dup_permille", expr("1000 * n_dup div n_chunks"))
      .withColumn("admit", col("dup_permille") <= maxDupPerMille)
      .select(col("doc_id"), col("n_chunks"), col("n_dup"),
        col("dup_permille"), col("admit"))
  }
}
