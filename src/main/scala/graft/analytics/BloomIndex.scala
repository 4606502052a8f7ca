package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** PERSISTED decontamination screen: fold an eval/benchmark registry into
  * a serialized bloom filter ONCE, then screen every arriving corpus shard
  * against it without retokenizing the registry — the ingest-time twin of
  * [[Dedup.decontaminateBloom]] the way [[DedupIndex]] is the ingest twin
  * of the one-shot MinHash pairs.
  *
  * On-disk layout under `dir`:
  *   - `bloom.bin`  the serialized filter over 64-bit shingle hashes.
  *   - `meta.json`  `{"expectedItems":N,"fpp":p}` — the CREATE parameters.
  *     Bloom merge (bitwise OR) requires identical bit-width and hash
  *     count, and both derive from these, so [[append]] rebuilds the delta
  *     filter with the STORED parameters and ORs it in; sizing the build
  *     for the registry's expected ceiling keeps appends mergeable and the
  *     fpp bound honest.
  *   - `shingles/`  the distinct probe shingle strings — the exact-verify
  *     side. Registry-sized, not corpus-sized.
  *
  * At 100 TB: the screen is a STATELESS compiled filter probe — it rides
  * ingest (batch or a structured stream) with zero shuffle and zero state,
  * dropping ~all clean shingles before the verify join ever sees them.
  * Only survivors (true leaks + fpp) join the stored shingle strings, so
  * admission results are byte-identical to running exact
  * [[Dedup.decontaminate]] against the full registry. */
object BloomIndex {

  /** `bloom.bin` and `meta.json` are replaced whole ([[IndexMeta.writeBytes]],
    * r16 review sweep: a truncate-then-write raced lock-free
    * [[screenPredicate]]/[[decontaminate]] readers — a reader catching the
    * truncation window got a torn `BloomFilter.readFrom` stream, or worse a
    * partial bit array whose false answers are treated as proof of clean). */
  private def readFile(spark: SparkSession, path: String): Array[Byte] =
    IndexMeta.readBytes(spark, path).getOrElse(
      throw new IllegalStateException(s"bloom index: $path is missing"))

  private def probeShingles(probes: DataFrame, n: Int,
                            textCol: String): DataFrame = {
    probes.select(explode(Dedup.shingles(col(textCol), n)).as("shingle")).distinct()
  }

  private def buildFilter(sh: DataFrame, expectedItems: Long, fpp: Double): Array[Byte] = {
    val bf = sh.select(xxhash64(col("shingle")).as("h"))
      .stat.bloomFilter("h", math.max(expectedItems, 1L), fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Build and write the index from the registry. `expectedItems` defaults
    * to 4× the current distinct-shingle count so later [[append]]s stay
    * under the sizing assumption (and therefore under `fpp`). */
  def build(probes: DataFrame, dir: String, n: Int = 3, fpp: Double = 0.01,
            expectedItems: Option[Long] = None,
            textCol: String = "text"): Unit = {
    val spark = probes.sparkSession
    IndexLock.withLock(spark, dir) {
      val sh = probeShingles(probes, n, textCol).localCheckpoint(true)
      val items = expectedItems.getOrElse(4L * math.max(sh.count(), 1L))
      IndexMeta.writeBytes(spark, s"$dir/bloom.bin", buildFilter(sh, items, fpp))
      IndexMeta.writeBytes(spark, s"$dir/meta.json",
        s"""{"expectedItems":$items,"fpp":$fpp,"n":$n}""".getBytes("UTF-8"))
      sh.write.mode("overwrite").parquet(s"$dir/shingles")
    }
  }

  private def meta(spark: SparkSession, dir: String): (Long, Double, Int) = {
    val txt = new String(readFile(spark, s"$dir/meta.json"), "UTF-8")
    def field(k: String): String =
      txt.split(s""""$k":""")(1).takeWhile(c => c != ',' && c != '}')
    (field("expectedItems").toLong, field("fpp").toDouble, field("n").toInt)
  }

  /** Fold a registry delta (a new eval suite) into the stored filter: the
    * delta bloom is built with the STORED create parameters, so the two
    * filters are bit-compatible and merge by OR — history is never
    * retokenized, only its serialized bits are read. */
  def append(probes: DataFrame, dir: String, textCol: String = "text"): Unit = {
    val spark = probes.sparkSession
    // The read-OR-write of bloom.bin is the textbook lost-update race: two
    // unserialized appends would each OR only their own delta into the same
    // base and the second write would silently drop the first's bits.
    IndexLock.withLock(spark, dir) {
      val (items, fpp, n) = meta(spark, dir)
      val sh = probeShingles(probes, n, textCol).localCheckpoint(true)
      val delta = BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(buildFilter(sh, items, fpp)))
      val merged = BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(readFile(spark, s"$dir/bloom.bin")))
      merged.mergeInPlace(delta)
      val bos = new java.io.ByteArrayOutputStream()
      merged.writeTo(bos)
      IndexMeta.writeBytes(spark, s"$dir/bloom.bin", bos.toByteArray)
      sh.write.mode("append").parquet(s"$dir/shingles")
    }
  }

  /** The screen predicate alone — a stateless Column usable in batch AND
    * structured-streaming ingest (no join, no state): true iff the doc
    * MIGHT share a shingle with the registry. False is a proof of clean.
    * `textCol` names the payload column, same default as build/append
    * (r16 review sweep — it was hardcoded to "text" while every other
    * entry point took the parameter). */
  def screenPredicate(spark: SparkSession, dir: String,
                      textCol: String = "text"): org.apache.spark.sql.Column = {
    val (_, _, n) = meta(spark, dir)
    val bytes = readFile(spark, s"$dir/bloom.bin")
    exists(Dedup.shingles(col(textCol), n),
      s => graft.functions.GraftFunctions.bloomContains(xxhash64(s), bytes))
  }

  /** Admission pass for an arriving shard: drop every doc sharing at least
    * one shingle with the stored registry. Screen first (stateless bloom
    * probe per shingle), exact-verify survivors against the stored shingle
    * strings — identical admissions to exact [[Dedup.decontaminate]]
    * against the full registry. */
  def decontaminate(spark: SparkSession, dir: String, docs: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val (_, _, n) = meta(spark, dir)
    val bytes = readFile(spark, s"$dir/bloom.bin")
    val stored = spark.read.parquet(s"$dir/shingles")
    val contaminated = docs
      .select(col(idCol), explode(Dedup.shingles(col(textCol), n)).as("shingle"))
      .filter(graft.functions.GraftFunctions.bloomContains(xxhash64(col("shingle")), bytes))
      .join(stored, "shingle")
      .select(idCol).distinct()
    docs.join(contaminated.withColumnRenamed(idCol, "__cid"),
      docs(idCol) === col("__cid"), "left_anti")
  }
}
