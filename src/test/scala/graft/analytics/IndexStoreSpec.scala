package graft.analytics

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The shared store protocol of the persisted indexes ([[IndexMeta]]),
  * driven through each index's public lifecycle: build, forget every id,
  * compact, append. After the all-forgotten compact every store reads as
  * the EMPTY frame of its schema (behind its `_graft_empty` marker) and the
  * index's read path serves nothing; after the append the stores serve only
  * the appended ids and the markers are gone. */
class IndexStoreSpec extends SparkSpec {

  /** One index: its lifecycle calls over a history/appended split keyed
    * `key`, the stores it keeps (sub-directory → schema), and `servesNone`
    * — its public read path over copies of the history returns nothing. */
  private final case class Case(name: String, key: String,
                                build: (DataFrame, String) => Unit,
                                forget: (String, DataFrame) => Unit,
                                compact: String => Unit,
                                append: (DataFrame, String) => Unit,
                                stores: Seq[(String, StructType)],
                                servesNone: (String, DataFrame) => Boolean)

  private lazy val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    .filter(col("doc_id") < 50).localCheckpoint(true)
  private lazy val vecs = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    .filter(col("vec_id") < 90).localCheckpoint(true)

  /** `frame` with its ids moved out of the stored id range. */
  private def copies(frame: DataFrame, key: String): DataFrame =
    frame.withColumn(key, col(key) + 1000000L)

  private val cases = Seq(
    Case("PqIndex", "vec_id",
      (h, d) => PqIndex.build(h, d),
      (d, ids) => PqIndex.forget(spark, d, ids),
      d => PqIndex.compact(spark, d),
      (a, d) => PqIndex.append(a, d),
      Seq("codes" -> PqIndex.CodesSchema, "vlists" -> PqIndex.VlistsSchema),
      (d, h) => PqIndex.query(spark, d, copies(h, "vec_id"), k = 5, nprobe = 64).isEmpty),
    Case("SearchIndex", "doc_id",
      (h, d) => SearchIndex.build(h, d),
      (d, ids) => SearchIndex.forget(spark, d, ids),
      d => SearchIndex.compact(spark, d, minShare = 0.0),
      (a, d) => SearchIndex.append(a, d),
      Seq("postings" -> SearchIndex.PostingsSchema, "census" -> SearchIndex.CensusSchema,
        "forward" -> SearchIndex.ForwardSchema),
      (d, h) => {
        val terms = h.select(explode(TextAnalysis.tokens(col("text"))).as("t"))
          .filter(length(col("t")) > 0).distinct().orderBy("t").limit(3)
          .collect().map(_.getString(0)).toSeq
        SearchIndex.query(spark, d, terms, k = 20).isEmpty
      }),
    Case("DedupIndex", "doc_id",
      (h, d) => DedupIndex.build(h, d),
      (d, ids) => DedupIndex.forget(spark, d, ids),
      d => DedupIndex.compact(spark, d),
      (a, d) => DedupIndex.append(a, d),
      Seq("bands" -> DedupIndex.BandsSchema, "shingles" -> DedupIndex.ShinglesSchema),
      (d, h) => DedupIndex.dedupDelta(spark, d, copies(h, "doc_id"), minJaccard = 0.5)
        .filter(col("id_a") < 1000000L).isEmpty),
    Case("CdcIndex", "doc_id",
      (h, d) => CdcIndex.build(h, d),
      (d, ids) => CdcIndex.forget(spark, d, ids),
      d => CdcIndex.compact(spark, d),
      (a, d) => CdcIndex.append(a, d),
      Seq("chunks" -> CdcIndex.ChunksSchema),
      (d, h) => CdcIndex.screenDelta(spark, d, copies(h, "doc_id"))
        .filter(col("n_dup") > 0).isEmpty))

  cases.foreach { c =>
    test(s"${c.name}: forget-all + compact empties every store; an append revives it") {
      val frame = if (c.key == "vec_id") vecs else docs
      val history = frame.filter(col(c.key) < 30)
      val appended = frame.filter(col(c.key) >= 30)
      val dir = Files.createTempDirectory(s"store-${c.name}").toString
      def read(sub: String, schema: StructType): DataFrame =
        IndexMeta.readStore(spark, s"$dir/$sub", schema)
      def marker(sub: String) = new java.io.File(s"$dir/$sub/_graft_empty")
      def ids(df: DataFrame): Set[Long] =
        df.select(col(c.key).cast("long")).distinct().collect().map(_.getLong(0)).toSet

      c.build(history, dir)
      c.stores.foreach { case (sub, schema) =>
        assert(read(sub, schema).schema.simpleString == schema.simpleString,
          s"$sub: the declared schema must be the stored one")
        assert(ids(read(sub, schema)).nonEmpty, s"$sub: fixture must populate the store")
      }
      assert(!c.servesNone(dir, history), "fixture: the history must be served")

      c.forget(dir, history.select(c.key))
      c.compact(dir)
      c.stores.foreach { case (sub, schema) =>
        val got = read(sub, schema)
        assert(got.schema.simpleString == schema.simpleString, sub)
        assert(got.isEmpty, s"$sub: an all-forgotten compact must leave the store empty")
        assert(marker(sub).isFile, s"$sub: the empty store must carry its marker")
      }
      assert(c.servesNone(dir, history), "an all-forgotten index must serve nothing")

      c.append(appended, dir)
      val want = ids(appended)
      c.stores.foreach { case (sub, schema) =>
        val got = ids(read(sub, schema))
        assert(got.nonEmpty && got.subsetOf(want), s"$sub: must serve only the appended ids")
        assert(!marker(sub).exists(), s"$sub: the append must clear the marker")
      }
    }
  }
}
