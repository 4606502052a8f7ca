package graft.analytics

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** After build, an index's geometry lives in its `_graft_meta.json` only.
  * Each of the four partitioned indexes is built here at a NON-default
  * geometry, and every post-build entry point is then called with no
  * geometry at all: each must return the rows it returned when its caller
  * passed the build geometry explicitly (row count and a digest of the
  * sorted rows, pinned from such a run on the sf0.001 corpus). An entry
  * point that fell back to a default instead would band, chunk, slice or
  * prune under the wrong geometry, and its rows would differ.
  *
  * Mutators return nothing, so a call that appends or ingests is checked
  * through the probe that follows it in the table. */
class IndexGeometrySpec extends SparkSpec {
  import IndexGeometrySpec.Call

  private val d = sf("sf0.001")

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Build once at `dir`, then run the calls in table order against it. */
  private def geometry(index: String, build: String => Unit, calls: Call*): Unit =
    test(s"$index: every post-build entry point reads the build geometry from the meta") {
      val dir = Files.createTempDirectory(s"geom-$index").toString
      build(dir)
      calls.foreach { c =>
        val got = c.run(dir).collect()
        assert((got.length.toLong, digest(got)) == ((c.rows, c.sha)), c.name)
      }
    }

  private def docs = spark.read.parquet(s"$d/documents.parquet")
  private def emb = spark.read.parquet(s"$d/embeddings.parquet")

  /** The documents with `doc_id % 4 == part` (history: parts 0-2). */
  private def part(p: Int) = docs.filter(col("doc_id") % 4 === p)
  private def history = docs.filter(col("doc_id") % 4 =!= 3)

  /** Exact copies of some history docs under fresh ids, so every probe has
    * duplicates to find. */
  private def copies(offset: Long, p: Int) = part(p).filter(col("doc_id") % 3 === 0)
    .select((col("doc_id") + offset).as("doc_id"), col("text"))
  private def shard1 = part(3).filter(col("doc_id") % 8 === 3)
    .select(col("doc_id"), col("text")).union(copies(1000000L, 0))
  private def shard2 = part(3).filter(col("doc_id") % 8 === 7)
    .select(col("doc_id"), col("text")).union(copies(2000000L, 1))
  private def shard3 = shard2.select((col("doc_id") + 3000000L).as("doc_id"), col("text"))

  private val terms = Seq("data", "fast", "query")

  private def firstId(df: DataFrame): Long = df.agg(min("doc_id")).head().getLong(0)

  geometry("SearchIndex", SearchIndex.build(history, _, buckets = 96),
    Call("query", 20L, "fc17c0e3a8d26180")(SearchIndex.query(spark, _, terms, k = 20)),
    Call("moreLikeThis", 5L, "e16e754491cf6ccd")(
      SearchIndex.moreLikeThis(spark, _, firstId(history), k = 5)),
    Call("moreLikeThisBatch", 30L, "bde918f5d48b7014")(
      SearchIndex.moreLikeThisBatch(spark, _, part(0).filter(col("doc_id") < 40), k = 3)),
    Call("append, then query", 20L, "ddc7e1a0353b16f7") { dir =>
      SearchIndex.append(part(3), dir)
      SearchIndex.query(spark, dir, terms, k = 20)
    },
    Call("moreLikeThis after append", 5L, "3fd5460f41cd4beb")(
      SearchIndex.moreLikeThis(spark, _, firstId(part(3)), k = 5)))

  private def queries = emb.filter(col("vec_id") < 4)

  geometry("PqIndex", PqIndex.build(emb.filter(col("vec_id") % 5 =!= 4), _, m = 8, subDim = 8),
    Call("query", 20L, "29ec0207bf91bafb")(PqIndex.query(spark, _, queries, k = 5, nprobe = 2)),
    Call("queryRescored", 20L, "222f1b1bc035687f")(
      PqIndex.queryRescored(spark, _, queries, emb, k = 5, depth = 10, nprobe = 2)),
    Call("append, then query", 20L, "ddcac3dd5ef9be20") { dir =>
      PqIndex.append(emb.filter(col("vec_id") % 5 === 4), dir)
      PqIndex.query(spark, dir, queries, k = 5, nprobe = 2)
    })

  geometry("DedupIndex", DedupIndex.build(history, _, bands = 8, rowsPerBand = 2, n = 5),
    Call("dedupDelta", 62L, "f0523315638cb9b8")(
      DedupIndex.dedupDelta(spark, _, shard1, minJaccard = 0.5)),
    Call("admitDelta", 58L, "4a39e4dd577bea19")(
      DedupIndex.admitDelta(spark, _, shard1, minJaccard = 0.5)),
    Call("append, then dedupDelta", 48L, "a0264f6b785ab1e8") { dir =>
      DedupIndex.append(shard1, dir)
      DedupIndex.dedupDelta(spark, dir, shard2, minJaccard = 0.5)
    },
    Call("ingest", 58L, "7bc38fe189e5cdcd")(
      DedupIndex.ingest(spark, _, shard2, minJaccard = 0.5)),
    Call("dedupDelta after ingest", 106L, "1a4f482e2e109411")(
      DedupIndex.dedupDelta(spark, _, shard3, minJaccard = 0.5)))

  geometry("CdcIndex", CdcIndex.build(history, _, w = 8, modulus = 32),
    Call("screenDelta", 105L, "888bdfffc1be2767")(CdcIndex.screenDelta(spark, _, shard1)),
    Call("append, then screenDelta", 103L, "98f5f238bbfd046d") { dir =>
      CdcIndex.append(shard1, dir)
      CdcIndex.screenDelta(spark, dir, shard2)
    },
    Call("ingest", 103L, "98f5f238bbfd046d")(CdcIndex.ingest(spark, _, shard2)),
    Call("screenDelta after ingest", 103L, "e3df51a780810193")(
      CdcIndex.screenDelta(spark, _, shard3)))
}

object IndexGeometrySpec {
  /** One entry-point call and the rows it must return. */
  private final case class Call(name: String, rows: Long, sha: String)(val run: String => DataFrame)
}
