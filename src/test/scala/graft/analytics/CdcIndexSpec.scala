package graft.analytics

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contract of the persisted CDC chunk index: screening semantics, append
  * composition, and verdict totality (the oracled split semantics is the
  * dedup_cdc_admit gate). */
class CdcIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  test("screen: a history copy is pure duplicate mass, a novel doc is clean, every doc verdicts") {
    val shared = (0 until 120).map(i => s"h$i").mkString(" ")
    val novel = (0 until 90).map(i => s"n$i").mkString(" ")
    val half = (0 until 60).map(i => s"h$i").mkString(" ") + " " +
      (0 until 60).map(i => s"m$i").mkString(" ")
    val idx = tmp("cdcidx")
    CdcIndex.build(Seq((1L, shared)).toDF("doc_id", "text"), idx)
    val verdicts = CdcIndex.screenDelta(spark, idx,
        Seq((10L, shared), (11L, novel), (12L, half)).toDF("doc_id", "text"))
      .orderBy("doc_id").collect()
    assert(verdicts.length == 3)
    val byId = verdicts.map(r => r.getLong(0) -> r).toMap
    assert(byId(10L).getAs[Long]("dup_permille") == 1000L && !byId(10L).getAs[Boolean]("admit"))
    assert(byId(11L).getAs[Long]("n_dup") == 0L && byId(11L).getAs[Boolean]("admit"))
    // the mixed doc: its h-prefix chunks hit history up to the boundary
    // chunk that spans the h/m seam (content-defined: the seam chunk is new)
    val m = byId(12L)
    assert(m.getAs[Long]("n_dup") > 0L && m.getAs[Long]("n_dup") < m.getAs[Long]("n_chunks"))
  }

  test("append composes: build(h1)+append(h2) screens exactly like build(h1 ∪ h2)") {
    val docs = graft.Tables(spark, sf("sf0.001")).documents
    val h1 = docs.filter(col("doc_id") % 3 === 0)
    val h2 = docs.filter(col("doc_id") % 3 === 1)
    val delta = docs.filter(col("doc_id") % 3 === 2)
    val (ia, ib) = (tmp("cdcA"), tmp("cdcB"))
    CdcIndex.build(h1, ia); CdcIndex.append(h2, ia)
    CdcIndex.build(h1.unionByName(h2), ib)
    val a = CdcIndex.screenDelta(spark, ia, delta)
    val b = CdcIndex.screenDelta(spark, ib, delta)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(a.count() == delta.count())
  }

  test("ingest composes: admitted content rejects its later copy, rejected content does not") {
    val hist = (0 until 120).map(i => s"h$i").mkString(" ")
    val novel = (0 until 90).map(i => s"n$i").mkString(" ")
    val mixed = (0 until 120).map(i => s"h$i").mkString(" ") + " " +
      (0 until 20).map(i => s"m$i").mkString(" ")
    val tail = (0 until 20).map(i => s"m$i").mkString(" ")
    val idx = tmp("cdcingest")
    CdcIndex.build(Seq((1L, hist)).toDF("doc_id", "text"), idx)
    // shard 1: A is novel (admitted), B is mostly history (rejected)
    val v1 = CdcIndex.ingest(spark, idx,
        Seq((10L, novel), (11L, mixed)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("admit")).toMap
    assert(v1(10L) && !v1(11L))
    // shard 2: C copies the ADMITTED doc -> rejected (its chunks are now
    // history); D copies only the REJECTED doc's novel tail -> that
    // content never entered the store, so D is clean
    val v2 = CdcIndex.ingest(spark, idx,
        Seq((20L, novel), (21L, tail)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Boolean]("admit"), r.getAs[Long]("dup_permille"))).toMap
    assert(!v2(20L)._1 && v2(20L)._2 == 1000L)
    assert(v2(21L)._1 && v2(21L)._2 == 0L)
  }

  test("forget is attribution-exact: only content carried solely by forgotten docs stops matching") {
    val onlyA = (0 until 80).map(i => s"a$i").mkString(" ")
    val shared = (0 until 80).map(i => s"s$i").mkString(" ")
    val idx = tmp("cdcidx-forget")
    // docs 1 (onlyA) and 2,3 (both carry shared content)
    CdcIndex.build(Seq((1L, onlyA), (2L, shared), (3L, shared)).toDF("doc_id", "text"), idx)
    def screen(): Map[Long, Long] =
      CdcIndex.screenDelta(spark, idx, Seq((10L, onlyA), (11L, shared)).toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("dup_permille")).toMap
    val before = screen()
    assert(before(10L) == 1000L && before(11L) == 1000L)
    // forget doc 1: onlyA content becomes novel again
    CdcIndex.forget(spark, idx, Seq(1L).toDF("doc_id"))
    val afterA = screen()
    assert(afterA(10L) == 0L, "content carried only by the forgotten doc must stop matching")
    assert(afterA(11L) == 1000L, "content also carried by surviving docs must keep matching")
    // forget doc 2: doc 3 still carries the shared content
    CdcIndex.forget(spark, idx, Seq(2L).toDF("doc_id"))
    assert(screen()(11L) == 1000L)
    // forget doc 3 too: now nothing carries it
    CdcIndex.forget(spark, idx, Seq(3L).toDF("doc_id"))
    assert(screen()(11L) == 0L)
  }

  test("compact is partition-scoped, preserves screens, clears tombstones; all-forgotten empties the store") {
    val mk = (pfx: String) => (0 until 200).map(i => s"$pfx$i").mkString(" ")
    val idx = tmp("cdcidx-compact")
    CdcIndex.build(Seq((1L, mk("a")), (2L, mk("b")), (3L, mk("c"))).toDF("doc_id", "text"), idx)
    CdcIndex.forget(spark, idx, Seq(1L).toDF("doc_id"))
    def screen(): Map[Long, Long] =
      CdcIndex.screenDelta(spark, idx,
          Seq((10L, mk("a")), (11L, mk("b"))).toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("dup_permille")).toMap
    val afterForget = screen()
    assert(afterForget(10L) == 0L && afterForget(11L) == 1000L)
    // untouched buckets (no doc-1 rows) must stay byte-identical
    val tombBuckets = spark.read.parquet(s"$idx/chunks")
      .filter(col("doc_id") === 1L)
      .select(col("bucket").cast("long")).distinct().collect().map(_.getLong(0)).toSet
    def files(dir: String): Set[(String, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] = {
        val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        kids.filter(_.isFile) ++ kids.filter(_.isDirectory).flatMap(walk)
      }
      walk(new java.io.File(dir)).map(f => (f.getPath, f.length())).toSet
    }
    val allBuckets = new java.io.File(s"$idx/chunks").listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName.stripPrefix("bucket=").toLong).toSet
    val untouched = allBuckets -- tombBuckets
    assert(untouched.nonEmpty, "fixture needs untouched buckets")
    val before = untouched.map(b => files(s"$idx/chunks/bucket=$b"))
    CdcIndex.compact(spark, idx)
    assert(!new java.io.File(s"$idx/tombstones").exists())
    assert(untouched.map(b => files(s"$idx/chunks/bucket=$b")) == before)
    assert(spark.read.parquet(s"$idx/chunks").filter(col("doc_id") === 1L).count() == 0L)
    assert(screen() == afterForget, "compact must not change screening verdicts")
    // all-forgotten: the store empties and screens still run (all novel)
    CdcIndex.forget(spark, idx, Seq(2L, 3L).toDF("doc_id"))
    CdcIndex.compact(spark, idx)
    val cleared = screen()
    assert(cleared(10L) == 0L && cleared(11L) == 0L)
    // and the index accepts new content afterwards
    CdcIndex.append(Seq((4L, mk("b"))).toDF("doc_id", "text"), idx)
    assert(screen()(11L) == 1000L)
  }

  test("streaming ingest→forget→ingest admits exactly what the batch interleave admits") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val mk = (pfx: String) => (0 until 150).map(i => s"$pfx$i").mkString(" ")
    val history = Seq((1L, mk("a")), (2L, mk("b"))).toDF("doc_id", "text")
    val s1 = Seq((10L, mk("c"))).toDF("doc_id", "text")
    val s2 = Seq((20L, mk("a")), (21L, mk("b"))).toDF("doc_id", "text")
    def admitted(df: DataFrame): Set[Long] =
      df.filter(col("admit")).select("doc_id").collect().map(_.getLong(0)).toSet

    // sequential twin: ingest s1, forget doc 1, ingest s2 — the copy of the
    // FORGOTTEN content (20) is admitted, the copy of surviving content
    // (21) is rejected
    val idxSeq = tmp("cdcseq-f")
    CdcIndex.build(history, idxSeq)
    val want = admitted(CdcIndex.ingest(spark, idxSeq, s1)) ++ {
      CdcIndex.forget(spark, idxSeq, Seq(1L).toDF("doc_id"))
      admitted(CdcIndex.ingest(spark, idxSeq, s2))
    }
    assert(want == Set(10L, 20L), s"fixture: forget must flip doc 20's verdict, got $want")

    // streaming twin: same shards as file drops, the forget fired between
    // the micro-batches (keyed on batchId — AvailableNow + 1 file/trigger
    // + distinct mtimes make the order deterministic)
    val (srcDir, ckpt, outDir) = (tmp("cdcsrc-f"), tmp("cdcckpt-f"), tmp("cdcout-f"))
    s1.repartition(1).write.parquet(s"$srcDir/d0")
    Thread.sleep(1500)
    s2.repartition(1).write.parquet(s"$srcDir/d1")
    val idxStream = tmp("cdcstream-f")
    CdcIndex.build(history, idxStream)
    val q = spark.readStream.schema(s1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/d*")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        if (batchId == 1L) {
          import b.sparkSession.implicits._
          CdcIndex.forget(b.sparkSession, idxStream, Seq(1L).toDF("doc_id"))
        }
        CdcIndex.ingest(b.sparkSession, idxStream, b)
          .write.mode("append").parquet(outDir)
      }
      .start()
    q.awaitTermination(180000)
    assert(admitted(spark.read.parquet(outDir)) == want)
  }

  test("streaming foreachBatch ingest admits exactly what sequential ingest admits") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text")
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (t1, t2) = (mx / 2, mx * 3 / 4)
    val history = docs.filter(col("doc_id") <= t1)
    def admitted(df: DataFrame): Set[Long] =
      df.filter(col("admit")).select("doc_id").collect().map(_.getLong(0)).toSet

    val idxSeq = tmp("cdcseq")
    CdcIndex.build(history, idxSeq)
    val want =
      admitted(CdcIndex.ingest(spark, idxSeq,
        docs.filter(col("doc_id") > t1 && col("doc_id") <= t2))) ++
      admitted(CdcIndex.ingest(spark, idxSeq, docs.filter(col("doc_id") > t2)))

    val (srcDir, ckpt, outDir) = (tmp("cdcsrc"), tmp("cdcckpt"), tmp("cdcout"))
    docs.filter(col("doc_id") > t1 && col("doc_id") <= t2)
      .repartition(1).write.parquet(s"$srcDir/d0")
    Thread.sleep(1500) // distinct mod times => deterministic batch order
    docs.filter(col("doc_id") > t2)
      .repartition(1).write.parquet(s"$srcDir/d1")
    val idxStream = tmp("cdcstream")
    CdcIndex.build(history, idxStream)
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/d*")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        CdcIndex.ingest(b.sparkSession, idxStream, b)
          .write.mode("append").parquet(outDir)
      }
      .start()
    q.awaitTermination(180000)
    assert(admitted(spark.read.parquet(outDir)) == want)
    // ... and the whole-shard verdict surface is total (one row per doc)
    assert(spark.read.parquet(outDir).count() == docs.filter(col("doc_id") > t1).count())
  }

  test("chunking geometry is persisted and a mismatch fails fast (r15)") {
    val docs = graft.Tables(spark, sf("sf0.001")).documents
    val dir = tmp("cdc-geom")
    CdcIndex.build(docs, dir) // w=4, modulus=16 recorded in meta
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_graft_meta.json")), "UTF-8")
    assert(meta.contains("\"w\":4") && meta.contains("\"modulus\":16"), meta)
    val delta = docs.limit(3).select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    // different chunking params would produce disjoint chunk hashes and
    // silently miss every duplicate - both paths must throw instead
    val e1 = intercept[IllegalStateException] {
      CdcIndex.screenDelta(spark, dir, delta, w = 8, modulus = 32).collect()
    }
    assert(e1.getMessage.contains("w=4"))
    val e2 = intercept[IllegalStateException] {
      CdcIndex.append(delta, dir, w = 8)
    }
    assert(e2.getMessage.contains("modulus=16"))
    // the matching explicit values still work
    assert(CdcIndex.screenDelta(spark, dir, delta, w = 4, modulus = 16).count() == 3)
  }

  test("a meta-less index fails loudly on every entry point and says to rebuild") {
    val shared = (0 until 120).map(i => s"p$i").mkString(" ")
    val dir = tmp("cdcidx-nometa")
    CdcIndex.build(Seq((1L, shared)).toDF("doc_id", "text"), dir,
      w = 8, modulus = 32)
    // an index without its layout record (written before records existed,
    // or a build that never finished): no entry point may guess the
    // chunking geometry from its caller
    assert(new java.io.File(s"$dir/_graft_meta.json").delete())
    val delta = Seq((2L, shared + " extra")).toDF("doc_id", "text")
    def failsLoudly(op: => Any): Unit = {
      val e = intercept[IllegalStateException](op)
      assert(e.getMessage.contains("rebuild"), e.getMessage)
    }
    failsLoudly(CdcIndex.append(delta, dir, w = 8, modulus = 32))
    failsLoudly(CdcIndex.screenDelta(spark, dir, delta, w = 8, modulus = 32))
    failsLoudly(CdcIndex.ingest(spark, dir, delta, w = 8, modulus = 32))
    failsLoudly(CdcIndex.forget(spark, dir, Seq(1L).toDF("doc_id")))
    failsLoudly(CdcIndex.compact(spark, dir))
    // a rebuild restores service under the recorded geometry
    CdcIndex.build(Seq((1L, shared)).toDF("doc_id", "text"), dir, w = 8, modulus = 32)
    assert(CdcIndex.screenDelta(spark, dir, delta, w = 8, modulus = 32)
      .head().getAs[Long]("dup_permille") > 0L)
  }
}
