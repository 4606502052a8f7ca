package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.{CdcIndex, DedupIndex, PqIndex, Search, SearchIndex}

/** Persisted-index serving: one client runs a seeded sequence of reads and
  * writes, four reads to one write, against `PqIndex`, `SearchIndex`,
  * `DedupIndex` and `CdcIndex` built in set-up over 90% of the inputs. */
object IndexMixed {
  val Vectors = 1000
  val Docs = 1000
  val Held = 0.1
  val K = 10
  val QueryVectors = 5
  val DeltaDocs = 10
  val AppendRows = 20
  val ForgetRows = 5
  val Kinds = Seq("pqindex", "searchindex", "dedupindex", "cdcindex")
  /** Write kind of the n-th write: appends (ingests), then forgets, then
    * compacts, each over the four indexes in turn. */
  def writeKind(n: Int): (String, String) =
    (Kinds(n % 4), Seq("append", "forget", "compact")((n / 4) % 3))
  /** ADC recall@10 floor at the default nprobe: SCALING.md measures 0.21 on
    * the engine's sf0.1 embeddings for the ADC-only serving path. */
  val RecallFloor = 0.2

  /** The index_mixed workload. */
  def run(c: Ctx): Unit = {
    var cl: Client = null
    c.setupReps(3) { rep => cl = new Client(c, c.dir(s"index/rep$rep")); cl.build() }
    c.warmup(2, 5) { _ => Kinds.foreach(k => cl.op(s"read.$k")) }
    cl.ops.clear()
    c.timed {
      val t0 = c.now()
      while (c.now() - t0 < c.seconds * 1000L)
        Gen.shuffle(cl.r, (Kinds.map(k => s"read.$k") :+ "write").toIndexedSeq).foreach(cl.op)
    }
    c.raw ++= cl.finish()
  }

  /** One pass over every index operation (build, a read of each index,
    * then append, forget and compact of each), for the per-layer report
    * of a traced run of another workload. Returns the raw record. */
  def lifecycle(c: Ctx): Map[String, Any] = c.trace.span("index.lifecycle") {
    val cl = new Client(c, c.dir("index/lifecycle"))
    cl.build()
    Kinds.foreach(k => cl.op(s"read.$k"))
    (0 until 12).foreach(_ => cl.op("write"))
    cl.finish()
  }

  final class Client(c: Ctx, root: String) {
    private val spark = c.spark
    private val vecs = Gen.vectors(c.seed, Vectors)
    private val docs = Gen.docs(c.seed, Docs)
    val r = new SplittableRandom(c.seed * 7 + 1)
    private val queryPool = Gen.vectors(c.seed + 1, 200, 1000000L)
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    private var writes = 0
    private var recallHits = 0L
    private var recallTotal = 0L

    private val nVecBuilt = (vecs.size * (1 - Held)).toInt
    private val nDocBuilt = (docs.size * (1 - Held)).toInt
    private val vecById = vecs.map(v => v._1 -> v._2).toMap
    private val docById = docs.map(d => d.id -> d).toMap
    private val docBuilt = docs.take(nDocBuilt)
    private val vecLive = mutable.LinkedHashSet[Long]() ++= vecs.take(nVecBuilt).map(_._1)
    private val vecHeld = mutable.Queue[(Long, Array[Float], Int)]() ++= vecs.drop(nVecBuilt)
    private val vecForgot = mutable.Set[Long]()
    private val docHeld = mutable.Queue[Gen.Doc]() ++= docs.drop(nDocBuilt)
    // per text index: the ids it may serve, and the ids forgotten since
    private val docLive = Kinds.drop(1).map(k => k -> (mutable.LinkedHashSet[Long]() ++= docBuilt.map(_.id))).toMap
    private val docForgot = Kinds.drop(1).map(k => k -> mutable.Set[Long]()).toMap

    private def dir(kind: String, base: String = root): String = s"$base/$kind"
    private def liveDocs(kind: String): DataFrame = Gen.docsFrame(spark, docLive(kind).toSeq.map(docById))

    def build(): Unit = buildAt(root, Gen.vectorsFrame(spark, vecs.take(nVecBuilt)),
      Kinds.drop(1).map(_ -> Gen.docsFrame(spark, docBuilt)).toMap)

    private def buildAt(base: String, v: DataFrame, d: Map[String, DataFrame]): Unit = {
      c.trace.span("build.pqindex") { PqIndex.build(v, dir("pqindex", base)) }
      c.trace.span("build.searchindex") { SearchIndex.build(d("searchindex"), dir("searchindex", base)) }
      c.trace.span("build.dedupindex") { DedupIndex.build(d("dedupindex"), dir("dedupindex", base)) }
      c.trace.span("build.cdcindex") { CdcIndex.build(d("cdcindex"), dir("cdcindex", base)) }
    }

    /** Run and record one op: `read.<index>` or `write` (the next kind in
      * [[writeKind]]'s cycle). */
    def op(name: String): Unit = {
      val s = c.now()
      val kind = c.trace.span(name) {
        if (name == "write") { val w = write(writes); writes += 1; s"write.$w" }
        else { read(name.stripPrefix("read.")); name }
      }
      ops += Map("kind" -> kind, "start" -> s, "end" -> c.now())
    }

    private def read(kind: String): Unit = kind match {
      case "pqindex" =>
        val qs = IndexedSeq.fill(QueryVectors)(queryPool(r.nextInt(queryPool.size))).distinctBy(_._1)
        val got = PqIndex.query(spark, dir(kind), Gen.vectorsFrame(spark, qs), k = K)
          .select(col("query_id"), col("vec_id")).collect().map(x => (x.getLong(0), x.getLong(1)))
        c.check("pqindex served a forgotten id", got.length, got.count(g => vecForgot(g._2)).toLong)
        qs.foreach { q =>
          val truth = exactTopK(q._2)
          recallHits += got.count(g => g._1 == q._1 && truth(g._2))
          recallTotal += truth.size
        }
      case "searchindex" =>
        val got = SearchIndex.query(spark, dir(kind), terms(), k = K).select(col("doc_id")).collect().map(_.getLong(0))
        c.check("searchindex served a forgotten id", got.length, got.count(docForgot(kind)).toLong)
      case "dedupindex" =>
        val delta = sampleDocs()
        val got = DedupIndex.admitDelta(spark, dir(kind), Gen.docsFrame(spark, delta), minJaccard = 0.6)
          .select(col("doc_id")).collect().map(_.getLong(0))
        c.check("dedupindex admitted an id outside the delta", got.length,
          got.count(id => !delta.exists(_.id == id)).toLong)
      case "cdcindex" =>
        val delta = sampleDocs()
        val got = CdcIndex.screenDelta(spark, dir(kind), Gen.docsFrame(spark, delta)).select(col("doc_id")).collect()
        c.check("cdcindex verdicts not one per delta doc", delta.size,
          math.abs(delta.size - got.map(_.getLong(0)).distinct.length).toLong)
    }

    private def write(n: Int): String = {
      val (kind, op) = writeKind(n)
      val d = dir(kind)
      (kind, op) match {
        case ("pqindex", "append") =>
          val add = (1 to AppendRows).flatMap(_ => if (vecHeld.nonEmpty) Some(vecHeld.dequeue()) else None)
          PqIndex.append(Gen.vectorsFrame(spark, add), d)
          vecLive ++= add.map(_._1)
        case ("pqindex", "forget") =>
          val ids = pick(vecLive.toIndexedSeq, ForgetRows)
          PqIndex.forget(spark, d, spark.createDataFrame(ids.map(Tuple1(_))).toDF("vec_id"))
          vecLive --= ids; vecForgot ++= ids
        case ("pqindex", "compact") => PqIndex.compact(spark, d)
        case (_, "append") =>
          val add = (1 to AppendRows).flatMap(_ => if (docHeld.nonEmpty) Some(docHeld.dequeue()) else None)
          val df = Gen.docsFrame(spark, add)
          docLive(kind) ++= (kind match {
            case "searchindex" => SearchIndex.append(df, d); add.map(_.id)
            case "dedupindex" =>
              DedupIndex.ingest(spark, d, df, minJaccard = 0.6).select(col("doc_id")).collect().map(_.getLong(0)).toSeq
            case "cdcindex" =>
              CdcIndex.ingest(spark, d, df).filter(col("admit")).select(col("doc_id")).collect().map(_.getLong(0)).toSeq
          })
        case (_, "forget") =>
          val ids = pick(docLive(kind).toIndexedSeq, ForgetRows)
          val df = spark.createDataFrame(ids.map(Tuple1(_))).toDF("doc_id")
          kind match {
            case "searchindex" => SearchIndex.forget(spark, d, df)
            case "dedupindex" => DedupIndex.forget(spark, d, df)
            case "cdcindex" => CdcIndex.forget(spark, d, df)
          }
          docLive(kind) --= ids; docForgot(kind) ++= ids
        case (_, "compact") => kind match {
          case "searchindex" => SearchIndex.compact(spark, d)
          case "dedupindex" => DedupIndex.compact(spark, d)
          case "cdcindex" => CdcIndex.compact(spark, d)
        }
      }
      s"$kind.$op"
    }

    /** Checks that need the final state, disk usage, and (traced runs) a
      * fresh build over the same live rows for space amplification. */
    def finish(): Map[String, Any] = {
      c.check("pqindex recall@10 below the floor", 1, if (recallHits >= RecallFloor * recallTotal) 0 else 1)
      // BM25 probes against the non-index twin over the live documents
      (0 until 3).foreach { _ =>
        val t = terms()
        val a = SearchIndex.query(spark, dir("searchindex"), t, k = K).collect().map(_.toString).sorted.toSeq
        val b = Search.bm25TopDocs(liveDocs("searchindex"), t, k = K).collect().map(_.toString).sorted.toSeq
        c.check("searchindex probe differs from Search.bm25TopDocs", 1, if (a == b) 0 else 1)
      }
      val disk = Kinds.map(k => k -> {
        val (f, b) = Routed.diskUsage(dir(k))
        Map("files" -> f, "bytes" -> b)
      }).toMap
      val fresh = if (!c.traced) Map.empty[String, Long] else {
        val base = s"$root-fresh"
        buildAt(base, Gen.vectorsFrame(spark, vecLive.toSeq.map(id => (id, vecById(id), 0))),
          Kinds.drop(1).map(k => k -> liveDocs(k)).toMap)
        Kinds.map(k => k -> Routed.diskUsage(dir(k, base))._2).toMap
      }
      Map("ops" -> ops.toSeq, "recall" -> recallHits.toDouble / math.max(1L, recallTotal),
        "disk" -> disk, "fresh_disk" -> fresh)
    }

    private def terms(): Seq[String] = pick(Gen.Vocab, 2).sorted

    /** Near-duplicates of indexed documents under new ids. */
    private def sampleDocs(): Seq[Gen.Doc] =
      pick(docBuilt, DeltaDocs).map(d => d.copy(id = d.id + 10000000L, text = d.text + " dup"))

    private def pick[T](xs: IndexedSeq[T], n: Int): Seq[T] = Gen.shuffle(r, xs).take(math.min(n, xs.size))

    private def exactTopK(q: Array[Float]): Set[Long] =
      vecLive.toSeq.map { id =>
        val v = vecById(id)
        var dot = 0.0; var i = 0
        while (i < v.length) { dot += v(i) * q(i); i += 1 }
        (id, dot)
      }.sortBy(x => (-x._2, x._1)).take(K).map(_._1).toSet
  }
}
