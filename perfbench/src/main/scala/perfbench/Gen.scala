package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Each table has the shape of the engine's
  * synthetic corpus (`events`, `documents`, `embeddings`); every value is a
  * function of the seed, so the same seed stages the same inputs. */
object Gen {
  val Vocab: IndexedSeq[String] = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg key query a " +
    "scan batch").split(" ").toIndexedSeq
  private val EventTypes = Seq("signup", "purchase", "view", "click", "error")
  private val Langs = Seq("en" -> 0.41, "zh" -> 0.15, "de" -> 0.14, "fr" -> 0.15, "es" -> 0.15)
  private val Epoch2024Micros = 1704067200000000L
  private val MonthMicros = 30L * 86400L * 1000000L

  /** Id offset of a seed's events: slices of different seeds never share ids. */
  def idBase(seed: Long, copy: Int = 0): Long = (math.floorMod(seed, 1000L) * 100L + copy) * 10000000L

  /** `n` events with ids `base .. base+n-1`, timestamps spread over January
    * 2024 in id order, and seeded users, types, values and props. */
  def events(spark: SparkSession, seed: Long, n: Long, base: Long): DataFrame = {
    def h(salt: Int): Column = xxhash64(col("id"), lit(seed), lit(salt))
    val step = MonthMicros / n
    spark.range(n).select(
      (col("id") + base).as("event_id"),
      timestamp_micros(lit(Epoch2024Micros) + col("id") * step + pmod(h(1), lit(step))).as("ts"),
      pmod(h(2), lit(1500L)).as("user_id"),
      element_at(typedLit(EventTypes), (pmod(h(3), lit(EventTypes.size.toLong)) + 1).cast("int")).as("event_type"),
      round(pmod(h(4), lit(56022L)) / 100.0, 2).as("value"),
      concat(lit("{\"k\": "), pmod(h(5), lit(100L)).cast("string"), lit("}")).as("props"))
  }

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** `n` documents of 10–100 vocabulary words; about 5% are near-duplicates
    * (another document's text plus " dup"). Doc ids are a seeded
    * permutation of `0 until n`. */
  def docs(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = new SplittableRandom(seed * 31 + 7)
    val base = IndexedSeq.fill(n) {
      val len = 10 + r.nextInt(91)
      Iterator.fill(len)(Vocab(r.nextInt(Vocab.size))).mkString(" ")
    }
    val texts = base.indices.map(i => if (r.nextDouble() < 0.05) base(r.nextInt(n)) + " dup" else base(i))
    val ids = shuffle(r, (0 until n).map(_.toLong))
    texts.indices.map { i =>
      val u = r.nextDouble()
      val lang = Langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }
        .drop(1).find(_._2 > u).map(_._1).getOrElse("en")
      Doc(ids(i), texts(i), lang, s"src${i % 20}")
    }
  }

  def docsFrame(spark: SparkSession, ds: Seq[Doc]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      ds.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)), 4),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))

  /** `n` unit vectors in 64 dimensions around 10 weak label centres. */
  def vectors(seed: Long, n: Int, idBase: Long = 0L): IndexedSeq[(Long, Array[Float], Int)] = {
    val r = new SplittableRandom(seed * 131 + idBase + 3)
    val centres = Array.fill(10, 64)(r.nextGaussian() * 0.009)
    (0 until n).map { i =>
      val label = r.nextInt(10)
      val v = Array.tabulate(64)(d => centres(label)(d) + r.nextGaussian() * 0.125)
      val norm = math.sqrt(v.map(x => x * x).sum)
      (idBase + i, v.map(x => (x / norm).toFloat), label)
    }
  }

  def vectorsFrame(spark: SparkSession, vs: Seq[(Long, Array[Float], Int)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      vs.map { case (id, v, l) => Row(id, v.toSeq, l) }, 4),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)),
        StructField("label", IntegerType))))

  def shuffle[T](r: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}
