package graft.analytics

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.CountMinSketch

/** Mergeable frequency sketches — the approximate-counting leg of corpus
  * statistics, parallel to the HLL++ distinct-count leg (`agg_approx`).
  *
  * A Count-Min sketch answers "how often does token X occur" in O(eps⁻¹)
  * space with a ONE-SIDED error: estimates never undercount, and overshoot
  * exceeds eps·N with probability < 1−confidence. At 100 TB that's the
  * difference between shuffling a vocabulary histogram and shipping a
  * few-hundred-KB array per partition: the sketch is built by Spark's
  * native `count_min_sketch` aggregate (map-side partial sketches merged
  * associatively — the same two-phase shape as any partial agg), and only
  * the fixed-size binary reaches the driver. */
object Sketches {

  /** Exact top-k tokens cross-checked against a Count-Min estimate — the
    * [[graft.queries.Relational]] `agg_approx` verification pattern: exact
    * counts hash-match the oracle; the sketch's guarantees surface as
    * in-engine boolean columns the oracle expects to be uniformly true
    * (`cms_ok_lower` is the never-undercount invariant, `cms_ok_upper` the
    * eps·N overshoot bound).
    *
    * The probe is driver-side over the k ranked tokens only (the sketch
    * is a broadcast-sized opaque state, the model-to-driver pattern of
    * [[Search.perceptronTrain]]); the token stream itself is read once
    * into a checkpoint whose filling pass also counts it, feeding both the
    * exact aggregate and the sketch aggregate. */
  def cmsTopTokens(docs: DataFrame, k: Int = 20, eps: Double = 0.0001,
                   confidence: Double = 0.99, seed: Int = 42,
                   textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val (toks, n) = Checkpoints.observedCheckpoint(
      docs.select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
        .filter(length(col("tok")) > 0),
      count(lit(1)))
    val total = n.getLong(0)
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(k)
      .collect()
    val skBin = toks
      .agg(expr(s"count_min_sketch(tok, ${eps}d, ${confidence}d, $seed)").as("sk"))
      .head().getAs[Array[Byte]]("sk")
    Checkpoints.releaseCheckpoint(toks)
    val cms = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(skBin))
    val bound = math.ceil(eps * total).toLong
    val rows = exact.zipWithIndex.map { case (r, i) =>
      val tok = r.getAs[String]("tok")
      val cnt = r.getAs[Long]("cnt")
      val est = cms.estimateCount(tok)
      Row(i + 1L, tok, cnt, est >= cnt, est <= cnt + bound)
    }
    val schema = StructType(Seq(
      StructField("rank", LongType, nullable = false),
      StructField("tok", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false),
      StructField("cms_ok_lower", BooleanType, nullable = false),
      StructField("cms_ok_upper", BooleanType, nullable = false)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)), schema)
  }
}
