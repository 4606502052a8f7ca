package graft.functions

import graft.SparkSpec
import graft.analytics.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Every Column API of [[GraftFunctions]] works on a session nobody called
  * `register` on, and returns the rows its SQL name returns on a session
  * that did. */
class FreshSessionSpec extends SparkSpec {

  private lazy val fresh = spark.newSession()
  private lazy val registered = {
    val s = spark.newSession()
    GraftFunctions.register(s)
    s
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType),
    StructField("sh", ArrayType(StringType)), StructField("a", ArrayType(DoubleType)),
    StructField("b", ArrayType(DoubleType)), StructField("score", DoubleType)))

  private def input(session: SparkSession): DataFrame = session.createDataFrame(
    java.util.Arrays.asList(
      Row(1L, "the quick brown fox jumps over the lazy dog and then the fox sleeps",
        Seq("the quick brown", "quick brown fox"), Seq(1.0, 2.0), Seq(3.0, 4.0), 0.5),
      Row(2L, "el perro y la casa de los gatos que son muy grandes en la ciudad",
        Seq("el perro y"), Seq(0.5, -1.0, 2.0), Seq(2.0, 2.0, 2.0), 0.9),
      Row(3L, "der Hund und die Katze mit dem Ball, card 4111 1111 1111 1111 it's \"x\"",
        Seq.empty[String], Seq(1.0), Seq(1.0, 2.0), 0.1)),
    schema)

  // (Column API, the same function by its SQL name)
  private val cases: Seq[(String, Column, Column)] = Seq(
    ("fingerprintFast", GraftFunctions.fingerprintFast(col("text")),
      call_function("graft_fingerprint", col("text"))),
    ("minhashSigFast", GraftFunctions.minhashSigFast(col("sh"), 8),
      call_function("graft_minhash_signature", col("sh"), lit(8))),
    ("simhashFast", GraftFunctions.simhashFast(col("text")),
      call_function("graft_simhash", col("text"))),
    ("processStatementFast", GraftFunctions.processStatementFast(col("text")),
      call_function("graft_process_statement", col("text"))),
    ("langIdFast", GraftFunctions.langIdFast(col("text")),
      call_function("graft_langid", col("text"))),
    ("qualityFast", GraftFunctions.qualityFast(col("text")),
      call_function("graft_quality", col("text"))),
    ("cardRedactFast", GraftFunctions.cardRedactFast(col("text")),
      call_function("graft_card_redact", col("text"))),
    ("arrayDot", GraftFunctions.arrayDot(col("a"), col("b")),
      call_function("graft_array_dot", col("a"), col("b"))),
    ("topKByScore", GraftFunctions.topKByScore(col("score"), col("id"), 2),
      call_function("graft_topk", col("score"), col("id"), lit(2))),
    ("wordShingles", GraftFunctions.wordShingles(col("text"), 2),
      call_function("graft_word_shingles", col("text"), lit(2))),
    ("winnowFast", GraftFunctions.winnowFast(col("text"), 3, 4),
      call_function("graft_winnow", col("text"), lit(3), lit(4))),
    ("TextAnalysis.winnowFingerprints", TextAnalysis.winnowFingerprints(col("text")),
      call_function("graft_winnow", col("text"), lit(3), lit(4))))

  test("the fresh session has no graft function registered") {
    assert(!fresh.sessionState.functionRegistry.functionExists(FunctionIdentifier("graft_simhash")))
  }

  cases.foreach { case (name, api, bySqlName) =>
    test(s"$name resolves on a fresh session and matches the registered SQL name") {
      val got = input(fresh).select(api).collect().toSeq
      val want = input(registered).select(bySqlName).collect().toSeq
      assert(got.nonEmpty && got == want)
    }
  }
}
