package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit semantics for the round-3 text operators: PII redaction and
  * repetition ratios (the corpus-level parity proof is the DuckDB oracle;
  * these pin the per-row semantics on hand-built edge cases). */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("redactPii replaces emails, phones, and IPv4s; leaves clean text alone") {
    val rows = Seq(
      "write to alice.b+tag@sub.example.co.uk today",
      "call 555-867-5309 or 555.123.4567 now",
      "host 192.168.1.254 and 8.8.8.8",
      "mixed bob@x.io at 10.0.0.1 tel 555-000-1111",
      "nothing to redact here 1234 5.6",
      "v1.2.3.4 release").toDF("t")
      .select(TextAnalysis.redactPii(col("t")).as("r")).as[String].collect()
    assert(rows(0) == "write to <EMAIL> today")
    assert(rows(1) == "call <PHONE> or <PHONE> now")
    assert(rows(2) == "host <IP> and <IP>")
    assert(rows(3) == "mixed <EMAIL> at <IP> tel <PHONE>")
    assert(rows(4) == "nothing to redact here 1234 5.6")
    // no word boundary between 'v' and '1' — a letter-prefixed version
    // string is NOT an IPv4 literal and survives redaction
    assert(rows(5) == "v1.2.3.4 release")
  }

  test("cardRedact: Luhn-valid 16-digit runs only; phones, ids, and longer runs survive") {
    import graft.functions.GraftFunctions
    val rows = Seq(
      "pay 4539578763621486 now",         // Luhn-valid 16 digits
      "ref 4539578763621487 now",         // same digits, bad check digit
      "tel 555-867-5309 id 12345",        // separated runs, short runs
      "big 45395787636214860 run",        // 17-digit run — not a card
      "two 4539578763621486 and 4111111111111111 cards").toDF("t")
      .select(GraftFunctions.cardRedactFast(col("t")).as("r")).as[String].collect()
    assert(rows(0) == "pay <CARD> now")
    assert(rows(1) == "ref 4539578763621487 now")
    assert(rows(2) == "tel 555-867-5309 id 12345")
    assert(rows(3) == "big 45395787636214860 run")
    assert(rows(4) == "two <CARD> and <CARD> cards")
  }

  test("repetitionStats: exact fractions on a constructed doc") {
    // tokens: a a a b  -> n=4, distinct=2, max=3
    // bigrams: "a a","a a","a b" -> n=3, distinct=2
    val df = Seq((1L, "a a a b")).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionStats(df).collect().head
    assert(r.getAs[Double]("dup_tok_frac") == 0.5)     // (4-2)/4
    assert(r.getAs[Double]("top_tok_frac") == 0.75)    // 3/4
    assert(r.getAs[Double]("dup_2gram_frac") == 0.3333) // (3-2)/3
  }

  test("repetitionStats: all-distinct doc scores zero everywhere except top share") {
    val df = Seq((1L, "w x y z")).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionStats(df).collect().head
    assert(r.getAs[Double]("dup_tok_frac") == 0.0)
    assert(r.getAs[Double]("top_tok_frac") == 0.25)
    assert(r.getAs[Double]("dup_2gram_frac") == 0.0)
  }
}
