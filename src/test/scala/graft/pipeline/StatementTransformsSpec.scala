package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StatementTransformsSpec extends SparkSpec {
  import StatementTransforms._

  private def run1(c: org.apache.spark.sql.Column, input: String): String = {
    import spark.implicits._
    Seq(input).toDF("s").select(c.as("r")).collect()(0).getString(0)
  }

  // O6 actual reference semantics (`split('@').next()` is always Some — the
  // ':' fallback at src/main.rs:630 is unreachable).
  test("normalizeActorName: email local-part") {
    assert(run1(normalizeActorName(col("s")), "alice@example.org") == "alice")
  }
  test("normalizeActorName: mailto URI keeps whole string (dead ':' branch)") {
    assert(run1(normalizeActorName(col("s")), "mailto:alice") == "mailto:alice")
  }
  test("normalizeActorName: bare name unchanged") {
    assert(run1(normalizeActorName(col("s")), "alice") == "alice")
  }
  test("normalizeActorName: multiple @ takes prefix before first") {
    assert(run1(normalizeActorName(col("s")), "a@b@c") == "a")
  }
  test("isValidActorName: empty local part is invalid (error branch src/main.rs:633)") {
    import spark.implicits._
    val flags = Seq("@x", "", "ok@x").toDF("s")
      .select(isValidActorName(col("s")).as("v")).collect().map(_.getBoolean(0))
    assert(flags.toSeq == Seq(false, false, true))
  }

  test("anonymizeActor: deterministic, tenant- and salt-scoped") {
    val h1 = run1(anonymizeActor(col("s"), "salt", "t1"), "alice@x")
    val h2 = run1(anonymizeActor(col("s"), "salt", "t1"), "alice@y")
    val h3 = run1(anonymizeActor(col("s"), "salt", "t2"), "alice@x")
    val h4 = run1(anonymizeActor(col("s"), "salt2", "t1"), "alice@x")
    assert(h1.length == 64 && h1.matches("[0-9a-f]{64}"))
    assert(h1 == h2)            // same local-part ⇒ same hash
    assert(h1 != h3 && h1 != h4) // tenant/salt isolation
    // known vector: sha256("saltt1alice")
    assert(h1 == org.apache.commons.codec.digest.DigestUtils.sha256Hex("saltt1alice"))
  }

  // O10 — literal vectors per the reference chain's composed semantics
  // (odd backslash run → 2, even run → 4, strip wrapping quotes,
  // \' → \\' then ' → \').
  private val bs = "\\"
  private val escapeVectors = Seq(
    "\"hello\"" -> "hello",
    "it's" -> ("it" + bs + "'s"),
    ("a" + bs * 1 + "b") -> ("a" + bs * 2 + "b"),
    ("a" + bs * 2 + "b") -> ("a" + bs * 4 + "b"),
    ("a" + bs * 3 + "b") -> ("a" + bs * 2 + "b"),
    ("a" + bs * 4 + "b") -> ("a" + bs * 4 + "b"),
    ("a" + bs * 5 + "b") -> ("a" + bs * 2 + "b"),
    ("a" + bs + "'b") -> ("a" + bs * 4 + "'b"),
    "\"\"wrapped\"\"" -> "wrapped",
    "no specials" -> "no specials",
    (bs * 2 + " mid " + bs * 3) -> (bs * 4 + " mid " + bs * 2),
  )
  test("processStatement: reference escape-chain vectors") {
    for ((in, want) <- escapeVectors) {
      val got = run1(processStatement(col("s")), in)
      assert(got == want, s"input=${in.replace(bs, "<bs>")}")
    }
  }

  test("compiled processStatement agrees with the regex chain on vectors and fuzz") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val alphabet = "ab\\'\" "
    val fuzz = Seq.fill(500)(Seq.fill(rnd.nextInt(24))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    val inputs = (escapeVectors.map(_._1) ++ fuzz).toDF("s")
    val diff = inputs.select(
      processStatement(col("s")).as("regex"),
      graft.functions.GraftFunctions.processStatementFast(col("s")).as("fast"))
      .filter(col("regex") =!= col("fast")).collect()
    assert(diff.isEmpty, diff.take(3).mkString(";"))
    for ((in, want) <- escapeVectors) {
      val got = Seq(in).toDF("s")
        .select(graft.functions.GraftFunctions.processStatementFast(col("s"))).collect()(0).getString(0)
      assert(got == want, s"input=${in.replace(bs, "<bs>")}")
    }
  }

  test("sinkTimestamp: millisecond formatting parity with '%Y-%m-%d %H:%M:%S%.3f'") {
    import spark.implicits._
    val got = Seq(java.sql.Timestamp.valueOf("2024-04-25 14:03:22.1234")).toDF("ts")
      .select(sinkTimestamp(col("ts")).as("s")).collect()(0).getString(0)
    assert(got == "2024-04-25 14:03:22.123")
  }
}
