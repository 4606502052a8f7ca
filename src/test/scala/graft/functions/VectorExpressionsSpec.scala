package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contract of the codegen'd dot product: bit-parity with the HOF
  * formulation (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) INCLUDING the
  * degenerate shapes — mismatched lengths and null elements must yield
  * NULL exactly as the HOF twin does, so a truncated or corrupt embedding
  * drops out of top-k instead of contributing a plausible partial sum. */
class VectorExpressionsSpec extends SparkSpec {

  private def hof(a: String, b: String) =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v)")

  test("graft_array_dot matches the HOF twin on values, length mismatch, and null elements") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](4.0, 5.0, 6.0)),
      (2L, Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](1.0, 2.0)), // mismatch
      (3L, Seq[java.lang.Double](1.0, null, 3.0), Seq[java.lang.Double](1.0, 2.0, 3.0)), // null slot
      (4L, Seq.empty[java.lang.Double], Seq.empty[java.lang.Double])
    ).toDF("id", "a", "b")
    val got = df.select(col("id"),
        graft.functions.GraftFunctions.arrayDot(col("a"), col("b")).as("dot"),
        hof("a", "b").as("hof"))
      .orderBy("id").collect()
    got.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2),
        s"id ${r.getLong(0)}: nullability diverged from the HOF twin ($r)")
      if (!r.isNullAt(1))
        assert(r.getDouble(1) == r.getDouble(2), s"id ${r.getLong(0)}: $r")
    }
    assert(!got(0).isNullAt(1) && got(0).getDouble(1) == 32.0)
    assert(got(1).isNullAt(1), "length mismatch must be NULL, not a truncated sum")
    assert(got(2).isNullAt(1), "a null element must null the product, not read as 0.0")
    assert(!got(3).isNullAt(1) && got(3).getDouble(1) == 0.0)
  }

  test("graft_minhash_signature matches its declarative twin, including the empty and null shingle sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val sets: Seq[(Long, Seq[String])] = (0 until 60).map { i =>
      i.toLong -> Seq.fill(1 + rnd.nextInt(12))(Seq.fill(3)(words(rnd.nextInt(words.size))).mkString(" "))
    } ++ Seq(60L -> Seq.empty[String], 61L -> null)
    val got = sets.toDF("id", "sh")
      .select(col("id"), GraftFunctions.minhashSigFast(col("sh"), 16).as("native"),
        graft.analytics.Dedup.minhashSignature(col("sh"), 16).as("declarative"))
      .orderBy("id").collect()
    assert(got.length == 62)
    got.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"id ${r.getLong(0)}: $r")
    }
    assert(got(60).isNullAt(1) && got(60).isNullAt(2), "an empty shingle set has no signature")
    assert(got(61).isNullAt(1) && got(61).isNullAt(2))
  }

  test("graft_minhash_signature rejects k < 1 instead of emitting empty signatures") {
    // SQL text: register on a session of its own, not the shared one
    val session = spark.newSession()
    GraftFunctions.register(session)
    import session.implicits._
    val df = Seq(Tuple1(Seq("a b c", "b c d"))).toDF("sh")
    val e = intercept[Exception] {
      df.select(expr("graft_minhash_signature(sh, 0)")).collect()
    }
    assert(e.getMessage.contains("k >= 1"), e.getMessage)
  }

  test("register is idempotent: a second call leaves the registry entries as they are") {
    val session = spark.newSession()
    val registry = session.sessionState.functionRegistry
    val simhash = org.apache.spark.sql.catalyst.FunctionIdentifier("graft_simhash")
    assert(!registry.functionExists(simhash))
    GraftFunctions.register(session)
    // each registration stores a fresh ExpressionInfo, so identity shows
    // whether the second call replaced the entry
    val first = registry.lookupFunction(simhash)
    assert(first.isDefined)
    GraftFunctions.register(session)
    assert(registry.lookupFunction(simhash).exists(_ eq first.get),
      "the second register must not replace the graft_simhash entry")
    assert(session.sql("select graft_simhash('a b c') is not null").head().getBoolean(0))
  }
}
