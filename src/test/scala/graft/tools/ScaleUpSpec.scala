package graft.tools

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contracts of the sf-synthesis tool the scale-exponent measurements
  * (SCALING.md round 9) stand on. If these drift, the exponents measure a
  * different workload than claimed. */
class ScaleUpSpec extends SparkSpec {

  private lazy val out: String = {
    val dir = Files.createTempDirectory("scaleup").toString
    ScaleUp.run(spark, sf("sf0.001"), dir, replicas = 3)
    dir
  }
  private def t(name: String) = spark.read.parquet(s"$out/$name.parquet")
  private def o(name: String) = spark.read.parquet(s"${sf("sf0.001")}/$name.parquet")

  test("facts replicate x replicas, dims stay fixed, keys stay collision-free") {
    for (n <- Seq("customer", "orders", "lineitem", "events", "documents", "embeddings"))
      assert(t(n).count() == 3 * o(n).count(), n)
    for (n <- Seq("region", "nation"))
      assert(t(n).count() == o(n).count(), n)
    // striding never collides: every key space stays unique
    assert(t("orders").select("o_orderkey").distinct().count() == t("orders").count())
    assert(t("documents").select("doc_id").distinct().count() == t("documents").count())
    // referential integrity holds WITHIN each replica: every shifted
    // o_custkey resolves to a shifted customer
    val dangling = t("orders").join(t("customer"),
      col("o_custkey") === col("c_custkey"), "left_anti").count()
    assert(dangling == 0)
  }

  test("replica 0 is byte-identical to the source corpus") {
    val origDocs = o("documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rep0 = t("documents").filter(col("doc_id") < 1000000000L)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rep0 == origDocs)
  }

  test("cross-replica documents fall below every near-dup threshold") {
    val sh = t("documents")
      .select((col("doc_id") % 1000000000L).as("base_id"),
        expr("doc_id div 1000000000").as("rep"),
        graft.analytics.Dedup.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val a = sh.filter(col("rep") === 0).select(col("base_id"), col("sh").as("sa"))
    val b = sh.filter(col("rep") === 1).select(col("base_id"), col("sh").as("sb"))
    val jac = a.join(b, "base_id")
      .select((size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(array_union(col("sa"), col("sb")))).as("j"))
      .agg(avg(col("j")).as("avg_j"),
        avg(when(col("j") >= 0.6, 1.0).otherwise(0.0)).as("frac_dup")).head()
    // ~1/3 word mutation => trigram survival (2/3)^3 ≈ 0.30 => expected
    // Jaccard ≈ 0.3/(2-0.3) ≈ 0.17 (the scaladoc's ~0.07 is the 5-gram
    // figure). Short docs are the heavy tail — a 4-word doc dodges
    // mutation entirely with prob (2/3)^4 — so the workload contract is
    // the FRACTION crossing the 0.6 dedup threshold staying residual
    // (pair counts grow with corpus size, not quadratically in replicas)
    assert(jac.getDouble(0) < 0.25, s"avg cross-replica jaccard ${jac.getDouble(0)}")
    assert(jac.getDouble(1) < 0.02, s"frac j>=0.6 ${jac.getDouble(1)}")
  }

  test("cross-replica embeddings decorrelate while norms are preserved exactly") {
    val e = t("embeddings")
      .select((col("vec_id") % 1000000000L).as("base_id"),
        expr("vec_id div 1000000000").as("rep"),
        col("embedding").cast("array<double>").as("v"))
    val a = e.filter(col("rep") === 0).select(col("base_id"), col("v").as("va"))
    val b = e.filter(col("rep") === 1).select(col("base_id"), col("v").as("vb"))
    val stats = a.join(b, "base_id")
      .select(graft.analytics.Similarity.cosine(col("va"), col("vb")).as("cos"),
        (graft.analytics.Similarity.norm(col("va")) -
          graft.analytics.Similarity.norm(col("vb"))).as("dn"))
      .agg(avg(abs(col("cos"))).as("avg_abs_cos"),
        avg(when(abs(col("cos")) >= 0.4, 1.0).otherwise(0.0)).as("frac_neardup"),
        max(abs(col("dn"))).as("max_norm_delta")).head()
    // sign flips on ~half the dims decorrelate IN AGGREGATE (E[cos]≈0,
    // std ~ 1/sqrt(dims), so a heavy tail of individual pairs is expected
    // on a tiny slice); what the scale measurement needs is that the
    // neardup threshold fires on only a residual fraction — cross-replica
    // pairs grow the workload, they don't duplicate it at cosine 1.0 —
    // and that the norm is bit-preserved (|-x| = |x|)
    assert(stats.getDouble(0) < 0.2, s"avg |cos| ${stats.getDouble(0)}")
    assert(stats.getDouble(1) < 0.05, s"frac |cos|>=0.4 ${stats.getDouble(1)}")
    assert(stats.getDouble(2) == 0.0, s"norm delta ${stats.getDouble(2)}")
  }

  test("heaps docMode: vocab grows ~sqrt(corpus) while unique mode grows ~linear") {
    // VERDICT r16 #5: the inverted-index scale claim ("plateau mass ∝
    // |vocab|, sublinear in tokens") needs a generator whose vocabulary
    // actually follows Heaps' law. Pin the two modes' measured vocab
    // exponents apart: unique ≈ 1, heaps ≈ 0.5.
    def vocabOf(dir: String): Long = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).select("w").distinct().count()
    def gen(replicas: Int, mode: String): String = {
      val dir = Files.createTempDirectory(s"scaleup-$mode-$replicas").toString
      ScaleUp.run(spark, sf("sf0.001"), dir, replicas, mode)
      dir
    }
    val hLo = vocabOf(gen(4, "heaps")); val hHi = vocabOf(gen(16, "heaps"))
    val uLo = vocabOf(gen(4, "unique")); val uHi = vocabOf(gen(16, "unique"))
    val expH = math.log(hHi.toDouble / hLo) / math.log(4.0)
    val expU = math.log(uHi.toDouble / uLo) / math.log(4.0)
    assert(expH > 0.25 && expH < 0.75, s"heaps vocab exponent $expH ($hLo -> $hHi)")
    assert(expU > 0.85, s"unique vocab exponent $expU ($uLo -> $uHi)")
    assert(expH < expU - 0.2, s"heaps ($expH) must be clearly below unique ($expU)")
  }

  test("heaps docMode keeps the cross-replica near-dup residual contract") {
    // shared suffix pool must NOT alias replicas into near-duplicates:
    // per word two replicas agree w.p. (2/3)^2 + (1/3)^2/P < 0.46, so the
    // fraction of cross-replica pairs crossing the 0.6 dedup threshold
    // stays residual exactly like unique mode
    val dir = Files.createTempDirectory("scaleup-heapsdup").toString
    ScaleUp.run(spark, sf("sf0.001"), dir, replicas = 3, docMode = "heaps")
    val sh = spark.read.parquet(s"$dir/documents.parquet")
      .select((col("doc_id") % 1000000000L).as("base_id"),
        expr("doc_id div 1000000000").as("rep"),
        graft.analytics.Dedup.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val a = sh.filter(col("rep") === 0).select(col("base_id"), col("sh").as("sa"))
    val b = sh.filter(col("rep") === 1).select(col("base_id"), col("sh").as("sb"))
    val jac = a.join(b, "base_id")
      .select((size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(array_union(col("sa"), col("sb")))).as("j"))
      .agg(avg(col("j")).as("avg_j"),
        avg(when(col("j") >= 0.6, 1.0).otherwise(0.0)).as("frac_dup")).head()
    assert(jac.getDouble(0) < 0.25, s"avg cross-replica jaccard ${jac.getDouble(0)}")
    assert(jac.getDouble(1) < 0.02, s"frac j>=0.6 ${jac.getDouble(1)}")
  }

  test("events keep their time range: denser days, not a longer calendar") {
    val orig = o("events").agg(min(col("ts")), max(col("ts"))).head()
    val scaled = t("events").agg(min(col("ts")), max(col("ts"))).head()
    assert(orig == scaled)
  }
}
