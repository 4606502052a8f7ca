package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize a larger scale factor from the driver-generated sf0.1 corpus
  * by deterministic replication, so the heavy-tier bench can measure REAL
  * scaling exponents instead of arguing them (VERDICT r8 directive #1).
  *
  * `replicas` copies of every fact table are unioned; replica 0 is the
  * original bytes, replica r>0 gets every key offset by `r * stride` (one
  * stride per key space, each far above the key range at any plausible
  * replica count) so referential integrity is preserved within a replica
  * and keys never collide across replicas. Dimension tables (region,
  * nation) stay fixed — exactly how a real corpus grows.
  *
  * Two tables need more than key-striding, because exact replication would
  * CHANGE the workload's character rather than scale it:
  *
  *  - `documents.text`: byte-identical replicas would hand every doc 9
  *    exact duplicates, inflating every near-dup pair count quadratically
  *    in the replica count rather than linearly in corpus size. Replica
  *    r>0 instead mutates ~1/3 of words (deterministic per (word, position,
  *    r)), so a 5-gram shingle survives across replicas with probability
  *    ~(2/3)^5 ~= 0.13 and cross-replica Jaccard lands ~0.07 — far below
  *    every dedup threshold in the library. Duplicate structure WITHIN a
  *    replica (what the operators actually hunt) is preserved exactly.
  *  - `embeddings.embedding`: identical vectors would make every replica a
  *    cosine-1.0 neighbor of its original. Replica r>0 flips the sign of a
  *    deterministic ~half of the dimensions (per (dim, r)), which preserves
  *    the norm and the per-dim distribution but drives cross-replica cosine
  *    to ~0 while keeping within-replica geometry byte-identical.
  *
  * Events/orders keep their original time range: 10x the rows in the same
  * window is exactly what a 10x-bigger tenant's day looks like, and it is
  * the harder case for the window/sessionize family (denser per-day
  * partitions) than stretching the calendar would be.
  *
  * Document-vocabulary modes (r17, VERDICT r16 #5):
  *
  *  - `unique` (default, the r14–r16 generator): replica r's mutated word
  *    forms carry the replica id (`wq3`), so every replica mints its own
  *    vocabulary — vocab grows LINEARLY with corpus size. Real corpora
  *    don't do that (Heaps' law: vocab ∝ tokens^β, β≈0.4–0.6), and the
  *    linear-vocab regime keeps the df-capped inverted-index candidate
  *    mass in its transition region forever: every sub-cap shingle's df
  *    keeps growing, so Σ min(df,cap)² reads ~1.5 exponents that say
  *    nothing about the plateau.
  *  - `heaps`: the mutated form's suffix is drawn from a SHARED pool of
  *    P = ceil(3·√replicas) variants per base word (deterministic per
  *    (word, position, replica)); across R replicas a base word
  *    accumulates ~min(R, P) distinct forms, so vocab ∝ √corpus — the
  *    Heaps β≈0.5 regime. Cross-replica doc similarity stays far below
  *    every dedup threshold: per word, two replicas agree w.p.
  *    (2/3)² + (1/3)²/P < 0.46, so a 5-gram survives between replicas
  *    w.p. < 0.46^5 ≈ 0.02 (vs 0.13 for an INTACT shingle in both modes —
  *    the near-dup workload character is unchanged; ScaleUpSpec pins the
  *    vocab exponent and the cross-replica Jaccard ceiling).
  *
  * Usage: ScaleUp <outDir> [replicas=10] [inDir=/root/testdata/sf0.1] [docMode=unique|heaps]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleUp <outDir> [replicas] [inDir] [docMode]")
    val outDir   = args(0)
    val replicas = if (args.length > 1) args(1).toInt else 10
    val inDir    = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val docMode  = if (args.length > 3) args(3) else "unique"
    val cpus     = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.Tables.session(cpus).master(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, inDir, outDir, replicas, docMode)
    spark.stop()
  }

  def run(spark: SparkSession, inDir: String, outDir: String, replicas: Int,
          docMode: String = "unique"): Unit = {
    require(docMode == "unique" || docMode == "heaps",
      s"docMode must be 'unique' or 'heaps', got '$docMode'")
    def t(name: String): DataFrame = spark.read.parquet(s"$inDir/$name.parquet")

    /** Cross-join each row with replica ids 0..replicas-1 (a broadcast-tiny
      * grid, the same shape the day-grid gapfill uses), then apply the
      * per-replica column rewrites. Replica 0 must stay byte-identical. */
    def replicate(df: DataFrame)(rewrite: (DataFrame, String) => DataFrame): DataFrame = {
      val grid = spark.range(replicas).toDF("__r").hint("broadcast")
      val out  = rewrite(df.crossJoin(grid), "__r")
      out.drop("__r")
    }
    // One stride per key space, each >> the sf0.1 key range so any replica
    // count up to ~1000 stays collision-free.
    val S = 1000000000L

    def shiftKey(col0: String, r: String)(df: DataFrame): DataFrame =
      df.withColumn(col0, expr(s"$col0 + $r * ${S}L"))

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // dims: fixed
    write(t("region"), "region", 1)
    write(t("nation"), "nation", 1)

    write(replicate(t("customer")) { (df, r) => shiftKey("c_custkey", r)(df) }, "customer", 4)
    write(replicate(t("supplier")) { (df, r) => shiftKey("s_suppkey", r)(df) }, "supplier", 1)
    write(replicate(t("part")) { (df, r) => shiftKey("p_partkey", r)(df) }, "part", 2)
    write(replicate(t("orders")) { (df, r) =>
      shiftKey("o_custkey", r)(shiftKey("o_orderkey", r)(df))
    }, "orders", 8)
    write(replicate(t("lineitem")) { (df, r) =>
      shiftKey("l_suppkey", r)(shiftKey("l_partkey", r)(shiftKey("l_orderkey", r)(df)))
    }, "lineitem", 32)
    write(replicate(t("events")) { (df, r) =>
      shiftKey("user_id", r)(shiftKey("event_id", r)(df))
    }, "events", 16)

    // documents: key shift + per-replica word mutation (see scaladoc); the
    // mutation is a compiled-expression pipeline (no interpreted lambda on
    // the doc-sized axis beyond the one transform over the word array).
    // the mutated form: per-replica-unique suffix (linear vocab) or a
    // pooled suffix (Heaps β≈0.5 vocab — pool size ∝ √replicas). 'q' vs
    // 'h' marker keeps the two generators' vocabularies disjoint so a
    // mixed-mode dataset can never alias forms across modes.
    val pool = math.max(1, math.ceil(3.0 * math.sqrt(replicas.toDouble)).toInt)
    def mutatedForm(r: String): String =
      if (docMode == "heaps")
        s"concat(w, 'h', CAST(pmod(hash(w, i, $r, 7), $pool) AS STRING))"
      else s"concat(w, 'q', CAST($r AS STRING))"
    write(replicate(t("documents")) { (df, r) =>
      shiftKey("doc_id", r)(df)
        .withColumn("text", expr(
          s"""IF($r = 0, text,
             |   array_join(
             |     zip_with(split(text, ' '),
             |              sequence(0, size(split(text, ' ')) - 1),
             |              (w, i) -> IF(pmod(hash(w, i, $r), 3) = 0,
             |                           ${mutatedForm(r)}, w)),
             |     ' '))""".stripMargin))
        .withColumn("n_chars", length(col("text")))
    }, "documents", 8)

    // embeddings: key shift + deterministic per-replica sign flips.
    write(replicate(t("embeddings")) { (df, r) =>
      shiftKey("vec_id", r)(df)
        .withColumn("embedding", expr(
          s"""IF($r = 0, embedding,
             |   zip_with(embedding,
             |            sequence(0, size(embedding) - 1),
             |            (x, i) -> IF(pmod(hash(i, $r), 2) = 0, -x, x)))""".stripMargin))
    }, "embeddings", 4)

    println(s"ScaleUp: wrote ${replicas}x of $inDir to $outDir")
  }
}
