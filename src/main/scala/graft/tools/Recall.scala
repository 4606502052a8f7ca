package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.analytics.{PqIndex, ProductQuantization, Similarity}

/** Measurement tool: recall@k of the approximate ANN operators against
  * brute-force ground truth, across the `nprobe` knob — the numbers behind
  * SCALING.md's recall table. Deterministic (fixed data, integer-quantized
  * Lloyd, fixed tie-breaks), so the printed values are constants for a
  * given SF dir. */
object Recall {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Tables.session(16).master("local[16]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)

    val emb = graft.Tables(spark, dir).embeddings.persist()
    val queries = emb.filter(col("vec_id") < 50)
    val k = 10
    val n = emb.count()
    val lists = (n + 24) / 25
    println(s"corpus=$n vectors, ${queries.count()} queries, k=$k, " +
      s"coarseStep=25 -> ~$lists lists")

    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteForceTopK(emb, queries, k))

    val idx = java.nio.file.Files.createTempDirectory("recallidx").toString
    PqIndex.build(emb, idx)

    println(f"${"nprobe"}%-8s${"probed"}%-9s${"ivf"}%-8s${"ivfpq"}%-8s${"pqindex"}%-8s${"rescored"}%-9s")
    for (np <- Seq(1, 2, 4, 6, 8, 16)) {
      def recall(s: Set[(Long, Long)]): Double = (s & truth).size.toDouble / truth.size
      val ivf = recall(pairs(Similarity.ivfTopK(emb, queries, k, centroidStep = 25, nprobe = np)))
      val ivfpq = recall(pairs(ProductQuantization.ivfPqTopK(emb, queries, k, nprobe = np)))
      val pqidx = recall(pairs(PqIndex.query(spark, idx, queries, k, nprobe = np)))
      val resc = recall(pairs(PqIndex.queryRescored(spark, idx, queries, emb, k,
        depth = 4 * k, nprobe = np)))
      println(f"$np%-8d${np.toDouble / lists}%-9.4f$ivf%-8.3f$ivfpq%-8.3f$pqidx%-8.3f$resc%-9.3f")
    }
    // serving-config sweep for the rescored path: coarse list count (probed
    // fraction at fixed nprobe) × PQ codebook granularity × rescore depth —
    // the knobs SCALING.md's guidance quotes
    println(f"${"config"}%-34s${"nprobe=8 rescored recall@10"}%-12s")
    for ((cs, mm, sd, dep) <- Seq((25, 8, 8, 40), (40, 8, 8, 40), (40, 16, 4, 40), (50, 16, 4, 40))) {
      def recall(s: Set[(Long, Long)]): Double = (s & truth).size.toDouble / truth.size
      val idx2 = java.nio.file.Files.createTempDirectory("recallidx2").toString
      PqIndex.build(emb, idx2, coarseStep = cs, m = mm, subDim = sd)
      val r = recall(pairs(PqIndex.queryRescored(spark, idx2, queries, emb, k,
        depth = dep, nprobe = 8, m = mm, subDim = sd)))
      println(f"coarseStep=$cs%-3d m=$mm%-3d subDim=$sd%-3d depth=$dep%-4d  $r%-8.3f")
    }
    // the PRECISION knob: at fixed probe fraction, finer subspace codebooks
    // (more, narrower subspaces) should lift the ADC plateau — measured
    // against the same ground truth
    // historical geometries, passed EXPLICITLY (library defaults are 32x2
    // since r11 — an implicit-default call would mislabel what it measures)
    println(f"${"nprobe"}%-8s${"m=8,sub=8"}%-12s${"m=16,sub=4"}%-12s")
    for (np <- Seq(8, 16)) {
      def recall(s: Set[(Long, Long)]): Double = (s & truth).size.toDouble / truth.size
      val r8 = recall(pairs(ProductQuantization.ivfPqTopK(emb, queries, k, nprobe = np,
        m = 8, subDim = 8)))
      val r16 = recall(pairs(ProductQuantization.ivfPqTopK(emb, queries, k, nprobe = np,
        m = 16, subDim = 4)))
      println(f"$np%-8d$r8%-12.3f$r16%-12.3f")
    }
    emb.unpersist()
    spark.stop()
  }
}
