package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.analytics.{PqIndex, ProductQuantization, Similarity}

/** Measurement tool for VERDICT r10 #4: recall@5 of the persisted-index
  * PQ serving paths versus (probed share, codebook capacity, rescore
  * depth), at any SF dir — the curve behind the defaults that must hold
  * ≥0.5 raw-ADC recall at sf1 (the r10 sampled floor sat at 0.24 with a
  * 0.2 floor — one bad tie from red).
  *
  * Knobs swept (the first table uses the library-default geometry —
  * m=32 × subDim=2 since round 11; the m-sweep leg below varies it):
  *   - shareMille: probed fraction of the coarse lists (nprobe =
  *     share × nlist) — the CANDIDATE-coverage knob;
  *   - centroidStep: codebook size per subspace = n/centroidStep — the
  *     QUANTIZATION-precision knob ("codebook bits" =
  *     log2(n/centroidStep));
  *   - depth: exact-cosine rescore width of the two-stage path.
  *
  * Deterministic for a given SF dir (integer-quantized Lloyd, fixed
  * tie-breaks). Usage: RecallCurve [sfDir] [nQueries=50] [k=5]
  */
object RecallCurve {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val nQ = if (args.length > 1) args(1).toInt else 50
    val k = if (args.length > 2) args(2).toInt else 5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = graft.Tables.session(cpus).master(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)

    val emb = graft.Tables(spark, dir).embeddings.persist()
    val queries = emb.filter(col("vec_id") < nQ)
    val n = emb.count()
    val nlist = math.max(1L, n / 25L).toInt
    println(s"corpus=$n vectors, nlist=$nlist, ${queries.count()} queries, k=$k")

    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteForceTopK(emb, queries, k))
    def recall(s: Set[(Long, Long)]): Double =
      (s & truth).size.toDouble / truth.size

    // one index build per codebook capacity; share and depth sweeps reuse it
    val steps = Seq(40, 20, 10)
    val idxFor = steps.map { cs =>
      val idx = java.nio.file.Files.createTempDirectory(s"rcurve-cs$cs").toString
      PqIndex.build(emb, idx, centroidStep = cs)
      cs -> idx
    }.toMap

    println(f"${"centroidStep"}%-14s${"codebook"}%-10s${"share"}%-8s${"nprobe"}%-8s${"raw@" + k}%-10s")
    for (cs <- steps; share <- Seq(150L, 300L, 450L, 600L)) {
      val np = ProductQuantization.scaledNprobe(n, shareMille = share)
      val r = recall(pairs(PqIndex.query(spark, idxFor(cs), queries, k, nprobe = np)))
      println(f"$cs%-14d${n / cs}%-10d${share / 1000.0}%-8.2f$np%-8d$r%-10.3f")
    }

    val np0 = ProductQuantization.scaledNprobe(n)
    // codebook-BITS leg: same total code budget spent as more, narrower
    // subspaces (16×4 and 32×2 vs the historical 8×8) — the finer grid is
    // the orthodox answer when ADC ordering, not candidate coverage, is
    // the recall limiter
    println(f"${"m x subDim"}%-14s${"centroidStep"}%-14s${"raw@" + k}%-10s  (share=0.30)")
    for ((mm, sd) <- Seq((16, 4), (32, 2)); cs <- Seq(40, 10)) {
      val idx = java.nio.file.Files.createTempDirectory(s"rcurve-m$mm-cs$cs").toString
      PqIndex.build(emb, idx, m = mm, subDim = sd, centroidStep = cs)
      val r = recall(pairs(PqIndex.query(spark, idx, queries, k, nprobe = np0, m = mm, subDim = sd)))
      println(f"${mm + "x" + sd}%-14s$cs%-14d$r%-10.3f")
    }

    println(f"${"depth"}%-10s${"rescored@" + k}%-12s  (centroidStep=40, share=0.30)")
    for (depth <- Seq(20, nlist / 2, nlist, 2 * nlist,
        ProductQuantization.scaledDepth(n)).distinct.filter(_ > 0).sorted) {
      val r = recall(pairs(PqIndex.queryRescored(spark, idxFor(40), queries, emb, k,
        depth = depth, nprobe = np0)))
      println(f"$depth%-10d$r%-12.3f")
    }

    emb.unpersist()
    spark.stop()
  }
}
