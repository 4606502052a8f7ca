package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.analytics.{PqIndex, ProductQuantization, Similarity}

/** Above-sf0.01 evidence for `sim_pqindex_forget` (whose FULL DuckDB
  * oracle is the quadratic ivfpq CTE family that times out at sf1 —
  * the documented r9 timeout class). Three independent checks, in the
  * spirit of tools/verify_sf1_sampled.py's ANN section:
  *
  *  1. EXCLUSION + SHAPE: no emitted vec_id is tombstoned
  *     (vec_id % 7 == 3), every query emits exactly k rows with ranks
  *     1..k (slots backfilled, never truncated).
  *  2. PREDICTED BACKFILL: index builds are deterministic (integer
  *     Lloyd, fixed tie-breaks — the PqIndexSpec contract), so the
  *     forget output must equal the deep ranking of an independently
  *     built no-forget index with tombstoned ids removed and ranks
  *     renumbered — the CompactionSpec predictor, run at scale. This
  *     chains the forget query to `sim_pqindex_topk`'s own sf1 evidence
  *     (rank audit + one-shot-twin identity + recall floor).
  *  3. RECALL FLOOR: recall@5 of the emitted rows against brute-force
  *     exact cosine over the SURVIVOR corpus (vec % 7 != 3), raw-ADC
  *     floor 0.4 (the r11 floor).
  *
  * Usage: ForgetSf1Check [sfDir] — prints PASS/FAIL lines, exits 1 on
  * any FAIL.
  */
object ForgetSf1Check {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/repo/data/sf1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.Tables.session(cpus).master(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    var failed = false
    def check(ok: Boolean, what: String): Unit = {
      println((if (ok) "PASS " else "FAIL ") + what)
      if (!ok) failed = true
    }

    val emb = graft.Tables(spark, dir).embeddings
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nprobe = ProductQuantization.scaledNprobe(emb.count())
    val k = 5

    def rows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
      df.select("query_id", "rank", "vec_id", "adc").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
        .sortBy(t => (t._1, t._2))

    val got = rows(graft.queries.AnalyticsQueries.simPqIndexForget(spark, dir))

    // 1. exclusion + shape
    check(got.forall(_._3 % 7 != 3),
      s"sim_pqindex_forget: no tombstoned vec in any top-$k (${got.size} rows)")
    val perQuery = got.groupBy(_._1)
    check(perQuery.values.forall(g => g.map(_._2).sorted == (1L to k.toLong)),
      s"sim_pqindex_forget: every query has exactly $k backfilled ranks 1..$k")

    // 2. predicted backfill from an independent no-forget build
    val idx = java.nio.file.Files.createTempDirectory("forget-check").toString
    PqIndex.build(emb, idx)
    val deep = rows(PqIndex.query(spark, idx, emb.filter(col("vec_id") < 5),
      k = 100, nprobe = nprobe))
    val predicted = deep.filter(_._3 % 7 != 3)
      .groupBy(_._1).toSeq.flatMap { case (q, ts) =>
        ts.sortBy(_._2).take(k).zipWithIndex.map { case ((_, _, v, adc), i) =>
          (q, (i + 1).toLong, v, adc)
        }
      }.sortBy(t => (t._1, t._2))
    check(got == predicted,
      s"sim_pqindex_forget: equals deep-rank-minus-tombstones predictor (${predicted.size} rows)")

    // 3. recall floor vs exact cosine over the survivor corpus
    val truth = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") % 7 =!= 3), emb.filter(col("vec_id") < 5), k)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotPairs = got.map(t => (t._1, t._3)).toSet
    val recall = (gotPairs & truth).size.toDouble / truth.size
    check(recall >= 0.4,
      f"sim_pqindex_forget: raw-ADC recall@$k vs survivor brute force = $recall%.3f (floor 0.4)")

    emb.unpersist()
    spark.stop()
    if (failed) sys.exit(1)
  }
}
