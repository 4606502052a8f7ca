package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit semantics for the round-10 packing/tuning operators: FIM
  * transformation and the histogram threshold sweep (oracle parity is the
  * pack_fim / curate_threshold_sweep gate; these pin the invariants). */
class Round10PackSpec extends SparkSpec {
  import spark.implicits._

  test("fimTransform: PSM parts reassemble the original; passthrough verbatim; rate honored") {
    val docs = graft.Tables(spark, sf("sf0.001")).documents
    val out = Sampling.fimTransform(docs, ratePerMille = 500)
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .collect()
    assert(out.length == docs.count())
    val applied = out.filter(_.getAs[Boolean]("fim_applied"))
    // deterministic hash split: materially both-sided, near the 50% rate
    assert(applied.length > out.length / 3 && applied.length < 2 * out.length / 3)
    out.foreach { r =>
      val (txt, ot) = (r.getAs[String]("text"), r.getAs[String]("out_text"))
      if (!r.getAs[Boolean]("fim_applied")) {
        assert(ot == txt)
        assert(r.getAs[Long]("n_middle") == 0L && r.getAs[Long]("n_suffix") == 0L)
      } else {
        // parse "<fim_pre> P <fim_suf> S <fim_mid> M" and reassemble P+M+S
        val pre = ot.stripPrefix("<fim_pre> ")
        val Array(p, rest) = pre.split(" <fim_suf> ", 2)
        val Array(sfx, m) = rest.split(" <fim_mid> ", 2)
        val reassembled = (p.split(" ").filter(_.nonEmpty) ++
          m.split(" ").filter(_.nonEmpty) ++ sfx.split(" ").filter(_.nonEmpty)).mkString(" ")
        assert(reassembled == txt, s"doc ${r.getAs[Long]("doc_id")}")
        assert(r.getAs[Long]("n_prefix") + r.getAs[Long]("n_middle") +
          r.getAs[Long]("n_suffix") == txt.split("\\s+").length)
      }
    }
  }

  test("thresholdSweep: monotone curve, exact at rep thresholds, one corpus scan shape") {
    val docs = graft.Tables(spark, sf("sf0.001")).documents
    val sweep = Sampling.thresholdSweep(docs).orderBy("quantile").collect()
    assert(sweep.length == 9)
    val kept = sweep.map(_.getAs[Long]("kept_docs"))
    // deeper quantile threshold => fewer (or equal) docs survive
    assert(kept.zip(kept.tail).forall { case (a, b) => a >= b })
    assert(sweep.map(_.getAs[Long]("total_docs")).distinct.length == 1)
    // EXACTNESS at rep thresholds: because every sweep threshold is a
    // bucket representative (the bucket's lower bound), counting docs by
    // rep >= thr equals counting by raw q_micro >= thr — the sweep's
    // histogram-only counts are not approximations at its own thresholds
    val scored = docs.select(
      round(graft.functions.GraftFunctions.qualityFast(col("text")) * 10000)
        .cast("long").as("q"))
      .persist()
    sweep.foreach { r =>
      val thr = r.getAs[Long]("thr_rep")
      val exact = scored.filter(col("q") >= thr).count()
      assert(exact == r.getAs[Long]("kept_docs"),
        s"${r.getAs[String]("quantile")}: raw=$exact sweep=${r.getAs[Long]("kept_docs")}")
    }
    scored.unpersist(): Unit
  }
}
