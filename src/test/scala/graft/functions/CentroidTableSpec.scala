package graft.functions

import graft.SparkSpec

/** A degenerate centroid row fails loudly at collect time, naming the
  * column and the cid — never a bare driver NPE, never a null element read
  * as 0.0. */
class CentroidTableSpec extends SparkSpec {

  private type Cent = (java.lang.Long, Seq[java.lang.Double], java.lang.Double)

  private def cent(cid: java.lang.Long, m: Seq[java.lang.Double], nm: java.lang.Double): Cent =
    (cid, m, nm)

  private def table(rows: Seq[Cent]) = {
    import spark.implicits._
    rows.toDF("cid", "m", "nm")
  }

  private def books(rows: Seq[Cent]) =
    table(rows).withColumn("sub", org.apache.spark.sql.functions.lit(0))

  private val ok = cent(1L, Seq(1.0, 2.0), 5.0)

  private val degenerate = Seq(
    ("cid", cent(null, Seq(1.0), 1.0), "null cid"),
    ("nm", cent(7L, Seq(1.0), null), "null nm at cid=7"),
    ("m", cent(7L, null, 1.0), "null m at cid=7"),
    ("m element", cent(7L, Seq(1.0, null), 1.0), "null m element at cid=7"))

  degenerate.foreach { case (what, row, msg) =>
    test(s"a null $what fails loudly in collect and collectBooks") {
      val e1 = intercept[IllegalArgumentException](CentroidTable.collect(table(Seq(ok, row))))
      assert(e1.getMessage.contains(msg), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](CentroidTable.collectBooks(books(Seq(ok, row))))
      assert(e2.getMessage.contains(msg), e2.getMessage)
    }
  }
}
