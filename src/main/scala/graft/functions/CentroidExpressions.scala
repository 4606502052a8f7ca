package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Compiled nearest-centroid assignment for the Lloyd / IVF / PQ training
  * hot paths.
  *
  * The declarative form — `corpus.crossJoin(broadcast(cents))` scored per
  * pair, collapsed back to one row per vector by a `min_by`/`max_by` hash
  * aggregate — materializes |corpus| × |centroids| rows through codegen and
  * a partial aggregate just to pick each row's best centroid. That is the
  * measured majority of every index-build profile (sim_pqindex_*,
  * sim_ivfpq_topk, embed_* — r18 per-job profiles,
  * evidence/OPTIMIZATION_r18.md). Since the centroid table is
  * the BROADCAST side by construction (k rows, the model state of the
  * training loop), the argmin/argmax is a pure per-row function of the
  * vector: these expressions evaluate it in one tight primitive loop per
  * row — no join, no aggregate, no exchange, no per-candidate allocation,
  * |corpus| rows in and out.
  *
  * EXACTNESS is the contract (the assignments feed oracled queries):
  *   - candidate score arithmetic is bit-identical to the replaced column
  *     chains — Euclid `nq + nm - 2.0 * dot(qd, m)`, cosine
  *     `round(dot / (sqrt(nq) * sqrt(nm)), 6)` with [[ArrayDotProduct]]'s
  *     left-to-right fold and Spark's exact `round(_, 6)` double semantics
  *     (NaN/Inf passthrough, else BigDecimal HALF_UP — mirrored in
  *     [[CentroidTable.round6]]);
  *   - winner selection replicates the aggregate orderings, including the
  *     degenerate cases: candidates iterate in ascending cid (ties keep the
  *     LOWEST cid — `min_by(cid, struct(dist, cid))` /
  *     `max_by(cid, struct(ccos, -cid))`), a NULL score (null/ragged vector)
  *     sorts FIRST exactly as Catalyst struct ordering does — so it WINS a
  *     min and LOSES a max — and double comparison uses Spark's SQL
  *     ordering (`-0.0 == 0.0`, NaN greatest, NaN == NaN);
  *   - a row whose centroid table (or subspace book) is EMPTY returns NULL,
  *     and callers filter those rows out — the exact semantics of the inner
  *     join they replace.
  *
  * The centroid table rides as a [[Broadcast]] handle (the
  * [[BloomMightContainBcast]] pattern): one executor-wide copy, never a
  * per-task plan literal — at production scale a trained quantizer is
  * O(trainTarget/step) rows and the broadcast keeps task binaries small.
  * Same [[CodegenFallback]] stance as the other compiled expressions here:
  * the per-row k·dims loop dwarfs the row-iteration overhead. */
final case class CentroidTable(cids: Array[Long], ms: Array[Array[Double]],
                               nms: Array[Double]) extends Serializable {
  def isEmpty: Boolean = cids.length == 0
  /** sqrt(nm) per centroid, precomputed once per executor — IEEE sqrt is
    * exact and deterministic, so hoisting it out of the per-row loop cannot
    * change a single cosine. */
  @transient lazy val sqrtNms: Array[Double] = nms.map(math.sqrt)
}

object CentroidTable {

  /** Collect a (cid, m, nm) centroid frame to an ascending-cid table.
    * Bounded by construction: centroid tables are the broadcast-sized model
    * state of the training loops (k = trainN / step rows). */
  def collect(cents: org.apache.spark.sql.DataFrame,
              cidCol: String = "cid", mCol: String = "m",
              nmCol: String = "nm"): CentroidTable = {
    val rows = cents
      .select(org.apache.spark.sql.functions.col(cidCol).cast("long"),
        org.apache.spark.sql.functions.col(mCol),
        org.apache.spark.sql.functions.col(nmCol).cast("double"))
      .collect()
      .map(r => centroid(r, 0, cidCol, mCol, nmCol))
      .sortBy(_._1)
    CentroidTable(rows.map(_._1), rows.map(_._2), rows.map(_._3))
  }

  /** Collect a (sub, cid, m, nm) subspace-codebook frame to per-sub
    * ascending-cid tables. */
  def collectBooks(cents: org.apache.spark.sql.DataFrame): Map[Int, CentroidTable] = {
    val rows = cents
      .select(org.apache.spark.sql.functions.col("sub").cast("int"),
        org.apache.spark.sql.functions.col("cid").cast("long"),
        org.apache.spark.sql.functions.col("m"),
        org.apache.spark.sql.functions.col("nm").cast("double"))
      .collect()
      .map(r => r.getInt(0) -> centroid(r, 1, "cid", "m", "nm"))
    rows.groupBy(_._1).map { case (sub, g) =>
      val s = g.map(_._2).sortBy(_._1)
      sub -> CentroidTable(s.map(_._1), s.map(_._2), s.map(_._3))
    }
  }

  /** One (cid, m, nm) centroid from `r` starting at column `at`. A
    * degenerate centroid (a null cid, nm, m or m element) fails loudly,
    * naming the column and the cid: it would otherwise crash the driver
    * with a bare NPE, or — for a null element — silently score as 0.0. */
  private def centroid(r: org.apache.spark.sql.Row, at: Int, cidCol: String,
                       mCol: String, nmCol: String): (Long, Array[Double], Double) = {
    if (r.isNullAt(at))
      throw new IllegalArgumentException(s"centroid table: null $cidCol")
    val cid = r.getLong(at)
    def fail(what: String) =
      throw new IllegalArgumentException(s"centroid table: null $what at $cidCol=$cid")
    if (r.isNullAt(at + 1)) fail(mCol)
    val m = r.getSeq[java.lang.Double](at + 1)
    if (m.contains(null)) fail(s"$mCol element")
    if (r.isNullAt(at + 2)) fail(nmCol)
    (cid, m.map(_.doubleValue).toArray, r.getDouble(at + 2))
  }

  /** Spark's `round(d, 6)` double semantics exactly (RoundBase): NaN and
    * infinities pass through; everything else is BigDecimal HALF_UP. */
  private[functions] def round6(d: Double): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Spark SQL's double ordering (SQLOrderingUtil): `-0.0 == 0.0`, NaN
    * greatest, NaN == NaN. */
  private[functions] def cmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  private[graft] val outType: DataType = StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("score", DoubleType, nullable = true)))

  private[functions] def row(cid: Long, scoreNull: Boolean, score: Double): InternalRow =
    new GenericInternalRow(Array[Any](cid,
      if (scoreNull) null else java.lang.Double.valueOf(score)))

  /** Euclid argmin over `t` for one vector — ascending-cid loop, primitive
    * throughout. Dot semantics are [[ArrayDotProduct]]'s (left-to-right
    * fold; length mismatch or a null element → null score); a null score
    * sorts FIRST under the replaced `min(struct(dist, cid))`, so it WINS
    * the min, and ties keep the earlier (lower) cid. */
  private[functions] def bestEuclid(t: CentroidTable, x: ArrayData, nqd: Double): InternalRow = {
    val k = t.cids.length
    val xn = x.numElements()
    var bi = 0
    var bNull = true
    var bv = 0.0
    var i = 0
    while (i < k) {
      val m = t.ms(i)
      var ok = xn == m.length
      var acc = 0.0
      var j = 0
      while (ok && j < xn) {
        if (x.isNullAt(j)) ok = false
        else { acc += x.getDouble(j) * m(j); j += 1 }
      }
      if (!ok) {
        if (i > 0 && !bNull) { bi = i; bNull = true }
      } else {
        val v = nqd + t.nms(i) - 2.0 * acc
        if (i == 0) { bNull = false; bv = v }
        else if (!bNull && cmp(v, bv) < 0) { bi = i; bv = v }
      }
      i += 1
    }
    row(t.cids(bi), bNull, bv)
  }

  /** Cosine argmax over `t` for one vector — ascending-cid loop, primitive
    * throughout. A null score LOSES the replaced
    * `max(struct(ccos, -cid))`; ties keep the earlier (lower) cid; an
    * all-null row lands on the lowest cid with a null score, exactly as
    * the aggregate did. */
  private[functions] def bestCos(t: CentroidTable, x: ArrayData, nqd: Double): InternalRow = {
    val k = t.cids.length
    val xn = x.numElements()
    val sq = math.sqrt(nqd)
    val sqn = t.sqrtNms
    var bi = 0
    var bNull = true
    var bv = 0.0
    var i = 0
    while (i < k) {
      val m = t.ms(i)
      var ok = xn == m.length
      var acc = 0.0
      var j = 0
      while (ok && j < xn) {
        if (x.isNullAt(j)) ok = false
        else { acc += x.getDouble(j) * m(j); j += 1 }
      }
      if (ok) {
        val v = round6(acc / (sq * sqn(i)))
        if (bNull || cmp(v, bv) > 0) { bi = i; bNull = false; bv = v }
      }
      i += 1
    }
    row(t.cids(bi), bNull, bv)
  }
}

/** Shared shape of the three assignment expressions: children are the
  * vector's scoring columns; output is struct(cid, score) — null iff the
  * (sub-)table is empty, which callers filter to reproduce the replaced
  * inner join. */
sealed abstract class NearestCentroidBase extends Expression with CodegenFallback {
  override def nullable: Boolean = true
  override def dataType: DataType = CentroidTable.outType
  override def checkInputDataTypes(): TypeCheckResult = TypeCheckResult.TypeCheckSuccess
}

/** Euclidean argmin over a broadcast centroid table:
  * `min_by(cid, struct(nq + nm - 2.0*dot(qd, m), cid))` as one projection.
  * A null qd/nq (or ragged vector) scores null against every centroid —
  * null sorts first under a min, so such rows assign to the lowest cid
  * with a null score, exactly as the aggregate did. */
case class NearestCentroidEuclid(qd: Expression, nq: Expression,
                                 table: Broadcast[CentroidTable])
  extends NearestCentroidBase {
  override def children: Seq[Expression] = Seq(qd, nq)
  override def prettyName: String = "graft_nearest_centroid"

  override def eval(input: InternalRow): Any = {
    val t = table.value
    if (t.isEmpty) return null
    val qdV = qd.eval(input)
    val nqV = nq.eval(input)
    if (qdV == null || nqV == null)
      return CentroidTable.row(t.cids(0), scoreNull = true, 0.0)
    CentroidTable.bestEuclid(t, qdV.asInstanceOf[ArrayData], nqV.asInstanceOf[Double])
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(qd = c(0), nq = c(1))
}

/** Cosine argmax over a broadcast centroid table:
  * `max_by(cid, struct(round(dot/(sqrt(nq)*sqrt(nm)), 6), -cid))` plus the
  * winning score (`max(ccos)`) as one projection. Null/ragged vectors score
  * null everywhere — null loses a max, so they assign to the lowest cid
  * with a null score, exactly as the aggregate did. */
case class NearestCentroidCos(qd: Expression, nq: Expression,
                              table: Broadcast[CentroidTable])
  extends NearestCentroidBase {
  override def children: Seq[Expression] = Seq(qd, nq)
  override def prettyName: String = "graft_nearest_centroid_cos"

  override def eval(input: InternalRow): Any = {
    val t = table.value
    if (t.isEmpty) return null
    val qdV = qd.eval(input)
    val nqV = nq.eval(input)
    if (qdV == null || nqV == null)
      return CentroidTable.row(t.cids(0), scoreNull = true, 0.0)
    CentroidTable.bestCos(t, qdV.asInstanceOf[ArrayData], nqV.asInstanceOf[Double])
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(qd = c(0), nq = c(1))
}

/** Per-subspace codeword argmin over broadcast PQ codebooks — the
  * [[NearestCentroidEuclid]] rule selected by the row's `sub`. A sub with
  * no trained book (every training slice empty) returns null, reproducing
  * the inner join's dropped rows. */
case class NearestBookCode(sub: Expression, sqd: Expression, nq: Expression,
                           books: Broadcast[Map[Int, CentroidTable]])
  extends NearestCentroidBase {
  override def children: Seq[Expression] = Seq(sub, sqd, nq)
  override def prettyName: String = "graft_nearest_book_code"

  override def eval(input: InternalRow): Any = {
    val subV = sub.eval(input)
    if (subV == null) return null
    books.value.get(subV.asInstanceOf[Int]) match {
      case None => null
      case Some(t) =>
        val qdV = sqd.eval(input)
        val nqV = nq.eval(input)
        if (qdV == null || nqV == null)
          return CentroidTable.row(t.cids(0), scoreNull = true, 0.0)
        CentroidTable.bestEuclid(t, qdV.asInstanceOf[ArrayData], nqV.asInstanceOf[Double])
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(sub = c(0), sqd = c(1), nq = c(2))
}
