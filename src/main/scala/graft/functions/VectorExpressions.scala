package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the embedding hot path.
  *
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` is semantically right but
  * allocates an intermediate array per row and evaluates the lambda through
  * interpreted HigherOrderFunction plumbing — at N² near-dup scale that is
  * the bottleneck. This expression generates a tight primitive loop inside
  * whole-stage codegen: no allocation, no virtual calls.
  *
  * Summation is a strict left-to-right fold — bit-for-bit identical to both
  * the HOF formulation and the DuckDB oracle's `list_reduce`. That parity
  * includes the degenerate shapes: mismatched lengths yield NULL (zip_with
  * pads the shorter side with nulls → null product → null sum) and a NULL
  * element yields NULL — a truncated or corrupt embedding must surface as
  * NULL and drop out of top-k, not contribute a plausible-looking partial
  * dot product. The per-element null check is SKIPPED in the generated
  * loop when both inputs' array types declare containsNull = false.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // may return NULL (length mismatch / null element) even for non-null,
  // non-nullable-typed inputs
  override def nullable: Boolean = true

  private def elementsMayBeNull: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  })

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_array_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      val checkNulls = elementsMayBeNull
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
        acc += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val nullCheck =
        if (elementsMayBeNull)
          s"""if ($a.isNullAt($i) || $b.isNullAt($i)) {
             |    ${ev.isNull} = true; ${ev.value} = 0.0; break;
             |  }""".stripMargin
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    ${ev.value} += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** [[org.apache.spark.sql.SparkSessionExtensions]] injector (configure
  * `spark.sql.extensions=graft.functions.GraftExtensions`): the SQL names of
  * [[GraftFunctions.sqlFunctions]], the range-join rewrite and the as-of join
  * strategy. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(getClass.getName, name), builder))
    }
    // auto-bucket pure point-in-interval inequality joins (kills the
    // nested-loop plan; see graft.plans.RangeJoinRewrite)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite())
    // plan AsofJoinPlan nodes into the native forward-merge exec, so
    // extension-configured sessions need no runtime register() call
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}

/** Column APIs for graft's native expressions. Each builds its Catalyst
  * expression directly, so it works on any session; the SQL names in
  * [[sqlFunctions]] are for SQL text only. */
object GraftFunctions {
  private def expr(c: Column): Expression = GraftBridge.expression(c)
  private def column(e: Expression): Column = GraftBridge.column(e)

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  /** SQL name → builder of every native expression, the one table behind
    * [[register]] and [[GraftExtensions]]. */
  private[graft] val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_array_dot" -> (exprs => ArrayDotProduct(exprs(0), exprs(1))),
    "graft_word_shingles" -> (exprs => WordShingles(exprs(0), intLit(exprs(1), "shingle size"))),
    "graft_fingerprint" -> (exprs => PolyFingerprint(exprs(0))),
    "graft_minhash_signature" -> (exprs => MinhashSignatureExpr(exprs(0), intLit(exprs(1), "k"))),
    "graft_simhash" -> (exprs => SimHash60(exprs(0))),
    "graft_process_statement" -> (exprs => ProcessStatementExpr(exprs(0))),
    "graft_topk" -> (exprs => TopKByScore(exprs(0), exprs(1), intLit(exprs(2), "k"))),
    "graft_card_redact" -> (exprs => CardRedact(exprs(0))),
    "graft_winnow" -> (exprs =>
      WinnowFingerprintsExpr(exprs(0), intLit(exprs(1), "k"), intLit(exprs(2), "w"))),
    "graft_quality" -> (exprs => quality(exprs(0))),
    "graft_bloom_contains" -> (exprs => BloomMightContainLong(exprs(0), exprs(1))),
    "graft_langid" -> (exprs => langId(exprs(0))))

  private def quality(text: Expression) = QualityScore(text, graft.analytics.TextAnalysis.StopwordsEn)
  private def langId(text: Expression) = StopwordLangId(text,
    graft.analytics.TextAnalysis.StopwordsEn,
    graft.analytics.TextAnalysis.StopwordsEs,
    graft.analytics.TextAnalysis.StopwordsDe)

  /** Registers the [[sqlFunctions]] names on `spark` for SQL text (temp
    * function namespace). Idempotent: a name the session's registry already
    * holds is left as it is, so a repeated call neither rebuilds the entries
    * nor logs a "replaced a previously registered function" warning. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  def fingerprintFast(text: Column): Column = column(PolyFingerprint(expr(text)))
  def minhashSigFast(sh: Column, k: Int): Column = column(MinhashSignatureExpr(expr(sh), k))
  def simhashFast(text: Column): Column = column(SimHash60(expr(text)))
  def processStatementFast(s: Column): Column = column(ProcessStatementExpr(expr(s)))
  def langIdFast(text: Column): Column = column(langId(expr(text)))
  def qualityFast(text: Column): Column = column(quality(expr(text)))
  def cardRedactFast(text: Column): Column = column(CardRedact(expr(text)))

  /** Column API for the native dot product. */
  def arrayDot(a: Column, b: Column): Column = column(ArrayDotProduct(expr(a), expr(b)))

  /** Bounded-heap top-k aggregate: returns array<struct<score,id>> of the k
    * best rows by (score desc, id asc). */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    column(TopKByScore(expr(score), expr(id), k).toAggregateExpression())

  /** Column API for native word shingles. */
  def wordShingles(text: Column, n: Int): Column = column(WordShingles(expr(text), n))

  /** Column API for winnowing fingerprints. */
  def winnowFast(text: Column, k: Int, w: Int): Column =
    column(WinnowFingerprintsExpr(expr(text), k, w))

  /** Broadcast cache for [[bloomContains]] (ADVICE r16; r17 review): a
    * fresh `sc.broadcast` per call accumulates broadcast blocks across a
    * long-lived session (streaming ingest probes the same registry filter
    * every micro-batch; at the ~1.2 GB registry scale that exhausts
    * storage memory). NOT a WeakHashMap: `sc.broadcast` stores the SAME
    * array instance in the driver BlockManager (a strong reference), so a
    * weak key over the filter bytes can never clear and the map would pin
    * every broadcast forever — the r17 review caught the r16 weak-key
    * form turning the per-call accumulation into a permanent leak for
    * callers that rebuild the bytes per call. Instead: a small LRU keyed
    * by array IDENTITY (same loaded instance → cache hit, the streaming
    * reuse pattern). Eviction calls `unpersist(false)` — non-destructive,
    * an in-flight query's executors refetch from the driver — and once
    * the evicted Broadcast object itself is unreferenced, ContextCleaner
    * removes the driver block too. Content-equal but distinct arrays
    * re-broadcast; the bound keeps that path at pre-cache behavior
    * (bounded live blocks + GC-driven cleanup) instead of a leak.
    * Entries from a stopped context (test sessions) are replaced, not
    * served stale. */
  private val BloomCacheMax = 4
  private type BloomEntry =
    (org.apache.spark.SparkContext, org.apache.spark.broadcast.Broadcast[Array[Byte]])
  private val bloomBcastCache =
    new java.util.LinkedHashMap[Array[Byte], BloomEntry](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Array[Byte], BloomEntry]): Boolean =
        if (size() > BloomCacheMax) {
          val (esc, ebc) = e.getValue
          if (!esc.isStopped) scala.util.Try(ebc.unpersist(false)): Unit
          true
        } else false
    }

  /** Test hook: current number of live cache entries. */
  private[graft] def bloomCacheSize: Int =
    bloomBcastCache.synchronized(bloomBcastCache.size())

  /** Bloom membership probe. The filter bytes travel as a BROADCAST, not a
    * plan literal (r16): a literal is embedded in every serialized task
    * binary — at registry scale (≈1.2 GB of bits for 1B shingles at 1% fpp)
    * that is a multi-GB plan tree re-shipped per task; the broadcast ships
    * once per executor. The SQL name `graft_bloom_contains` keeps the
    * literal form for SQL text, where a broadcast cannot appear. */
  def bloomContains(probe: Column, bloomBytes: Array[Byte]): Column = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val bc = bloomBcastCache.synchronized {
      bloomBcastCache.get(bloomBytes) match {
        case (`sc`, cached) if !sc.isStopped => cached
        case _ =>
          val fresh = sc.broadcast(bloomBytes)
          bloomBcastCache.put(bloomBytes, (sc, fresh))
          fresh
      }
    }
    column(BloomMightContainBcast(expr(probe), bc))
  }
}
