package graft.queries

/** DuckDB-dialect oracles for [[AnalyticsQueries]]. Each mirrors the Spark
  * implementation's arithmetic exactly: identical sha256-prefix hashing,
  * identical left-fold summation order for floating point (DuckDB
  * `list_reduce` ≡ Spark `aggregate`), identical rounding at the output
  * boundary. */
object AnalyticsOracles {

  private val tokCte =
    """WITH tok AS (
      |  SELECT doc_id, text, lang, source, string_split_regex(text, '\s+') AS toks
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id, list_distinct([toks[i]||' '||toks[i+1]||' '||toks[i+2]
      |    for i in generate_series(1, len(toks)-2)]) AS sh
      |  FROM tok WHERE len(toks) >= 3
      |)
      |""".stripMargin

  /** SQL string literal with single quotes doubled. */
  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Nested `replace(...)` chain over `inner`, applied in table order —
    * generated from the SAME Scala tables the Spark operators fold over
    * ([[graft.analytics.TextAnalysis.MojibakeTable]] etc.), so the oracle
    * chain can never drift from the implementation. */
  private def replaceChainSql(inner: String, table: Seq[(String, String)]): String =
    table.foldLeft(inner) { case (acc, (from, to)) =>
      s"replace($acc, ${sqlLit(from)}, ${sqlLit(to)})"
    }

  /** String-surgery derivation of one oracle from another, LOUD when the
    * needle drifts (r16 review sweep): a silent `.replace` no-op would make
    * the derived query verify against the UN-modified base oracle, and the
    * resulting failure would point at the operator instead of this
    * plumbing. `all` is a val, so a drifted needle now throws at object
    * initialization — every test that touches oracles trips it. */
  private def derive(baseSql: String, needle: String, repl: String): String = {
    require(baseSql.contains(needle),
      s"derived-oracle needle drifted out of sync with its base SQL:\n$needle")
    baseSql.replace(needle, repl)
  }

  private val embCte =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      |""".stripMargin

  /** Sequential left-fold cosine between two DOUBLE[] columns. */
  private def cosSql(a: String, b: String): String =
    s"""round(list_reduce(list_prepend(0.0, [$a[i] * $b[i] for i in generate_series(1, len($a))]), (x,y) -> x+y) /
       |  (sqrt(list_reduce(list_prepend(0.0, [z*z for z in $a]), (x,y) -> x+y)) *
       |   sqrt(list_reduce(list_prepend(0.0, [z*z for z in $b]), (x,y) -> x+y))), 6)""".stripMargin

  /** Shared 2-round Lloyd k-means skeleton (integer micro-unit quantization,
    * vec_id % 40 seeding): `q` quantized ints, `qd` scoring doubles + norm,
    * `a2` the final (vec_id, cid) assignment — the DuckDB twin of
    * `Clustering.kmeansAssignments`. */
  private val kmeansCte =
    """WITH q AS (
      |  SELECT vec_id, [round(x*1000000)::BIGINT for x in embedding::DOUBLE[]] AS qi
      |  FROM embeddings),
      |qd AS (
      |  SELECT vec_id, qi, [x::DOUBLE for x in qi] AS qdv,
      |    list_reduce(list_prepend(0.0, [x::DOUBLE * x::DOUBLE for x in qi]),
      |      (a,b) -> a+b) AS nq
      |  FROM q),
      |c0 AS (
      |  SELECT vec_id AS cid, qdv AS m, nq AS nm FROM qd WHERE vec_id % 40 = 0),
      |a1 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT qd.vec_id, c0.cid,
      |      row_number() OVER (PARTITION BY qd.vec_id ORDER BY
      |        nq + nm - 2.0 * list_reduce(list_prepend(0.0,
      |          [qdv[i] * m[i] for i in generate_series(1, len(qdv))]), (a,b) -> a+b),
      |        cid) AS rn
      |    FROM qd, c0)
      |  WHERE rn = 1),
      |x1 AS (
      |  SELECT cid, unnest(generate_series(1, len(qi))) AS i, qi
      |  FROM a1 JOIN q USING (vec_id)),
      |s1 AS (SELECT cid, i, sum(qi[i]) AS s FROM x1 GROUP BY cid, i),
      |n1 AS (SELECT cid, count(*) AS n FROM a1 GROUP BY cid),
      |c1 AS (
      |  SELECT cid, m,
      |    list_reduce(list_prepend(0.0, [x*x for x in m]), (a,b) -> a+b) AS nm
      |  FROM (
      |    SELECT cid, list(s::DOUBLE / n ORDER BY i) AS m
      |    FROM s1 JOIN n1 USING (cid) GROUP BY cid, n)),
      |a2 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT qd.vec_id, c1.cid,
      |      row_number() OVER (PARTITION BY qd.vec_id ORDER BY
      |        nq + nm - 2.0 * list_reduce(list_prepend(0.0,
      |          [qdv[i] * m[i] for i in generate_series(1, len(qdv))]), (a,b) -> a+b),
      |        cid) AS rn
      |    FROM qd, c1)
      |  WHERE rn = 1)
      |""".stripMargin

  /** PQ code geometry mirrored from analytics.ProductQuantization's
    * defaults: round 11 moved 8×8 → 32×2 after the measured recall curve
    * (SCALING.md § "Round 11: the PQ recall curve") showed raw ADC recall@5 is
    * quantization-limited at 8×8 (~0.20, flat in nprobe/codebook size)
    * and crosses the 0.5 bar only with finer subspaces (32×2: 0.58–0.68
    * at sf0.1). Everything downstream (slices, pivot width, + chain) is
    * generated from these two numbers so Spark and oracle can never
    * drift. */
  private val PqM = 32
  private val PqSubDim = 2

  /** Shared PQ pipeline: [[PqM]] subspaces × [[PqSubDim]] dims, integer
    * micro-unit quantization, 2-round per-subspace Lloyd seeded by
    * vec_id % 40 == 0 — the DuckDB re-implementation of
    * analytics.ProductQuantization (same CTE skeleton as embed_kmeans,
    * partitioned by subspace). */
  private val pqCte =
    s"""WITH q AS (
      |  SELECT vec_id, [round(x*1000000)::BIGINT for x in embedding::DOUBLE[]] AS qi
      |  FROM embeddings),
      |sub0 AS (
      |  SELECT vec_id, s.sub, qi[s.sub*$PqSubDim+1 : s.sub*$PqSubDim+$PqSubDim] AS sqi
      |  FROM q CROSS JOIN (SELECT unnest(generate_series(0, ${PqM - 1})) AS sub) s),
      |sd AS (
      |  SELECT vec_id, sub, sqi, [x::DOUBLE for x in sqi] AS sqd,
      |    list_reduce(list_prepend(0.0, [x::DOUBLE * x::DOUBLE for x in sqi]),
      |      (a,b) -> a+b) AS nq
      |  FROM sub0),
      |c0 AS (SELECT sub, vec_id AS cid, sqd AS m, nq AS nm FROM sd WHERE vec_id % 40 = 0),
      |a1 AS (
      |  SELECT vec_id, sub, cid FROM (
      |    SELECT vec_id, sub, cid,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
      |    FROM (
      |      SELECT vec_id, sub, cid,
      |        nq + nm - 2.0 * list_reduce(list_prepend(0.0,
      |          [sqd[i] * m[i] for i in generate_series(1, len(sqd))]), (a,b) -> a+b) AS dist
      |      FROM sd JOIN c0 USING (sub)))
      |  WHERE rn = 1),
      |x1 AS (
      |  SELECT sub, cid, unnest(generate_series(1, len(sqi))) AS i, sqi
      |  FROM a1 JOIN sd USING (vec_id, sub)),
      |s1 AS (SELECT sub, cid, i, sum(sqi[i]) AS s FROM x1 GROUP BY sub, cid, i),
      |n1 AS (SELECT sub, cid, count(*) AS n FROM a1 GROUP BY sub, cid),
      |c1 AS (
      |  SELECT sub, cid, m,
      |    list_reduce(list_prepend(0.0, [x*x for x in m]), (a,b) -> a+b) AS nm
      |  FROM (
      |    SELECT sub, cid, list(s::DOUBLE / n ORDER BY i) AS m
      |    FROM s1 JOIN n1 USING (sub, cid) GROUP BY sub, cid, n)),
      |a2 AS (
      |  SELECT vec_id, sub, cid, dist FROM (
      |    SELECT vec_id, sub, cid, dist,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
      |    FROM (
      |      SELECT vec_id, sub, cid,
      |        nq + nm - 2.0 * list_reduce(list_prepend(0.0,
      |          [sqd[i] * m[i] for i in generate_series(1, len(sqd))]), (a,b) -> a+b) AS dist
      |      FROM sd JOIN c1 USING (sub)))
      |  WHERE rn = 1)
      |""".stripMargin

  /** ADC pivot + fixed `+` chain over [[PqM]] subspace terms, generated so
    * the chain's association order is EXACTLY Spark's
    * `(1 until m).foldLeft(d0)(_ + _)` (double addition is not
    * associative; an unordered SUM would drift). `src` is the
    * (query_id, vec_id, sub, d2) CTE to pivot; emits CTEs `pv` and `tt`
    * (tt: query_id, vec_id, adc). Column alias `dd<i>` avoids the d2
    * name collision the old hand-written m=8 pivot dodged with `d2c`. */
  private def adcPivotCtes(src: String): String = {
    val cols = (0 until PqM)
      .map(s => s"    max(CASE WHEN sub = $s THEN d2 END) AS dd$s")
      .mkString(",\n")
    val chain = (1 until PqM).foldLeft("dd0")((acc, s) => s"($acc+dd$s)")
    s"""pv AS (
       |  SELECT query_id, vec_id,
       |$cols
       |  FROM $src GROUP BY query_id, vec_id),
       |tt AS (
       |  SELECT query_id, vec_id, $chain AS adc FROM pv)""".stripMargin
  }

  /** Quantized-int base table shared by the coarse-quantizer CTEs (identical
    * to the `q` head of [[kmeansCte]]/[[pqCte]]). */
  private val quantCte =
    """WITH q AS (
      |  SELECT vec_id, [round(x*1000000)::BIGINT for x in embedding::DOUBLE[]] AS qi
      |  FROM embeddings)
      |""".stripMargin

  /** TRAINED coarse-quantizer CTEs (assume `q(vec_id, qi)` exists): a
    * seeded SPHERICAL (highest-cosine) assignment + exact-int recompute,
    * twice → trained means `kc2(cid, m, nm)` — the DuckDB twin of
    * `Clustering.trainedCentroids(step, rounds = 3)`. Names are k-prefixed
    * so the fragment composes with the PQ skeleton (whose subspace tables
    * already use c0/a1/c1/a2). */
  private def coarseTrainCtes(step: Int): String =
    s""", kqd AS (
       |  SELECT vec_id, qi, [x::DOUBLE for x in qi] AS qdv,
       |    list_reduce(list_prepend(0.0, [x::DOUBLE * x::DOUBLE for x in qi]),
       |      (a,b) -> a+b) AS nq
       |  FROM q),
       |kc0 AS (SELECT vec_id AS cid, qdv AS m, nq AS nm FROM kqd WHERE vec_id % $step = 0),
       |ka1 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT kqd.vec_id, kc0.cid,
       |      row_number() OVER (PARTITION BY kqd.vec_id ORDER BY
       |        $coarseCosSql DESC,
       |        cid) AS rn
       |    FROM kqd, kc0)
       |  WHERE rn = 1),
       |kx1 AS (
       |  SELECT cid, unnest(generate_series(1, len(qi))) AS i, qi
       |  FROM ka1 JOIN q USING (vec_id)),
       |ks1 AS (SELECT cid, i, sum(qi[i]) AS s FROM kx1 GROUP BY cid, i),
       |kn1 AS (SELECT cid, count(*) AS n FROM ka1 GROUP BY cid),
       |kc1 AS (
       |  SELECT cid, m,
       |    list_reduce(list_prepend(0.0, [x*x for x in m]), (a,b) -> a+b) AS nm
       |  FROM (
       |    SELECT cid, list(s::DOUBLE / n ORDER BY i) AS m
       |    FROM ks1 JOIN kn1 USING (cid) GROUP BY cid, n)),
       |ka2 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT kqd.vec_id, kc1.cid,
       |      row_number() OVER (PARTITION BY kqd.vec_id ORDER BY
       |        $coarseCosSql DESC,
       |        cid) AS rn
       |    FROM kqd, kc1)
       |  WHERE rn = 1),
       |kx2 AS (
       |  SELECT cid, unnest(generate_series(1, len(qi))) AS i, qi
       |  FROM ka2 JOIN q USING (vec_id)),
       |ks2 AS (SELECT cid, i, sum(qi[i]) AS s FROM kx2 GROUP BY cid, i),
       |kn2 AS (SELECT cid, count(*) AS n FROM ka2 GROUP BY cid),
       |kc2 AS (
       |  SELECT cid, m,
       |    list_reduce(list_prepend(0.0, [x*x for x in m]), (a,b) -> a+b) AS nm
       |  FROM (
       |    SELECT cid, list(s::DOUBLE / n ORDER BY i) AS m
       |    FROM ks2 JOIN kn2 USING (cid) GROUP BY cid, n))
       |""".stripMargin

  /** Probe width and rescore depth as the ANN queries derive them from the
    * corpus size, `ProductQuantization.scaledNprobe(autoTrainN(n))` and
    * `scaledDepth(n)` (6 and 20 on the 500-vector corpora). */
  private val nprobeSql =
    s"(SELECT (greatest(1, least(count(*), ${graft.analytics.ProductQuantization.TrainSampleTarget}) // 25)" +
      " * 300 + 999) // 1000 FROM embeddings)"
  private val depthSql = "(SELECT greatest(20, count(*) // 25) FROM embeddings)"

  /** Coarse cosine of a quantized vector against a trained mean — the exact
    * parenthesization of `Clustering.coarseCos`. */
  private val coarseCosSql =
    """round(list_reduce(list_prepend(0.0,
      |      [qdv[i] * m[i] for i in generate_series(1, len(qdv))]), (a,b) -> a+b) /
      |      (sqrt(nq) * sqrt(nm)), 6)""".stripMargin

  /** The shared quality-score expression (Spark twin:
    * [[graft.analytics.TextAnalysis]]'s gate formula), Spark-round-exact
    * via the VARCHAR→DECIMAL idiom. ONE definition spliced into every
    * oracle that scores quality (r16 review sweep: this block was
    * hand-kept in 13 copies — a weight change now lands everywhere or
    * nowhere). `punct`/`stop` name the sub-expressions call sites
    * precompute in an enclosing CTE; defaults inline them. */
  private def qualitySql(
      punct: String = "length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / length(text)",
      stop: String = "len(list_filter(toks, t -> t IN ('the','a','of','to','and')))::DOUBLE"): String =
    s"round(CAST((0.3 * least(1.0, len(toks)::DOUBLE / 100.0) " +
      s"+ 0.3 * (1.0 - $punct) " +
      s"+ 0.2 * ($stop / len(toks)) " +
      "+ 0.2 * least(1.0, (list_sum(list_transform(toks, t -> length(t)))::DOUBLE " +
      "/ len(toks)) / 8.0)) AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE"

  private val jaccardSql =
    """round(CAST(len(list_intersect(a.sh, b.sh))::DOUBLE /
      |  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE""".stripMargin

  /** SQL-unrolled greedy MMR, the DuckDB twin of
    * [[graft.analytics.Similarity.mmrTopK]]: `cand` is the exact
    * top-`depth` per query (cos DESC, vec_id ties), each step `s` CTE pair
    * (m_s, s_s) replicates the Spark plan's anti-join + max-sim-to-selected
    * aggregate + argmax stages in the same integer micro-unit arithmetic. */
  private def mmrSql(nQueries: Int, depth: Int, k: Int,
                     lamNum: Int, lamCompl: Int): String = {
    val steps = (2 to k).map { s =>
      s"""m$s AS (
         |  SELECT c.query_id, c.vec_id, c.cosq, max(p.sim) AS maxsel
         |  FROM cand c
         |  JOIN pairs p ON p.query_id = c.query_id AND p.id_a = c.vec_id
         |  JOIN sel${s - 1} w ON w.query_id = p.query_id AND w.vec_id = p.id_b
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${s - 1} x
         |    WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)
         |  GROUP BY c.query_id, c.vec_id, c.cosq),
         |s$s AS (
         |  SELECT query_id, vec_id, mmr_score, $s::BIGINT AS step FROM (
         |    SELECT query_id, vec_id, $lamNum * cosq - $lamCompl * maxsel AS mmr_score,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY $lamNum * cosq - $lamCompl * maxsel DESC, vec_id) AS rn
         |    FROM m$s) WHERE rn = 1),
         |sel$s AS (SELECT * FROM sel${s - 1} UNION ALL SELECT * FROM s$s),
         |""".stripMargin
    }.mkString
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, ${cosSql("q.v", "c.v")} AS cos
       |  FROM e q JOIN e c ON q.vec_id < $nQueries AND c.vec_id <> q.vec_id),
       |cand AS (
       |  SELECT query_id, vec_id, round(cos * 1000000)::BIGINT AS cosq FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
       |    FROM scored) WHERE rnk <= $depth),
       |cv AS (SELECT cand.query_id, cand.vec_id, e.v FROM cand JOIN e USING (vec_id)),
       |pairs AS (
       |  SELECT a.query_id, a.vec_id AS id_a, b.vec_id AS id_b,
       |    round(${cosSql("a.v", "b.v")} * 1000000)::BIGINT AS sim
       |  FROM cv a JOIN cv b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
       |s1 AS (
       |  SELECT query_id, vec_id, $lamNum * cosq AS mmr_score, 1::BIGINT AS step FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY $lamNum * cosq DESC, vec_id) AS rn
       |    FROM cand) WHERE rn = 1),
       |sel1 AS (SELECT * FROM s1),
       |${steps}fin AS (SELECT * FROM sel$k)
       |SELECT query_id, step, vec_id, mmr_score FROM fin ORDER BY query_id, step""".stripMargin
  }

  private val base: Map[String, String] = Map(
    "text_gopher_gates" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
        |cnts AS (
        |  SELECT doc_id, tok, count(*) AS cnt FROM t
        |  WHERE length(tok) > 0 GROUP BY doc_id, tok),
        |s AS (
        |  SELECT doc_id, sum(cnt)::BIGINT AS n_tokens, count(*)::BIGINT AS n_distinct,
        |         sum(length(tok) * cnt)::BIGINT AS sum_len,
        |         count(CASE WHEN tok IN ('the','a','of','to','and') THEN 1 END)::BIGINT AS n_stop
        |  FROM cnts GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  round(CAST(sum_len::DOUBLE / n_tokens AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS mean_tok_len,
        |  n_stop,
        |  round(CAST((n_tokens - n_distinct)::DOUBLE / n_tokens AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS dup_tok_frac,
        |  (n_tokens >= 30 AND n_tokens <= 100000)::INT AS gate_len,
        |  (sum_len::DOUBLE / n_tokens >= 3.0 AND sum_len::DOUBLE / n_tokens <= 10.0)::INT AS gate_wordlen,
        |  (n_stop >= 2)::INT AS gate_stop,
        |  ((n_tokens - n_distinct)::DOUBLE / n_tokens <= 0.75)::INT AS gate_rep,
        |  (n_tokens >= 30 AND n_tokens <= 100000
        |   AND sum_len::DOUBLE / n_tokens >= 3.0 AND sum_len::DOUBLE / n_tokens <= 10.0
        |   AND n_stop >= 2
        |   AND (n_tokens - n_distinct)::DOUBLE / n_tokens <= 0.75)::INT AS keep
        |FROM s ORDER BY doc_id""".stripMargin,
    "text_winnow" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, [toks[i]||' '||toks[i+1]||' '||toks[i+2]
        |    for i in generate_series(1, len(toks)-2)] AS grams
        |  FROM tok),
        |h AS (
        |  SELECT doc_id, [('0x'||substr(sha256(x),1,15))::BIGINT for x in grams] AS hs,
        |         len(grams) AS ng
        |  FROM g),
        |m AS (
        |  SELECT doc_id, CASE
        |    WHEN ng >= 4 THEN list_distinct([list_min(hs[i : i+3])
        |      for i in generate_series(1, ng-3)])
        |    WHEN ng >= 1 THEN [list_min(hs)]
        |    ELSE []::BIGINT[] END AS fps
        |  FROM h)
        |SELECT doc_id, unnest(fps) AS fp FROM m ORDER BY doc_id, fp""".stripMargin,
    "sample_epochs" ->
      """WITH c AS (
        |  SELECT lang AS stratum, count(*) AS n, sqrt(count(*)::DOUBLE) AS s
        |  FROM documents GROUP BY lang),
        |t AS (
        |  SELECT list_reduce(list_prepend(0.0, list(s ORDER BY stratum)),
        |    (a,b) -> a+b) AS total FROM c),
        |b AS (SELECT sum(n)::BIGINT AS budget FROM c),
        |w AS (
        |  SELECT stratum, n, round(s / total * 1000000)::BIGINT AS weight_micro
        |  FROM c CROSS JOIN t)
        |SELECT stratum, n, weight_micro,
        |  round(weight_micro::DOUBLE * budget / n)::BIGINT AS epochs_micro,
        |  round(weight_micro::DOUBLE * budget / 1000000)::BIGINT AS target_docs
        |FROM w CROSS JOIN b ORDER BY stratum""".stripMargin,
    "sample_mix" ->
      """WITH c AS (
        |  SELECT lang AS stratum, count(*) AS n, sqrt(count(*)::DOUBLE) AS s
        |  FROM documents GROUP BY lang),
        |t AS (
        |  SELECT list_reduce(list_prepend(0.0, list(s ORDER BY stratum)),
        |    (a,b) -> a+b) AS total FROM c),
        |b AS (SELECT sum(n)::BIGINT AS budget FROM c),
        |w AS (
        |  SELECT stratum, n, round(s / total * 1000000)::BIGINT AS weight_micro
        |  FROM c CROSS JOIN t),
        |a AS (
        |  SELECT stratum,
        |    round(weight_micro::DOUBLE * budget / n)::BIGINT AS epochs_micro
        |  FROM w CROSS JOIN b),
        |d AS (
        |  SELECT doc_id, a.stratum AS stratum, epochs_micro // 1000000 +
        |    (CASE WHEN ('0x'||substr(sha256(doc_id::VARCHAR || ':mix'),1,15))::BIGINT % 1000000
        |          < epochs_micro % 1000000 THEN 1 ELSE 0 END) AS n_copies
        |  FROM documents JOIN a ON a.stratum = documents.lang)
        |SELECT doc_id, stratum, unnest(generate_series(1, n_copies)) AS epoch
        |FROM d WHERE n_copies >= 1 ORDER BY doc_id, epoch""".stripMargin,
    "pack_windows" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END::BIGINT AS n_tok,
        |    ('0x'||substr(sha256(doc_id::VARCHAR),1,15))::BIGINT % 8 AS shard
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n_tok, shard,
        |    sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS tok_end
        |  FROM d WHERE n_tok > 0)
        |SELECT doc_id, n_tok, shard, tok_end, tok_end - n_tok AS tok_start,
        |  (tok_end - n_tok) // 1024 AS first_window,
        |  (tok_end - 1) // 1024 AS last_window,
        |  (tok_end - 1) // 1024 - (tok_end - n_tok) // 1024 + 1 AS n_windows
        |FROM s ORDER BY doc_id""".stripMargin,
    "pack_shards" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END::BIGINT AS n_tok,
        |    ('0x'||substr(sha256(doc_id::VARCHAR),1,15))::BIGINT % 8 AS shard
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n_tok, shard,
        |    sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS tok_end
        |  FROM d WHERE n_tok > 0)
        |SELECT shard, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens,
        |  (max((tok_end - 1) // 1024) + 1)::BIGINT AS n_sequences
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin,
    "pipeline_pack" ->
      raw"""WITH tok AS (
        |  SELECT doc_id, text, string_split_regex(text, '\s+') AS toks FROM documents),
        |scored AS (
        |  SELECT doc_id, text,
        |    CASE WHEN en = 0 AND es = 0 AND de = 0 THEN 'unknown'
        |         WHEN en >= es AND en >= de THEN 'en'
        |         WHEN es >= de THEN 'es' ELSE 'de' END AS lang_pred,
        |    ${qualitySql(punct = "punct", stop = "en::DOUBLE")} AS quality
        |  FROM (
        |    SELECT *,
        |      len(list_filter(toks, t -> t IN ('the','a','of','to','and'))) AS en,
        |      len(list_filter(toks, t -> t IN ('el','la','de','los','y'))) AS es,
        |      len(list_filter(toks, t -> t IN ('der','die','das','und','ist'))) AS de,
        |      length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE / length(text) AS punct
        |    FROM tok)),
        |kept0 AS (SELECT * FROM scored WHERE quality >= 0.55),
        |kept AS (
        |  SELECT * FROM kept0 WHERE doc_id IN (
        |    SELECT min(doc_id) FROM kept0 GROUP BY sha256(text))),
        |c2 AS (
        |  SELECT lang_pred AS stratum, count(*) AS n, sqrt(count(*)::DOUBLE) AS s
        |  FROM kept GROUP BY 1),
        |t AS (
        |  SELECT list_reduce(list_prepend(0.0, list(s ORDER BY stratum)),
        |    (a,b) -> a+b) AS total FROM c2),
        |b AS (SELECT sum(n)::BIGINT AS budget FROM c2),
        |w AS (
        |  SELECT stratum, n, round(s / total * 1000000)::BIGINT AS weight_micro
        |  FROM c2 CROSS JOIN t),
        |a AS (
        |  SELECT stratum,
        |    round(weight_micro::DOUBLE * budget / n)::BIGINT AS epochs_micro
        |  FROM w CROSS JOIN b),
        |mixn AS (
        |  SELECT kept.doc_id, kept.text, epochs_micro // 1000000 +
        |    (CASE WHEN ('0x'||substr(sha256(kept.doc_id::VARCHAR || ':mix'),1,15))::BIGINT % 1000000
        |          < epochs_micro % 1000000 THEN 1 ELSE 0 END) AS n_copies
        |  FROM kept JOIN a ON a.stratum = kept.lang_pred),
        |stream AS (
        |  SELECT doc_id * 1000 + epoch AS mix_id, text
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, n_copies)) AS epoch
        |        FROM mixn WHERE n_copies >= 1)),
        |pd AS (
        |  SELECT mix_id,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END::BIGINT AS n_tok,
        |    ('0x'||substr(sha256(mix_id::VARCHAR),1,15))::BIGINT % 8 AS shard
        |  FROM stream),
        |ps AS (
        |  SELECT mix_id, n_tok, shard,
        |    sum(n_tok) OVER (PARTITION BY shard ORDER BY mix_id
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS tok_end
        |  FROM pd WHERE n_tok > 0)
        |SELECT mix_id, mix_id // 1000 AS doc_id, mix_id % 1000 AS epoch, shard,
        |  n_tok, tok_end - n_tok AS tok_start, tok_end,
        |  (tok_end - n_tok) // 1024 AS first_window,
        |  (tok_end - 1) // 1024 AS last_window,
        |  (tok_end - 1) // 1024 - (tok_end - n_tok) // 1024 + 1 AS n_windows
        |FROM ps ORDER BY mix_id""".stripMargin,
    // curriculum packing: quality DESC, id tiebreak, same window math as
    // pack_windows; quality formula is the dedup_quality_keepers fragment
    "pack_curriculum" ->
      raw"""WITH tok AS (
        |  SELECT doc_id, text, string_split_regex(text, '\s+') AS toks FROM documents),
        |qual AS (
        |  SELECT doc_id,
        |    ${qualitySql(punct = "punct")} AS quality
        |  FROM (SELECT *,
        |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE / length(text) AS punct
        |    FROM tok)),
        |d AS (
        |  SELECT tok.doc_id, round(quality * 10000)::BIGINT AS score,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END::BIGINT AS n_tok,
        |    ('0x'||substr(sha256(tok.doc_id::VARCHAR),1,15))::BIGINT % 8 AS shard
        |  FROM tok JOIN qual ON tok.doc_id = qual.doc_id),
        |s AS (
        |  SELECT doc_id, score, n_tok, shard,
        |    sum(n_tok) OVER (PARTITION BY shard ORDER BY score DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS tok_end
        |  FROM d WHERE n_tok > 0)
        |SELECT doc_id, score, n_tok, shard, tok_end - n_tok AS tok_start, tok_end,
        |  (tok_end - n_tok) // 1024 AS first_window,
        |  (tok_end - 1) // 1024 AS last_window,
        |  (tok_end - 1) // 1024 - (tok_end - n_tok) // 1024 + 1 AS n_windows
        |FROM s ORDER BY doc_id""".stripMargin,
    "pack_shuffled" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END::BIGINT AS n_tok,
        |    ('0x'||substr(sha256(doc_id::VARCHAR),1,15))::BIGINT % 8 AS shard,
        |    ('0x'||substr(sha256(doc_id::VARCHAR || ':ord'),1,15))::BIGINT AS ord
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n_tok, shard,
        |    sum(n_tok) OVER (PARTITION BY shard ORDER BY ord, doc_id
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS tok_end
        |  FROM d WHERE n_tok > 0)
        |SELECT doc_id, n_tok, shard, tok_end, tok_end - n_tok AS tok_start,
        |  (tok_end - n_tok) // 1024 AS first_window,
        |  (tok_end - 1) // 1024 AS last_window,
        |  (tok_end - 1) // 1024 - (tok_end - n_tok) // 1024 + 1 AS n_windows
        |FROM s ORDER BY doc_id""".stripMargin,
    "pack_window_map" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END::BIGINT AS n_tok,
        |    ('0x'||substr(sha256(doc_id::VARCHAR),1,15))::BIGINT % 8 AS shard
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n_tok, shard,
        |    sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS tok_end
        |  FROM d WHERE n_tok > 0),
        |p AS (
        |  SELECT doc_id, shard, tok_end - n_tok AS tok_start, tok_end,
        |    (tok_end - n_tok) // 1024 AS fw, (tok_end - 1) // 1024 AS lw
        |  FROM s),
        |e AS (
        |  SELECT doc_id, shard, tok_start, tok_end,
        |    unnest(generate_series(fw, lw)) AS window_id
        |  FROM p)
        |SELECT shard, window_id, doc_id,
        |  greatest(tok_start, window_id * 1024) - window_id * 1024 AS offset_in_window,
        |  least(tok_end, window_id * 1024 + 1024)
        |    - greatest(tok_start, window_id * 1024) AS n_tok_in_window,
        |  greatest(tok_start, window_id * 1024) - tok_start AS doc_skip
        |FROM e ORDER BY shard, window_id, doc_id""".stripMargin,
    "clf_train" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
        |f AS (
        |  SELECT doc_id, ('0x'||substr(sha256(tok),1,15))::BIGINT % 16 AS bucket,
        |         count(*) AS cnt
        |  FROM t WHERE length(tok) > 0 GROUP BY doc_id, bucket),
        |l AS (
        |  SELECT doc_id, CASE WHEN NOT (en = 0 AND es = 0 AND de = 0)
        |                       AND en >= es AND en >= de THEN 1 ELSE -1 END AS y
        |  FROM (SELECT doc_id,
        |      len(list_filter(toks, x -> x IN ('the','a','of','to','and'))) AS en,
        |      len(list_filter(toks, x -> x IN ('el','la','de','los','y'))) AS es,
        |      len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS de
        |    FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents))),
        |fl AS (SELECT f.doc_id, f.bucket, f.cnt, l.y FROM f JOIN l USING (doc_id)),
        |buckets AS (SELECT i::BIGINT AS bucket FROM generate_series(0, 15) g(i)),
        |w1 AS (
        |  SELECT b.bucket, coalesce(d.d, 0)::BIGINT AS w FROM buckets b
        |  LEFT JOIN (SELECT bucket, sum(y * cnt)::BIGINT AS d FROM fl GROUP BY bucket) d
        |    USING (bucket)),
        |m1 AS (SELECT doc_id, y, sum(cnt * w)::BIGINT AS m
        |       FROM fl JOIN w1 USING (bucket) GROUP BY doc_id, y),
        |d2 AS (SELECT bucket, sum(y * cnt)::BIGINT AS d FROM fl
        |       WHERE doc_id IN (SELECT doc_id FROM m1 WHERE y * m <= 0) GROUP BY bucket),
        |w2 AS (SELECT w1.bucket, (w1.w + coalesce(d2.d, 0))::BIGINT AS w
        |       FROM w1 LEFT JOIN d2 USING (bucket)),
        |m2 AS (SELECT doc_id, y, sum(cnt * w)::BIGINT AS m
        |       FROM fl JOIN w2 USING (bucket) GROUP BY doc_id, y),
        |d3 AS (SELECT bucket, sum(y * cnt)::BIGINT AS d FROM fl
        |       WHERE doc_id IN (SELECT doc_id FROM m2 WHERE y * m <= 0) GROUP BY bucket),
        |w3 AS (SELECT w2.bucket, (w2.w + coalesce(d3.d, 0))::BIGINT AS w
        |       FROM w2 LEFT JOIN d3 USING (bucket))
        |SELECT bucket, w FROM w3 ORDER BY bucket""".stripMargin,
    "text_clf_score" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
        |f AS (
        |  SELECT doc_id, ('0x'||substr(sha256(tok),1,15))::BIGINT % 16 AS bucket,
        |         count(*) AS cnt
        |  FROM t WHERE length(tok) > 0 GROUP BY doc_id, bucket),
        |w AS (
        |  SELECT i AS bucket,
        |    ('0x'||substr(sha256('w'||i::VARCHAR),1,15))::BIGINT % 2001 - 1000 AS w
        |  FROM generate_series(0, 15) g(i))
        |SELECT doc_id, sum(cnt * w)::BIGINT AS logit,
        |  (sum(cnt * w) >= 0)::INT AS keep
        |FROM f JOIN w USING (bucket)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_winnow_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, [toks[i]||' '||toks[i+1]||' '||toks[i+2]
        |    for i in generate_series(1, len(toks)-2)] AS grams
        |  FROM tok),
        |h AS (
        |  SELECT doc_id, [('0x'||substr(sha256(x),1,15))::BIGINT for x in grams] AS hs,
        |         len(grams) AS ng
        |  FROM g),
        |m AS (
        |  SELECT doc_id, CASE
        |    WHEN ng >= 4 THEN list_distinct([list_min(hs[i : i+3])
        |      for i in generate_series(1, ng-3)])
        |    WHEN ng >= 1 THEN [list_min(hs)]
        |    ELSE []::BIGINT[] END AS fps
        |  FROM h),
        |f AS (SELECT doc_id, unnest(fps) AS fp FROM m)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
        |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY id_a, id_b""".stripMargin,
    "dedup_spans_keepers" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0, (len(toks)-1) // 16)) AS chunk_idx
        |  FROM tok),
        |sp AS (
        |  SELECT doc_id, chunk_idx,
        |    array_to_string(toks[chunk_idx*16+1 : least(chunk_idx*16+16, len(toks))], ' ') AS chunk_text,
        |    substr(sha256(array_to_string(
        |      toks[chunk_idx*16+1 : least(chunk_idx*16+16, len(toks))], ' ')), 1, 32) AS h,
        |    doc_id*1000000 + chunk_idx AS occ_key
        |  FROM c),
        |k AS (SELECT h, min(occ_key) AS first_key FROM sp GROUP BY h)
        |SELECT doc_id,
        |  string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS kept_text,
        |  count(*)::BIGINT AS n_kept_spans
        |FROM sp JOIN k USING (h)
        |WHERE occ_key = first_key
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_spans" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0, (len(toks)-1) // 16)) AS chunk_idx
        |  FROM tok),
        |sp AS (
        |  SELECT doc_id, chunk_idx,
        |    len(toks[chunk_idx*16+1 : least(chunk_idx*16+16, len(toks))]) AS n_tok,
        |    substr(sha256(array_to_string(
        |      toks[chunk_idx*16+1 : least(chunk_idx*16+16, len(toks))], ' ')), 1, 32) AS h,
        |    doc_id*1000000 + chunk_idx AS occ_key
        |  FROM c),
        |k AS (SELECT h, min(occ_key) AS first_key FROM sp GROUP BY h)
        |SELECT doc_id, count(*)::BIGINT AS n_spans,
        |  sum(CASE WHEN occ_key != first_key THEN 1 ELSE 0 END)::BIGINT AS n_removed,
        |  sum(CASE WHEN occ_key = first_key THEN n_tok ELSE 0 END)::BIGINT AS n_kept_tok
        |FROM sp JOIN k USING (h)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "pipeline_curate" -> (tokCte +
      s""", scored AS (
         |  SELECT doc_id, text,
         |    CASE WHEN en = 0 AND es = 0 AND de = 0 THEN 'unknown'
         |         WHEN en >= es AND en >= de THEN 'en'
         |         WHEN es >= de THEN 'es' ELSE 'de' END AS lang_pred,
         |    ${qualitySql(punct = "punct", stop = "en::DOUBLE")} AS quality
         |  FROM (
         |    SELECT *,
         |      len(list_filter(toks, t -> t IN ('the','a','of','to','and'))) AS en,
         |      len(list_filter(toks, t -> t IN ('el','la','de','los','y'))) AS es,
         |      len(list_filter(toks, t -> t IN ('der','die','das','und','ist'))) AS de,
         |      length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / length(text) AS punct
         |    FROM tok)),
         |kept0 AS (SELECT * FROM scored WHERE lang_pred = 'en' AND quality >= 0.55),
         |kept1 AS (
         |  SELECT * FROM kept0 WHERE doc_id IN (
         |    SELECT min(doc_id) FROM kept0 GROUP BY sha256(text))),
         |ksh AS (SELECT sh.doc_id, sh.sh FROM sh JOIN kept1 USING (doc_id)),
         |neardup AS (
         |  SELECT id_b FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, $jaccardSql AS jaccard
         |    FROM ksh a JOIN ksh b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.6)
         |SELECT doc_id, lang_pred, quality FROM kept1
         |WHERE doc_id NOT IN (SELECT id_b FROM neardup)
         |ORDER BY doc_id""".stripMargin),
    // the FULL curation DAG: decontaminate (vs docs 0-4) -> C4 span dedup
    // materialized -> quality-aware near-dup keepers over the REWRITTEN
    // text -> sqrt-temperature lang mix -> sequence packing. Each block is
    // the proven fragment of its standalone oracle, composed.
    "pipeline_full" ->
      s"""WITH RECURSIVE tok0 AS (
         |  SELECT doc_id, text, lang, string_split_regex(text, '\\s+') AS toks FROM documents),
         |sh0 AS (
         |  SELECT doc_id, list_distinct([toks[i]||' '||toks[i+1]||' '||toks[i+2]
         |    for i in generate_series(1, len(toks)-2)]) AS sh
         |  FROM tok0 WHERE len(toks) >= 3),
         |clean AS (
         |  SELECT doc_id, text, lang FROM documents
         |  WHERE doc_id >= 5 AND doc_id NOT IN (
         |    SELECT DISTINCT c.doc_id
         |    FROM (SELECT doc_id, unnest(sh) AS shingle FROM sh0 WHERE doc_id >= 5) c
         |    JOIN (SELECT DISTINCT unnest(sh) AS shingle FROM sh0 WHERE doc_id < 5) p
         |      USING (shingle))),
         |ctok AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM clean),
         |cchunk AS (
         |  SELECT doc_id, toks,
         |    unnest(generate_series(0, (len(toks)-1) // 16)) AS chunk_idx
         |  FROM ctok),
         |sp AS (
         |  SELECT doc_id, chunk_idx,
         |    array_to_string(toks[chunk_idx*16+1 : least(chunk_idx*16+16, len(toks))], ' ') AS chunk_text,
         |    substr(sha256(array_to_string(
         |      toks[chunk_idx*16+1 : least(chunk_idx*16+16, len(toks))], ' ')), 1, 32) AS h,
         |    doc_id*1000000 + chunk_idx AS occ_key
         |  FROM cchunk),
         |firstk AS (SELECT h, min(occ_key) AS first_key FROM sp GROUP BY h),
         |mat AS (
         |  SELECT doc_id, string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS text
         |  FROM sp JOIN firstk USING (h)
         |  WHERE occ_key = first_key GROUP BY doc_id),
         |tok AS (SELECT doc_id, text, string_split_regex(text, '\\s+') AS toks FROM mat),
         |sh AS (
         |  SELECT doc_id, list_distinct([toks[i]||' '||toks[i+1]||' '||toks[i+2]
         |    for i in generate_series(1, len(toks)-2)]) AS sh
         |  FROM tok WHERE len(toks) >= 3),
         |pairs AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, $jaccardSql AS jaccard
         |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.6),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(id, label) AS (
         |  SELECT src AS id, src AS label FROM edges
         |  UNION
         |  SELECT e.src AS id, r.label FROM edges e JOIN reach r ON e.dst = r.id),
         |minlab AS (SELECT id, min(label) AS label FROM reach GROUP BY id),
         |qual AS (
         |  SELECT doc_id,
         |    ${qualitySql(punct = "punct")} AS quality
         |  FROM (SELECT *,
         |    length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / length(text) AS punct
         |    FROM tok)),
         |cmp AS (
         |  SELECT m.doc_id, coalesce(l.label, m.doc_id) AS comp
         |  FROM mat m LEFT JOIN minlab l ON m.doc_id = l.id),
         |rnk AS (
         |  SELECT c.doc_id,
         |    row_number() OVER (PARTITION BY c.comp ORDER BY q.quality DESC, c.doc_id) AS rn
         |  FROM cmp c JOIN qual q USING (doc_id)),
         |kept AS (
         |  SELECT m.doc_id, m.text, d.lang
         |  FROM mat m JOIN rnk r USING (doc_id) JOIN documents d USING (doc_id)
         |  WHERE r.rn = 1),
         |strata AS (
         |  SELECT lang AS stratum, count(*) AS n, sqrt(count(*)::DOUBLE) AS s
         |  FROM kept GROUP BY 1),
         |tot AS (
         |  SELECT list_reduce(list_prepend(0.0, list(s ORDER BY stratum)),
         |    (x,y) -> x+y) AS total FROM strata),
         |bud AS (SELECT sum(n)::BIGINT AS budget FROM strata),
         |wts AS (
         |  SELECT stratum, n, round(s / total * 1000000)::BIGINT AS weight_micro
         |  FROM strata CROSS JOIN tot),
         |alloc AS (
         |  SELECT stratum,
         |    round(weight_micro::DOUBLE * budget / n)::BIGINT AS epochs_micro
         |  FROM wts CROSS JOIN bud),
         |mixn AS (
         |  SELECT kept.doc_id, kept.text, epochs_micro // 1000000 +
         |    (CASE WHEN ('0x'||substr(sha256(kept.doc_id::VARCHAR || ':mix'),1,15))::BIGINT % 1000000
         |          < epochs_micro % 1000000 THEN 1 ELSE 0 END) AS n_copies
         |  FROM kept JOIN alloc ON alloc.stratum = kept.lang),
         |stream AS (
         |  SELECT doc_id * 1000 + epoch AS mix_id, text
         |  FROM (SELECT doc_id, text, unnest(generate_series(1, n_copies)) AS epoch
         |        FROM mixn WHERE n_copies >= 1)),
         |pd AS (
         |  SELECT mix_id,
         |    CASE WHEN len(trim(text)) = 0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+')) END::BIGINT AS n_tok,
         |    ('0x'||substr(sha256(mix_id::VARCHAR),1,15))::BIGINT % 8 AS shard
         |  FROM stream),
         |ps AS (
         |  SELECT mix_id, n_tok, shard,
         |    sum(n_tok) OVER (PARTITION BY shard ORDER BY mix_id
         |      ROWS UNBOUNDED PRECEDING)::BIGINT AS tok_end
         |  FROM pd WHERE n_tok > 0)
         |SELECT mix_id, mix_id // 1000 AS doc_id, mix_id % 1000 AS epoch, shard,
         |  n_tok, tok_end - n_tok AS tok_start, tok_end,
         |  (tok_end - n_tok) // 1024 AS first_window,
         |  (tok_end - 1) // 1024 AS last_window,
         |  (tok_end - 1) // 1024 - (tok_end - n_tok) // 1024 + 1 AS n_windows
         |FROM ps ORDER BY mix_id""".stripMargin,
    // sketch-calibrated quality gate: quality formula -> integer micro-units
    // -> DDSketch bucket walk for the corpus p25 -> filter. The bucket math
    // is the agg_quantile_cube fragment; the quality formula is the
    // dedup_quality_keepers fragment.
    "text_quality_calibrated" ->
      raw"""WITH tok AS (
        |  SELECT doc_id, text, string_split_regex(text, '\s+') AS toks FROM documents),
        |qual AS (
        |  SELECT doc_id,
        |    ${qualitySql(punct = "punct")} AS quality
        |  FROM (SELECT *,
        |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE / length(text) AS punct
        |    FROM tok)),
        |qm AS (SELECT doc_id, round(quality * 10000)::BIGINT AS q_micro FROM qual),
        |cents AS (SELECT greatest(q_micro, 1) AS c FROM qm),
        |withb AS (SELECT c, length(bin(c))::BIGINT AS b FROM cents),
        |k AS (
        |  SELECT CASE WHEN c < 32 THEN c
        |              ELSE (b - 1) * 32 + ((c >> (b - 6)) & 31) END AS bucket,
        |         CASE WHEN c < 32 THEN c
        |              ELSE ((32 + ((c >> (b - 6)) & 31)) << (b - 6)) END AS rep
        |  FROM withb),
        |hist AS (SELECT bucket, rep, count(*)::BIGINT AS cnt FROM k GROUP BY 1, 2),
        |cum AS (
        |  SELECT rep, cnt,
        |    sum(cnt) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER () AS n
        |  FROM hist),
        |thr AS (
        |  SELECT min(CASE WHEN cum >= ceil(0.25 * n) THEN rep END)::BIGINT AS p25
        |  FROM cum)
        |SELECT doc_id, q_micro, p25 FROM qm CROSS JOIN thr
        |WHERE q_micro >= p25 ORDER BY doc_id""".stripMargin,
    // per-doc novelty: distinct-shingle df across the corpus, share of
    // df=1 shingles per doc
    "text_novelty" -> (tokCte +
      """, exp AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        |dfc AS (SELECT s, count(*)::BIGINT AS df FROM exp GROUP BY s)
        |SELECT doc_id, count(*)::BIGINT AS n_sh,
        |  sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
        |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*) AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS novelty
        |FROM exp JOIN dfc USING (s)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "contamination_report" -> (tokCte +
      """, ps AS (SELECT doc_id AS probe_id, unnest(sh) AS shingle FROM sh WHERE doc_id < 5),
        |cs AS (SELECT doc_id, unnest(sh) AS shingle FROM sh WHERE doc_id >= 5),
        |pn AS (SELECT probe_id, count(*)::BIGINT AS probe_n FROM ps GROUP BY probe_id),
        |hits AS (SELECT probe_id, doc_id, count(*)::BIGINT AS n_shared
        |         FROM ps JOIN cs USING (shingle) GROUP BY probe_id, doc_id)
        |SELECT probe_id, doc_id, n_shared, probe_n,
        |  round(CAST(n_shared::DOUBLE / probe_n AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS leak_frac
        |FROM hits JOIN pn USING (probe_id) ORDER BY probe_id, doc_id""".stripMargin),
    "decontaminate" -> (tokCte +
      """SELECT doc_id, n_chars FROM documents
        |WHERE doc_id >= 5 AND doc_id NOT IN (
        |  SELECT DISTINCT c.doc_id
        |  FROM (SELECT doc_id, unnest(sh) AS shingle FROM sh WHERE doc_id >= 5) c
        |  JOIN (SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc_id < 5) p
        |    USING (shingle))
        |ORDER BY doc_id""".stripMargin),
    // stored-index build(0-2) + OR-merge append(3-4) + screen ≡ exact
    // decontaminate vs the unioned registry
    "decontaminate_index" -> (tokCte +
      """SELECT doc_id, n_chars FROM documents
        |WHERE doc_id >= 5 AND doc_id NOT IN (
        |  SELECT DISTINCT c.doc_id
        |  FROM (SELECT doc_id, unnest(sh) AS shingle FROM sh WHERE doc_id >= 5) c
        |  JOIN (SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc_id < 5) p
        |    USING (shingle))
        |ORDER BY doc_id""".stripMargin),
    // bloom screen + exact verify ≡ exact decontaminate (no false negatives)
    "decontaminate_bloom" -> (tokCte +
      """SELECT doc_id, n_chars FROM documents
        |WHERE doc_id >= 5 AND doc_id NOT IN (
        |  SELECT DISTINCT c.doc_id
        |  FROM (SELECT doc_id, unnest(sh) AS shingle FROM sh WHERE doc_id >= 5) c
        |  JOIN (SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc_id < 5) p
        |    USING (shingle))
        |ORDER BY doc_id""".stripMargin),
    "text_tok_freq" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token FROM documents),
        |t AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
        |vocab AS (SELECT token, count(*) AS cnt FROM t GROUP BY token)
        |SELECT doc_id,
        |  round(CAST(sum(cnt)::DOUBLE / count(*) AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS avg_freq,
        |  min(cnt) AS min_freq,
        |  sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax
        |FROM t JOIN vocab USING (token)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_pii_redact" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    substr(text, 1, 40) || ' reach user' || doc_id ||
        |    '@mail.example.org or 555-867-' ||
        |    lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
        |    ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) ||
        |    ' end' AS raw
        |  FROM documents)
        |SELECT doc_id, raw,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(raw,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g') AS redacted
        |FROM raw ORDER BY doc_id""".stripMargin,
    "text_card_redact" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    lpad(((doc_id * 37) % 1000000000)::VARCHAR, 15, '0') AS base
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, text, base,
        |    list_sum([CASE WHEN i % 2 = 1
        |      THEN CASE WHEN 2*substr(reverse(base), i, 1)::INT > 9
        |           THEN 2*substr(reverse(base), i, 1)::INT - 9
        |           ELSE 2*substr(reverse(base), i, 1)::INT END
        |      ELSE substr(reverse(base), i, 1)::INT END
        |      for i in generate_series(1, 15)])::BIGINT AS s
        |  FROM f),
        |c AS (
        |  SELECT doc_id, text,
        |    base || ((10 - (s % 10)) % 10)::VARCHAR AS valid,
        |    base || (((10 - (s % 10)) % 10 + 1) % 10)::VARCHAR AS invalid
        |  FROM l),
        |r AS (
        |  SELECT doc_id,
        |    substr(text, 1, 32) || ' pay ' || valid || ' ref ' || invalid ||
        |      ' tel 555-867-5309 end' AS raw,
        |    valid
        |  FROM c)
        |SELECT doc_id, raw, replace(raw, valid, '<CARD>') AS redacted
        |FROM r ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |t AS (
        |  SELECT doc_id, unnest(toks) AS tok FROM tok),
        |uni AS (
        |  SELECT doc_id, sum(cnt) AS n_tokens, count(*) AS n_distinct,
        |         max(cnt) AS max_cnt
        |  FROM (SELECT doc_id, tok, count(*) AS cnt FROM t
        |        WHERE length(tok) > 0 GROUP BY doc_id, tok)
        |  GROUP BY doc_id),
        |bg AS (
        |  SELECT doc_id, unnest([toks[i]||' '||toks[i+1]
        |    for i in generate_series(1, len(toks)-1)]) AS bg
        |  FROM tok WHERE len(toks) >= 2),
        |bi AS (
        |  SELECT doc_id, sum(cnt) AS n_bigrams, count(*) AS n_distinct_bi
        |  FROM (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY doc_id, bg)
        |  GROUP BY doc_id)
        |SELECT doc_id,
        |  round(CAST((n_tokens - n_distinct)::DOUBLE / n_tokens AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS dup_tok_frac,
        |  round(CAST(max_cnt::DOUBLE / n_tokens AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS top_tok_frac,
        |  round(CAST((n_bigrams - n_distinct_bi)::DOUBLE / n_bigrams AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS dup_2gram_frac
        |FROM uni JOIN bi USING (doc_id) ORDER BY doc_id""".stripMargin,
    "embed_kmeans" -> (kmeansCte +
      """SELECT cid AS centroid_id, count(*) AS n_members, min(vec_id) AS min_member,
        |  round(CAST(sum(qi[1])::DOUBLE / count(*) AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS mean_q0
        |FROM a2 JOIN q USING (vec_id)
        |GROUP BY cid ORDER BY centroid_id""".stripMargin),
    // outlier gate: per-cluster means recomputed from the FINAL (a2)
    // assignment (exact int sums / n), member d² to its own mean rounded to
    // BIGINT (the err2 convention), flagged beyond 4× the cluster mean d²
    "embed_outliers" -> (kmeansCte +
      """, x2 AS (
        |  SELECT cid, unnest(generate_series(1, len(qi))) AS i, qi
        |  FROM a2 JOIN q USING (vec_id)),
        |s2 AS (SELECT cid, i, sum(qi[i]) AS s FROM x2 GROUP BY cid, i),
        |n2 AS (SELECT cid, count(*) AS n FROM a2 GROUP BY cid),
        |c2 AS (
        |  SELECT cid, m,
        |    list_reduce(list_prepend(0.0, [x*x for x in m]), (a,b) -> a+b) AS nm
        |  FROM (
        |    SELECT cid, list(s::DOUBLE / n ORDER BY i) AS m
        |    FROM s2 JOIN n2 USING (cid) GROUP BY cid, n)),
        |d AS (
        |  SELECT qd.vec_id, a2.cid,
        |    round(nq + nm - 2.0 * list_reduce(list_prepend(0.0,
        |      [qdv[i] * m[i] for i in generate_series(1, len(qdv))]),
        |      (a,b) -> a+b))::BIGINT AS d2
        |  FROM a2 JOIN qd USING (vec_id) JOIN c2 USING (cid)),
        |st AS (SELECT cid, sum(d2) AS sd2, count(*) AS n FROM d GROUP BY cid)
        |SELECT vec_id, cid, d2,
        |  (d2::DOUBLE > 4.0 * (sd2::DOUBLE / n)) AS is_outlier
        |FROM d JOIN st USING (cid) ORDER BY vec_id""".stripMargin),
    // D4 prototypicality: per-cluster ascending-d² rank over the SAME d
    // frame as embed_outliers; drop floor(n/5) closest (ties -> lowest id)
    "embed_prototypes" -> (kmeansCte +
      """, x2 AS (
        |  SELECT cid, unnest(generate_series(1, len(qi))) AS i, qi
        |  FROM a2 JOIN q USING (vec_id)),
        |s2 AS (SELECT cid, i, sum(qi[i]) AS s FROM x2 GROUP BY cid, i),
        |n2 AS (SELECT cid, count(*) AS n FROM a2 GROUP BY cid),
        |c2 AS (
        |  SELECT cid, m,
        |    list_reduce(list_prepend(0.0, [x*x for x in m]), (a,b) -> a+b) AS nm
        |  FROM (
        |    SELECT cid, list(s::DOUBLE / n ORDER BY i) AS m
        |    FROM s2 JOIN n2 USING (cid) GROUP BY cid, n)),
        |d AS (
        |  SELECT qd.vec_id, a2.cid,
        |    round(nq + nm - 2.0 * list_reduce(list_prepend(0.0,
        |      [qdv[i] * m[i] for i in generate_series(1, len(qdv))]),
        |      (a,b) -> a+b))::BIGINT AS d2
        |  FROM a2 JOIN qd USING (vec_id) JOIN c2 USING (cid)),
        |rk AS (
        |  SELECT vec_id, cid, d2,
        |    row_number() OVER (PARTITION BY cid ORDER BY d2, vec_id) AS proto_rank,
        |    count(*) OVER (PARTITION BY cid) AS n
        |  FROM d)
        |SELECT vec_id, cid, d2, proto_rank::BIGINT AS proto_rank,
        |  proto_rank > (n * 1) // 5 AS keep
        |FROM rk ORDER BY vec_id""".stripMargin),
    "semdedup_keepers" -> (kmeansCte +
      """, v AS (
        |  SELECT vec_id, cid, qdv, nq FROM a2 JOIN qd USING (vec_id)),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id AS id_b
        |  FROM v a JOIN v b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  WHERE round(list_reduce(list_prepend(0.0,
        |      [a.qdv[i] * b.qdv[i] for i in generate_series(1, len(a.qdv))]),
        |      (x,y) -> x+y) / (sqrt(a.nq) * sqrt(b.nq)), 6) >= 0.4)
        |SELECT vec_id, cid FROM v
        |WHERE vec_id NOT IN (SELECT id_b FROM dropped)
        |ORDER BY vec_id""".stripMargin),
    "sample_temperature" ->
      """WITH c AS (
        |  SELECT lang AS stratum, count(*) AS n, sqrt(count(*)::DOUBLE) AS s
        |  FROM documents GROUP BY lang),
        |t AS (
        |  SELECT list_reduce(list_prepend(0.0, list(s ORDER BY stratum)),
        |    (a,b) -> a+b) AS total FROM c)
        |SELECT stratum, n, round(s / total * 1000000)::BIGINT AS weight_micro
        |FROM c CROSS JOIN t ORDER BY stratum""".stripMargin,
    "text_hash_vec" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
        |  FROM documents)
        |SELECT doc_id, ('0x'||substr(sha256(tok),1,15))::BIGINT % 16 AS bucket,
        |  count(*) AS cnt
        |FROM t WHERE length(tok) > 0
        |GROUP BY doc_id, bucket ORDER BY doc_id, bucket""".stripMargin,
    "embed_pq" -> (pqCte +
      """SELECT vec_id, sub, cid AS code, round(dist)::BIGINT AS err2
        |FROM a2 ORDER BY vec_id, sub""".stripMargin),
    "sim_pq_adc" -> (pqCte +
      """, dt AS (
        |  SELECT vec_id AS query_id, sub, cid,
        |    nq + nm - 2.0 * list_reduce(list_prepend(0.0,
        |      [sqd[i] * m[i] for i in generate_series(1, len(sqd))]), (a,b) -> a+b) AS d2
        |  FROM sd JOIN c1 USING (sub) WHERE vec_id < 5),
        |j AS (
        |  SELECT dt.query_id, a2.vec_id, a2.sub, dt.d2
        |  FROM a2 JOIN dt ON a2.sub = dt.sub AND a2.cid = dt.cid),
        |""".stripMargin + adcPivotCtes("j") + """
        |SELECT query_id, rank, vec_id, round(adc)::BIGINT AS adc FROM (
        |  SELECT query_id, vec_id, adc,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rank
        |  FROM tt)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    "sim_ivfpq_topk" -> (pqCte + coarseTrainCtes(25) +
      s""", cent AS (SELECT cid AS centroid_id, m, nm FROM kc2),
         |ascore AS (
         |  SELECT kqd.vec_id, cent.centroid_id, $coarseCosSql AS ccos
         |  FROM kqd, cent),
         |assigned AS (
         |  SELECT vec_id, centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn FROM ascore)
         |  WHERE rn = 1),
         |qscore AS (
         |  SELECT kqd.vec_id AS query_id, cent.centroid_id, $coarseCosSql AS ccos
         |  FROM kqd, cent WHERE kqd.vec_id < 5),
         |probes AS (
         |  SELECT query_id, centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, centroid_id) AS rn FROM qscore)
         |  WHERE rn <= $nprobeSql),
         |cand AS (
         |  SELECT p.query_id, a.vec_id FROM probes p JOIN assigned a USING (centroid_id)
         |  WHERE a.vec_id <> p.query_id),
         |dt AS (
         |  SELECT vec_id AS query_id, sub, cid,
         |    nq + nm - 2.0 * list_reduce(list_prepend(0.0,
         |      [sqd[i] * m[i] for i in generate_series(1, len(sqd))]), (a,b) -> a+b) AS d2
         |  FROM sd JOIN c1 USING (sub) WHERE vec_id < 5),
         |jj AS (
         |  SELECT c.query_id, c.vec_id, a2.sub, dt.d2
         |  FROM cand c JOIN a2 USING (vec_id)
         |  JOIN dt ON dt.query_id = c.query_id AND dt.sub = a2.sub AND dt.cid = a2.cid),
         |""".stripMargin + adcPivotCtes("jj") + s"""
         |SELECT query_id, rank, vec_id, round(adc)::BIGINT AS adc FROM (
         |  SELECT query_id, vec_id, adc,
         |    row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rank
         |  FROM tt)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    "doc_chunks" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0, (len(toks)-1) // 24)) AS chunk_idx
        |  FROM tok),
        |sl AS (
        |  SELECT doc_id, chunk_idx,
        |    toks[chunk_idx*24+1 : least(chunk_idx*24+32, len(toks))] AS sl
        |  FROM c)
        |SELECT doc_id, chunk_idx, len(sl) AS n_tok,
        |  substr(sha256(array_to_string(sl, ' ')), 1, 16) AS chunk_hash
        |FROM sl ORDER BY doc_id, chunk_idx""".stripMargin,
    "shard_stats" ->
      """SELECT ('0x'||substr(sha256(doc_id::VARCHAR),1,15))::BIGINT % 64 AS shard,
        |  count(*) AS n_docs,
        |  sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END)::BIGINT AS n_tokens,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY shard ORDER BY shard""".stripMargin,
    "tfidf_top_terms" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token FROM documents),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM t
        |  WHERE length(token) > 0 GROUP BY doc_id, token),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, token, tf, df,
        |    tf * round(ln((n+1)::DOUBLE / (df+1)) * 1000000)::BIGINT AS score_micro
        |  FROM tf JOIN df USING (token), n)
        |SELECT doc_id, rank, token, tf, df, score_micro FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_micro DESC, token) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "text_lm_score" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest([toks[i]||' '||toks[i+1]
        |    for i in generate_series(1, len(toks)-1)]) AS bg
        |  FROM tok WHERE len(toks) >= 2),
        |bgw AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM bg),
        |c2 AS (SELECT bg, count(*) AS c2 FROM bgw GROUP BY bg),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bgw GROUP BY w1),
        |v AS (
        |  SELECT count(DISTINCT tok) AS v
        |  FROM (SELECT unnest(toks) AS tok FROM tok)
        |  WHERE length(tok) > 0),
        |s AS (
        |  SELECT doc_id,
        |    round(ln((c1 + v)::DOUBLE / (c2 + 1)::DOUBLE) * 1000000)::BIGINT AS sm
        |  FROM bgw JOIN c2 USING (bg) JOIN c1 USING (w1) CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST((sum(sm)::DOUBLE / count(*) / 1000000.0) AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS avg_surprisal
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // interpolated Kneser-Ney (D = 3/4): one integer ratio per bigram —
    // P = (max(4*c2-3,0)*Nt + 3*n1p*n1m) / (4*c1*Nt) — micro-nat quantized
    "text_kn_score" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest([toks[i]||' '||toks[i+1]
        |    for i in generate_series(1, len(toks)-1)]) AS bg
        |  FROM tok WHERE len(toks) >= 2),
        |bgw AS (
        |  SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1,
        |    string_split(bg, ' ')[-1] AS w2 FROM bg),
        |c2 AS (SELECT bg, count(*)::BIGINT AS c2 FROM bgw GROUP BY bg),
        |c1 AS (
        |  SELECT w1, count(*)::BIGINT AS c1,
        |    count(DISTINCT bg)::BIGINT AS n1p
        |  FROM bgw GROUP BY w1),
        |n1m AS (
        |  SELECT string_split(bg, ' ')[-1] AS w2, count(*)::BIGINT AS n1m
        |  FROM c2 GROUP BY 1),
        |nt AS (SELECT count(*)::BIGINT AS nt FROM c2),
        |s AS (
        |  SELECT doc_id,
        |    round(ln((4 * c1 * nt)::DOUBLE /
        |      (greatest(4 * c2 - 3, 0) * nt + 3 * n1p * n1m)::DOUBLE)
        |      * 1000000)::BIGINT AS sm
        |  FROM bgw JOIN c2 USING (bg) JOIN c1 USING (w1)
        |    JOIN n1m USING (w2) CROSS JOIN nt)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST((sum(sm)::DOUBLE / count(*) / 1000000.0) AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS avg_kn_surprisal
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // held-out KN: LM trained on sha-bucket < 800, scores the >= 800 docs.
    // Pc(w2) = (n1m+1)/Z with Z = Nt + V + 1 (add-one continuation + OOV
    // bucket); seen head P = (max(4c2-3,0)*Z + 3*n1p*(n1m+1)) / (4*c1*Z),
    // unseen head P = (n1m+1)/Z — micro-nat quantized like text_kn_score
    "text_kn_heldout" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    ('0x'||substr(sha256(doc_id::VARCHAR),1,15))::BIGINT % 1000 AS bkt,
        |    string_split_regex(text, '\s+') AS toks FROM documents),
        |bg AS (
        |  SELECT doc_id, bkt, unnest([toks[i]||' '||toks[i+1]
        |    for i in generate_series(1, len(toks)-1)]) AS bg
        |  FROM tok WHERE len(toks) >= 2),
        |bgw AS (
        |  SELECT doc_id, bkt, bg, string_split(bg, ' ')[1] AS w1,
        |    string_split(bg, ' ')[-1] AS w2 FROM bg),
        |c2 AS (SELECT bg, count(*)::BIGINT AS c2 FROM bgw WHERE bkt < 800 GROUP BY bg),
        |c1 AS (
        |  SELECT w1, count(*)::BIGINT AS c1,
        |    count(DISTINCT bg)::BIGINT AS n1p
        |  FROM bgw WHERE bkt < 800 GROUP BY w1),
        |n1m AS (
        |  SELECT string_split(bg, ' ')[-1] AS w2, count(*)::BIGINT AS n1m
        |  FROM c2 GROUP BY 1),
        |z AS (
        |  SELECT ((SELECT count(*) FROM c2)
        |    + (SELECT count(DISTINCT tok) FROM
        |        (SELECT unnest(toks) AS tok FROM tok WHERE bkt < 800)
        |       WHERE length(tok) > 0) + 1)::BIGINT AS z),
        |s AS (
        |  SELECT h.doc_id, coalesce(c2.c2, 0) AS c2v, coalesce(c1.c1, 0) AS c1v,
        |    coalesce(c1.n1p, 0) AS n1p, coalesce(n1m.n1m, 0) AS n1mv, z.z AS z
        |  FROM bgw h LEFT JOIN c2 USING (bg) LEFT JOIN c1 USING (w1)
        |    LEFT JOIN n1m USING (w2) CROSS JOIN z
        |  WHERE h.bkt >= 800),
        |sc AS (
        |  SELECT doc_id, c2v,
        |    round(ln(
        |      (CASE WHEN c1v > 0 THEN 4 * c1v * z ELSE z END)::DOUBLE /
        |      (CASE WHEN c1v > 0
        |            THEN greatest(4 * c2v - 3, 0) * z + 3 * n1p * (n1mv + 1)
        |            ELSE n1mv + 1 END)::DOUBLE) * 1000000)::BIGINT AS sm
        |  FROM s)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  sum(CASE WHEN c2v = 0 THEN 1 ELSE 0 END)::BIGINT AS n_unseen,
        |  round(CAST((sum(sm)::DOUBLE / count(*) / 1000000.0) AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS avg_kn_surprisal
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_prefix" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    sha256(array_to_string(string_split_regex(text, '\s+')[1:8], ' ')) AS h
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.h AS prefix_hash
        |FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin,
    "bm25_search" ->
      """WITH p AS (
        |  SELECT doc_id, len(toks)::BIGINT AS dl,
        |    len(list_filter(toks, x -> x = 'data'))::BIGINT AS tf_data,
        |    len(list_filter(toks, x -> x = 'fast'))::BIGINT AS tf_fast,
        |    len(list_filter(toks, x -> x = 'query'))::BIGINT AS tf_query
        |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents)),
        |s AS (
        |  SELECT count(*) AS n, sum(dl) AS dl_sum,
        |    sum(CASE WHEN tf_data > 0 THEN 1 ELSE 0 END) AS df_data,
        |    sum(CASE WHEN tf_fast > 0 THEN 1 ELSE 0 END) AS df_fast,
        |    sum(CASE WHEN tf_query > 0 THEN 1 ELSE 0 END) AS df_query
        |  FROM p),
        |scored AS (
        |  SELECT doc_id, dl, tf_data, tf_fast, tf_query,
        |    round(
        |      (round(ln((n+1)::DOUBLE / (df_data+1)) * 1000000)::BIGINT::DOUBLE / 1000000.0)
        |        * (tf_data::DOUBLE * (1.2 + 1)) / (tf_data::DOUBLE + 1.2 * (0.25 + 0.75 * dl / (dl_sum::DOUBLE / n)))
        |      + (round(ln((n+1)::DOUBLE / (df_fast+1)) * 1000000)::BIGINT::DOUBLE / 1000000.0)
        |        * (tf_fast::DOUBLE * (1.2 + 1)) / (tf_fast::DOUBLE + 1.2 * (0.25 + 0.75 * dl / (dl_sum::DOUBLE / n)))
        |      + (round(ln((n+1)::DOUBLE / (df_query+1)) * 1000000)::BIGINT::DOUBLE / 1000000.0)
        |        * (tf_query::DOUBLE * (1.2 + 1)) / (tf_query::DOUBLE + 1.2 * (0.25 + 0.75 * dl / (dl_sum::DOUBLE / n))), 4) AS score
        |  FROM p, s)
        |SELECT * FROM scored WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "search_rrf" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |p AS (
         |  SELECT doc_id, len(toks)::BIGINT AS dl,
         |    len(list_filter(toks, x -> x = 'data'))::BIGINT AS tf_data,
         |    len(list_filter(toks, x -> x = 'fast'))::BIGINT AS tf_fast,
         |    len(list_filter(toks, x -> x = 'query'))::BIGINT AS tf_query
         |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents)),
         |s AS (
         |  SELECT count(*) AS n, sum(dl) AS dl_sum,
         |    sum(CASE WHEN tf_data > 0 THEN 1 ELSE 0 END) AS df_data,
         |    sum(CASE WHEN tf_fast > 0 THEN 1 ELSE 0 END) AS df_fast,
         |    sum(CASE WHEN tf_query > 0 THEN 1 ELSE 0 END) AS df_query
         |  FROM p),
         |scored AS (
         |  SELECT doc_id,
         |    round(
         |      (round(ln((n+1)::DOUBLE / (df_data+1)) * 1000000)::BIGINT::DOUBLE / 1000000.0)
         |        * (tf_data::DOUBLE * (1.2 + 1)) / (tf_data::DOUBLE + 1.2 * (0.25 + 0.75 * dl / (dl_sum::DOUBLE / n)))
         |      + (round(ln((n+1)::DOUBLE / (df_fast+1)) * 1000000)::BIGINT::DOUBLE / 1000000.0)
         |        * (tf_fast::DOUBLE * (1.2 + 1)) / (tf_fast::DOUBLE + 1.2 * (0.25 + 0.75 * dl / (dl_sum::DOUBLE / n)))
         |      + (round(ln((n+1)::DOUBLE / (df_query+1)) * 1000000)::BIGINT::DOUBLE / 1000000.0)
         |        * (tf_query::DOUBLE * (1.2 + 1)) / (tf_query::DOUBLE + 1.2 * (0.25 + 0.75 * dl / (dl_sum::DOUBLE / n))), 4) AS score
         |  FROM p, s),
         |sparse AS (
         |  SELECT doc_id AS id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank_sparse
         |  FROM (SELECT doc_id, score FROM scored WHERE score > 0
         |        ORDER BY score DESC, doc_id LIMIT 50)),
         |dsc AS (
         |  SELECT c.vec_id AS id, ${cosSql("q.v", "c.v")} AS cos
         |  FROM e q JOIN e c ON q.vec_id = 0 AND c.vec_id <> 0),
         |dense AS (
         |  SELECT id, rank_dense FROM (
         |    SELECT id, row_number() OVER (ORDER BY cos DESC, id) AS rank_dense FROM dsc)
         |  WHERE rank_dense <= 50)
         |SELECT COALESCE(d.id, sp.id) AS id, d.rank_dense, sp.rank_sparse,
         |  COALESCE(floor(1000000.0 / (60 + d.rank_dense))::BIGINT, 0) +
         |  COALESCE(floor(1000000.0 / (60 + sp.rank_sparse))::BIGINT, 0) AS rrf_micro
         |FROM dense d FULL OUTER JOIN sparse sp ON d.id = sp.id
         |ORDER BY rrf_micro DESC, id LIMIT 20""".stripMargin,
    "dsir_weights" ->
      """WITH tokd AS (
        |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_target,
        |    string_split_regex(text, '\s+') AS toks
        |  FROM documents),
        |bgw AS (
        |  SELECT doc_id, is_target, unnest([toks[i]||' '||toks[i+1]
        |    for i in generate_series(1, len(toks)-1)]) AS bg
        |  FROM tokd WHERE len(toks) >= 2),
        |feat AS (
        |  SELECT doc_id, is_target,
        |    ('0x'||substr(sha256(bg),1,15))::BIGINT % 64 AS bucket, count(*) AS cnt
        |  FROM bgw GROUP BY doc_id, is_target, bucket),
        |counts AS (
        |  SELECT bucket,
        |    sum(CASE WHEN is_target = 1 THEN cnt ELSE 0 END)::BIGINT AS ct,
        |    sum(cnt)::BIGINT AS cr
        |  FROM feat GROUP BY bucket),
        |tot AS (SELECT sum(ct)::BIGINT AS tt, sum(cr)::BIGINT AS tr FROM counts),
        |lam AS (
        |  SELECT bucket,
        |    round(ln(((ct + 1)::DOUBLE * (tr + 64)::DOUBLE) /
        |             ((cr + 1)::DOUBLE * (tt + 64)::DOUBLE)) * 1000000)::BIGINT AS lam_micro
        |  FROM counts, tot)
        |SELECT doc_id, sum(cnt)::BIGINT AS n_bigrams,
        |  sum(cnt * lam_micro)::BIGINT AS logw_micro,
        |  (sum(cnt * lam_micro) > 0)::INT AS keep
        |FROM feat JOIN lam USING (bucket)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_collocations" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |bg AS (
        |  SELECT unnest([toks[i]||' '||toks[i+1]
        |    for i in generate_series(1, len(toks)-1)]) AS bg
        |  FROM tok WHERE len(toks) >= 2),
        |c2 AS (SELECT bg, count(*)::BIGINT AS c2 FROM bg GROUP BY bg),
        |uni AS (SELECT unnest(toks) AS tok FROM tok),
        |cu AS (SELECT tok, count(*)::BIGINT AS cu FROM uni GROUP BY tok),
        |tot AS (SELECT (SELECT sum(c2) FROM c2)::BIGINT AS t,
        |               (SELECT count(*) FROM uni)::BIGINT AS u)
        |SELECT w1, w2, c2,
        |  round(ln((c2::DOUBLE * u::DOUBLE * u::DOUBLE) /
        |           (t::DOUBLE * cu1::DOUBLE * cu2::DOUBLE)) * 1000000)::BIGINT AS pmi_micro
        |FROM (
        |  SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2, c2
        |  FROM c2 WHERE c2 >= 5) p
        |JOIN (SELECT tok AS w1, cu AS cu1 FROM cu) a USING (w1)
        |JOIN (SELECT tok AS w2, cu AS cu2 FROM cu) b USING (w2)
        |CROSS JOIN tot
        |ORDER BY pmi_micro DESC, w1, w2 LIMIT 50""".stripMargin,
    "corpus_report" ->
      """WITH ph AS (
        |  SELECT source, ('0x'||substr(sha256(text),1,15))::BIGINT AS h,
        |    count(*)::BIGINT AS cnt,
        |    sum(len(string_split_regex(text, '\s+')))::BIGINT AS tk,
        |    sum(n_chars)::BIGINT AS ch,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS en
        |  FROM documents GROUP BY source, h)
        |SELECT source, sum(cnt)::BIGINT AS n_docs, sum(tk)::BIGINT AS n_tokens,
        |  round(CAST(sum(ch)::DOUBLE / sum(cnt) AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS avg_chars,
        |  round(CAST(sum(en)::DOUBLE / sum(cnt) AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS pct_en,
        |  sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::BIGINT AS dup_docs,
        |  round(CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::DOUBLE / sum(cnt) AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS dup_rate
        |FROM ph GROUP BY source ORDER BY source""".stripMargin,
    // BPE merge training: rounds unrolled as chained CTEs with scalar-
    // subquery argmaxes (the clf_train unrolled-iterations precedent);
    // generated from the same round count the Spark query uses. The oracle
    // contract is the non-degenerate regime (a real corpus has ≥ `merges`
    // viable pairs; early-stop on a tiny corpus is spec'd in Scala).
    // agg_approx pattern: exact columns hash-match; the sketch guarantees
    // surface as in-engine booleans the oracle expects uniformly TRUE
    "text_cms_topk" ->
      """WITH t AS (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
        |c AS (
        |  SELECT tok, count(*)::BIGINT AS cnt FROM t WHERE length(tok) > 0
        |  GROUP BY tok ORDER BY cnt DESC, tok LIMIT 20)
        |SELECT row_number() OVER (ORDER BY cnt DESC, tok)::BIGINT AS rank,
        |  tok, cnt, true AS cms_ok_lower, true AS cms_ok_upper
        |FROM c ORDER BY rank""".stripMargin,
    // HLL register cube: identical sha-60 bucketing, register max-merge,
    // and estimator arithmetic (the numerator is spelled as the same IEEE
    // expression in both engines); s_sum gates the exact sketch state
    "agg_hll_cube" ->
      """WITH h AS (
        |  SELECT event_type, ts::DATE AS day,
        |    ('0x'||substr(sha256(user_id::VARCHAR),1,15))::BIGINT AS h
        |  FROM events),
        |r AS (
        |  SELECT event_type, day, h & 255 AS bucket,
        |    CASE WHEN h >> 8 = 0 THEN 53
        |         ELSE 53 - length(bin(h >> 8)) END AS rho
        |  FROM h),
        |daily AS (
        |  SELECT event_type, day, bucket, max(rho) AS rho
        |  FROM r GROUP BY 1, 2, 3),
        |merged AS (
        |  SELECT event_type, bucket, max(rho) AS rho FROM daily GROUP BY 1, 2),
        |agg AS (
        |  SELECT event_type, count(*)::BIGINT AS n_regs,
        |    sum(1::BIGINT << (53 - rho))::BIGINT AS s_present
        |  FROM merged GROUP BY 1),
        |est AS (
        |  SELECT event_type, (256 - n_regs)::BIGINT AS zeros,
        |    (s_present + (256 - n_regs) * 9007199254740992)::BIGINT AS s_sum
        |  FROM agg)
        |SELECT event_type, zeros, s_sum,
        |  round(CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 9007199254740992.0
        |                  / s_sum::DOUBLE <= 640.0 AND zeros > 0
        |    THEN 256.0 * ln(256.0 / zeros::DOUBLE)
        |    ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 9007199254740992.0
        |         / s_sum::DOUBLE END, 2) AS est_users
        |FROM est ORDER BY event_type""".stripMargin,
    // DDSketch-style quantile cube: identical pure-integer log bucketing
    // (exact below 32 cents, 5 sub-bits above), merge-by-sum, cumulative
    // walk — representatives hash-match as integers, no tolerance
    "agg_quantile_cube" ->
      """WITH cents AS (
        |  SELECT event_type, ts::DATE AS day,
        |    greatest(CAST(round(value * 100) AS BIGINT), 1) AS c
        |  FROM events),
        |withb AS (
        |  SELECT event_type, day, c, length(bin(c))::BIGINT AS b FROM cents),
        |k AS (
        |  SELECT event_type, day,
        |    CASE WHEN c < 32 THEN c
        |         ELSE (b - 1) * 32 + ((c >> (b - 6)) & 31) END AS bucket,
        |    CASE WHEN c < 32 THEN c
        |         ELSE ((32 + ((c >> (b - 6)) & 31)) << (b - 6)) END AS rep
        |  FROM withb),
        |daily AS (
        |  SELECT event_type, day, bucket, rep, count(*)::BIGINT AS cnt
        |  FROM k GROUP BY 1, 2, 3, 4),
        |merged AS (
        |  SELECT event_type, bucket, rep, sum(cnt)::BIGINT AS cnt
        |  FROM daily GROUP BY 1, 2, 3),
        |cum AS (
        |  SELECT event_type, bucket, rep, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM merged)
        |SELECT event_type, max(n)::BIGINT AS n,
        |  min(CASE WHEN cum >= ceil(0.5 * n)  THEN rep END)::BIGINT AS p50,
        |  min(CASE WHEN cum >= ceil(0.95 * n) THEN rep END)::BIGINT AS p95,
        |  min(CASE WHEN cum >= ceil(0.99 * n) THEN rep END)::BIGINT AS p99
        |FROM cum GROUP BY event_type ORDER BY event_type""".stripMargin,
    "bpe_merges" -> graft.analytics.Bpe.oracleSql(merges = 4),
    "cluster_topics" -> (kmeansCte +
      """, tokd AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT cid, token, count(*)::BIGINT AS tf
        |  FROM tokd JOIN a2 ON a2.vec_id = tokd.doc_id
        |  WHERE length(token) > 0 GROUP BY cid, token),
        |cf AS (SELECT token, count(*)::BIGINT AS cf FROM tf GROUP BY token),
        |nc AS (SELECT count(DISTINCT cid)::BIGINT AS nc FROM a2),
        |scored AS (
        |  SELECT cid, token, tf, cf,
        |    tf * round(ln((nc + 1)::DOUBLE / (cf + 1)) * 1000000)::BIGINT AS score_micro
        |  FROM tf JOIN cf USING (token) CROSS JOIN nc)
        |SELECT cid, rank, token, tf, cf, score_micro FROM (
        |  SELECT *, row_number() OVER (PARTITION BY cid
        |    ORDER BY score_micro DESC, token) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY cid, rank""".stripMargin),
    "bpe_encode" -> graft.analytics.Bpe.encodeOracleSql(merges = 4),
    "sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x'||substr(sha256(doc_id::VARCHAR),1,15))::BIGINT % 1000 <
        |  CASE WHEN lang = 'en' THEN 500 ELSE 100 END
        |ORDER BY doc_id""".stripMargin,
    "split_assign" ->
      """WITH s AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN ('0x'||substr(sha256(doc_id::VARCHAR),1,15))::BIGINT % 1000 < 800 THEN 'train'
        |         WHEN ('0x'||substr(sha256(doc_id::VARCHAR),1,15))::BIGINT % 1000 < 900 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
        |  min(doc_id) AS min_id
        |FROM s GROUP BY split ORDER BY split""".stripMargin,
    "sample_per_group" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |    ORDER BY ('0x'||substr(sha256(doc_id::VARCHAR),1,15))::BIGINT, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 5 ORDER BY lang, doc_id""".stripMargin,
    "sample_weighted" ->
      raw"""WITH tok AS (
        |  SELECT doc_id, text, string_split_regex(text, '\s+') AS toks FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    ${qualitySql()} AS quality
        |  FROM tok)
        |SELECT doc_id, quality FROM q
        |WHERE ('0x'||substr(sha256(doc_id::VARCHAR),1,15))::BIGINT % 1000 < quality * 1000
        |ORDER BY doc_id""".stripMargin,
    "text_top_tokens" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS token FROM documents)
        |WHERE length(token) > 0
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,
    "doc_len_histogram" ->
      """SELECT n_chars // 50 AS bucket, count(*) AS n_docs,
        |  round(avg(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END), 4) AS avg_tokens
        |FROM documents GROUP BY bucket ORDER BY bucket""".stripMargin,
    "text_tokens" -> (tokCte +
      """SELECT doc_id, len(toks)::BIGINT AS n_tokens,
        |  round(CAST(list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks) AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS avg_token_len
        |FROM tok ORDER BY doc_id""".stripMargin),
    "text_langid" -> (tokCte +
      """SELECT doc_id, lang,
        |  CASE WHEN en = 0 AND es = 0 AND de = 0 THEN 'unknown'
        |       WHEN en >= es AND en >= de THEN 'en'
        |       WHEN es >= de THEN 'es' ELSE 'de' END AS lang_pred
        |FROM (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, t -> t IN ('the','a','of','to','and'))) AS en,
        |    len(list_filter(toks, t -> t IN ('el','la','de','los','y'))) AS es,
        |    len(list_filter(toks, t -> t IN ('der','die','das','und','ist'))) AS de
        |  FROM tok) ORDER BY doc_id""".stripMargin),
    "text_quality" -> (tokCte +
      raw"""SELECT doc_id,
        |  round(CAST(punct AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS punct_ratio,
        |  ${qualitySql(punct = "punct")} AS quality
        |FROM (SELECT *,
        |  length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE / length(text) AS punct
        |  FROM tok) ORDER BY doc_id""".stripMargin),
    "text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT, list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT sha256(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents GROUP BY sha256(text) ORDER BY keeper_id""".stripMargin,
    "dedup_ngram" -> (tokCte +
      s"""SELECT id_a, id_b, jaccard FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, $jaccardSql AS jaccard
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin),
    "dedup_containment" -> (tokCte +
      """SELECT id_a, id_b, containment FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        |      least(len(a.sh), len(b.sh)), 4) AS containment
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |WHERE containment >= 0.9 ORDER BY id_a, id_b""".stripMargin),
    "dedup_ngram_keepers" -> (tokCte +
      s"""SELECT doc_id, n_chars FROM documents
         |WHERE doc_id NOT IN (
         |  SELECT id_b FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, $jaccardSql AS jaccard
         |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.6)
         |ORDER BY doc_id""".stripMargin),
    "dedup_closure" -> (tokCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", pairs AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, $jaccardSql AS jaccard
         |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.6),
         |reach(src, dst) AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT r.src, p.id_b FROM reach r JOIN pairs p ON r.dst = p.id_a)
         |SELECT src, count(DISTINCT dst) AS n_reach,
         |  min(dst) AS first_dup, max(dst) AS last_dup
         |FROM reach GROUP BY src ORDER BY src""".stripMargin),
    // true components via recursive CTE (fixpoint reachability — the oracle
    // for the capped-round label propagation, which must converge here)
    "dedup_cc_keepers" -> (tokCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", pairs AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, $jaccardSql AS jaccard
         |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.6),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(id, label) AS (
         |  SELECT src AS id, src AS label FROM edges
         |  UNION
         |  SELECT e.src AS id, r.label FROM edges e JOIN reach r ON e.dst = r.id),
         |minlab AS (SELECT id, min(label) AS label FROM reach GROUP BY id)
         |SELECT doc_id, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM minlab WHERE label <> id)
         |ORDER BY doc_id""".stripMargin),
    // quality-aware keepers: same recursive components as dedup_cc_keepers,
    // keeper = argmax quality (the text_quality formula), tie -> lowest id;
    // docs outside the pair graph are singleton components and always keep
    "dedup_quality_keepers" -> (tokCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", pairs AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, $jaccardSql AS jaccard
         |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.6),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(id, label) AS (
         |  SELECT src AS id, src AS label FROM edges
         |  UNION
         |  SELECT e.src AS id, r.label FROM edges e JOIN reach r ON e.dst = r.id),
         |minlab AS (SELECT id, min(label) AS label FROM reach GROUP BY id),
         |qual AS (
         |  SELECT doc_id,
         |    ${qualitySql(punct = "punct")} AS quality
         |  FROM (SELECT *,
         |    length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / length(text) AS punct
         |    FROM tok)),
         |cmp AS (
         |  SELECT d.doc_id, coalesce(m.label, d.doc_id) AS comp
         |  FROM documents d LEFT JOIN minlab m ON d.doc_id = m.id),
         |rnk AS (
         |  SELECT c.doc_id, c.comp, q.quality,
         |    row_number() OVER (PARTITION BY c.comp ORDER BY q.quality DESC, c.doc_id) AS rn,
         |    count(*) OVER (PARTITION BY c.comp) AS n_members
         |  FROM cmp c JOIN qual q USING (doc_id))
         |SELECT doc_id, comp, n_members, quality FROM rnk WHERE rn = 1
         |ORDER BY doc_id""".stripMargin),
    "dedup_minhash" -> (tokCte +
      s""", seeds AS (SELECT unnest(generate_series(0, 15)) AS j),
         |hb AS (SELECT doc_id,
         |         unnest(list_transform(sh, s -> ('0x'||substr(sha256(s),1,15))::BIGINT % 1073741789)) AS h
         |       FROM sh),
         |slot AS (SELECT doc_id, j,
         |           min((h * ((2654435761 * (j+1)) % 1073741789) + ((97531 * (j+3)) % 1073741789)) % 1073741789) AS m
         |         FROM hb, seeds GROUP BY doc_id, j),
         |bandv AS (SELECT doc_id, j // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY j) AS bucket
         |          FROM slot GROUP BY doc_id, j // 4),
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |         FROM bandv x JOIN bandv y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id)
         |SELECT id_a, id_b, jaccard FROM (
         |  SELECT id_a, id_b, $jaccardSql AS jaccard
         |  FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b)
         |WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin),
    "skew_join_agg" ->
      """WITH ev AS (
        |  SELECT CASE WHEN event_id % 10 = 0 THEN 7 ELSE user_id END AS user_id, value
        |  FROM events),
        |dim AS (SELECT DISTINCT user_id AS uid, user_id % 7 AS segment FROM ev)
        |SELECT segment, count(*)::BIGINT AS n,
        |  sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents
        |FROM ev JOIN dim ON ev.user_id = dim.uid
        |GROUP BY segment ORDER BY segment""".stripMargin,
    "dedup_simhash" -> (tokCte +
      """, td AS (SELECT doc_id, unnest(toks) AS t FROM tok),
        |hv AS (SELECT doc_id, ('0x'||substr(sha256(t),1,15))::BIGINT AS h FROM td),
        |bits AS (SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS tot
        |         FROM hv, generate_series(0, 59) g(i) GROUP BY doc_id, i)
        |SELECT doc_id, sum(CASE WHEN tot > 0 THEN 1::BIGINT << i ELSE 0::BIGINT END)::BIGINT AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "dedup_simhash_pairs" -> (tokCte +
      """, td AS (SELECT doc_id, unnest(toks) AS t FROM tok),
        |hv AS (SELECT doc_id, ('0x'||substr(sha256(t),1,15))::BIGINT AS h FROM td),
        |bits AS (SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS tot
        |         FROM hv, generate_series(0, 59) g(i) GROUP BY doc_id, i),
        |sg AS (SELECT doc_id, sum(CASE WHEN tot > 0 THEN 1::BIGINT << i ELSE 0::BIGINT END)::BIGINT AS sig
        |       FROM bits GROUP BY doc_id),
        |banded AS (SELECT doc_id, sig, b, (sig >> (b*10)) & 1023 AS bv FROM sg, generate_series(0, 5) g(b)),
        |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.sig AS sa, y.sig AS sb
        |         FROM banded x JOIN banded y ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id)
        |SELECT id_a, id_b, bit_count(xor(sa, sb))::BIGINT AS hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY id_a, id_b""".stripMargin),
    "dedup_fuzzy_verify" -> (tokCte +
      """, td AS (SELECT doc_id, unnest(toks) AS t FROM tok),
        |hv AS (SELECT doc_id, ('0x'||substr(sha256(t),1,15))::BIGINT AS h FROM td),
        |bits AS (SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS tot
        |         FROM hv, generate_series(0, 59) g(i) GROUP BY doc_id, i),
        |sg AS (SELECT doc_id, sum(CASE WHEN tot > 0 THEN 1::BIGINT << i ELSE 0::BIGINT END)::BIGINT AS sig
        |       FROM bits GROUP BY doc_id),
        |banded AS (SELECT doc_id, sig, b, (sig >> (b*10)) & 1023 AS bv FROM sg, generate_series(0, 5) g(b)),
        |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.sig AS sa, y.sig AS sb
        |         FROM banded x JOIN banded y ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id),
        |prs AS (SELECT id_a, id_b, bit_count(xor(sa, sb))::BIGINT AS hamming
        |        FROM cand WHERE bit_count(xor(sa, sb)) <= 3)
        |SELECT id_a, id_b, hamming,
        |  levenshtein(substr(a.text, 1, 48), substr(b.text, 1, 48))::BIGINT AS lev
        |FROM prs JOIN documents a ON a.doc_id = id_a
        |         JOIN documents b ON b.doc_id = id_b
        |ORDER BY id_a, id_b""".stripMargin),
    // int8 affine quantization: same fixed-parenthesization IEEE chain as
    // Quantization.int8Affine; every output is an integer, so this is a
    // bit-exact reproduction, not an approximation.
    "embed_quantize" -> (embCte +
      """, m AS (SELECT vec_id, v, list_min(v) AS vmin, list_max(v) AS vmax FROM e)
        |SELECT vec_id AS id, len(v)::BIGINT AS n_dims,
        |  CASE WHEN vmax = vmin THEN to_json([0 for x in v])::VARCHAR
        |       ELSE to_json([CAST(floor((x - vmin) / (vmax - vmin) * 255.0) AS INT) for x in v])::VARCHAR
        |  END AS qvec_json,
        |  CASE WHEN vmax = vmin THEN 0::BIGINT
        |       ELSE floor((vmax - vmin) / 255.0 * 1e9)::BIGINT END AS scale_nano,
        |  CASE WHEN vmax = vmin THEN 0::BIGINT
        |       ELSE list_reduce(list_prepend(0::BIGINT,
        |         [floor(abs(x - (vmin + floor((x - vmin) / (vmax - vmin) * 255.0) *
        |            ((vmax - vmin) / 255.0))) * 1000000.0)::BIGINT for x in v]),
        |         (a,b) -> a+b) END AS err_micro
        |FROM m ORDER BY id""".stripMargin),
    "embed_neardup" -> (embCte +
      s"""SELECT id_a, id_b, cos FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosSql("a.v", "b.v")} AS cos
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
         |WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin),
    "sim_topk" -> (embCte +
      s""", scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, ${cosSql("q.v", "c.v")} AS cos
         |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id)
         |SELECT query_id, rank, vec_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    "embed_mmr" -> mmrSql(nQueries = 3, depth = 12, k = 4, lamNum = 7, lamCompl = 3),
    "pipeline_admit" ->
      raw"""WITH tok AS (
        |  SELECT doc_id, text, source, string_split_regex(text, '\s+') AS toks
        |  FROM documents),
        |qual0 AS (
        |  SELECT doc_id, source,
        |    ${qualitySql(punct = "punct")} AS quality
        |  FROM (SELECT *,
        |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE / length(text) AS punct
        |    FROM tok)),
        |tot AS (SELECT greatest(10, (count(*) * 1) // 25)::BIGINT AS cap FROM documents),
        |r AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY round(quality * 10000)::BIGINT DESC, doc_id)::BIGINT AS src_rank
        |  FROM qual0),
        |capped AS (SELECT source, doc_id, src_rank FROM r
        |           WHERE src_rank <= (SELECT cap FROM tot)),
        |sp AS (
        |  SELECT d.doc_id,
        |    [array_to_string(toks[(i-1)*2+1:(i-1)*2+2], ' ')
        |     for i in generate_series(1, (len(toks) + 1) // 2)] AS spans
        |  FROM tok d JOIN capped USING (doc_id)),
        |k2 AS (SELECT doc_id, len(spans)::BIGINT AS n_spans,
        |  [spans[i] for i in generate_series(1, len(spans))
        |   if list_position(spans, spans[i]) = i] AS kept
        |  FROM sp),
        |tr AS (SELECT doc_id, (n_spans - len(kept))::BIGINT AS n_removed,
        |       array_to_string(kept, ' ') AS kept_text FROM k2),
        |tok2 AS (SELECT doc_id, kept_text AS text,
        |         string_split_regex(kept_text, '\s+') AS toks FROM tr),
        |qual2 AS (
        |  SELECT doc_id,
        |    ${qualitySql(punct = "punct")} AS quality
        |  FROM (SELECT *,
        |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE / length(text) AS punct
        |    FROM tok2)),
        |qm AS (SELECT doc_id, round(quality * 10000)::BIGINT AS q_micro FROM qual2),
        |cents AS (SELECT greatest(q_micro, 1) AS c FROM qm),
        |withb AS (SELECT c, length(bin(c))::BIGINT AS b FROM cents),
        |kk AS (
        |  SELECT CASE WHEN c < 32 THEN c
        |              ELSE (b - 1) * 32 + ((c >> (b - 6)) & 31) END AS bucket,
        |         CASE WHEN c < 32 THEN c
        |              ELSE ((32 + ((c >> (b - 6)) & 31)) << (b - 6)) END AS rep
        |  FROM withb),
        |hist AS (SELECT bucket, rep, count(*)::BIGINT AS cnt FROM kk GROUP BY 1, 2),
        |cum AS (
        |  SELECT rep, cnt,
        |    sum(cnt) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER () AS n
        |  FROM hist),
        |thr AS (
        |  SELECT min(CASE WHEN cum >= ceil(0.25 * n) THEN rep END)::BIGINT AS p25
        |  FROM cum)
        |SELECT qm.doc_id, capped.source, capped.src_rank, tr.n_removed,
        |       qm.q_micro, thr.p25
        |FROM qm JOIN tr USING (doc_id) JOIN capped USING (doc_id) CROSS JOIN thr
        |WHERE q_micro >= p25 ORDER BY qm.doc_id""".stripMargin,
    "corpus_datasheet" ->
      raw"""WITH tok AS (
        |  SELECT doc_id, text, lang, string_split_regex(text, '\s+') AS toks
        |  FROM documents),
        |qual AS (
        |  SELECT doc_id,
        |    ${qualitySql(punct = "punct")} AS quality
        |  FROM (SELECT *,
        |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE / length(text) AS punct
        |    FROM tok)),
        |base AS (
        |  SELECT tok.doc_id, tok.lang,
        |    CASE WHEN len(trim(tok.text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(tok.text), '\s+')) END::BIGINT AS n_tok,
        |    length(tok.text)::BIGINT AS n_chars,
        |    round(qual.quality * 10000)::BIGINT AS q_micro
        |  FROM tok JOIN qual ON tok.doc_id = qual.doc_id),
        |tot AS (SELECT count(*)::BIGINT AS n, sum(n_tok)::BIGINT AS st,
        |        sum(n_chars)::BIGINT AS sc FROM base),
        |cents AS (SELECT greatest(q_micro, 1) AS c FROM base),
        |withb AS (SELECT c, length(bin(c))::BIGINT AS b FROM cents),
        |k AS (
        |  SELECT CASE WHEN c < 32 THEN c
        |              ELSE (b - 1) * 32 + ((c >> (b - 6)) & 31) END AS bucket,
        |         CASE WHEN c < 32 THEN c
        |              ELSE ((32 + ((c >> (b - 6)) & 31)) << (b - 6)) END AS rep
        |  FROM withb),
        |hist AS (SELECT bucket, rep, count(*)::BIGINT AS cnt FROM k GROUP BY 1, 2),
        |cum AS (
        |  SELECT rep, cnt,
        |    sum(cnt) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER () AS n
        |  FROM hist),
        |thr AS (SELECT
        |    min(CASE WHEN cum >= ceil(0.25 * n) THEN rep END)::BIGINT AS p25,
        |    min(CASE WHEN cum >= ceil(0.5 * n) THEN rep END)::BIGINT AS p50,
        |    min(CASE WHEN cum >= ceil(0.75 * n) THEN rep END)::BIGINT AS p75
        |  FROM cum),
        |spl AS (SELECT CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val'
        |               ELSE 'test' END AS split
        |        FROM (SELECT ('0x'||substr(sha256(doc_id::VARCHAR),1,15))::BIGINT % 1000 AS b
        |              FROM documents))
        |SELECT section, metric, value FROM (
        |  SELECT 'size' AS section, 'n_docs' AS metric, n::DOUBLE AS value FROM tot
        |  UNION ALL SELECT 'size', 'n_tokens', st::DOUBLE FROM tot
        |  UNION ALL SELECT 'size', 'n_chars', sc::DOUBLE FROM tot
        |  UNION ALL SELECT 'size', 'avg_tokens',
        |    ((st * 20000 + n) // (2 * n))::DOUBLE / 10000.0 FROM tot
        |  UNION ALL SELECT 'lang_share', lang,
        |    ((c * 20000 + n) // (2 * n))::DOUBLE / 10000.0
        |  FROM (SELECT lang, count(*)::BIGINT AS c FROM base GROUP BY lang)
        |  CROSS JOIN tot
        |  UNION ALL SELECT 'dedup', 'exact_dup_rate',
        |    (((n - d) * 20000 + n) // (2 * n))::DOUBLE / 10000.0
        |  FROM (SELECT count(*)::BIGINT AS n,
        |        count(DISTINCT sha256(text))::BIGINT AS d FROM documents)
        |  UNION ALL SELECT 'quality_micro', 'p25', p25::DOUBLE FROM thr
        |  UNION ALL SELECT 'quality_micro', 'p50', p50::DOUBLE FROM thr
        |  UNION ALL SELECT 'quality_micro', 'p75', p75::DOUBLE FROM thr
        |  UNION ALL SELECT 'split', split, count(*)::DOUBLE FROM spl GROUP BY split)
        |ORDER BY section, metric""".stripMargin,
    "dedup_intradoc" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |sp AS (SELECT doc_id,
        |  [array_to_string(toks[(i-1)*2+1:(i-1)*2+2], ' ')
        |   for i in generate_series(1, (len(toks) + 1) // 2)] AS spans
        |  FROM tok),
        |k AS (SELECT doc_id, len(spans)::BIGINT AS n_spans,
        |  [spans[i] for i in generate_series(1, len(spans))
        |   if list_position(spans, spans[i]) = i] AS kept
        |  FROM sp)
        |SELECT doc_id, n_spans, (n_spans - len(kept))::BIGINT AS n_removed,
        |  array_to_string(kept, ' ') AS kept_text
        |FROM k ORDER BY doc_id""".stripMargin,
    "split_leakage" ->
      (s"""WITH tok AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents
         |), sh AS (
         |  SELECT doc_id, list_distinct([${(0 until 8).map(j => s"toks[i+$j]").mkString("||' '||")}
         |    for i in generate_series(1, len(toks)-7)]) AS sh
         |  FROM tok WHERE len(toks) >= 8
         |)
         |""".stripMargin +
      """, spl AS (SELECT doc_id,
        |  CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |    ('0x'||substr(sha256(doc_id::VARCHAR),1,15))::BIGINT % 1000 AS b
        |    FROM documents)),
        |gs AS (SELECT doc_id, unnest(sh) AS g FROM sh),
        |ds AS (SELECT gs.doc_id, spl.split,
        |  ('0x'||substr(sha256(g),1,15))::BIGINT AS h
        |  FROM gs JOIN spl USING (doc_id)),
        |cnt AS (SELECT h,
        |    count(*) FILTER (split = 'train') AS n_train,
        |    count(*) FILTER (split = 'val') AS n_val
        |  FROM ds GROUP BY h),
        |fl AS (SELECT ds.doc_id, ds.split,
        |    max(CASE WHEN cnt.n_train >= 1 AND ds.split <> 'train' THEN 1 ELSE 0 END) AS from_train,
        |    max(CASE WHEN cnt.n_val >= 1 AND ds.split <> 'val' THEN 1 ELSE 0 END) AS from_val
        |  FROM ds JOIN cnt USING (h) GROUP BY ds.doc_id, ds.split),
        |lk AS (SELECT split, sum(from_train) AS lt, sum(from_val) AS lv FROM fl GROUP BY split),
        |sz AS (SELECT split, count(*)::BIGINT AS n_docs FROM spl GROUP BY split),
        |ag AS (SELECT sz.split, sz.n_docs, coalesce(lk.lt, 0)::BIGINT AS lt,
        |         coalesce(lk.lv, 0)::BIGINT AS lv
        |       FROM sz LEFT JOIN lk ON sz.split = lk.split)
        |SELECT * FROM (
        |  SELECT 'train' AS from_split, 'val' AS to_split, n_docs, lt AS n_leaked,
        |         round(CAST(lt::DOUBLE / n_docs AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS leak_frac FROM ag WHERE split = 'val'
        |  UNION ALL
        |  SELECT 'train', 'test', n_docs, lt, round(CAST(lt::DOUBLE / n_docs AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE FROM ag WHERE split = 'test'
        |  UNION ALL
        |  SELECT 'val', 'test', n_docs, lv, round(CAST(lv::DOUBLE / n_docs AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE FROM ag WHERE split = 'test')
        |ORDER BY from_split, to_split""".stripMargin),
    "curate_domain_cap" ->
      raw"""WITH tok AS (
        |  SELECT doc_id, text, source, string_split_regex(text, '\s+') AS toks
        |  FROM documents),
        |qual AS (
        |  SELECT doc_id, source,
        |    ${qualitySql(punct = "punct")} AS quality
        |  FROM (SELECT *,
        |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE / length(text) AS punct
        |    FROM tok)),
        |tot AS (SELECT greatest(10, (count(*) * 1) // 25)::BIGINT AS cap FROM documents),
        |r AS (
        |  SELECT source, doc_id, quality,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY round(quality * 10000)::BIGINT DESC, doc_id)::BIGINT AS src_rank
        |  FROM qual)
        |SELECT source, doc_id, quality, src_rank, (SELECT cap FROM tot) AS src_cap
        |FROM r WHERE src_rank <= (SELECT cap FROM tot)
        |ORDER BY source, src_rank""".stripMargin,
    "embed_project" -> (embCte +
      // decimal-string rounding: sign-flipped replicas can sum to exactly
      // -0.0, which Spark's BigDecimal boundary canonicalizes to 0.0
      """, proj AS (
        |  SELECT vec_id, p,
        |    round(CAST((list_reduce(list_prepend(0.0, [v[d] *
        |      (CASE WHEN ('0x'||substr(sha256(p||'_'||(d-1)),1,2))::INT % 2 = 0 THEN 1.0 ELSE -1.0 END)
        |      for d in generate_series(1, len(v))]), (x,y) -> x+y)) AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS proj
        |  FROM e, generate_series(0, 15) t(p))
        |SELECT vec_id, p::BIGINT AS p, proj FROM proj ORDER BY vec_id, p""".stripMargin),
    "sim_lsh_bucket" -> (embCte +
      s""", proj AS (
         |  SELECT vec_id, p,
         |    list_reduce(list_prepend(0.0, [v[d] *
         |      (CASE WHEN ('0x'||substr(sha256(p||'_'||(d-1)),1,2))::INT % 2 = 0 THEN 1.0 ELSE -1.0 END)
         |      for d in generate_series(1, len(v))]), (x,y) -> x+y) AS proj
         |  FROM e, generate_series(0, 3) t(p)),
         |bkt AS (SELECT vec_id, sum(CASE WHEN proj > 0 THEN 1::BIGINT << p ELSE 0::BIGINT END)::BIGINT AS bucket
         |        FROM proj GROUP BY vec_id),
         |b AS (SELECT e.vec_id, v, bucket FROM e JOIN bkt USING (vec_id))
         |SELECT id_a, id_b, cos FROM (
         |  SELECT x.vec_id AS id_a, y.vec_id AS id_b, ${cosSql("x.v", "y.v")} AS cos
         |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
         |WHERE cos >= 0.35 ORDER BY id_a, id_b""".stripMargin),
    "sim_lsh_banded" -> (embCte +
      s""", proj AS (
         |  SELECT vec_id, p,
         |    list_reduce(list_prepend(0.0, [v[d] *
         |      (CASE WHEN ('0x'||substr(sha256(p||'_'||(d-1)),1,2))::INT % 2 = 0 THEN 1.0 ELSE -1.0 END)
         |      for d in generate_series(1, len(v))]), (x,y) -> x+y) AS proj
         |  FROM e, generate_series(0, 11) t(p)),
         |bkt AS (SELECT vec_id, p // 4 AS rep,
         |          sum(CASE WHEN proj > 0 THEN 1::BIGINT << (p % 4) ELSE 0::BIGINT END)::BIGINT AS bucket
         |        FROM proj GROUP BY vec_id, p // 4),
         |b AS (SELECT e.vec_id, v, rep, bucket FROM e JOIN bkt USING (vec_id)),
         |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |         FROM b x JOIN b y ON x.rep = y.rep AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
         |SELECT id_a, id_b, cos FROM (
         |  SELECT id_a, id_b, ${cosSql("a.v", "b.v")} AS cos
         |  FROM cand JOIN e a ON a.vec_id = id_a JOIN e b ON b.vec_id = id_b)
         |WHERE cos >= 0.35 ORDER BY id_a, id_b""".stripMargin),
    "sim_ivf_topk" -> (quantCte + coarseTrainCtes(25) +
      s""", e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cent AS (SELECT cid AS centroid_id, m, nm FROM kc2),
         |ascore AS (
         |  SELECT kqd.vec_id, cent.centroid_id, $coarseCosSql AS ccos
         |  FROM kqd, cent),
         |assigned AS (
         |  SELECT vec_id, centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn FROM ascore)
         |  WHERE rn = 1),
         |qscore AS (
         |  SELECT kqd.vec_id AS query_id, cent.centroid_id, $coarseCosSql AS ccos
         |  FROM kqd, cent WHERE kqd.vec_id < 5),
         |probes AS (
         |  SELECT query_id, centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, centroid_id) AS rn FROM qscore)
         |  WHERE rn <= $nprobeSql),
         |scored AS (
         |  SELECT p.query_id, a.vec_id, ${cosSql("qe.v", "ae.v")} AS cos
         |  FROM probes p JOIN assigned a USING (centroid_id)
         |  JOIN e qe ON qe.vec_id = p.query_id JOIN e ae ON ae.vec_id = a.vec_id
         |  WHERE a.vec_id <> p.query_id)
         |SELECT query_id, rank, vec_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    "text_tokens_re" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z]+'))::BIGINT AS n_words,
        |  len(regexp_extract_all(text, '[0-9]+'))::BIGINT AS n_nums,
        |  len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::BIGINT AS n_punct,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS n_pieces
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_frames" ->
      """WITH chars AS (
        |  SELECT doc_id, list_transform(string_split(text, ''), c -> ascii(c)::BIGINT) AS cs
        |  FROM documents
        |  WHERE length(text) > 0 AND regexp_matches(text, '^[ -~]*$')),
        |ks AS (
        |  SELECT doc_id, cs, unnest(generate_series(0, (len(cs)+63)//64 - 1)) AS k
        |  FROM chars),
        |frames AS (
        |  SELECT doc_id, k AS frame_idx,
        |    list_reduce(list_prepend(0::BIGINT, cs[(k*64+1):((k+1)*64)]), (a,b) -> (a+b) % 2147483647) AS frame_checksum
        |  FROM ks)
        |SELECT doc_id, frame_idx, frame_checksum FROM frames
        |WHERE frame_idx % 2 = 0 ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_resize" ->
      """SELECT doc_id,
        |  octet_length(encode(text))::BIGINT AS n_bytes_in,
        |  ((octet_length(encode(text)) + 3) // 4)::BIGINT AS n_bytes_out,
        |  list_reduce(list_prepend(0::BIGINT,
        |    [cs[i] for i in generate_series(1, len(cs)) if (i-1) % 4 = 0]),
        |    (a, b) -> (a + b) % 2147483647) AS checksum_out
        |FROM (SELECT doc_id, text,
        |        list_transform(string_split(text, ''), c -> ascii(c)::BIGINT) AS cs
        |      FROM documents)
        |WHERE length(text) > 0 AND regexp_matches(text, '^[ -~]*$')
        |ORDER BY doc_id""".stripMargin,
    "mm_decode" ->
      """SELECT doc_id, source AS format,
        |  octet_length(encode(text))::BIGINT AS n_bytes,
        |  ascii(substr(text, 1, 1))::INT AS first_byte,
        |  list_reduce(list_prepend(0::BIGINT, list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)),
        |    (a, b) -> (a + b) % 2147483647) AS checksum
        |FROM documents
        |WHERE length(text) > 0 AND regexp_matches(text, '^[ -~]*$')
        |ORDER BY doc_id""".stripMargin,
    // Real-codec oracles: the Spark side ENCODES a closed-form raster/clip
    // into genuine BMP/PPM/WAV bytes and DECODES them with byte-level
    // parsers (MediaCodecs); the oracle recomputes dimensions, duration,
    // and the position-weighted digest straight from the closed form — an
    // order-sensitive check that breaks on any BGR/row-order/padding/
    // chunk-walk/sign-extension decoder bug.
    "mm_decode_image" ->
      """WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h FROM documents),
        |px AS (SELECT doc_id, w, h, unnest(generate_series(0, w*h*3 - 1)) AS i FROM d)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS format,
        |  w AS width, h AS height,
        |  sum(((doc_id*31 + (i//(w*3))*7 + ((i%(w*3))//3)*3 + (i%3)*11) % 256) * (i+1))::BIGINT AS pixel_digest
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,
    "mm_resize_image" ->
      """WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h FROM documents),
        |d2 AS (SELECT doc_id, w, h, (w+1)//2 AS ow, (h+1)//2 AS oh FROM d),
        |px AS (SELECT doc_id, w, h, ow, oh, unnest(generate_series(0, ow*oh*3 - 1)) AS j FROM d2)
        |SELECT doc_id, w AS width_in, h AS height_in, ow AS width_out, oh AS height_out,
        |  sum(((doc_id*31 + ((j//(ow*3))*h//oh)*7 + (((j%(ow*3))//3)*w//ow)*3 + (j%3)*11) % 256) * (j+1))::BIGINT AS pixel_digest
        |FROM px GROUP BY doc_id, w, h, ow, oh ORDER BY doc_id""".stripMargin,
    "mm_decode_wav" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 2 AS ch, 50 + doc_id % 97 AS nf FROM documents),
        |s AS (SELECT doc_id, ch, nf, unnest(generate_series(0, nf*ch - 1)) AS i FROM d)
        |SELECT doc_id, 8000::BIGINT AS sample_rate, ch AS channels, nf AS n_frames,
        |  (nf*125)::BIGINT AS duration_us,
        |  sum(((doc_id*131 + i*17) % 65536) * (i+1))::BIGINT AS sample_digest
        |FROM s GROUP BY doc_id, ch, nf ORDER BY doc_id""".stripMargin,
    // mojibake round-trip: enrich (same residue classes as the Spark
    // query), corrupt via the encode chain, repair via the fix chain —
    // both chains generated from TextAnalysis.MojibakeTable
    "text_fix_encoding" -> {
      val tbl = graft.analytics.TextAnalysis.MojibakeTable
      val enc = replaceChainSql("orig", tbl.map { case (b, g) => (g, b) })
      val fix = replaceChainSql("bad", tbl)
      s"""WITH enr AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN replace(text, 'e', 'é')
         |         WHEN doc_id % 3 = 1 THEN replace(text, 'o', 'ö')
         |         ELSE '“' || replace(text, 'a', 'ä') || '’s tail—end…' END AS orig
         |  FROM documents),
         |bad AS (SELECT doc_id, orig, $enc AS bad FROM enr),
         |fx AS (SELECT doc_id, orig, bad, $fix AS fixed FROM bad)
         |SELECT doc_id, length(orig)::BIGINT AS n_chars_orig,
         |  length(bad)::BIGINT AS n_chars_bad,
         |  length(fixed)::BIGINT AS n_chars_fixed,
         |  fixed = orig AS roundtrip_ok, sha256(fixed) AS fixed_hash
         |FROM fx ORDER BY doc_id""".stripMargin
    },
    // HTML main-content extraction: identical page skeleton, segment
    // split + collapse, token-density keep >= 7, entity decode chain in
    // the Spark operator's fixed order (&amp; last)
    "text_html_extract" -> {
      val ents = Seq("&quot;" -> "\"", "&#39;" -> "'", "&lt;" -> "<",
        "&gt;" -> ">", "&copy;" -> "©", "&nbsp;" -> " ", "&amp;" -> "&")
      val dec = replaceChainSql("array_to_string(kept, ' ')", ents)
      s"""WITH h AS (
         |  SELECT doc_id,
         |    '<html><head><title>doc</title><style>p{color:red}</style></head><body><div class="nav">home | about | contact</div><p>'
         |    || text ||
         |    '</p><p>quote &quot;metric &amp; value&quot; end of section paragraph</p><div class="footer">&copy; 2026 '
         |    || source || '</div></body></html>' AS html,
         |    regexp_replace(trim(text), '\\s+', ' ', 'g')
         |      || ' quote "metric & value" end of section paragraph' AS want
         |  FROM documents),
         |sg AS (
         |  SELECT doc_id, html, want,
         |    list_filter(
         |      list_transform(string_split_regex(html, '<[^>]*>'),
         |        s -> regexp_replace(trim(s), '\\s+', ' ', 'g')),
         |      s -> length(s) > 0) AS segs
         |  FROM h),
         |kp AS (
         |  SELECT doc_id, html, want, segs,
         |    list_filter(segs, s -> len(string_split(s, ' ')) >= 7) AS kept
         |  FROM sg),
         |ex AS (SELECT doc_id, html, want, segs, $dec AS extracted FROM kp)
         |SELECT doc_id, len(segs)::BIGINT AS n_segments,
         |  length(html)::BIGINT AS n_chars_html,
         |  length(extracted)::BIGINT AS n_chars_text,
         |  round(CAST((length(extracted)::DOUBLE / length(html)) AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS density,
         |  extracted = want AS extract_ok
         |FROM ex ORDER BY doc_id""".stripMargin
    },
    // incremental chunk-level admission: same chunking CTEs; history =
    // distinct chunk hashes of ids <= max/2, delta docs report integer
    // per-mille duplicate mass and the <= 500 verdict
    "dedup_cdc_admit" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |win AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    list_transform(range(1, greatest(len(toks) - 3, 0) + 1),
        |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3])) AS ws
        |  FROM tk),
        |bnd AS (
        |  SELECT doc_id, toks, n,
        |    list_transform(
        |      list_filter(range(1, len(ws) + 1),
        |        i -> ('0x'||substr(sha256(ws[i]),1,15))::BIGINT % 16 = 0),
        |      i -> i + 3) AS bend
        |  FROM win),
        |sp AS (
        |  SELECT doc_id, toks,
        |    list_prepend(1, list_transform(bend, p -> p + 1)) AS starts,
        |    list_append(bend, n) AS ends
        |  FROM bnd),
        |cks AS (
        |  SELECT doc_id,
        |    list_filter(
        |      list_transform(list_zip(starts, ends),
        |        s -> CASE WHEN s[2] >= s[1]
        |                  THEN array_to_string(toks[s[1]:s[2]], ' ') END),
        |      c -> c IS NOT NULL) AS chunks
        |  FROM sp),
        |occ AS (
        |  SELECT doc_id, ('0x'||substr(sha256(unnest(chunks)),1,15))::BIGINT AS h
        |  FROM cks),
        |spl AS (SELECT max(doc_id) // 2 AS s FROM documents),
        |hh AS (SELECT DISTINCT h FROM occ CROSS JOIN spl WHERE doc_id <= s),
        |dl AS (
        |  SELECT doc_id, h, h IN (SELECT h FROM hh) AS hit
        |  FROM occ CROSS JOIN spl WHERE doc_id > s),
        |agg AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_chunks,
        |    sum(CASE WHEN hit THEN 1 ELSE 0 END)::BIGINT AS n_dup
        |  FROM dl GROUP BY doc_id)
        |SELECT doc_id, n_chunks, n_dup,
        |  (1000 * n_dup) // n_chunks AS dup_permille,
        |  (1000 * n_dup) // n_chunks <= 500 AS admit
        |FROM agg ORDER BY doc_id""".stripMargin,
    // FIM transform: sha-derived cut points (hash60 idiom), PSM ordering,
    // 50% rate; pure per-row slicing
    // C4 line rule: page synthesis must mirror the Spark query byte-for-
    // byte; df groups on the SAME 60-bit sha-prefix hash the operator
    // shuffles, never the line text, so a (vanishingly unlikely) collision
    // would at least be the same collision in both engines
    "text_boilerplate_lines" ->
      """WITH paged AS (
        |  SELECT doc_id, text AS orig,
        |    'home | products | about | contact — ' || source || chr(10) ||
        |    text || chr(10) ||
        |    'subscribe to our newsletter for updates' || chr(10) ||
        |    'copyright 2026 ' || source || ' all rights reserved' AS page
        |  FROM documents),
        |ls AS (SELECT doc_id, orig, string_split(page, chr(10)) AS lns FROM paged),
        |li AS (SELECT doc_id, orig, unnest(generate_series(1, len(lns))) AS i, lns FROM ls),
        |lx AS (SELECT doc_id, orig, i AS line_idx, lns[i] AS line,
        |         ('0x'||substr(sha256(lns[i]),1,15))::BIGINT AS h
        |       FROM li),
        |df AS (SELECT h, count(DISTINCT doc_id) AS line_df FROM lx GROUP BY h),
        |k AS (
        |  SELECT doc_id, orig,
        |    count(*)::BIGINT AS n_lines,
        |    sum(CASE WHEN line_df < 3 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |    coalesce(string_agg(CASE WHEN line_df < 3 THEN line END, chr(10)
        |      ORDER BY line_idx), '') AS kept_text
        |  FROM lx JOIN df USING (h) GROUP BY doc_id, orig)
        |SELECT doc_id, n_lines, n_kept,
        |  kept_text = orig AS recovered,
        |  sha256(kept_text) AS kept_hash
        |FROM k ORDER BY doc_id""".stripMargin,
    // Mann-Whitney AUC from per-logit class counts — all-integer (×2
    // numerator for midrank ties); label + logit CTEs are the clf_train /
    // text_clf_score forms verbatim
    "clf_auc" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
        |f AS (
        |  SELECT doc_id, ('0x'||substr(sha256(tok),1,15))::BIGINT % 16 AS bucket,
        |         count(*) AS cnt
        |  FROM t WHERE length(tok) > 0 GROUP BY doc_id, bucket),
        |w AS (
        |  SELECT i AS bucket,
        |    ('0x'||substr(sha256('w'||i::VARCHAR),1,15))::BIGINT % 2001 - 1000 AS w
        |  FROM generate_series(0, 15) g(i)),
        |s AS (SELECT doc_id, sum(cnt * w)::BIGINT AS logit
        |      FROM f JOIN w USING (bucket) GROUP BY doc_id),
        |l AS (
        |  SELECT doc_id, CASE WHEN NOT (en = 0 AND es = 0 AND de = 0)
        |                       AND en >= es AND en >= de THEN 1 ELSE 0 END AS pos
        |  FROM (SELECT doc_id,
        |      len(list_filter(toks, x -> x IN ('the','a','of','to','and'))) AS en,
        |      len(list_filter(toks, x -> x IN ('el','la','de','los','y'))) AS es,
        |      len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS de
        |    FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents))),
        |c AS (
        |  SELECT logit, sum(pos)::BIGINT AS n_pos, sum(1 - pos)::BIGINT AS n_neg
        |  FROM s JOIN l USING (doc_id) GROUP BY logit),
        |cc AS (
        |  SELECT n_pos, n_neg,
        |    coalesce(sum(n_neg) OVER (ORDER BY logit
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS nb
        |  FROM c)
        |SELECT sum(n_pos)::BIGINT AS n_pos, sum(n_neg)::BIGINT AS n_neg,
        |  count(*)::BIGINT AS n_scores,
        |  sum(n_pos * (2 * nb + n_neg))::BIGINT AS auc_num,
        |  (2 * sum(n_pos) * sum(n_neg))::BIGINT AS auc_den,
        |  CASE WHEN sum(n_pos) > 0 AND sum(n_neg) > 0 THEN
        |    ((1000000::HUGEINT * sum(n_pos * (2 * nb + n_neg)))
        |      // (2 * sum(n_pos) * sum(n_neg)))::BIGINT END AS auc_permicro
        |FROM cc""".stripMargin,
    // threshold sweep over the same per-logit counts: predict positive at
    // logit >= t, permille metrics by integer division
    "clf_pr_curve" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
        |f AS (
        |  SELECT doc_id, ('0x'||substr(sha256(tok),1,15))::BIGINT % 16 AS bucket,
        |         count(*) AS cnt
        |  FROM t WHERE length(tok) > 0 GROUP BY doc_id, bucket),
        |w AS (
        |  SELECT i AS bucket,
        |    ('0x'||substr(sha256('w'||i::VARCHAR),1,15))::BIGINT % 2001 - 1000 AS w
        |  FROM generate_series(0, 15) g(i)),
        |s AS (SELECT doc_id, sum(cnt * w)::BIGINT AS logit
        |      FROM f JOIN w USING (bucket) GROUP BY doc_id),
        |l AS (
        |  SELECT doc_id, CASE WHEN NOT (en = 0 AND es = 0 AND de = 0)
        |                       AND en >= es AND en >= de THEN 1 ELSE 0 END AS pos
        |  FROM (SELECT doc_id,
        |      len(list_filter(toks, x -> x IN ('the','a','of','to','and'))) AS en,
        |      len(list_filter(toks, x -> x IN ('el','la','de','los','y'))) AS es,
        |      len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS de
        |    FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents))),
        |c AS (
        |  SELECT logit, sum(pos)::BIGINT AS n_pos, sum(1 - pos)::BIGINT AS n_neg
        |  FROM s JOIN l USING (doc_id) GROUP BY logit),
        |tot AS (SELECT sum(n_pos)::BIGINT AS p FROM c),
        |cum AS (
        |  SELECT logit,
        |    sum(n_pos) OVER (ORDER BY logit DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS tp,
        |    sum(n_neg) OVER (ORDER BY logit DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS fp
        |  FROM c)
        |SELECT logit AS threshold, tp, fp, (p - tp)::BIGINT AS fn,
        |  ((1000 * tp) // (tp + fp))::BIGINT AS precision_permille,
        |  ((1000 * tp) // p)::BIGINT AS recall_permille,
        |  ((2000 * tp) // (2 * tp + fp + (p - tp)))::BIGINT AS f1_permille
        |FROM cum, tot ORDER BY threshold""".stripMargin,
    "pack_fim" ->
      """WITH tk AS (
        |  SELECT doc_id, text, string_split_regex(text, '\s+') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, text, toks, len(toks) AS n,
        |    ('0x'||substr(sha256('fima'||doc_id),1,15))::BIGINT % (len(toks)+1) AS h1,
        |    ('0x'||substr(sha256('fimb'||doc_id),1,15))::BIGINT % (len(toks)+1) AS h2,
        |    ('0x'||substr(sha256('fimr'||doc_id),1,15))::BIGINT % 1000 < 500 AS sel
        |  FROM tk),
        |d AS (
        |  SELECT doc_id, text, toks, n, sel,
        |    least(h1, h2) AS c1, greatest(h1, h2) AS c2
        |  FROM c)
        |SELECT doc_id, sel AS fim_applied,
        |  (CASE WHEN sel THEN c1 ELSE n END)::BIGINT AS n_prefix,
        |  (CASE WHEN sel THEN c2 - c1 ELSE 0 END)::BIGINT AS n_middle,
        |  (CASE WHEN sel THEN n - c2 ELSE 0 END)::BIGINT AS n_suffix,
        |  CASE WHEN sel THEN
        |    '<fim_pre> ' || coalesce(array_to_string(toks[1:c1], ' '), '')
        |    || ' <fim_suf> ' || coalesce(array_to_string(toks[c2+1:n], ' '), '')
        |    || ' <fim_mid> ' || coalesce(array_to_string(toks[c1+1:c2], ' '), '')
        |  ELSE text END AS out_text
        |FROM d ORDER BY doc_id""".stripMargin,
    // decile gate-tuning sweep: quality q_micro (text_quality_calibrated
    // fragment) -> DDSketch histogram -> per-decile rep + kept mass from
    // the histogram alone; quantile fractions as explicit DOUBLE literals
    // (d*0.1 would differ from Spark's 0.1..0.9 in the last ulp and flip
    // ceil() on exact multiples)
    "curate_threshold_sweep" ->
      raw"""WITH tok AS (
        |  SELECT doc_id, text, string_split_regex(text, '\s+') AS toks FROM documents),
        |qual AS (
        |  SELECT doc_id,
        |    ${qualitySql(punct = "punct")} AS quality
        |  FROM (SELECT *,
        |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE / length(text) AS punct
        |    FROM tok)),
        |qm AS (SELECT doc_id, round(quality * 10000)::BIGINT AS q_micro FROM qual),
        |cents AS (SELECT greatest(q_micro, 1) AS c FROM qm),
        |withb AS (SELECT c, length(bin(c))::BIGINT AS b FROM cents),
        |k AS (
        |  SELECT CASE WHEN c < 32 THEN c
        |              ELSE (b - 1) * 32 + ((c >> (b - 6)) & 31) END AS bucket,
        |         CASE WHEN c < 32 THEN c
        |              ELSE ((32 + ((c >> (b - 6)) & 31)) << (b - 6)) END AS rep
        |  FROM withb),
        |hist AS (SELECT bucket, rep, count(*)::BIGINT AS cnt FROM k GROUP BY 1, 2),
        |cum AS (
        |  SELECT rep, cnt,
        |    sum(cnt) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER () AS n
        |  FROM hist),
        |qd(quantile, q) AS (VALUES ('p10', 0.1::DOUBLE), ('p20', 0.2::DOUBLE),
        |  ('p30', 0.3::DOUBLE), ('p40', 0.4::DOUBLE), ('p50', 0.5::DOUBLE),
        |  ('p60', 0.6::DOUBLE), ('p70', 0.7::DOUBLE), ('p80', 0.8::DOUBLE),
        |  ('p90', 0.9::DOUBLE)),
        |thr AS (
        |  SELECT quantile,
        |    min(CASE WHEN cum >= ceil(q * n) THEN rep END)::BIGINT AS thr_rep
        |  FROM cum CROSS JOIN qd GROUP BY quantile),
        |sw AS (
        |  SELECT t.quantile, t.thr_rep,
        |    sum(CASE WHEN h.rep >= t.thr_rep THEN h.cnt ELSE 0 END)::BIGINT AS kept_docs
        |  FROM thr t CROSS JOIN hist h GROUP BY 1, 2),
        |tot AS (SELECT sum(cnt)::BIGINT AS total FROM hist)
        |SELECT quantile, thr_rep, kept_docs, total AS total_docs,
        |  round(CAST((kept_docs::DOUBLE / total) AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS kept_frac
        |FROM sw CROSS JOIN tot ORDER BY quantile""".stripMargin,
    // composed raw-web ingest: enrichment + page skeleton + encode chain
    // (fragments of text_fix_encoding / text_html_extract), entropy CTEs
    // (text_entropy), DDSketch p25 walk (text_quality_calibrated) over
    // e_micro, verdict row per doc
    "pipeline_web_ingest" -> {
      val tbl = graft.analytics.TextAnalysis.MojibakeTable
      val enc = replaceChainSql("page", tbl.map { case (b, g) => (g, b) })
      val fix = replaceChainSql("raw", tbl)
      val ents = Seq("&quot;" -> "\"", "&#39;" -> "'", "&lt;" -> "<",
        "&gt;" -> ">", "&copy;" -> "©", "&nbsp;" -> " ", "&amp;" -> "&")
      val dec = replaceChainSql("array_to_string(kept, ' ')", ents)
      s"""WITH enr AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 3 = 0 THEN replace(text, 'e', 'é')
         |         WHEN doc_id % 3 = 1 THEN replace(text, 'o', 'ö')
         |         ELSE '“' || replace(text, 'a', 'ä') || '’s tail—end…' END AS orig
         |  FROM documents),
         |pg AS (
         |  SELECT doc_id,
         |    '<html><head><title>doc</title><style>p{color:red}</style></head><body><div class="nav">home | about | contact</div><p>'
         |    || orig ||
         |    '</p><p>quote &quot;metric &amp; value&quot; end of section paragraph</p><div class="footer">&copy; 2026 '
         |    || source || '</div></body></html>' AS page
         |  FROM enr),
         |rw AS (SELECT doc_id, $enc AS raw FROM pg),
         |rp AS (SELECT doc_id, raw, length(raw)::BIGINT AS n_chars_raw, $fix AS rep FROM rw),
         |sg AS (
         |  SELECT doc_id, n_chars_raw,
         |    list_filter(
         |      list_transform(string_split_regex(rep, '<[^>]*>'),
         |        s -> regexp_replace(trim(s), '\\s+', ' ', 'g')),
         |      s -> length(s) > 0) AS segs
         |  FROM rp),
         |kp AS (
         |  SELECT doc_id, n_chars_raw,
         |    list_filter(segs, s -> len(string_split(s, ' ')) >= 7) AS kept
         |  FROM sg),
         |ex AS (SELECT doc_id, n_chars_raw, $dec AS extracted FROM kp),
         |ch AS (SELECT doc_id, unnest(string_split(extracted, '')) AS ch FROM ex),
         |cnt AS (SELECT doc_id, ch, count(*)::BIGINT AS c FROM ch GROUP BY 1, 2),
         |tot AS (SELECT doc_id, sum(c)::BIGINT AS n FROM cnt GROUP BY 1),
         |term AS (
         |  SELECT doc_id, c, n, round(ln(n::DOUBLE / c) * 1e6)::BIGINT AS s_micro
         |  FROM cnt JOIN tot USING (doc_id)),
         |ent AS (
         |  SELECT doc_id, max(n) AS n_chars, count(*)::BIGINT AS n_distinct_chars,
         |    round(CAST((sum(c * s_micro)::DOUBLE / max(n) / 1e6) AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS entropy_nats
         |  FROM term GROUP BY doc_id),
         |em AS (
         |  SELECT e.doc_id, x.n_chars_raw, e.n_chars, e.n_distinct_chars,
         |    round(e.entropy_nats * 10000)::BIGINT AS e_micro
         |  FROM ent e JOIN ex x ON x.doc_id = e.doc_id),
         |cents AS (SELECT greatest(e_micro, 1) AS c FROM em),
         |withb AS (SELECT c, length(bin(c))::BIGINT AS b FROM cents),
         |k AS (
         |  SELECT CASE WHEN c < 32 THEN c
         |              ELSE (b - 1) * 32 + ((c >> (b - 6)) & 31) END AS bucket,
         |         CASE WHEN c < 32 THEN c
         |              ELSE ((32 + ((c >> (b - 6)) & 31)) << (b - 6)) END AS rep
         |  FROM withb),
         |hist AS (SELECT bucket, rep, count(*)::BIGINT AS cnt FROM k GROUP BY 1, 2),
         |cum AS (
         |  SELECT rep, cnt,
         |    sum(cnt) OVER (ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(cnt) OVER () AS n
         |  FROM hist),
         |thr AS (
         |  SELECT min(CASE WHEN cum >= ceil(0.25 * n) THEN rep END)::BIGINT AS p25
         |  FROM cum)
         |SELECT doc_id, n_chars_raw, n_chars AS n_chars_text, n_distinct_chars,
         |  e_micro, p25, e_micro >= p25 AS verdict
         |FROM em CROSS JOIN thr ORDER BY doc_id""".stripMargin
    },
    // character entropy in integer micro-nats (ln quantized per (c, n)
    // pair exactly like the Spark side; fixed two-step double division)
    "text_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
        |cnt AS (SELECT doc_id, ch, count(*)::BIGINT AS c FROM ch GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(c)::BIGINT AS n FROM cnt GROUP BY 1),
        |term AS (
        |  SELECT doc_id, c, n, round(ln(n::DOUBLE / c) * 1e6)::BIGINT AS s_micro
        |  FROM cnt JOIN tot USING (doc_id))
        |SELECT doc_id, max(n) AS n_chars, count(*)::BIGINT AS n_distinct_chars,
        |  round(CAST((sum(c * s_micro)::DOUBLE / max(n) / 1e6) AS VARCHAR)::DECIMAL(38,20), 4)::DOUBLE AS entropy_nats
        |FROM term GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // content-defined chunking: boundary after token i where the 60-bit
    // sha-prefix hash of the 4-token window ending at i is ≡ 0 (mod 16);
    // duplicated chunks corpus-wide
    "dedup_cdc" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |win AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    list_transform(range(1, greatest(len(toks) - 3, 0) + 1),
        |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3])) AS ws
        |  FROM tk),
        |bnd AS (
        |  SELECT doc_id, toks, n,
        |    list_transform(
        |      list_filter(range(1, len(ws) + 1),
        |        i -> ('0x'||substr(sha256(ws[i]),1,15))::BIGINT % 16 = 0),
        |      i -> i + 3) AS bend
        |  FROM win),
        |sp AS (
        |  SELECT doc_id, toks,
        |    list_prepend(1, list_transform(bend, p -> p + 1)) AS starts,
        |    list_append(bend, n) AS ends
        |  FROM bnd),
        |cks AS (
        |  SELECT doc_id,
        |    list_filter(
        |      list_transform(list_zip(starts, ends),
        |        s -> CASE WHEN s[2] >= s[1]
        |                  THEN array_to_string(toks[s[1]:s[2]], ' ') END),
        |      c -> c IS NOT NULL) AS chunks
        |  FROM sp),
        |ex AS (SELECT doc_id, unnest(chunks) AS chunk FROM cks)
        |SELECT ('0x'||substr(sha256(chunk),1,15))::BIGINT AS chunk_hash,
        |  max(len(string_split(chunk, ' ')))::BIGINT AS n_tokens,
        |  count(*)::BIGINT AS n_occ,
        |  count(DISTINCT doc_id)::BIGINT AS n_docs,
        |  min(doc_id) AS keeper_id
        |FROM ex GROUP BY 1 HAVING count(*) > 1 ORDER BY chunk_hash""".stripMargin,
    // corpus-wide first-occurrence chunk dedup + per-doc reconstruction:
    // same chunking CTEs as dedup_cdc; winner = rn 1 over (doc_id, idx)
    // per chunk hash; string_agg skips the un-kept (NULL) branch
    "dedup_cdc_rewrite" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |win AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    list_transform(range(1, greatest(len(toks) - 3, 0) + 1),
        |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3])) AS ws
        |  FROM tk),
        |bnd AS (
        |  SELECT doc_id, toks, n,
        |    list_transform(
        |      list_filter(range(1, len(ws) + 1),
        |        i -> ('0x'||substr(sha256(ws[i]),1,15))::BIGINT % 16 = 0),
        |      i -> i + 3) AS bend
        |  FROM win),
        |sp AS (
        |  SELECT doc_id, toks,
        |    list_prepend(1, list_transform(bend, p -> p + 1)) AS starts,
        |    list_append(bend, n) AS ends
        |  FROM bnd),
        |cks AS (
        |  SELECT doc_id,
        |    list_filter(
        |      list_transform(list_zip(starts, ends),
        |        s -> CASE WHEN s[2] >= s[1]
        |                  THEN array_to_string(toks[s[1]:s[2]], ' ') END),
        |      c -> c IS NOT NULL) AS chunks
        |  FROM sp),
        |occ AS (
        |  SELECT doc_id, unnest(chunks) AS chunk,
        |    unnest(range(1, len(chunks) + 1)) AS idx
        |  FROM cks),
        |rk AS (
        |  SELECT doc_id, chunk, idx,
        |    row_number() OVER (
        |      PARTITION BY ('0x'||substr(sha256(chunk),1,15))::BIGINT
        |      ORDER BY doc_id, idx) AS rn
        |  FROM occ),
        |reb AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_chunks,
        |    sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |    string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY idx) AS kept_text
        |  FROM rk GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_chunks, 0) AS n_chunks,
        |  coalesce(n_kept, 0) AS n_kept,
        |  coalesce(kept_text, '') AS kept_text
        |FROM documents d LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin,
    // GROUND-TRUTH canonical URL from the synthesis variables directly —
    // this oracle checks the regex canonicalization chain against intent,
    // not against a mirrored copy of itself
    "curate_url_dedup" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    'https://example.com/articles/item' || (doc_id // 3)
        |      || '?id=' || ((doc_id // 3) % 7) AS canonical_url
        |  FROM documents),
        |g AS (SELECT canonical_url, min(doc_id)::BIGINT AS keeper_id,
        |        count(*)::BIGINT AS n_copies
        |      FROM c GROUP BY canonical_url)
        |SELECT doc_id, canonical_url, keeper_id,
        |  doc_id = keeper_id AS is_keeper, n_copies
        |FROM c JOIN g USING (canonical_url) ORDER BY doc_id""".stripMargin,
    // snapshot diff: the release filters/mutations mirror the query's
    // synthesis; status from hash comparison over the full outer join
    "corpus_diff" ->
      """WITH old AS (
        |  SELECT doc_id, CASE WHEN doc_id % 11 = 3
        |    THEN text || ' [old revision]' ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 != 5),
        |nw AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 != 9),
        |j AS (
        |  SELECT coalesce(old.doc_id, nw.doc_id) AS doc_id,
        |    sha256(old.text) AS old_hash, sha256(nw.text) AS new_hash,
        |    old.doc_id IS NOT NULL AS old_present,
        |    nw.doc_id IS NOT NULL AS new_present
        |  FROM old FULL OUTER JOIN nw ON old.doc_id = nw.doc_id)
        |SELECT doc_id, old_hash, new_hash,
        |  CASE WHEN NOT old_present THEN 'added'
        |       WHEN NOT new_present THEN 'removed'
        |       WHEN old_hash IS NOT DISTINCT FROM new_hash THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM j ORDER BY doc_id""".stripMargin,
    // reliability bins over the SAME per-logit counts as clf_auc; min-max
    // scaling and binning are non-negative integer divisions so Spark div
    // and DuckDB // agree
    "clf_calibration" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
        |f AS (
        |  SELECT doc_id, ('0x'||substr(sha256(tok),1,15))::BIGINT % 16 AS bucket,
        |         count(*) AS cnt
        |  FROM t WHERE length(tok) > 0 GROUP BY doc_id, bucket),
        |w AS (
        |  SELECT i AS bucket,
        |    ('0x'||substr(sha256('w'||i::VARCHAR),1,15))::BIGINT % 2001 - 1000 AS w
        |  FROM generate_series(0, 15) g(i)),
        |s AS (SELECT doc_id, sum(cnt * w)::BIGINT AS logit
        |      FROM f JOIN w USING (bucket) GROUP BY doc_id),
        |l AS (
        |  SELECT doc_id, CASE WHEN NOT (en = 0 AND es = 0 AND de = 0)
        |                       AND en >= es AND en >= de THEN 1 ELSE 0 END AS pos
        |  FROM (SELECT doc_id,
        |      len(list_filter(toks, x -> x IN ('the','a','of','to','and'))) AS en,
        |      len(list_filter(toks, x -> x IN ('el','la','de','los','y'))) AS es,
        |      len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS de
        |    FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents))),
        |c AS (
        |  SELECT logit, sum(pos)::BIGINT AS n_pos, sum(1 - pos)::BIGINT AS n_neg
        |  FROM s JOIN l USING (doc_id) GROUP BY logit),
        |ext AS (SELECT min(logit) AS lo, max(logit) AS hi FROM c),
        |b AS (
        |  SELECT (10 * (logit - lo)) // (hi - lo + 1) AS bin,
        |    (1000 * (logit - lo)) // (hi - lo + 1) AS conf, n_pos, n_neg
        |  FROM c CROSS JOIN ext),
        |g AS (
        |  SELECT bin, sum(n_pos + n_neg)::BIGINT AS n_docs,
        |    sum(n_pos)::BIGINT AS n_pos,
        |    sum((n_pos + n_neg) * conf)::BIGINT AS confsum
        |  FROM b GROUP BY bin)
        |SELECT bin, n_docs, n_pos,
        |  (1000 * n_pos) // n_docs AS obs_permille,
        |  confsum // n_docs AS conf_permille,
        |  abs((1000 * n_pos) // n_docs - confsum // n_docs) AS gap_permille
        |FROM g ORDER BY bin""".stripMargin,
    // ROUGE-2 with clipped counts on the same 60-bit gram hashes the Spark
    // side joins on (a collision merges identically in both engines)
    "eval_rouge2" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |bg AS (
        |  SELECT doc_id, [toks[i]||' '||toks[i+1]
        |    for i in generate_series(1, len(toks)-1)] AS bgs
        |  FROM tok WHERE len(toks) >= 2),
        |ex AS (SELECT doc_id, unnest(bgs) AS g FROM bg),
        |cg AS (SELECT doc_id AS pair_id,
        |        ('0x'||substr(sha256(g),1,15))::BIGINT AS gh,
        |        count(*)::BIGINT AS cc
        |      FROM ex GROUP BY 1, 2),
        |rg AS (SELECT doc_id - 1 AS pair_id,
        |        ('0x'||substr(sha256(g),1,15))::BIGINT AS gh,
        |        count(*)::BIGINT AS rc
        |      FROM ex GROUP BY 1, 2),
        |fj AS (
        |  SELECT coalesce(cg.pair_id, rg.pair_id) AS pair_id,
        |    coalesce(cc, 0) AS cc, coalesce(rc, 0) AS rc
        |  FROM cg FULL OUTER JOIN rg ON cg.pair_id = rg.pair_id AND cg.gh = rg.gh),
        |agg AS (
        |  SELECT pair_id, sum(cc)::BIGINT AS cand_grams,
        |    sum(rc)::BIGINT AS ref_grams,
        |    sum(least(cc, rc))::BIGINT AS overlap
        |  FROM fj
        |  -- mirror the Spark side's INNER JOIN on existing (doc, doc+1)
        |  -- pairs, not a 0-based-contiguous-id range assumption (r10
        |  -- ADVICE): a pair is valid iff BOTH members exist
        |  WHERE pair_id IN (SELECT doc_id FROM documents)
        |    AND pair_id + 1 IN (SELECT doc_id FROM documents)
        |  GROUP BY pair_id)
        |SELECT pair_id, cand_grams, ref_grams, overlap,
        |  CASE WHEN cand_grams > 0 THEN (1000 * overlap) // cand_grams END AS p_permille,
        |  CASE WHEN ref_grams > 0 THEN (1000 * overlap) // ref_grams END AS r_permille,
        |  CASE WHEN cand_grams + ref_grams > 0
        |    THEN (2000 * overlap) // (cand_grams + ref_grams) END AS f_permille
        |FROM agg ORDER BY pair_id""".stripMargin,
    // length-band ladder, per-(band,shard) row_number batching, integer
    // waste permille; shard is the hash60(id) routing expression
    "pack_length_buckets" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    least(len(string_split_regex(text, '\s+')), 1024) AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN toks <= 16 THEN 16 WHEN toks <= 32 THEN 32
        |         WHEN toks <= 64 THEN 64 WHEN toks <= 128 THEN 128
        |         WHEN toks <= 256 THEN 256 WHEN toks <= 512 THEN 512
        |         ELSE 1024 END AS band,
        |    ('0x'||substr(sha256(doc_id::VARCHAR),1,15))::BIGINT % 8 AS shard
        |  FROM t),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY band, shard ORDER BY doc_id) AS rn FROM b),
        |g AS (
        |  SELECT band, shard, (rn - 1) // 8 AS batch_idx,
        |    count(*)::BIGINT AS n_docs, sum(toks)::BIGINT AS tokens
        |  FROM r GROUP BY 1, 2, 3)
        |SELECT band, shard, batch_idx, n_docs, tokens,
        |  n_docs * band AS padded,
        |  (1000 * (n_docs * band - tokens)) // (n_docs * band) AS waste_permille
        |FROM g ORDER BY band, shard, batch_idx""".stripMargin,
    "privacy_k_anon" ->
      """WITH q AS (
        |  SELECT doc_id, source, lang, n_chars // 64 AS len_band FROM documents),
        |g AS (
        |  SELECT source, lang, len_band, count(*)::BIGINT AS group_n
        |  FROM q GROUP BY 1, 2, 3)
        |SELECT doc_id, q.source, q.lang, q.len_band, group_n,
        |  group_n >= 5 AS released
        |FROM q JOIN g ON q.source IS NOT DISTINCT FROM g.source
        |  AND q.lang IS NOT DISTINCT FROM g.lang
        |  AND q.len_band IS NOT DISTINCT FROM g.len_band
        |ORDER BY doc_id""".stripMargin,
    // blocklist = {slow,fast,merge,hash} ordinary + {spark} severe; block
    // on any severe hit or >= 3 distinct ordinary+severe terms
    "curate_blocklist" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    count(DISTINCT CASE WHEN term IN ('slow','fast','merge','hash','spark')
        |      THEN term END)::BIGINT AS n_terms,
        |    sum(CASE WHEN term IN ('slow','fast','merge','hash','spark')
        |      THEN 1 ELSE 0 END)::BIGINT AS n_hits,
        |    sum(CASE WHEN term = 'spark' THEN 1 ELSE 0 END)::BIGINT AS n_severe
        |  FROM t GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_terms, 0) AS n_terms,
        |  coalesce(n_hits, 0) AS n_hits, coalesce(n_severe, 0) AS n_severe,
        |  coalesce(n_severe, 0) > 0 OR coalesce(n_terms, 0) >= 3 AS blocked
        |FROM documents d LEFT JOIN h USING (doc_id) ORDER BY doc_id""".stripMargin,
    // chat template: ordered segment concat per user, cumulative char
    // offsets, assistant-only loss spans; (ts, event_id) is a total order
    "pack_chat_template" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN event_type IN ('view','click') THEN 'user'
        |         ELSE 'assistant' END AS role
        |  FROM events),
        |s AS (SELECT *,
        |    '<|' || role || '|>' || event_type || '#' || event_id AS seg
        |  FROM e),
        |w AS (SELECT *,
        |    sum(length(seg)) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS e_end
        |  FROM s),
        |w2 AS (SELECT *, e_end - length(seg) AS e_start FROM w)
        |SELECT user_id, count(*)::BIGINT AS n_turns,
        |  sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)::BIGINT AS n_assistant,
        |  max(e_end)::BIGINT AS template_chars,
        |  sum(CASE WHEN role = 'assistant' THEN length(seg) ELSE 0 END)::BIGINT AS loss_chars,
        |  sha256(string_agg(seg, '' ORDER BY e_start)) AS template_hash,
        |  coalesce(string_agg(CASE WHEN role = 'assistant'
        |    THEN e_start || '-' || e_end END, ',' ORDER BY e_start), '') AS loss_spans
        |FROM w2 GROUP BY user_id ORDER BY user_id""".stripMargin,
  )

  /** sim_pqindex_topk — IVF-PQ served from the PERSISTED index
    * ([[graft.analytics.PqIndex]]) — returns bit-identical rows to the
    * one-shot sim_ivfpq_topk by construction, so it shares that oracle. */
  val all: Map[String, String] = base +
    // querying a freshly built PQ index returns bit-identical rows to the
    // one-shot operator, so the index query shares its oracle verbatim
    ("sim_pqindex_topk" -> base("sim_ivfpq_topk")) +
    // two-stage serving: the ivfpq oracle's ADC ranking truncated at the
    // rescore depth per query, then re-scored by EXACT cosine over the raw vectors —
    // derived from the base oracle so the candidate leg stays bit-identical
    ("sim_pqindex_rescored" -> derive(base("sim_ivfpq_topk"),
      """SELECT query_id, rank, vec_id, round(adc)::BIGINT AS adc FROM (
        |  SELECT query_id, vec_id, adc,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rank
        |  FROM tt)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
      s""", cand20 AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn FROM tt)
         |  WHERE rn <= $depthSql),
         |re AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |resc AS (
         |  SELECT c.query_id, c.vec_id, ${cosSql("qe.v", "ce.v")} AS cos
         |  FROM cand20 c JOIN re qe ON qe.vec_id = c.query_id
         |  JOIN re ce ON ce.vec_id = c.vec_id)
         |SELECT query_id, rank, vec_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM resc)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)) +
    // alternating star contraction computes the SAME cluster-exact keeper
    // set as capped label propagation (both = true connected components),
    // so it shares the recursive-CTE reachability oracle verbatim
    ("dedup_cc_star" -> base("dedup_cc_keepers")) +
    // the persisted BM25 index reproduces the one-shot ranking exactly for
    // the same terms and k, so it shares that oracle verbatim
    ("bm25_index_search" -> base("bm25_search")) +
    // right-to-be-forgotten over the persisted BM25 index: forgotten docs
    // (doc_id % 5 == 2) are anti-joined out of the postings and their
    // exact df/n/dl_sum contributions subtracted via negative parts, so
    // the ranking IS the one-shot BM25 over the filtered corpus — derived
    // from the batch oracle by construction
    ("bm25_index_forget" -> derive(base("bm25_search"),
      "FROM documents))",
      "FROM documents WHERE doc_id % 5 <> 2))")) +
    // right-to-be-forgotten over the persisted CDC index: the reachable
    // hash set is history minus the forgotten docs' attribution rows, so
    // the oracle is the admit SQL with the same exclusion inside hh —
    // derived by construction
    ("cdc_index_forget" -> derive(base("dedup_cdc_admit"),
      "hh AS (SELECT DISTINCT h FROM occ CROSS JOIN spl WHERE doc_id <= s)",
      "hh AS (SELECT DISTINCT h FROM occ CROSS JOIN spl WHERE doc_id <= s AND doc_id % 5 <> 0)")) +
    // incremental dedup against the persisted index = the batch MinHash
    // pairs restricted to those touching the delta (higher id past the
    // history/delta split) — derived from the batch oracle by construction
    ("dedup_delta" -> derive(base("dedup_minhash"),
      "WHERE jaccard >= 0.6",
      "WHERE jaccard >= 0.6 AND id_b > (SELECT max(doc_id) // 2 FROM documents)")) +
    // right-to-be-forgotten over the persisted dedup index: the delta
    // pairs (above) MINUS any pair whose history side (id_a <= split —
    // id_a < id_b and id_b > split force the history side, if any, to be
    // id_a) was tombstoned (doc_id % 5 == 0); delta-internal pairs are
    // untouched — derived from the batch oracle by construction
    ("dedup_index_forget" -> derive(base("dedup_minhash"),
      "WHERE jaccard >= 0.6",
      "WHERE jaccard >= 0.6 AND id_b > (SELECT max(doc_id) // 2 FROM documents)" +
        " AND NOT (id_a <= (SELECT max(doc_id) // 2 FROM documents) AND id_a % 5 = 0)")) +
    // right-to-be-forgotten over the persisted ANN index: the ivfpq oracle
    // with tombstoned vectors (vec_id % 7 == 3) excluded from the candidate
    // set BEFORE ranking — ranks backfill with survivors exactly as the
    // anti-join does
    ("sim_pqindex_forget" -> derive(base("sim_ivfpq_topk"),
      "WHERE a.vec_id <> p.query_id),",
      "WHERE a.vec_id <> p.query_id AND a.vec_id % 7 <> 3),")) +
    // admission over the persisted index: derived from the batch MinHash
    // pairs by the drop rule — a delta doc (id > split) is dropped if it
    // pairs with history (either side of a mixed pair) or is the higher id
    // of a delta-internal pair; everything else in the delta is admitted
    ("dedup_admit" -> derive(derive(base("dedup_minhash"),
      "\nSELECT id_a, id_b, jaccard FROM (",
        ",\npr AS (SELECT id_a, id_b FROM ("),
      "\nWHERE jaccard >= 0.6 ORDER BY id_a, id_b",
        """
          |WHERE jaccard >= 0.6),
          |spl AS (SELECT max(doc_id) // 2 AS s FROM documents),
          |drops AS (
          |  SELECT CASE WHEN id_a > s AND id_b <= s THEN id_a
          |              WHEN id_b > s AND id_a <= s THEN id_b
          |              ELSE id_b END AS id
          |  FROM pr CROSS JOIN spl
          |  WHERE id_a > s OR id_b > s)
          |SELECT doc_id, n_chars FROM documents CROSS JOIN spl
          |WHERE doc_id > s AND doc_id NOT IN (SELECT id FROM drops)
          |ORDER BY doc_id""".stripMargin)) +
    // more-like-this over the persisted BM25 index (r14): seed doc 1's top
    // 10 terms by tf × idf_micro (exact BIGINT weights, token tie-break),
    // then BM25 over those terms with each per-(doc, term) contribution
    // rounded to micro-unit BIGINTs and integer-summed — order-free exact,
    // the same cross-engine trick as the ADC family (the term set is
    // data-dependent, so the fixed-order float chain of bm25_search's
    // pivot is unavailable). Mirrors SearchIndex.moreLikeThis exactly.
    ("bm25_mlt" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |d AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tok),
        |tf AS (
        |  SELECT doc_id, tok, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tok)
        |  WHERE length(tok) > 0 GROUP BY doc_id, tok),
        |s AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS dl_sum FROM d),
        |df AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
        |cand AS (
        |  SELECT t.tok,
        |    t.tf * round(ln((s.n+1)::DOUBLE / (df.df+1)) * 1000000)::BIGINT AS w,
        |    (df.df > floor(0.9 * s.n)::BIGINT) AS hot
        |  FROM tf t JOIN df USING (tok) CROSS JOIN s
        |  WHERE t.doc_id = 1
        |    AND t.tf * round(ln((s.n+1)::DOUBLE / (df.df+1)) * 1000000)::BIGINT > 0),
        |terms AS (
        |  SELECT tok FROM cand
        |  WHERE (NOT hot) OR NOT EXISTS (SELECT 1 FROM cand WHERE NOT hot)
        |  ORDER BY w DESC, tok
        |  LIMIT 10),
        |sc AS (
        |  SELECT t.doc_id, d.dl,
        |    round(
        |      (round(ln((s.n+1)::DOUBLE / (df.df+1)) * 1000000)::BIGINT::DOUBLE / 1000000.0)
        |      * (t.tf::DOUBLE * (1.2 + 1)) / (t.tf::DOUBLE + 1.2 * (0.25 + 0.75 * d.dl / (s.dl_sum::DOUBLE / s.n)))
        |      * 1000000)::BIGINT AS s_micro
        |  FROM tf t JOIN terms USING (tok) JOIN df USING (tok) JOIN d USING (doc_id)
        |    CROSS JOIN s
        |  WHERE t.doc_id <> 1)
        |SELECT doc_id, dl, count(*)::BIGINT AS n_terms, sum(s_micro)::BIGINT AS score_micro
        |FROM sc GROUP BY doc_id, dl
        |HAVING sum(s_micro) > 0
        |ORDER BY score_micro DESC, doc_id LIMIT 20""".stripMargin) +
    // batch more-like-this (r14): per-seed top-20 for seeds {1,2,3} — the
    // related-items precompute; same exact-integer term selection and
    // micro-rounded integer scoring as bm25_mlt, ranked per seed
    ("bm25_mlt_batch" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |d AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tok),
        |tf AS (
        |  SELECT doc_id, tok, count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tok)
        |  WHERE length(tok) > 0 GROUP BY doc_id, tok),
        |s AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS dl_sum FROM d),
        |df AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
        |tw AS (
        |  SELECT t.doc_id AS seed_id, t.tok,
        |    round(ln((s.n+1)::DOUBLE / (df.df+1)) * 1000000)::BIGINT AS idfm,
        |    t.tf * round(ln((s.n+1)::DOUBLE / (df.df+1)) * 1000000)::BIGINT AS w,
        |    (df.df > floor(0.9 * s.n)::BIGINT) AS hot
        |  FROM tf t JOIN df USING (tok) CROSS JOIN s
        |  WHERE t.doc_id IN (1, 2, 3)),
        |terms AS (
        |  SELECT seed_id, tok, idfm FROM (
        |    SELECT seed_id, tok, idfm,
        |      row_number() OVER (PARTITION BY seed_id ORDER BY w DESC, tok) AS rn
        |    FROM (
        |      SELECT seed_id, tok, idfm, w, hot,
        |        max(CASE WHEN hot THEN 0 ELSE 1 END)
        |          OVER (PARTITION BY seed_id) AS any_cold
        |      FROM tw WHERE w > 0)
        |    WHERE (NOT hot) OR any_cold = 0)
        |  WHERE rn <= 10),
        |sc AS (
        |  SELECT terms.seed_id, t.doc_id, d.dl,
        |    round(
        |      (terms.idfm::DOUBLE / 1000000.0)
        |      * (t.tf::DOUBLE * (1.2 + 1)) / (t.tf::DOUBLE + 1.2 * (0.25 + 0.75 * d.dl / (s.dl_sum::DOUBLE / s.n)))
        |      * 1000000)::BIGINT AS s_micro
        |  FROM tf t JOIN terms USING (tok) JOIN d USING (doc_id) CROSS JOIN s
        |  WHERE t.doc_id <> terms.seed_id),
        |agg AS (
        |  SELECT seed_id, doc_id, dl, count(*)::BIGINT AS n_terms,
        |    sum(s_micro)::BIGINT AS score_micro
        |  FROM sc GROUP BY seed_id, doc_id, dl
        |  HAVING sum(s_micro) > 0)
        |SELECT seed_id, doc_id, dl, n_terms, score_micro FROM (
        |  SELECT *, row_number() OVER (
        |      PARTITION BY seed_id ORDER BY score_micro DESC, doc_id) AS rn
        |  FROM agg)
        |WHERE rn <= 20
        |ORDER BY seed_id, score_micro DESC, doc_id""".stripMargin)
}
