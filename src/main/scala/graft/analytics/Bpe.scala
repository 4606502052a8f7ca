package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** In-engine BPE (byte-pair-encoding) merge training — the tokenizer
  * vocabulary learner (Sennrich et al., ACL'16) a pretraining pipeline runs
  * over its own corpus before packing sequences.
  *
  * The distributed formulation is the classic counts-on-words trick: BPE
  * statistics depend only on the WORD-FREQUENCY table, so the corpus
  * collapses in one aggregate (the only corpus-sized operation) and every
  * merge round runs over the checkpointed vocabulary-sized frame:
  *
  *   round r: count adjacent symbol pairs weighted by word frequency →
  *            take the argmax pair (count desc, pair string asc — the
  *            determinism contract) → rewrite every word's symbol string,
  *            merging that pair greedily left-to-right.
  *
  * Words are carried as sentinel-delimited symbol strings
  * (`\u0001s1\u0001\u0001s2\u0001…`): each symbol owns its delimiters, so a
  * single non-overlapping left-to-right string replace of
  * `\u0001a\u0001\u0001b\u0001` → `\u0001ab\u0001` implements exactly the
  * greedy BPE merge ("aaa" + pair (a,a) → [aa, a]), and Spark's
  * `regexp_replace` and any SQL `replace` agree on those semantics. The
  * pair argmax is a 1-row collect per round (the
  * [[Search.perceptronTrain]] model-to-driver pattern — merge state is
  * tokenizer-sized, never data-sized).
  *
  * Shape at 100 TB: one corpus-sized aggregate builds (word, cnt); rounds
  * are map-side-combined pair aggregates over the checkpointed vocab (≤ a few
  * million rows at any corpus size — Heaps' law), each a sub-second job.
  * Training stops early if no pair occurs twice.
  *
  * Output: the learned merge table (merge_rank, lsym, rsym, pair_count) —
  * what a tokenizer ships as `merges.txt`. */
object Bpe {

  private val S = "\u0001" // symbol delimiter
  private val P = "\u0002" // pair-key separator (sorts below any corpus char)

  /** Train `merges` BPE merges on the corpus's word-frequency table. */
  def trainMerges(docs: DataFrame, merges: Int = 4,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the ONLY corpus-sized step: word frequencies. Words carrying the
    // delimiter sentinels are EXCLUDED (r16 review sweep): a corpus token
    // containing U+0001 would conflate symbol boundaries and one containing
    // U+0002 can win the argmax with a pair key that splits into the wrong
    // arity (MatchError) — control-char-bearing tokens are tokenizer
    // garbage, and [[encodeStats]]/the oracles apply the same screen.
    val wf = docs.select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0 &&
        !col("word").contains(S) && !col("word").contains(P))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      // initial symbols = characters, each wrapped in its own delimiters
      .select(concat(lit(S),
          array_join(regexp_extract_all(col("word"), lit("(?s)."), lit(0)), S + S),
          lit(S)).as("w"),
        col("cnt"))
      .localCheckpoint(true)
    var w = wf
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 0
    var exhausted = false
    // Truncate the rewrite lineage every K rounds (r16, VERDICT r15 #3):
    // each merge appends one regexp_replace to an otherwise-unpersisted
    // plan, so round r's pair aggregate would recompute all r-1 prior
    // rewrites from the checkpointed base — O(R^2) vocab passes over a real
    // tokenizer run (R ~ 30k), and the analyzer chokes on a 30k-deep
    // expression tree long before the data cost matters. A localCheckpoint
    // every K rounds caps lineage depth at K for one extra vocab
    // materialization per K merges (the frame is vocabulary-sized).
    val CheckpointEvery = 16
    var sinceCheckpoint = 0
    // the previous checkpoint's blocks (the base `wf` first) are released
    // once the next one materializes (ADVICE r16): without the release, a
    // real run (R ~ 30k) pins ~R/16 vocabulary-sized block sets for the
    // job's lifetime.
    var current = wf
    while (r < merges && !exhausted) {
      val syms = split(col("w").substr(lit(2), length(col("w")) - 2), S + S)
      val best = w.select(explode(
            zip_with(slice(syms, lit(1), size(syms) - 1),
                     slice(syms, lit(2), size(syms) - 1),
              (a, b) => concat(a, lit(P), b))).as("p"), col("cnt"))
        .groupBy("p").agg(sum(col("cnt")).as("c"))
        .filter(col("c") >= 2) // a pair seen once is already a full merge
        .orderBy(col("c").desc, col("p"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        r += 1
        val Array(l, rr) = best.head.getAs[String]("p").split(P)
        learned += ((r, l, rr, best.head.getAs[Long]("c")))
        // literal replace — see [[encodeStats]]: identical semantics to the
        // quoted-pattern regexp_replace, minus the regex engine per word
        w = w.select(call_function("replace", col("w"),
          lit(S + l + S + S + rr + S), lit(S + l + rr + S)).as("w"), col("cnt"))
        sinceCheckpoint += 1
        if (sinceCheckpoint >= CheckpointEvery && r < merges) {
          w = w.localCheckpoint(true) // eager: materialized before the old blocks go
          Checkpoints.releaseCheckpoint(current)
          current = w
          sinceCheckpoint = 0
        }
      }
    }
    Checkpoints.releaseCheckpoint(current)
    learned.toSeq.toDF("merge_rank", "lsym", "rsym", "pair_count")
  }

  /** Encode the corpus under a learned merge list and report per-doc
    * tokenizer-fertility stats — the check a vocab run ships with (mean
    * pieces per word decides whether the vocabulary is worth its size).
    *
    * `pairs` is the driver-side merge table ([[trainMerges]] output,
    * tokenizer-sized). Encoding is ONE narrow corpus pass: per word,
    * delimit characters, fold the R merges as nested non-overlapping
    * string replaces (same greedy semantics as training), count surviving
    * symbols. No shuffle except the nothing-sized doc_id aggregate —
    * per-doc stats are computed inside the row via array fold. */
  def encodeStats(docs: DataFrame, pairs: Seq[(String, String)],
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.Column
    def delimit(t: Column): Column =
      concat(lit(S), array_join(regexp_extract_all(t, lit("(?s)."), lit(0)), S + S), lit(S))
    // literal (non-regex) replace since r18: the pattern is a quoted
    // literal, and StringReplace's all-occurrences left-to-right scan is
    // exactly regexp_replace's semantics for a quoted pattern — same
    // greedy merge, no regex engine per token per round. This is also the
    // operation the DuckDB oracle has always used (`replace(w, ...)`).
    def applyMerges(w: Column): Column = pairs.foldLeft(w) { case (acc, (l, r)) =>
      call_function("replace", acc, lit(S + l + S + S + r + S), lit(S + l + r + S))
    }
    // tokenize+screen once per doc (r17): `toks` is referenced twice in
    // the stats projection (the pieces fold and n_words) — a single-select
    // form instantiates the tokenizer/filter chain twice per row; the
    // referenced-twice non-cheap alias survives CollapseProject, so the
    // two-step select runs it once.
    val toks0 = filter(TextAnalysis.tokens(col(textCol)),
      t => length(t) > 0 && !t.contains(S) && !t.contains(P))
    val toks = col("__toks")
    val pieces = transform(toks, t => {
      val w = applyMerges(delimit(t))
      size(split(w.substr(lit(2), length(w) - 2), S + S)).cast("long")
    })
    // sort the RAW (id, text) rows first (r17): a trailing global orderBy
    // makes the range-sampler pass re-execute the whole merge-fold chain
    // before the exchange executes it again; sorted up front, the sampler
    // pays scan(+pushed token screen) only and the R-merge regex fold runs
    // exactly once, after the exchange (Catalyst does not push the
    // projection through the Sort). Output rows and order are unchanged.
    docs.select(col(idCol).as("doc_id"), col(textCol))
      .orderBy(col("doc_id"))
      .select(col("doc_id"), toks0.as("__toks"))
      .select(col("doc_id"),
        size(toks).cast("long").as("n_words"),
        aggregate(pieces, lit(0L), (acc, x) => acc + x).as("n_pieces"))
      .filter(col("n_words") > 0)
      .withColumn("fertility",
        round(col("n_pieces").cast("double") / col("n_words"), 4))
  }

  /** DuckDB twin of [[encodeStats]] composed over [[oracleSql]]'s training
    * CTEs: the merge table is recomputed in SQL, then applied to the token
    * stream as the same nested replaces via scalar subqueries. */
  def encodeOracleSql(merges: Int = 4): String = {
    val trainCtes = oracleSql(merges)
      .split("\nSELECT \\* FROM \\(").head // keep the WITH chain only
    // one CTE per round, NOT a nested expression (r16 self-review: a CASE
    // guard that embeds its accumulator twice per round doubles the SQL
    // text every merge — O(2^R); the CTE chain is linear). Each round
    // guards on its b_i being non-empty (r16 review sweep): when training
    // exhausts before `merges` rounds the Spark side just applies the
    // learned prefix, but an unguarded scalar subquery over an empty b_i
    // is NULL and replace(w, NULL, NULL) NULL-poisons the encoded column.
    val encCtes = (1 to merges).map { i =>
      s"""enc$i AS (
         |  SELECT doc_id, CASE WHEN (SELECT count(*) FROM b$i) = 0 THEN w
         |    ELSE replace(w,
         |      chr(1)||(SELECT lsym FROM b$i)||chr(1)||chr(1)||(SELECT rsym FROM b$i)||chr(1),
         |      chr(1)||(SELECT lsym FROM b$i)||(SELECT rsym FROM b$i)||chr(1)) END AS w
         |  FROM enc${i - 1})""".stripMargin
    }.mkString(",\n")
    // merges = 0 → no round CTEs: the chain is just enc0 and the final
    // SELECT reads it directly (no dangling comma).
    val encChain =
      if (merges == 0) "enc0 AS (\n  SELECT doc_id, dw AS w FROM tokstream)"
      else s"enc0 AS (\n  SELECT doc_id, dw AS w FROM tokstream),\n$encCtes"
    s"""$trainCtes,
       |tokstream AS (
       |  SELECT doc_id, tok,
       |    chr(1)||array_to_string(
       |      [substring(tok, i, 1) for i in generate_series(1, length(tok))],
       |      chr(1)||chr(1))||chr(1) AS dw
       |  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
       |        FROM documents)
       |  WHERE length(tok) > 0
       |    AND NOT contains(tok, chr(1)) AND NOT contains(tok, chr(2))),
       |$encChain
       |SELECT doc_id, count(*)::BIGINT AS n_words,
       |  sum(len(string_split(substring(w, 2, length(w) - 2), chr(1)||chr(1))))::BIGINT AS n_pieces,
       |  round(sum(len(string_split(substring(w, 2, length(w) - 2), chr(1)||chr(1))))::DOUBLE
       |    / count(*), 4) AS fertility
       |FROM enc$merges GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** DuckDB-dialect oracle for [[trainMerges]]: the same rounds unrolled as
    * chained CTEs, the per-round argmax as scalar subqueries. Generated by
    * loop here, but the emitted text is plain self-contained SQL. */
  def oracleSql(merges: Int = 4): String = {
    val rounds = (1 to merges).map { i =>
      val prev = s"w${i - 1}"
      s"""s$i AS (
         |  SELECT string_split(substring(w, 2, length(w) - 2), chr(1)||chr(1)) AS syms, cnt
         |  FROM $prev),
         |p$i AS (
         |  SELECT unnest([syms[i]||chr(2)||syms[i+1]
         |    for i in generate_series(1, len(syms) - 1)]) AS p, cnt
         |  FROM s$i WHERE len(syms) >= 2),
         |b$i AS (
         |  SELECT $i AS merge_rank, string_split(p, chr(2))[1] AS lsym,
         |    string_split(p, chr(2))[2] AS rsym, c AS pair_count
         |  FROM (SELECT p, sum(cnt)::BIGINT AS c FROM p$i GROUP BY p)
         |  WHERE c >= 2 ORDER BY c DESC, p LIMIT 1),
         |w$i AS (
         |  SELECT replace(w,
         |    chr(1)||(SELECT lsym FROM b$i)||chr(1)||chr(1)||(SELECT rsym FROM b$i)||chr(1),
         |    chr(1)||(SELECT lsym FROM b$i)||(SELECT rsym FROM b$i)||chr(1)) AS w, cnt
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")
    // merges = 0 (r17 review): the old splice emitted a dangling comma
    // after w0 and `SELECT * FROM ()` — invalid SQL. The degenerate form
    // keeps the schema with an empty merge table (WHERE FALSE), phrased as
    // `SELECT * FROM (...)` so [[encodeOracleSql]]'s CTE-chain split
    // matches both arities; for merges >= 1 the emitted text is
    // byte-identical to the pre-r17 form.
    val roundsPart = if (merges == 0) "" else s",\n$rounds"
    val union =
      if (merges == 0)
        "SELECT 0 AS merge_rank, '' AS lsym, '' AS rsym, 0::BIGINT AS pair_count WHERE FALSE"
      else (1 to merges).map(i => s"SELECT * FROM b$i").mkString(" UNION ALL ")
    s"""WITH wf AS (
       |  SELECT tok AS word, count(*)::BIGINT AS cnt
       |  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS tok FROM documents)
       |  WHERE length(tok) > 0
       |    AND NOT contains(tok, chr(1)) AND NOT contains(tok, chr(2))
       |  GROUP BY tok),
       |w0 AS (
       |  SELECT chr(1)||array_to_string(
       |    [substring(word, i, 1) for i in generate_series(1, length(word))],
       |    chr(1)||chr(1))||chr(1) AS w, cnt
       |  FROM wf)$roundsPart
       |SELECT * FROM ($union) ORDER BY merge_rank""".stripMargin
  }
}
