package graft.analytics

import graft.SparkSpec

/** BPE merge-training semantics: greedy left-to-right merging, frequency
  * argmax with lexicographic tie-break, early stop when no pair repeats.
  * Corpus-level parity is the DuckDB oracle (`bpe_merges`). */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("merge order follows weighted pair frequency; merged symbol participates in later rounds") {
    // words: ab ×3, abc ×2 → round 1 merges (a,b) at count 5,
    // round 2 merges (ab,c) at count 2, then no pair repeats → stop at 2.
    val docs = Seq((1L, "ab ab ab"), (2L, "abc abc")).toDF("doc_id", "text")
    val m = Bpe.trainMerges(docs, merges = 4).collect()
    assert(m.length == 2)
    assert((m(0).getAs[String]("lsym"), m(0).getAs[String]("rsym"),
      m(0).getAs[Long]("pair_count")) == ("a", "b", 5L))
    assert((m(1).getAs[String]("lsym"), m(1).getAs[String]("rsym"),
      m(1).getAs[Long]("pair_count")) == ("ab", "c", 2L))
  }

  test("greedy left-to-right: 'aaa' + pair (a,a) yields [aa, a], not [a, aa]") {
    val docs = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val m = Bpe.trainMerges(docs, merges = 4).collect()
    // round 1: (a,a) appears twice per word = 4; after the greedy merge each
    // word is [aa, a], so round 2 merges (aa, a) — left = the MERGED symbol
    assert((m(0).getAs[String]("lsym"), m(0).getAs[String]("rsym"),
      m(0).getAs[Long]("pair_count")) == ("a", "a", 4L))
    assert((m(1).getAs[String]("lsym"), m(1).getAs[String]("rsym"),
      m(1).getAs[Long]("pair_count")) == ("aa", "a", 2L))
    assert(m.length == 2)
  }

  test("encodeStats: learned merges compress seen words to one piece; unseen splits partially") {
    val train = Seq((1L, "ab ab ab"), (2L, "abc abc")).toDF("doc_id", "text")
    val pairs = Bpe.trainMerges(train, merges = 4).collect()
      .map(r => (r.getAs[String]("lsym"), r.getAs[String]("rsym"))).toSeq
    assert(pairs == Seq(("a", "b"), ("ab", "c")))
    // "ab" -> [ab]; "abc" -> [abc]; "abd" -> [ab, d]; "xy" -> [x, y]
    val docs = Seq((1L, "ab abc"), (2L, "abd xy")).toDF("doc_id", "text")
    val e = Bpe.encodeStats(docs, pairs).collect()
    val byDoc = e.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_words"), r.getAs[Long]("n_pieces"),
        r.getAs[Double]("fertility"))).toMap
    assert(byDoc(1L) == ((2L, 2L, 1.0)))
    assert(byDoc(2L) == ((2L, 4L, 2.0)))
  }

  test("merge rounds crossing the lineage-checkpoint boundary stay deterministic (prefix property)") {
    // a word long enough to feed >16 merge rounds: greedy BPE merges are a
    // deterministic sequence, so the R=20 table's first rounds must equal
    // the R=4 table exactly — in particular across the every-16-rounds
    // localCheckpoint that truncates the rewrite lineage (VERDICT r15 #3)
    // 22-char word ×3 occurrences: every adjacent pair counts 3, so 21
    // merge rounds stay above the >=2 floor — enough to cross round 16
    val word = "abcdefghijklmnopqrstuv"
    val docs = Seq((1L, s"$word $word"), (2L, word)).toDF("doc_id", "text")
    val m20 = Bpe.trainMerges(docs, merges = 20).collect()
      .map(r => (r.getAs[Int]("merge_rank"), r.getAs[String]("lsym"),
        r.getAs[String]("rsym"), r.getAs[Long]("pair_count")))
    assert(m20.length == 20, s"expected 20 rounds, got ${m20.length}")
    val m4 = Bpe.trainMerges(docs, merges = 4).collect()
      .map(r => (r.getAs[Int]("merge_rank"), r.getAs[String]("lsym"),
        r.getAs[String]("rsym"), r.getAs[Long]("pair_count")))
    assert(m20.take(4).toSeq == m4.toSeq)
  }

  test("sentinel-bearing corpus tokens are screened out, not corrupting the symbol encoding") {
    // a token containing U+0002 could win the argmax with a pair key whose
    // split has the wrong arity (MatchError); U+0001 conflates symbol
    // delimiters (r16 review sweep). Such tokens are tokenizer garbage and
    // are excluded from training and encoding alike.
    val docs = Seq(
      (1L, "ab ab ab"),
      (2L, "xy xy xy xy"),
      (3L, "pq pq pq pq")).toDF("doc_id", "text")
    val m = Bpe.trainMerges(docs, merges = 4).collect()
    assert(m.length == 1, s"only the clean word's pair merges, got ${m.length}")
    assert((m(0).getAs[String]("lsym"), m(0).getAs[String]("rsym")) == ("a", "b"))
    // encodeStats applies the same screen: doc 2/3 have no countable words
    val e = Bpe.encodeStats(docs, Seq(("a", "b"))).collect()
    assert(e.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L))
  }

  test("equal-frequency pairs break ties lexicographically") {
    // "xy" and "ab" both occur twice; (a,b) < (x,y) so (a,b) merges first
    val docs = Seq((1L, "xy ab xy ab")).toDF("doc_id", "text")
    val m = Bpe.trainMerges(docs, merges = 1).collect()
    assert((m(0).getAs[String]("lsym"), m(0).getAs[String]("rsym")) == ("a", "b"))
  }

  test("merges=0 oracle SQL is structurally valid (no dangling comma, empty merge table)") {
    // r17 review: the old merges=0 splice emitted `w0 AS (...),` followed
    // by nothing (train side) and `SELECT * FROM ()` — invalid SQL even
    // though no in-repo caller passes 0. The degenerate arity now keeps
    // the schema with a WHERE FALSE merge table and the encode chain
    // reads enc0 directly.
    val train0 = Bpe.oracleSql(0)
    assert(!train0.contains(",\n,"), "no dangling comma in the WITH chain")
    assert(!train0.contains("FROM ()"), "no empty FROM")
    assert(train0.contains("WHERE FALSE"), "merge table is schema-shaped empty")
    val enc0 = Bpe.encodeOracleSql(0)
    assert(!enc0.contains(",\n,"), "no dangling comma after the spliced train CTEs")
    assert(enc0.contains("FROM enc0 GROUP BY doc_id"), "final select reads the base chain")
    // and the merges>=1 text is byte-identical to the pre-r17 emitter
    // shape: the chain still carries one b_i per round and the final
    // select unions them
    val train4 = Bpe.oracleSql(4)
    assert((1 to 4).forall(i => train4.contains(s"b$i AS (")))
    assert(train4.contains("SELECT * FROM (SELECT * FROM b1 UNION ALL "))
  }
}
