package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding merge training [Sennrich, Haddow,
  * Birch: "Neural Machine Translation of Rare Words with Subword Units",
  * ACL 2016] — the vocabulary-induction step of every modern tokenizer,
  * run as a bounded driver loop over vocabulary-sized tables.
  *
  * Shape per round: one pair-count aggregate over the vocabulary (NOT
  * the corpus — counts are weighted by word frequency, so the heavy
  * corpus tokenize happens exactly once up front) and one map-side merge
  * application. Driver state is one (pair, count) row per round; the
  * symbol table is |vocab| rows throughout; lineage is cut every round
  * (the [[Graph]] iterative-plan lesson).
  *
  * Determinism / oracle: the symbol sequence of a word is held as a
  * SPACE-DELIMITED string — `" c₁  c₂  …  </w> "` (single outer spaces,
  * double between symbols; tokens come from whitespace splitting so no
  * symbol can contain a space) — and applying merge (a,b) is the plain
  * string replace of `" a  b "` with `" ab "`. Left-to-right
  * non-overlapping replace IS greedy BPE application, and `replace` has
  * identical semantics in every engine, so the whole multi-round chain
  * replays in DuckDB. The pattern keeps the trailing space unconsumed
  * (`" a  b "` spans only ONE of the two inter-symbol spaces), so
  * back-to-back occurrences `a b a b` merge to `ab ab` exactly as the
  * greedy fold does. Argmax ties break on (pair count DESC, left ASC,
  * right ASC) — binary UTF-8 string order in both engines.
  */
object Bpe {

  /** End-of-word marker, the classic BPE convention: merges never cross
    * word boundaries and a word-final symbol is distinct from the same
    * characters mid-word.
    */
  val EndOfWord = "</w>"

  /** Train `rounds` merges over the token vocabulary of `docs(text)`.
    * Returns (round, left_sym, right_sym, merged, pair_count), one row
    * per executed round, ordered by round. Stops early when the best
    * pair's weighted count drops below `minPairCount`.
    */
  def trainMerges(
      docs: DataFrame, rounds: Int, minPairCount: Long = 2L): DataFrame = {
    require(rounds >= 1 && rounds <= 1000, s"rounds must be in [1,1000], got $rounds")
    val spark = docs.sparkSession
    import spark.implicits._

    // corpus → frequency-weighted vocabulary: the ONLY corpus-sized pass
    val vocab = docs
      .select(explode_outer(TextAnalysis.tokens(col("text"))).as("word"))
      .filter(col("word").isNotNull) // Dedup.safeExplodeNote
      .groupBy("word").agg(count(lit(1)).as("wcnt"))

    // initial symbols: characters plus the end-of-word marker, in the
    // delimited-string form the merge replace operates on
    // char split filters empties: Spark's split(word, '') emits a
    // trailing "" (Java split limit -1 semantics) that a clean symbol
    // alphabet — and the DuckDB replay — must not contain
    var syms = CacheRegistry.cut(vocab.select(col("word"), col("wcnt"),
      concat(lit(" "),
        concat_ws("  ", concat(
          expr("filter(split(word, ''), x -> x <> '')"),
          array(lit(EndOfWord)))),
        lit(" ")).as("s")))

    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var r = 0
    var go = true
    while (go && r < rounds) {
      val pairs = syms
        .select(col("wcnt"),
          expr("split(substring(s, 2, length(s) - 2), '  ')").as("__sym"))
        .select(col("wcnt"),
          // single-symbol words (fully merged within the round budget)
          // must yield NO pairs: Spark's sequence(1, 0) is DESCENDING,
          // so the unguarded transform would index __sym[-1] — an ANSI
          // INVALID_ARRAY_INDEX mid-training (the bigramOccurrences
          // guard; DuckDB's range(1, 1) is already empty)
          when(size(col("__sym")) >= 2,
            expr("transform(sequence(1, size(__sym) - 1), i -> named_struct('w1', __sym[i-1], 'w2', __sym[i]))"))
            .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
            .as("__pa"))
        .select(col("wcnt"), explode_outer(col("__pa")).as("__p"))
        .filter(col("__p").isNotNull) // Dedup.safeExplodeNote
        .groupBy(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
        .agg(sum(col("wcnt")).as("cnt"))
      val best = pairs
        .orderBy(col("cnt").desc, col("w1").asc, col("w2").asc)
        .limit(1).collect()
      if (best.isEmpty || best(0).getLong(2) < minPairCount) { go = false }
      else {
        val (a, b, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, a, b, a + b, c))
        // lit() arguments, never string-interpolated SQL: symbols carry
        // arbitrary corpus characters
        val next = syms.select(col("word"), col("wcnt"),
          call_function("replace", col("s"),
            lit(s" $a  $b "), lit(s" $a$b ")).as("s"))
        // cut is eager, so the new round's state is materialized before
        // the previous round's checkpoint blocks are released — without
        // this, up to `rounds` vocabulary-sized cached RDDs accumulate
        // (the pageRank unpersist pattern)
        val cutNext = CacheRegistry.cut(next)
        CacheRegistry.free(syms, deleteFiles = true)
        syms = cutNext
        r += 1
      }
    }
    CacheRegistry.free(syms, deleteFiles = true)
    merges.result()
      .toDF("round", "left_sym", "right_sym", "merged", "pair_count")
      .orderBy("round")
  }

  /** Segment each vocabulary word with a trained merge table: replay the
    * merges IN ROUND ORDER over the delimited form (application order is
    * part of the BPE contract), then split back to subword arrays.
    * Output: (word, wcnt, n_subwords, subwords: space-joined string).
    */
  def segmentVocab(docs: DataFrame, mergeTable: DataFrame): DataFrame = {
    val ms = mergeTable.orderBy("round")
      .select("left_sym", "right_sym").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val vocab = docs
      .select(explode_outer(TextAnalysis.tokens(col("text"))).as("word"))
      .filter(col("word").isNotNull)
      .groupBy("word").agg(count(lit(1)).as("wcnt"))
    val init = concat(lit(" "),
      concat_ws("  ", concat(
        expr("filter(split(word, ''), x -> x <> '')"),
        array(lit(EndOfWord)))),
      lit(" "))
    val applied = ms.foldLeft(init) { case (s, (a, b)) =>
      call_function("replace", s, lit(s" $a  $b "), lit(s" $a$b "))
    }
    vocab.select(col("word"), col("wcnt"), applied.as("__s"))
      .select(col("word"), col("wcnt"),
        expr("split(substring(__s, 2, length(__s) - 2), '  ')").as("__sym"))
      .select(col("word"), col("wcnt"), size(col("__sym")).as("n_subwords"),
        concat_ws(" ", col("__sym")).as("subwords"))
  }

  /** Tokenize the corpus under a trained merge table: per-document
    * whitespace-token and BPE-subword counts — the "how many tokens is
    * my corpus under MY tokenizer" question every training-budget
    * calculation starts from. The segmentation runs once per VOCABULARY
    * word ([[segmentVocab]]); documents join it by word, so corpus cost
    * is one explode + one vocabulary join + one per-doc aggregate —
    * never a per-document re-segmentation. Zero-token docs report 0/0.
    * Output: (doc_id, n_words, n_subwords).
    */
  def tokenizeCorpus(docs: DataFrame, mergeTable: DataFrame): DataFrame = {
    val seg = segmentVocab(docs, mergeTable)
      .select(col("word"), col("n_subwords"))
    val perDoc = docs
      .select(col("doc_id"), explode_outer(TextAnalysis.tokens(col("text"))).as("word"))
      .filter(col("word").isNotNull) // Dedup.safeExplodeNote
      .join(seg, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_subwords").cast("long")).as("n_subwords"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_subwords"), lit(0L)).as("n_subwords"))
  }
}
