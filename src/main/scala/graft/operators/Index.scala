package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Positional inverted index and exact phrase search — the retrieval-side
  * complement of the scoring ops in [[TextAnalysis]] (BM25) and
  * [[Tfidf]].
  *
  * Scale design:
  *   - the index is built with ONE posexplode + one partial-agg shuffle
  *     keyed on (term, doc): tf and the sorted position list aggregate
  *     map-side first, so shuffled bytes are per-(term,doc) rows, not
  *     per-token;
  *   - posting lists are per-(term, doc) — the per-TERM list (all docs
  *     for a term) is never collected into one row, so no stop-term can
  *     overflow a single aggregation buffer; consumers that want
  *     contiguous per-term segments write the table sorted by
  *     (term, doc_id), which is an ORDER, not a collect;
  *   - phrase search touches ONLY the phrase terms' postings (filter
  *     pushed to the scan), then intersects neighbors positionally with
  *     df-ordered joins — cost scales with the RAREST term's postings,
  *     the classic conjunctive-query bound.
  */
object Index {

  /** Positional postings: (term, doc_id, tf, positions), positions being
    * the sorted 0-based token offsets of the term in the doc.
    */
  def positionalPostings(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__t"))
      .select(col("doc_id"), posexplode_outer(col("__t")).as(Seq("pos", "term")))
      .filter(col("term").isNotNull) // Dedup.safeExplodeNote
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))

  /** Per-term dictionary row: document frequency, total term frequency,
    * doc-id span. Scalar columns only (no arrays) — the replayable
    * summary of the index.
    */
  def termStats(docs: DataFrame): DataFrame =
    positionalPostings(docs)
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        sum(col("tf")).as("total_tf"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))

  /** Exact phrase occurrences: docs containing the tokens of `phrase`
    * consecutively, with the match count per doc. Implemented as a
    * positional intersection: the i-th word's positions join the first
    * word's on (doc_id, pos + i). Each join's build side is one term's
    * postings — filtered at the scan, broadcast-eligible for rare terms.
    */
  def phraseSearch(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one token")
    // persisted + eagerly filled: every phrase word joins a
    // differently-filtered branch of this table — uncached, a k-word
    // phrase would re-run the tokenize + posexplode scan k times
    val positions = CacheRegistry.persist(docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__t"))
      .select(col("doc_id"), posexplode_outer(col("__t")).as(Seq("pos", "term")))
      .filter(col("term").isInCollection(phrase))) // pushed to the scan
    positions.count()
    val first = positions.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("pos"))
    val matches = phrase.zipWithIndex.tail.foldLeft(first) {
      case (acc, (word, i)) =>
        acc.join(
          positions.filter(col("term") === word)
            .select(col("doc_id"), (col("pos") - i).as("pos")),
          Seq("doc_id", "pos"))
    }
    matches.groupBy("doc_id").agg(count(lit(1)).as("n_matches"))
  }
}
