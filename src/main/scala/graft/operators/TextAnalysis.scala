package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.rolling_hash

/** Text-analysis operators for a training-data pipeline over a `documents`
  * table (doc_id, text, lang, source, n_chars). All pure Column expressions
  * (codegen'd, shuffle-free projections) — at 100 TB these run map-side at
  * scan speed with the text column pruned straight off parquet.
  */
object TextAnalysis {

  /** Whitespace tokens; empty string → empty array (split would yield [""]). */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  /** Canonical text form for normalization-aware dedup: lowercase, ASCII
    * control chars → space, space runs collapsed, trimmed. Explicit char
    * classes (not `\s`/`\p{Cntrl}`) because Java regex and RE2 disagree on
    * those shorthands' exact membership — this form replays identically in
    * any RE2-family engine (DuckDB oracle), pure map-side.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[\\x00-\\x1f\\x7f]", " "), " +", " "))

  /** Count non-overlapping occurrences of ` word ` in ` text ` using the
    * replace trick — portable across engines (same non-overlapping
    * left-to-right semantics in Spark and ANSI SQL replace()).
    */
  def wordOccurrences(text: Column, word: String): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    val needle = s" $word "
    ((length(padded) - length(regexp_replace(padded, java.util.regex.Pattern.quote(needle), ""))) / needle.length).cast("long")
  }

  /** GPT-2-style pre-tokenizer pattern (no lookarounds, so it behaves
    * identically under Java regex and RE2): contractions, space-prefixed
    * letter runs, digit runs, punctuation runs, whitespace runs.
    */
  val BpePattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** BPE-ish token count: number of pre-tokenizer matches that are not
    * pure whitespace — the standard proxy for LLM token budgeting.
    */
  def bpeTokenCount(text: Column): Column =
    size(filter(regexp_extract_all(text, lit(BpePattern), lit(0)),
      t => !t.rlike("^\\s+$"))).cast("long")

  /** Corpus vocabulary: the `k` most frequent whitespace tokens with
    * document frequency. Explode → one hash-shuffled count per token
    * (map-side combined) → global top-k; ties break on the token string so
    * the cut is deterministic. At 100 TB the partial aggregation means the
    * shuffle carries one row per distinct token per partition, not one per
    * occurrence.
    */
  def vocabTopK(docs: DataFrame, k: Int): DataFrame =
    docs.select(explode_outer(tokens(col("text"))).as("token"),
        col("doc_id"))
      .filter(col("token").isNotNull) // Dedup.safeExplodeNote
      .groupBy("token")
      .agg(count(lit(1)).as("occurrences"),
        countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("occurrences").desc, col("token"))
      .limit(k)

  /** Sliding-window document chunking: split each doc into windows of
    * `chunkTokens` whitespace tokens advancing by `chunkTokens - overlap`
    * — the context-window packing step of an LLM training pipeline.
    * Every doc yields at least one chunk (short docs come through whole),
    * so no document silently drops out of the corpus. Pure per-row
    * expressions + one generator: map-side at scan speed, no shuffle; the
    * output inherits the input's partitioning for downstream writes.
    */
  def chunkDocuments(
      docs: DataFrame, chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      "need 0 <= overlap < chunkTokens")
    val stride = chunkTokens - overlap
    val toks = col("__toks")
    val n = size(toks)
    // windows needed to cover all n tokens: ceil(max(0, n-chunk)/stride)+1
    val nChunks = ceil(greatest(n - chunkTokens, lit(0)).cast("double") / stride)
      .cast("int") + 1
    docs
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"), toks,
        explode_outer(transform(sequence(lit(0), nChunks - 1), i =>
          i * stride)).as("__start"))
      .filter(col("__start").isNotNull) // Dedup.safeExplodeNote
      .select(col("doc_id"),
        (col("__start") / stride).cast("int").as("chunk_id"),
        size(slice(toks, col("__start") + 1, lit(chunkTokens)))
          .cast("long").as("n_chunk_tokens"),
        concat_ws(" ", slice(toks, col("__start") + 1, lit(chunkTokens)))
          .as("chunk_text"))
  }

  /** Token count per document (whitespace + BPE-ish). */
  def tokenCount(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_measured"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      bpeTokenCount(col("text")).as("n_bpe_tokens"))

  /** Per-source dataset card — the documentation table a corpus release
    * ships: volume (docs, tokens), language spread, mean quality
    * signals, and near-duplicate contamination, one bounded row per
    * source. `dupLabels` is the (doc_id, canonical_id) CC labeling
    * ([[Dedup.dedupClusters]]) passed in so the expensive pair pass is
    * computed once and shared across every consumer (the SparkEntry
    * memo convention). Mean ratios ride the fixed-point convention:
    * the per-doc 4dp ratios sum exactly as DECIMAL, one double
    * division, 4dp round — replayable in any engine. Scale shape: two
    * corpus passes (quality projection, label join) into one
    * source-keyed partial aggregate; output rows = |sources|.
    */
  def datasheet(docs: DataFrame, dupLabels: DataFrame): DataFrame =
    qualityScore(docs)
      .join(docs.select("doc_id", "source", "lang"), "doc_id")
      .join(dupLabels.select("doc_id", "canonical_id"), "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        round(sum(col("n_tokens")).cast("double") / count(lit(1)), 4)
          .as("avg_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        round(sum(col("alpha_ratio").cast("decimal(18,4)")).cast("double")
          / count(lit(1)), 4).as("mean_alpha"),
        round(sum(col("stopword_ratio").cast("decimal(18,4)")).cast("double")
          / count(lit(1)), 4).as("mean_stopword"),
        sum(when(col("doc_id") =!= col("canonical_id"), 1L).otherwise(0L))
          .as("n_dups"))
      .withColumn("dup_rate",
        round(col("n_dups").cast("double") / col("n_docs"), 6))

  /** Tokenizer-fertility telemetry per stratum: BPE-ish tokens per
    * character and per whitespace word — the multilingual tokenizer-
    * efficiency dial. A stratum whose fertility balloons pays more
    * compute per byte of text and starves in any token-budgeted mix, so
    * this is the table a tokenizer change or a new-language onboarding
    * is judged against. One bounded aggregate over the per-doc
    * [[tokenCount]] counts (exact integer sums, one double division per
    * ratio, 4dp — the fixed-point convention).
    */
  def tokenizerFertility(docs: DataFrame, groupCol: String): DataFrame =
    tokenCount(docs)
      .join(docs.select(col("doc_id"), col(groupCol).as("stratum")), "doc_id")
      .groupBy("stratum")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
        sum(col("n_chars_measured")).as("n_chars"),
        sum(col("n_tokens")).as("n_words"),
        round(when(sum(col("n_chars_measured")) > 0,
          sum(col("n_bpe_tokens")).cast("double") /
            sum(col("n_chars_measured")).cast("double")).otherwise(0.0), 4)
          .as("bpe_per_char"),
        round(when(sum(col("n_tokens")) > 0,
          sum(col("n_bpe_tokens")).cast("double") /
            sum(col("n_tokens")).cast("double")).otherwise(0.0), 4)
          .as("bpe_per_word"))

  /** Quality scoring: length stats, average token length, stopword ratio,
    * alpha ratio. Deterministic formula; values rounded for cross-engine
    * float stability.
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    val sumLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val stop: Seq[Column] = Seq("the", "a", "and", "of", "to").map(lit(_))
    val nStop = size(filter(toks, t => array_contains(array(stop: _*), t))).cast("long")
    val alpha = length(regexp_replace(lower(col("text")), "[^a-z]", "")).cast("double")
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_measured"),
      nTok.as("n_tokens"),
      round(when(nTok > 0, sumLen.cast("double") / nTok).otherwise(0.0), 4).as("avg_token_len"),
      round(when(nTok > 0, nStop.cast("double") / nTok).otherwise(0.0), 4).as("stopword_ratio"),
      round(when(length(col("text")) > 0, alpha / length(col("text"))).otherwise(0.0), 4).as("alpha_ratio"))
  }

  /** Corpus-statistical fluency score — a bigram language-model signal
    * without the language model: score each document by the mean
    * corpus-wide conditional probability of its bigrams,
    * mean over bigram occurrences (w1,w2) of B(w1,w2)/U(w1), where B and
    * U are corpus bigram/unigram counts. Low scores flag documents whose
    * word transitions are atypical for the corpus (shuffled text, OCR
    * noise, keyword stuffing) — the cheap proxy for the KenLM-perplexity
    * filter step in web-corpus pipelines (CCNet-style), usable where no
    * external LM exists.
    *
    * Deliberately NO logarithm (a real perplexity would be exp of a mean
    * log): log is the one double op engines disagree on in the last ulp,
    * and the mean-probability form ranks documents the same direction.
    * Conditional probabilities are 6dp-rounded into DECIMAL before the
    * per-doc sum, so accumulation is exact and partition-order-free; the
    * final mean is one double division, 4dp-rounded — the whole pipeline
    * hash-replays in the oracle.
    *
    * Scale shape: one bigram explode (map-side), two partial-agg count
    * shuffles (bigram table, unigram table — both vocabulary-sized, far
    * smaller than the corpus), one fact-to-dimension join per table, one
    * per-doc aggregate. Hot-vocabulary skew is bounded by the vocabulary
    * itself; no row ever carries more than one bigram.
    */
  /** (doc_id, w1, w2) per bigram OCCURRENCE (non-distinct), persisted +
    * eagerly filled: the frame always feeds ≥2 consumers (count
    * aggregate + probe join) — uncached, the tokenize + bigram explode
    * scan runs once per consumer (and AQE can race concurrent stages
    * into more re-runs; the sparseCosinePairs pathology).
    */
  private def bigramOccurrences(docs: DataFrame): DataFrame = {
    val tk = tokens(col("text"))
    val bi = CacheRegistry.persist(docs
      .select(col("doc_id"), tk.as("__t"))
      .select(col("doc_id"),
        when(size(col("__t")) >= 2,
            expr("transform(sequence(1, size(__t) - 1), i -> named_struct('w1', __t[i-1], 'w2', __t[i]))"))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")).as("__bi"))
      .select(col("doc_id"), explode_outer(col("__bi")).as("__b"))
      .filter(col("__b").isNotNull) // Dedup.safeExplodeNote
      .select(col("doc_id"), col("__b.w1").as("w1"), col("__b.w2").as("w2")))
    bi.count()
    bi
  }

  def lmScore(docs: DataFrame): DataFrame = {
    val bi = bigramOccurrences(docs)
    val biCounts = bi.groupBy("w1", "w2").agg(count(lit(1)).as("__bc"))
    // unigram counts over NON-FINAL positions (the conditioning contexts),
    // which is exactly sum of bigram counts per w1 — no second tokenize
    val uniCounts = biCounts.groupBy("w1").agg(sum(col("__bc")).as("__uc"))
    val scored = bi
      .join(biCounts, Seq("w1", "w2"))
      .join(uniCounts, Seq("w1"))
      .select(col("doc_id"),
        round(col("__bc").cast("double") / col("__uc"), 6)
          .cast("decimal(18,6)").as("__p"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("__p")).cast("double") / count(lit(1)), 4).as("lm_score"))
    // short docs (<2 tokens) have no bigrams: report 0.0 explicitly, not
    // absence — a quality gate must see every document
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_score"), lit(0.0)).as("lm_score"))
  }

  /** Vocabulary-growth (Heaps'-law) telemetry: distinct-token count as a
    * function of corpus prefix size, over a DETERMINISTIC md5-ordered
    * document sequence cut into `slices` equal hash-range slices. One
    * pass, no per-prefix rescans: a token's first-seen slice is
    * min(slice) over its docs, and cumulative vocabulary at slice d is
    * the count of tokens with first_slice ≤ d — a ≤slices-row running
    * sum. Sub-linear growth between slices is the healthy-corpus
    * signature; a near-linear tail says later shards keep introducing
    * novel vocabulary (OCR noise, a new language, id-like junk).
    * Output: (slice, n_docs, n_tokens, new_tokens, cum_vocab).
    */
  def vocabGrowth(docs: DataFrame, slices: Int = 10): DataFrame = {
    require(slices >= 2 && slices <= 10000)
    val slice = Sampling.hashBucket(col("doc_id"), slices).as("slice")
    val sliced = docs.select(col("doc_id"), slice, col("text"))
    val docCounts = sliced.groupBy("slice")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
    val firstSeen = sliced
      .select(col("slice"), explode_outer(tokens(col("text"))).as("tok"))
      .filter(col("tok").isNotNull) // Dedup.safeExplodeNote
      .groupBy("tok").agg(min(col("slice")).as("first_slice"))
      .groupBy("first_slice").agg(count(lit(1)).as("new_tokens"))
    val w = Window.orderBy("slice")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docCounts
      .join(firstSeen.withColumnRenamed("first_slice", "slice"), Seq("slice"), "left")
      .select(col("slice"), col("n_docs"), col("n_tokens"),
        coalesce(col("new_tokens"), lit(0L)).as("new_tokens"))
      .withColumn("cum_vocab", sum(col("new_tokens")).over(w))
  }

  /** Collocation mining by LIFT — corpus bigrams whose co-occurrence
    * beats independence: lift(x,y) = N·c(xy) / (c(x)·c(y)) over token
    * occurrence counts (N = total tokens). The rational stand-in for
    * PMI (PMI is just log lift — the log adds nothing to the RANKING
    * and breaks cross-engine replay). `minCount` floors c(xy): rare
    * pairs have wildly-variant lift (the classic PMI pathology).
    * Output: top `topK` by (4dp lift DESC, w1, w2) with counts.
    *
    * Scale shape: the [[lmScore]] bigram substrate — one explode, two
    * vocabulary-sized count shuffles, one single-row broadcast.
    */
  def collocations(
      docs: DataFrame, minCount: Long = 5, topK: Int = 20): DataFrame = {
    require(minCount >= 1 && topK >= 1)
    val bi = bigramOccurrences(docs)
    val bc = bi.groupBy("w1", "w2").agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= minCount)
    val toks = docs
      .select(explode_outer(tokens(col("text"))).as("tok"))
      .filter(col("tok").isNotNull) // Dedup.safeExplodeNote
    val uc = toks.groupBy("tok").agg(count(lit(1)).as("__c"))
    val total = toks.agg(count(lit(1)).as("__n"))
    // Global top-K via orderBy().limit() → TakeOrderedAndProject (per-
    // partition heaps + a K-row driver merge), NOT an unpartitioned
    // row_number window, which would sort the entire corpus-derived
    // bigram table through one reducer. The rank window after the cut
    // runs over ≤ topK rows — answer-sized by construction.
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
    bc
      .join(uc.select(col("tok").as("w1"), col("__c").as("c1")), "w1")
      .join(uc.select(col("tok").as("w2"), col("__c").as("c2")), "w2")
      .crossJoin(broadcast(total))
      .withColumn("lift",
        round((col("__n") * col("pair_count")).cast("double")
          / (col("c1") * col("c2")).cast("double"), 4))
      .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
      .withColumn("rank", row_number().over(w))
      .select("rank", "w1", "w2", "pair_count", "c1", "c2", "lift")
  }

  /** Per-document token diversity as GINI impurity: 1 − Σ p(t)² over the
    * doc's token distribution — 0 for a one-token loop, → 1 for fully
    * diverse text; the log-free twin of token entropy and the
    * continuous complement of [[repetitionStats]]' dup_token_frac.
    * Exact DECIMAL accumulation of the squared shares (each rounded
    * once at 8dp), map-side per doc after one (doc, token) count —
    * zero-token docs report 0.0.
    */
  def tokenDiversity(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("doc_id"), explode_outer(tokens(col("text"))).as("tok"))
      .filter(col("tok").isNotNull) // Dedup.safeExplodeNote
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("__c"))
    val per = counts
      .withColumn("__n", sum(col("__c"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .select(col("doc_id"), col("__n"),
        round((col("__c") * col("__c")).cast("double")
          / (col("__n") * col("__n")).cast("double"), 8)
          .cast("decimal(18,8)").as("__p2"))
      .groupBy("doc_id")
      .agg(first(col("__n")).as("n_tokens"),
        round(lit(1.0) - sum(col("__p2")).cast("double"), 6).as("gini_diversity"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("gini_diversity"), lit(0.0)).as("gini_diversity"))
  }

  /** [[lmScore]] under a FOREIGN language model: bigram/unigram counts
    * come from `lmDocs` (e.g. a target-domain subset), scores cover every
    * `docs` row. Bigrams unseen in the LM contribute probability 0 but
    * still count in the mean's denominator (LEFT joins where the same-
    * corpus form can use inner) — the score of out-of-domain text decays
    * toward 0 instead of silently skipping its unknown transitions.
    * Same exact-decimal accumulation, same oracle-replayable shape.
    */
  def lmScoreWith(docs: DataFrame, lmDocs: DataFrame): DataFrame = {
    val bi = bigramOccurrences(docs)
    val lmBi = bigramOccurrences(lmDocs)
    val biCounts = lmBi.groupBy("w1", "w2").agg(count(lit(1)).as("__bc"))
    val uniCounts = biCounts.groupBy("w1").agg(sum(col("__bc")).as("__uc"))
    val scored = bi
      .join(biCounts, Seq("w1", "w2"), "left")
      .join(uniCounts, Seq("w1"), "left")
      .select(col("doc_id"),
        coalesce(round(col("__bc").cast("double") / col("__uc"), 6), lit(0.0))
          .cast("decimal(18,6)").as("__p"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("__p")).cast("double") / count(lit(1)), 4).as("lm_score"))
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_score"), lit(0.0)).as("lm_score"))
  }

  /** Within-document repetition statistics — the Gopher/MassiveText-style
    * repetition quality rules for corpus filtering: highly repetitive docs
    * (boilerplate, keyword stuffing, generation loops) are dropped before
    * training.
    *
    *   - dup_token_frac: 1 − |distinct tokens| / |tokens| — pure map-side
    *     array arithmetic, no shuffle;
    *   - top_bigram_frac: occurrences of the most frequent word bigram /
    *     total bigrams. Mode-of-bigrams needs a count per (doc, bigram):
    *     explode → partial-aggregated count → per-doc max. The shuffle
    *     carries one row per DISTINCT bigram per partition (map-side
    *     combine), never one per occurrence — same scale shape as
    *     [[vocabTopK]]. An expression-only mode (filter-count per element)
    *     would be O(n²) per document and die on 100k-token docs.
    *
    * Zero-token docs score 0.0 everywhere (left join back to the corpus so
    * no document silently drops out).
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val mapSide = docs.select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        round(when(size(col("__toks")) > 0,
          lit(1.0) - size(array_distinct(col("__toks"))).cast("double") /
            size(col("__toks"))).otherwise(0.0), 4).as("dup_token_frac"))
    val bigrams = docs
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        explode_outer(when(size(col("__toks")) >= 2,
          transform(sequence(lit(0), size(col("__toks")) - 2), i =>
            concat_ws(" ", element_at(col("__toks"), i + 1),
              element_at(col("__toks"), i + 2))))).as("bg"))
      .filter(col("bg").isNotNull) // Dedup.safeExplodeNote
    val perDoc = bigrams.groupBy("doc_id", "bg").agg(count(lit(1)).as("__c"))
      .groupBy("doc_id")
      .agg(sum(col("__c")).as("__total"), max(col("__c")).as("__max"))
      .select(col("doc_id"),
        round(col("__max").cast("double") / col("__total"), 4)
          .as("top_bigram_frac"))
    mapSide.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("dup_token_frac"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"))
  }

  /** Marker-word language scores + argmax prediction. N-gram-lite heuristic:
    * counts of per-language stopword markers. The scores are the operator
    * contract (deterministic in any engine); prediction quality is bounded
    * by the marker lists.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "a"),
    "de" -> Seq("der", "und", "das"),
    "fr" -> Seq("le", "et", "la"),
    "es" -> Seq("el", "y", "los"),
  )

  def langId(docs: DataFrame): DataFrame = {
    val scores = langMarkers.map { case (lang, words) =>
      words.map(w => wordOccurrences(col("text"), w)).reduce(_ + _).as(s"score_$lang")
    }
    val withScores = docs.select(col("doc_id") +: col("lang").as("lang_label") +: scores: _*)
    // argmax with deterministic tie-break = declaration order:
    // first language (in langMarkers order) whose score is >= all later ones
    val names = langMarkers.map(_._1)
    val pred = names.zipWithIndex.foldRight(lit("und")) { case ((lang, i), rest) =>
      val beatsRest = names.drop(i + 1)
        .foldLeft(col(s"score_$lang") > 0) { (acc, later) =>
          acc && col(s"score_$lang") >= col(s"score_$later")
        }
      when(beatsRest, lit(lang)).otherwise(rest)
    }
    withScores.withColumn("lang_pred", pred)
  }

  /** BM25-style keyword relevance scores for a fixed term list — the
    * retrieval-flavored quality signal (keyword-targeted corpus curation,
    * seed-document mining). Classic BM25 with one deliberate divergence:
    * a RATIONAL idf `(N - df + 0.5) / (df + 0.5)` instead of its log —
    * libm `ln` may differ in the last ulp across engines, while pure
    * rational arithmetic over exact integer counts replays bit-for-bit
    * (same reason the fingerprint family avoids engine hashes). Ranking
    * order is preserved (log is monotone).
    *
    * Shape: per-doc tf/length are map-side array ops; the corpus-level
    * N / avg-length / per-term df reduce to ONE row (a tiny aggregate)
    * broadcast back — no shuffle of the corpus itself.
    */
  def keywordScores(
      docs: DataFrame,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[A-Za-z0-9_]+")),
      "terms must be simple identifiers (they become column names)")
    val perDoc = docs
      .select(col("doc_id"), tokens(col("text")).as("__t"))
      .select(col("doc_id") +: size(col("__t")).cast("long").as("__len") +:
        terms.map(t =>
          size(filter(col("__t"), x => x === t)).cast("long").as(s"__tf_$t")): _*)
    // explicit exact-sum/count instead of avg(): engines differ in AVG
    // accumulation (incremental vs sum-then-divide); long-sum + one double
    // division is bit-identical everywhere
    val statCols = count(lit(1)).as("__N") +:
      (sum(col("__len")).cast("double") / count(lit(1))).as("__avg") +:
      terms.map(t =>
        sum(when(col(s"__tf_$t") > 0, 1L).otherwise(0L)).as(s"__df_$t"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val scores = terms.map { t =>
      val tf = col(s"__tf_$t").cast("double")
      val idf = (col("__N").cast("double") - col(s"__df_$t") + 0.5) /
        (col(s"__df_$t").cast("double") + 0.5)
      val norm = tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("__len") / col("__avg"))
      round(idf * (tf * (k1 + 1.0)) / norm, 4).as(s"score_$t")
    }
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id") +: scores: _*)
  }

  /** Per-stratum corpus report — the mixture/telemetry aggregate a data
    * pipeline publishes per source or language: document count, token
    * volume, mean token count, empty-document count. One hash-shuffled
    * aggregate with map-side partial combine; token counts are computed
    * in the same projection so the text column is read once.
    */
  def corpusStats(docs: DataFrame, groupCol: String): DataFrame =
    docs.select(col(groupCol).as("stratum"),
        size(tokens(col("text"))).cast("long").as("__nt"))
      .groupBy("stratum")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("total_tokens"),
        round(sum(col("__nt")).cast("double") / count(lit(1)), 4)
          .as("avg_tokens"),
        sum(when(col("__nt") === 0, 1L).otherwise(0L)).as("n_empty"))

  /** Unigram-distribution drift per source vs the whole corpus, as exact
    * total-variation distance: TVD(s) = ½ Σ_t |p_s(t) − p_corpus(t)|.
    * The data-mixing dial a pipeline reads when a new crawl lands — a
    * source whose token distribution sits far from the corpus (high TVD)
    * shifts the training mix; one drifting between rounds changed its
    * extraction. TVD over KL/PSI is deliberate (the [[Stats.histogramDrift]]
    * rule): no logarithm, defined on disjoint supports, bounded [0,1],
    * and — the gate property — computable in EXACT integer arithmetic.
    *
    * Determinism: per-term contributions |c_s·N_g − c_g·N_s| are exact
    * DECIMAL(38,0) products of longs summed in any order; terms absent
    * from the source fold in closed form (Σ_{t∉V_s} c_g = N_g − Σ_{t∈V_s}
    * c_g), so the numerator A + (N_g − B)·N_s is exact and the ONLY
    * float op is the final division, rounded to 6dp.
    *
    * Scale shape: token explode → one (source, term) partial-combined
    * count, one term-keyed global rollup, one join back on the term key
    * — all linear; the absent-term closed form is what keeps this from
    * needing a vocab × sources dense cross join. Totals ride as
    * broadcast one-row/side tables.
    *
    * Output: (source, n_tokens, vocab_size, tvd), one row per source.
    */
  def vocabDrift(docs: DataFrame, sourceCol: String = "source"): DataFrame = {
    val tok = docs
      .select(col(sourceCol).as("source"), tokens(col("text")).as("__tk"))
      .select(col("source"), explode_outer(col("__tk")).as("t"))
      .filter(col("t").isNotNull)
    val bySrc = tok.groupBy("source", "t").agg(count(lit(1)).as("__c_s"))
    val totals = bySrc.groupBy("source")
      .agg(sum(col("__c_s")).as("__n_s"), count(lit(1)).as("vocab_size"))
    val global = bySrc.groupBy("t").agg(sum(col("__c_s")).as("__c_g"))
    val ng = broadcast(global.agg(sum(col("__c_g")).as("__n_g")))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // per-source partial sums over the source's OWN vocabulary only
    val terms = bySrc.join(global, "t")
      .join(broadcast(totals), "source")
      .crossJoin(ng)
      .groupBy("source")
      .agg(
        sum(abs(dec(col("__c_s")) * dec(col("__n_g"))
          - dec(col("__c_g")) * dec(col("__n_s")))).as("__a"),
        sum(col("__c_g")).as("__b"))
    totals.join(terms, "source").crossJoin(ng)
      .select(col("source"), col("__n_s").as("n_tokens"), col("vocab_size"),
        round(
          (col("__a") + dec(col("__n_g") - col("__b")) * dec(col("__n_s")))
            .cast("double")
            / (lit(2.0) * col("__n_s").cast("double") * col("__n_g").cast("double")),
          6).as("tvd"))
  }

  /** Document fingerprinting via the [[graft.functions.RollingHash]] native
    * expression: raw fingerprint over the exact text, normalized fingerprint
    * over lower-cased, whitespace-collapsed text (near-identical docs that
    * differ only in spacing/case share the normalized fingerprint).
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      rolling_hash(col("text")).as("fingerprint"),
      rolling_hash(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
        .as("fingerprint_normalized"))
}
