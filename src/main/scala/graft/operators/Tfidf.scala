package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sparse TF-IDF document vectors and term-blocked cosine similarity —
  * the sparse-vector twin of the dense-embedding family in
  * [[Similarity]].
  *
  * Scale design:
  *   - vectors are (doc_id, term, weight) triples — the natural Spark
  *     representation of a sparse matrix: no row-size limit, partial-agg
  *     friendly, prunable by term;
  *   - idf is RATIONAL, (N+1)/(df+1) with no logarithm — transcendental
  *     functions are the one double operation engines disagree on in the
  *     last ulp (libm vs libm), while +,·,/ and sqrt are IEEE
  *     correctly-rounded everywhere, so the whole pipeline replays
  *     bit-for-bit in the DuckDB oracle;
  *   - cosine pairs are TERM-BLOCKED: the self-join key is the term, so
  *     only documents sharing vocabulary ever meet — never an O(n²)
  *     cross; the fractional df cap (`maxDfFrac`) drops corpus-wide
  *     terms from pair GENERATION (the classic skew guard: a term in
  *     half the corpus pairs everything with everything) and the
  *     absolute `maxDf` cap bounds every generation block independently
  *     of corpus size, while the dot product itself stays exact over
  *     ALL shared terms of surviving candidate pairs;
  *   - dot products and norms accumulate in exact DECIMAL (weights are
  *     4dp-rounded, so products are exactly representable) — addition
  *     order cannot change the result, which is what makes a
  *     shuffle-partitioned sum reproducible across engines AND across
  *     cluster sizes.
  */
object Tfidf {

  /** Sliding word n-grams as term strings (space-joined); `n = 1` is the
    * plain whitespace token stream. NON-distinct — term frequency needs
    * every occurrence. Docs shorter than `n` tokens contribute nothing.
    */
  private def ngramTerms(text: Column, n: Int): Column = {
    val tk = TextAnalysis.tokens(text)
    if (n == 1) tk
    // NOTE (r21): a bigram fast path (concat of two element_at lookups
    // instead of slice+array_join) measured a wash at sf0.1 — the
    // lambda body runs interpreted either way (HOFs are outside
    // whole-stage codegen), so the saved 2-element array allocation
    // didn't move the stage. Reverted to keep one code path.
    else when(size(tk) >= n,
        transform(sequence(lit(1), size(tk) - (n - 1)),
          i => array_join(slice(tk, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Sparse TF-IDF vectors: one (doc_id, term, tfidf) row per distinct
    * n-gram term per document. tfidf = tf · (N+1)/(df+1), 4dp-rounded.
    * Two partial-agg shuffles (doc×term counts, term df) + one broadcast
    * of the single-row corpus count.
    */
  def tfidfVectors(docs: DataFrame, ngram: Int = 1): DataFrame = {
    require(ngram >= 1, s"ngram must be >= 1, got $ngram")
    // Parallelism.ensure: a compact corpus file arrives as one scan
    // partition, serializing the tokenize+ngram explode on one core
    val toks = Parallelism.ensure(docs.select("doc_id", "text"))
      .select(col("doc_id"), ngramTerms(col("text"), ngram).as("__t"))
      .select(col("doc_id"), explode_outer(col("__t")).as("term"))
      .filter(col("term").isNotNull)
    val tfc = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dft = tfc.groupBy("term").agg(count(lit(1)).as("df"))
    val nRow = docs.agg(count(lit(1)).as("__N"))
    tfc.join(dft, "term")
      .crossJoin(broadcast(nRow))
      .select(col("doc_id"), col("term"),
        round(col("tf").cast("double") * (col("__N") + lit(1.0)) /
          (col("df") + lit(1.0)), 4).as("tfidf"))
  }

  /** Cosine-similar document pairs over sparse TF-IDF vectors.
    *
    * Candidate pairs come from a self-join blocked on the term; terms
    * with df above the generation cap are excluded from pair GENERATION
    * only — pairs sharing at least one sub-cap term still get their dot
    * product over ALL shared terms. With `maxDfFrac = 1.0` and no
    * `maxDf` the result is exact for every pair sharing any term.
    *
    * The generation cap is `min(floor(D · maxDfFrac), maxDf)` (D = docs
    * present in the vector table). The fractional cap alone is a SKEW
    * guard, not a scale guard: block width grows linearly with the
    * corpus, so worst-case candidate pairs grow quadratically in D (at
    * 10⁹ docs a 1% cap still admits 10⁷-doc blocks). The absolute
    * `maxDf` bounds every generation block — and therefore per-term
    * candidate pairs, at C(maxDf, 2) — independently of corpus size;
    * set it (e.g. a few thousand) for any corpus-scale run.
    *
    * Shuffle shape: candidate pairs AND their sub-cap dot contributions
    * come out of the SAME term-blocked join+aggregate (the intermediate
    * is shared-posting-sized, never cand × doc-terms); only the few
    * OVER-cap terms of each surviving pair ride a second join keyed on
    * (doc_id, term), so the exact-dot completion costs cand ×
    * over-cap-terms-per-doc — a small fraction of a doc's vocabulary.
    *
    * Output: (doc_id_a, doc_id_b, cos_sim) with doc_id_a < doc_id_b and
    * cos_sim ≥ threshold, 4dp-rounded.
    */
  def sparseCosinePairs(
      vectors: DataFrame,
      threshold: Double = 0.5,
      maxDfFrac: Double = 1.0,
      maxDf: Long = Long.MaxValue): DataFrame = {
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      s"maxDfFrac must be in (0, 1], got $maxDfFrac")
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    // fixed-point LONG substrate (was DECIMAL(18,4); r20 stage profile —
    // the pair join+dot aggregate dominated the query and a decimal
    // product sum promotes to precision >18, i.e. BigDecimal-backed
    // buffers; guide §2.3 narrower types). Exactness is unchanged: the
    // 4dp weight v scales to the exact integer v·1e4 (tfidf is already
    // 4dp, so round(w·1e4) hits it exactly — the double is within an
    // ulp of the integer), products (≤1e12) and per-pair/per-doc sums
    // (≤ shared-terms · 1e12) stay far inside the exact-long and
    // exact-double-integer (2⁵³) ranges at ANY corpus size (the sums
    // are doc-length-bounded, not corpus-bounded), and fl(S)/1e8 is the
    // same correctly-rounded double the old decimal→double cast gave.
    // persisted: the vector table feeds FIVE consumers (norms, df cap,
    // pair-gen, both dot sides) — uncached, each re-runs the entire
    // upstream tfidf build (tokenize + two aggs + join); measured 5.8s ->
    // ~1.5s at sf0.1
    val w = CacheRegistry.persist(vectors.select(col("doc_id"), col("term"),
      round(col("tfidf") * lit(1e4), 0).cast("long").as("w")))
    // NO eager w.count(): subDots' eager fill below is the first action
    // over w. Its query does hold several leaf stages that can scan w
    // cold concurrently (the df table, the join sides), but a cache-fill
    // race only duplicates the racing partitions' work once — bounded —
    // while a separate count() adds a whole materialization job.
    // Measured at sf0.1 (min of 3, same host): 15.6 cpu-s without the
    // count vs 23.7 with it. The final query's consumers (norms, dft,
    // over-cap postings) all run after subDots' fill and hit warm cache.

    val norms = w.groupBy("doc_id")
      .agg(sqrt(sum(col("w") * col("w")).cast("double") / lit(1e8)).as("norm"))

    val dRow = w.agg(countDistinct(col("doc_id")).as("__D"))
    val dft = w.groupBy("term").agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(dRow))
      .withColumn("__cap", least(floor(col("__D") * lit(maxDfFrac)), lit(maxDf)))
    val genTerms = dft.filter(col("__df") <= col("__cap")).select("term")

    // one term-blocked join does double duty: it both GENERATES the
    // candidate pairs (any pair sharing a sub-cap term) and accumulates
    // their dot product over those sub-cap terms — the intermediate is
    // exactly the shared sub-cap postings, never cand × doc-terms.
    // NOTE (r21 optimization round, measured and REVERTED): a
    // [[Dedup.pairsFromIdLists]]-style hybrid (collect each term's
    // postings into a sorted list, expand C(n,2) (a, b, wa·wb) triples
    // inline under a 128 cutoff, self-join only the tail, explicit
    // repartition so AQE couldn't serialize the expansion) measured
    // WORSE on q_sparse_cosine — 5.2–5.5 s wall / 54–56 s CPU vs
    // 4.2–4.3 s / 41–43 s for this join (3 consecutive min-of-2 runs
    // each, same quiet host): the nested higher-order-function lambdas
    // that build the pair structs run INTERPRETED (HOFs are outside
    // whole-stage codegen), costing more per pair than the SMJ row it
    // saved. Dedup's id-list expansion wins because its lists carry bare
    // longs and feed a distinct, not a weighted product per pair.
    val wGen = w.join(genTerms, "term")
    // persisted + eagerly filled: subDots feeds TWO consumers of the one
    // downstream query (the over-cap completion's pair list and the final
    // dot join) — uncached, the generation join+agg would run twice and
    // the concurrent stages would race the lazy cache population
    val subDots = CacheRegistry.persist(wGen
      .select(col("doc_id").as("doc_id_a"), col("term"), col("w").as("wa"))
      .join(wGen.select(col("doc_id").as("doc_id_b"), col("term"), col("w").as("wb")),
        "term")
      .filter(col("doc_id_a") < col("doc_id_b"))
      .groupBy("doc_id_a", "doc_id_b")
      .agg(sum(col("wa") * col("wb")).as("__dot_sub")))
    subDots.count()

    // exact-dot completion: each surviving pair's OVER-cap shared terms
    // (the dot covers ALL shared terms, not just the generating ones) —
    // per-doc over-cap vocabulary is small, so this join stays cand-sized
    val wOver = w.join(dft.filter(col("__df") > col("__cap")).select("term"), "term")
    val overDots = subDots.select("doc_id_a", "doc_id_b")
      .join(wOver.select(col("doc_id").as("doc_id_a"), col("term"), col("w").as("wa")),
        Seq("doc_id_a"))
      .join(wOver.select(col("doc_id").as("doc_id_b"), col("term"), col("w").as("wb")),
        Seq("doc_id_b", "term"))
      .groupBy("doc_id_a", "doc_id_b")
      .agg(sum(col("wa") * col("wb")).as("__dot_over"))

    // both partial dots are exact scaled-integer sums, so the
    // split-and-add equals the single sum over all shared terms
    // bit-for-bit
    val dots = subDots.join(overDots, Seq("doc_id_a", "doc_id_b"), "left")
      .select(col("doc_id_a"), col("doc_id_b"),
        ((col("__dot_sub") + coalesce(col("__dot_over"), lit(0L)))
          .cast("double") / lit(1e8)).as("__dot"))

    dots
      .join(norms.select(col("doc_id").as("doc_id_a"), col("norm").as("__na")), "doc_id_a")
      .join(norms.select(col("doc_id").as("doc_id_b"), col("norm").as("__nb")), "doc_id_b")
      .select(col("doc_id_a"), col("doc_id_b"),
        round(col("__dot") / (col("__na") * col("__nb")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Cluster term profiling (c-TF-IDF, the BERTopic representation step):
    * treat each group (a k-means cluster label, a language, a source) as
    * one pseudo-document and rank ITS most distinctive terms —
    * weight(t, g) = tf(t, g) · (N_groups + 1)/(gdf(t) + 1), where gdf
    * counts the GROUPS containing t. Same rational idf convention as
    * [[tfidfVectors]] (no logarithm — the weight hash-replays), 4dp, top
    * `topK` per group with ties on the term.
    *
    * Scale shape: two partial-agg shuffles over (group, term) — both
    * vocabulary×groups-sized, far under the corpus — one single-row
    * broadcast for the group count, one ≤topK-per-group window.
    */
  def clusterTopTerms(
      docs: DataFrame, groupCol: String, topK: Int = 10): DataFrame = {
    require(topK >= 1)
    val terms = docs
      .select(col(groupCol), explode_outer(TextAnalysis.tokens(col("text"))).as("term"))
      .filter(col("term").isNotNull) // Dedup.safeExplodeNote
    val tf = terms.groupBy(groupCol, "term").agg(count(lit(1)).as("tf"))
    val gdf = tf.groupBy("term").agg(count(lit(1)).as("gdf"))
    val nGroups = docs.agg(
      countDistinct(col(groupCol)).as("__ng"))
    val weighted = tf.join(gdf, "term")
      .crossJoin(broadcast(nGroups))
      .withColumn("weight",
        round(col("tf").cast("double") *
          ((col("__ng") + 1).cast("double") / (col("gdf") + 1).cast("double")), 4))
    // per-group cut via the STRING-id BoundedTopK aggregate: a window
    // here ranks each cluster's WHOLE vocabulary through one reducer —
    // a hot cluster (most of the corpus in one label) degenerates to a
    // single-partition vocab sort; the aggregate wires topK terms per
    // cluster per partition. tf/gdf join back on the ≤ topK·groups
    // survivors — answer-sized. The group join is NULL-SAFE: a null
    // group key is a first-class cluster (groupBy keeps it), and an
    // equi-join back would silently drop it.
    val top = Similarity.aggTopKBy(weighted, "weight", topK,
        Seq(groupCol), "rank", idCol = "term")
      .select(col(groupCol).as("__g"), col("term").as("__t"),
        col("weight"), col("rank"))
    top
      .join(tf, col("__g") <=> col(groupCol) && col("__t") === col("term"))
      .join(gdf, Seq("term"))
      .select(col(groupCol), col("term"), col("tf"), col("gdf"),
        col("weight"), col("rank"))
  }
}
