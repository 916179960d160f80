package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval-side curation operators: hybrid rank fusion and
  * diversity-aware selection over the corpus — the query-time complement
  * of the ANN family in [[Similarity]] and the sparse scoring in
  * [[Tfidf]]/[[TextAnalysis]]. These are the ops a training-data pipeline
  * runs to mine few-shot exemplars, build eval panels, or assemble
  * retrieval-augmented contexts at corpus scale.
  *
  * Determinism contract (shared with the ANN family): every similarity is
  * rounded to 4dp BEFORE ranking, every rank ties on the item id, and
  * fusion/selection arithmetic is a fixed sequence of IEEE double ops on
  * those rounded inputs — identical bits on any engine, run, or
  * partitioning.
  */
object Retrieval {

  /** Sparse TF-IDF cosine top-k: rank corpus documents against each query
    * document over shared terms. Query vectors are the rows of `vectors`
    * whose doc_id satisfies `queryMaxId` exclusion (doc_id < queryMaxId) —
    * the "seed document" retrieval shape.
    *
    * Scale shape: the query slice is tiny and BROADCAST; the corpus-side
    * vector table is joined on term (map-side against the broadcast), so
    * the only shuffle is the (query, doc) partial-agg dot product —
    * bounded by queries × docs-sharing-a-term, never corpus². Norms join
    * back on doc_id (corpus-sized but column-pruned to two columns).
    */
  def sparseCosineTopK(
      vectors: DataFrame,
      queryMaxId: Long,
      k: Int): DataFrame = {
    // fixed-point LONG substrate (was DECIMAL(18,4)) — the exact
    // scaled-integer convention proven in [[Tfidf.sparseCosinePairs]]:
    // 4dp weights scale to exact integers, products/sums stay exact
    // longs (doc-length-bounded, corpus-size-independent), fl(S)/1e8
    // reproduces the decimal→double cast bit-for-bit, and the sums are
    // order-free because they are integer arithmetic
    val w = CacheRegistry.persist(vectors.select(col("doc_id"), col("term"),
        round(col("tfidf") * lit(1e4), 0).cast("long").as("w")))
    val norms = w.groupBy("doc_id")
      .agg(sqrt(sum(col("w") * col("w")).cast("double") / lit(1e8))
        .as("__norm"))
    val q = broadcast(
      w.filter(col("doc_id") < queryMaxId)
        .select(col("doc_id").as("query_id"), col("term"), col("w").as("__qw")))
    val dots = w.join(q, Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg((sum(col("__qw") * col("w")).cast("double") / lit(1e8))
        .as("__dot"))
    val qNorms = broadcast(
      norms.filter(col("doc_id") < queryMaxId)
        .select(col("doc_id").as("query_id"), col("__norm").as("__qn")))
    val scored = dots
      .join(qNorms, Seq("query_id"))
      .join(norms, Seq("doc_id"))
      .select(col("query_id"), col("doc_id"),
        round(col("__dot") / (col("__qn") * col("__norm")), 4).as("tfidf_sim"))
    // finisher via the mergeable BoundedTopK aggregate — the candidate
    // set is corpus-fraction-sized (every doc sharing a term with a
    // query), and a row_number window would shuffle ALL of it to one
    // reducer per query; the aggregate wires k rows per query per
    // partition instead. Bit-identical ties (score desc, doc_id asc).
    Similarity.aggTopKBy(scored, "tfidf_sim", k,
        Seq("query_id"), "rank", idCol = "doc_id")
      .select("query_id", "doc_id", "tfidf_sim", "rank")
  }

  /** BM25 keyword retrieval: rank corpus documents against each query
    * document's DISTINCT terms — the standard sparse-retrieval baseline
    * (Robertson-Spärck Jones probabilistic weighting with the Okapi
    * saturation), the lexical leg a hybrid retriever fuses with the
    * dense ANN leg. Query docs are `doc_id < queryMaxId` (the
    * [[sparseCosineTopK]] seed-document convention); query-term
    * multiplicity is ignored (the common k3→∞=drop simplification).
    *
    * score(q, d) = Σ_{t ∈ q ∩ d} idf(t) · tf·(k1+1) / (tf + k1·(1−b) +
    * k1·b·dl/avgdl), with N and avgdl over token-bearing docs.
    *
    * `logIdf = true` (default) uses the Lucene idf
    * ln(1 + (N−df+0.5)/(df+0.5)); `logIdf = false` keeps the raw
    * Robertson–Spärck-Jones odds (N−df+0.5)/(df+0.5) — the same
    * per-term shape without the log, which is what the DuckDB oracle
    * replays bit-for-bit (ln is the one function the oracle convention
    * bans; the log variant is spec-pinned against a hand computation
    * instead). DEFAULTS ARE EXACT BINARY FRACTIONS (k1 = 1.25,
    * b = 0.75): every derived constant (k1+1 = 2.25, k1·(1−b) = 0.3125,
    * k1·b = 0.9375) is exactly representable, so the whole saturation
    * chain is a fixed sequence of exact-input IEEE ops — identical bits
    * in any engine. Per-term contributions are 6dp-fixed-point before
    * the order-free DECIMAL sum (the [[TextAnalysis.lmScore]]
    * convention), final score 4dp.
    *
    * Scale shape: the (query_id, term, df) table is query-sized and
    * BROADCAST into the corpus posting scan; doc lengths join
    * corpus-sized but two-column; the finisher is the mergeable
    * BoundedTopK aggregate, never a global window. Candidates are
    * bounded by docs-sharing-a-query-term — which for a stopword is the
    * whole corpus, so corpus-scale runs set `genDfCap`: only terms with
    * df ≤ cap GENERATE candidates (work ∝ rare-term postings, the
    * champion-list pruning standard), while every admitted candidate is
    * still scored over ALL its query terms — admitted docs carry their
    * exact full BM25, and only docs sharing nothing rarer than the cap
    * (lexical retrieval's last-ranked anyway) can be missed.
    */
  def bm25TopK(
      docs: DataFrame,
      queryMaxId: Long,
      k: Int,
      k1: Double = 1.25,
      b: Double = 0.75,
      logIdf: Boolean = true,
      genDfCap: Option[Long] = None): DataFrame = {
    require(k >= 1 && k1 > 0 && b >= 0 && b <= 1)
    genDfCap.foreach(c => require(c >= 1, s"genDfCap must be >= 1, got $c"))
    val (tfc, dl, stats, dft) = bm25Stats(docs)
    // query-sized: distinct query terms with their corpus df, broadcast;
    // __w = 1.0 (x·1.0 is bit-identical to x, so the weighted pass is
    // byte-for-byte the classic BM25 here)
    val qtd = dft.join(
        tfc.filter(col("doc_id") < queryMaxId)
          .select(col("doc_id").as("query_id"), col("term")).distinct(),
        Seq("term"))
      .withColumn("__w", lit(1.0))
    val scored = bm25Pass(tfc, dl, stats, qtd, k1, b, logIdf, genDfCap)
    Similarity.aggTopKBy(scored, "bm25", k, Seq("query_id"), "rank",
        idCol = "doc_id")
      .select("query_id", "doc_id", "bm25", "rank")
  }

  /** The shared BM25 substrate — ONE corpus/tokenize pass: tfc is
    * persisted (CacheRegistry-tracked) and every statistic derives from
    * it — dl = Σtf per doc (token count by definition), df/query
    * terms/candidates/contributions all read the cache instead of
    * re-tokenizing (measured: the capped path's second tfc subtree
    * otherwise re-shuffles the whole posting build).
    */
  private def bm25Stats(
      docs: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val toks = Parallelism.ensure(docs
        .select(col("doc_id").cast("long").as("doc_id"), col("text")))
      .select(col("doc_id"),
        explode_outer(TextAnalysis.tokens(col("text"))).as("term"))
      .filter(col("term").isNotNull) // Dedup.safeExplodeNote
    val tfc = CacheRegistry.persist(
      toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val dl = tfc.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val stats = broadcast(dl.agg(
      count(lit(1)).cast("double").as("__n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("__avgdl")))
    val dft = tfc.groupBy("term").agg(count(lit(1)).cast("double").as("__df"))
    (tfc, dl, stats, dft)
  }

  /** One BM25 scoring pass over WEIGHTED query terms `qt` = (query_id,
    * term, __df, __w): contribution = round(idf·sat·w, 6), summed
    * order-free in DECIMAL, 4dp score — the weight slots straight into
    * the exact-arithmetic chain (w is required to be an exact binary
    * fraction like 1.0 or 0.5, so idf·sat·w is one more exact-input
    * IEEE op before the fixed-point round). Shared by the classic
    * [[bm25TopK]] (all weights 1.0) and the RM3 feedback pass
    * ([[bm25PrfTopK]], expansion terms down-weighted).
    *
    * Candidate generation (unchanged from the classic pass). Uncapped:
    * every (query term, posting) pair — exact, but a stopword-bearing
    * query touches ~the whole corpus (the naive-BM25 scale wall).
    * genDfCap (the champion-list / term-at-a-time pruning standard):
    * only sub-cap RARE terms GENERATE candidates — bounded by
    * Σ df(rare query terms) — and each candidate is then scored over
    * ALL its query terms (common ones included), so admitted docs carry
    * their exact full score; the approximation only loses docs sharing
    * NOTHING rarer than the cap, the ones lexical retrieval ranks last
    * anyway.
    */
  private def bm25Pass(
      tfc: DataFrame, dl: DataFrame, stats: DataFrame, qt: DataFrame,
      k1: Double, b: Double, logIdf: Boolean,
      genDfCap: Option[Long]): DataFrame = {
    val qtB = broadcast(qt)
    val tfD = col("tf").cast("double")
    val sat = (tfD * lit(k1 + 1.0)) /
      (tfD + (lit(k1 * (1.0 - b)) + lit(k1 * b) *
        (col("dl").cast("double") / col("__avgdl"))))
    val idf =
      if (logIdf) log(lit(1.0) + ((col("__n") - col("__df")) + lit(0.5)) /
        (col("__df") + lit(0.5)))
      else ((col("__n") - col("__df")) + lit(0.5)) / (col("__df") + lit(0.5))
    val contribs = genDfCap match {
      case None =>
        tfc.join(qtB, Seq("term"))
          .filter(col("doc_id") =!= col("query_id"))
      case Some(cap) =>
        val gen = broadcast(qt.filter(col("__df") <= cap.toDouble)
          .select("query_id", "term"))
        val cand = tfc.join(gen, Seq("term"))
          .filter(col("doc_id") =!= col("query_id"))
          .select("query_id", "doc_id").distinct()
        // candidates × their own terms (cand · dl rows), query terms
        // kept by the broadcast (query_id, term, df, w) join — never a
        // stopword-posting blowup
        cand.join(tfc, Seq("doc_id")).join(qtB, Seq("query_id", "term"))
    }
    // NOTE (r20 optimization round, measured and kept as-is): a
    // fixed-point LONG variant (round(round(x,6)·1e6) summed as long)
    // was prototyped and REVERTED — an interleaved A/B (min of 5,
    // SPARK_GRAFT_ONLY, same calm window) measured it at 13.6 s CPU vs
    // 11.0 s for this decimal form on q_bm25: the 6dp contribution sum
    // at decimal(28,6) stays on Spark's compact-long add path (no
    // BigDecimal boxing at these magnitudes), so the long variant's
    // second per-row ROUND cost more than the decimal add it saved.
    contribs
      .join(dl, Seq("doc_id"))
      .crossJoin(stats)
      .select(col("query_id"), col("doc_id"),
        round(idf * sat * col("__w"), 6).cast("decimal(18,6)").as("__c"))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(col("__c")).cast("double"), 4).as("bm25"))
  }

  /** BM25 with RM3-style pseudo-relevance feedback — the classic
    * two-pass query expansion production lexical retrieval runs on top
    * of plain BM25 (Lavrenko–Croft relevance models, the Anserini/RM3
    * shape): pass 1 ranks with [[bm25TopK]]'s scoring, the top `fbDocs`
    * per query become the feedback set, expansion terms are the top
    * `fbTerms` NEW terms by relevance-model weight over that set, and
    * pass 2 re-scores with original terms at weight 1.0 plus expansion
    * terms at `expWeight` — recall the single-pass ranker cannot reach
    * (documents sharing no literal query term), bought with one extra
    * bounded pass.
    *
    * Determinism (the oracle contract): the RM1 term weight is the
    * order-free DECIMAL sum of round(tf/dl, 6) over the feedback docs —
    * the uniform-prior relevance model, exact in any engine; expansion
    * selection ranks (weight desc, term asc); `expWeight` must be an
    * exact binary fraction (default 0.5) so pass-2 contributions stay a
    * fixed sequence of exact-input IEEE ops. Everything else reuses
    * [[bm25Pass]]'s pinned arithmetic verbatim.
    *
    * Scale shape: pass 1 is [[bm25TopK]]'s documented path; the
    * feedback-term selection runs on the feedback docs' postings only
    * (queries × fbDocs docs — answer-sized, so its ranking window is
    * answer-sized, not corpus-sized); pass 2 is one more [[bm25Pass]]
    * whose query side grew by ≤ fbTerms terms per query, with
    * `genDfCap` available for both passes. ONE tokenize pass feeds
    * everything (the persisted tfc).
    */
  def bm25PrfTopK(
      docs: DataFrame,
      queryMaxId: Long,
      k: Int,
      fbDocs: Int = 5,
      fbTerms: Int = 10,
      expWeight: Double = 0.5,
      k1: Double = 1.25,
      b: Double = 0.75,
      logIdf: Boolean = true,
      genDfCap: Option[Long] = None): DataFrame = {
    require(k >= 1 && fbDocs >= 1 && fbTerms >= 1 && k1 > 0 &&
      b >= 0 && b <= 1)
    require(expWeight > 0 && expWeight <= 1 &&
      (expWeight * 1024.0) == math.floor(expWeight * 1024.0),
      s"expWeight must be an exact binary fraction (k/1024), got $expWeight")
    val (tfc, dl, stats, dft) = bm25Stats(docs)
    val qterms = tfc.filter(col("doc_id") < queryMaxId)
      .select(col("doc_id").as("query_id"), col("term")).distinct()
    val qt1 = dft.join(qterms, Seq("term")).withColumn("__w", lit(1.0))
    val scored1 = bm25Pass(tfc, dl, stats, qt1, k1, b, logIdf, genDfCap)
    val fb = Similarity.aggTopKBy(scored1, "bm25", fbDocs,
        Seq("query_id"), "rank", idCol = "doc_id")
      .select("query_id", "doc_id")
    // RM1 weights over the feedback docs: Σ_d round(tf/dl, 6), DECIMAL
    // (order-free). The frame is queries × feedback-doc vocab —
    // answer-sized — so the selection window shuffles answers, never
    // corpus rows. Original query terms are excluded: RM3's
    // interpolation already carries them at weight 1.0.
    val rm = fb.join(tfc, Seq("doc_id")).join(dl, Seq("doc_id"))
      .select(col("query_id"), col("term"),
        round(col("tf").cast("double") / col("dl").cast("double"), 6)
          .cast("decimal(18,6)").as("__tw"))
      .groupBy("query_id", "term")
      .agg(sum(col("__tw")).as("__rm"))
      .join(qterms, Seq("query_id", "term"), "left_anti")
    val wExp = Window.partitionBy("query_id")
      .orderBy(col("__rm").desc, col("term").asc)
    val expTerms = rm.withColumn("__r", row_number().over(wExp))
      .filter(col("__r") <= fbTerms)
      .select("query_id", "term")
    val qt2 = qterms.withColumn("__w", lit(1.0))
      .unionByName(expTerms.withColumn("__w", lit(expWeight)))
      .join(dft, Seq("term"))
    val scored2 = bm25Pass(tfc, dl, stats, qt2, k1, b, logIdf, genDfCap)
    Similarity.aggTopKBy(scored2, "bm25", k, Seq("query_id"), "rank",
        idCol = "doc_id")
      .select("query_id", "doc_id", "bm25", "rank")
  }

  /** Reciprocal-rank-fusion hybrid retrieval: fuse a sparse (TF-IDF
    * cosine) and a dense (embedding cosine) ranking of the same item space
    * with RRF(item) = Σ_lists 1/(rrfK + rank). The classic hybrid-search
    * combiner — rank-based, so the two lists' incomparable score scales
    * never meet.
    *
    * Items are identified by doc_id ≡ vec_id (the corpus convention:
    * embeddings are row-aligned with documents). A rank of 0 in the output
    * means the item was absent from that list (contributing 0 to the
    * fused score).
    *
    * Scale shape: each per-query list is ≤ perList rows, so the fusion
    * join and final window run on |queries|·perList rows — negligible next
    * to the two list-producing scans, which each follow their own
    * documented scale path ([[sparseCosineTopK]],
    * [[Similarity.bruteForceTopK]] / its IVF variants for 100 TB).
    */
  def rrfHybridTopK(
      docs: DataFrame,
      embeddings: DataFrame,
      nQueries: Int,
      perList: Int,
      k: Int,
      rrfK: Int = 60): DataFrame = {
    val sparse = sparseCosineTopK(Tfidf.tfidfVectors(docs), nQueries, perList)
      .select(col("query_id"), col("doc_id").as("item_id"),
        col("rank").as("rank_sparse"))
    val dense = Similarity.bruteForceTopK(
        embeddings, embeddings.filter(col("vec_id") < nQueries), perList)
      .select(col("query_id"), col("vec_id").as("item_id"),
        col("rank").as("rank_dense"))
    rrfFuse(sparse, dense, k, rrfK)
  }

  /** BM25 + dense hybrid: the same RRF fusion with the lexical leg
    * ranked by [[bm25TopK]] (rational idf — the oracle-exact path)
    * instead of TF-IDF cosine. `genDfCap` passes through to BM25's
    * champion-list candidate pruning for corpus-scale runs.
    */
  def rrfHybridBm25TopK(
      docs: DataFrame,
      embeddings: DataFrame,
      nQueries: Int,
      perList: Int,
      k: Int,
      rrfK: Int = 60,
      genDfCap: Option[Long] = None): DataFrame = {
    val sparse = bm25TopK(docs, nQueries, perList, logIdf = false,
        genDfCap = genDfCap)
      .select(col("query_id"), col("doc_id").as("item_id"),
        col("rank").as("rank_sparse"))
    val dense = Similarity.bruteForceTopK(
        embeddings, embeddings.filter(col("vec_id") < nQueries), perList)
      .select(col("query_id"), col("vec_id").as("item_id"),
        col("rank").as("rank_dense"))
    rrfFuse(sparse, dense, k, rrfK)
  }

  /** BM25+RM3 + dense hybrid: the [[rrfHybridBm25TopK]] fusion with
    * the lexical leg ranked by [[bm25PrfTopK]] — query expansion
    * INSIDE the hybrid, so the sparse list reaches feedback-term docs
    * while the dense list covers the semantic neighborhood; the fold
    * and its scale shape are unchanged.
    */
  def rrfHybridPrfTopK(
      docs: DataFrame,
      embeddings: DataFrame,
      nQueries: Int,
      perList: Int,
      k: Int,
      rrfK: Int = 60,
      fbDocs: Int = 5,
      fbTerms: Int = 10,
      genDfCap: Option[Long] = None): DataFrame = {
    val sparse = bm25PrfTopK(docs, nQueries, perList, fbDocs, fbTerms,
        logIdf = false, genDfCap = genDfCap)
      .select(col("query_id"), col("doc_id").as("item_id"),
        col("rank").as("rank_sparse"))
    val dense = Similarity.bruteForceTopK(
        embeddings, embeddings.filter(col("vec_id") < nQueries), perList)
      .select(col("query_id"), col("vec_id").as("item_id"),
        col("rank").as("rank_dense"))
    rrfFuse(sparse, dense, k, rrfK)
  }

  /** The shared RRF fold: full-outer join of two (query_id, item_id,
    * rank_*) lists, RRF(item) = Σ 1/(rrfK + rank), absent list → exact
    * 0.0, rank tie on item_id.
    */
  private def rrfFuse(sparse: DataFrame, dense: DataFrame, k: Int,
      rrfK: Int): DataFrame = {
    val fused = sparse.join(dense, Seq("query_id", "item_id"), "full_outer")
      .select(col("query_id"), col("item_id"),
        coalesce(col("rank_sparse"), lit(0)).as("rank_sparse"),
        coalesce(col("rank_dense"), lit(0)).as("rank_dense"),
        // fixed-order double arithmetic: each term is one int add + one
        // double division; absent list → exact 0.0
        (coalesce(lit(1.0) / (lit(rrfK) + col("rank_sparse")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_dense")), lit(0.0)))
          .as("__rrf"))
    // answer-sized window: fused is ≤ 2·perList rows per query by
    // construction (the union of two top-perList lists), partitioned
    // per query — no corpus-fraction input reaches this sort
    val win = Window.partitionBy("query_id")
      .orderBy(col("__rrf").desc, col("item_id").asc)
    fused.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("item_id"), col("rank_sparse"),
        col("rank_dense"), round(col("__rrf"), 6).as("rrf_score"), col("rank"))
  }

  /** Maximal-marginal-relevance selection: greedily pick `k` items per
    * query from its dense top-`m` candidates, trading relevance against
    * redundancy — score(d) = λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s).
    * The diversity-aware exemplar picker (few-shot mining, eval-panel
    * assembly, dedup-aware context packing).
    *
    * The greedy loop is inherently sequential in k, but k is a small
    * constant and each step is a fully distributed join+window over the
    * |queries|·m candidate frame — no driver collect, no per-query
    * serialization. Candidates and their m² pairwise similarities are
    * computed ONCE and persisted; each step touches only those tiny
    * frames. At 100 TB the cost is the candidate generation (swap
    * [[Similarity.bruteForceTopK]] for the IVF index probe); the MMR loop
    * itself is queries×m-sized regardless of corpus size.
    *
    * Determinism: rel and sim are 4dp-rounded before any arithmetic;
    * step scores are λ·rel − (1−λ)·penalty in that exact operation order,
    * 6dp-rounded before the argmax; all argmaxes tie on vec_id.
    */
  def mmrSelect(
      embeddings: DataFrame,
      nQueries: Int,
      m: Int = 10,
      k: Int = 3,
      lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && m >= k, s"need m >= k >= 1, got m=$m k=$k")
    val rel = CacheRegistry.persist(Similarity.bruteForceTopK(
        embeddings, embeddings.filter(col("vec_id") < nQueries), m)
      .select(col("query_id"), col("vec_id"), col("cos_sim").as("__rel")))
    // pairwise sims within each query's candidate set: |Q|·m² rows, built
    // once — the loop below never touches an embedding again
    val withVec = rel.select("query_id", "vec_id")
      .join(embeddings.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val a = withVec.select(col("query_id"), col("vec_id").as("__va"),
      col("embedding").as("__ea"))
    val b = withVec.select(col("query_id"), col("vec_id").as("__vb"),
      col("embedding").as("__eb"))
    val pairSims = CacheRegistry.persist(a.join(b, Seq("query_id"))
      .filter(col("__va") =!= col("__vb"))
      .select(col("query_id"), col("__va"), col("__vb"),
        round(Similarity.cosine(col("__ea"), col("__eb")), 4).as("__sim")))

    // each greedy step needs only the per-query ARGMAX — a k=1
    // BoundedTopK aggregate finishes it map-side (one row per query per
    // partition through the wire) instead of a row_number window
    // sorting the whole remaining candidate frame every step. Same
    // total order (score desc, vec_id asc) → identical picks.
    var selected = Similarity
      .aggTopKBy(rel, "__rel", 1, Seq("query_id"), "__rn")
      .select(col("query_id"), col("vec_id"),
        round(lit(lambda) * col("__rel"), 6).as("mmr_score"),
        lit(1).as("mmr_rank"))
    for (step <- 2 to k) {
      val pen = pairSims
        .join(selected.select(col("query_id"), col("vec_id").as("__vb")),
          Seq("query_id", "__vb"))
        .groupBy(col("query_id"), col("__va").as("vec_id"))
        .agg(max(col("__sim")).as("__pen"))
      val remaining = rel.join(selected.select("query_id", "vec_id"),
        Seq("query_id", "vec_id"), "left_anti")
      val scoredStep = remaining.join(pen, Seq("query_id", "vec_id"))
        .select(col("query_id"), col("vec_id"),
          round(lit(lambda) * col("__rel") -
            lit(1.0 - lambda) * col("__pen"), 6).as("mmr_score"))
      val pick = Similarity
        .aggTopKBy(scoredStep, "mmr_score", 1, Seq("query_id"), "__rn")
        .select(col("query_id"), col("vec_id"), col("mmr_score"),
          lit(step).as("mmr_rank"))
      selected = selected.unionByName(pick)
    }
    selected
  }
}
