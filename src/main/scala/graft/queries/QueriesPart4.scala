package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, CacheRegistry, Cdc, Dedup, Eval, Events, Graph, HllStore, Index, Linkage, Multimodal, Pq, Quantiles, Sampling, Similarity, SketchStore, Sketches, TextAnalysis, Tfidf}
import QueryShared._

/** Query registry, part 4 of 4 (entries in the original
  * SparkEntry order — SparkEntry.queries concatenates the parts and
  * fails loudly on any duplicate key).
  */
private[graft] object QueriesPart4 {
  val m: Map[String, (SparkSession, String) => DataFrame] = Map(


    // the homogeneity-attack companion: classes with < l distinct values
    // of the sensitive column (account balance) leak it despite k rows
    "q_ldiversity" -> ((s, dir) =>
      operators.Pii.lDiversity(Tables.load(s, dir, "customer"),
          Seq("c_nationkey", "c_mktsegment"), "c_acctbal", l = 5)
        .orderBy("c_nationkey", "c_mktsegment")),

    // the distribution-skew attack BOTH k-anon and l-diversity miss: a
    // class 95%-concentrated on one sensitive value leaks it however
    // many distinct values it technically holds — per-class TVD vs the
    // global sensitive distribution, integer-exact cross products
    "q_tcloseness" -> ((s, dir) =>
      operators.Pii.tCloseness(Tables.load(s, dir, "documents"),
          Seq("lang"), "source", t = 0.15)
        .orderBy("lang")),

    // join-key skew profiler: the top-20 hottest user_ids with share and
    // mean-multiple skew ratio — the "do we need salting" diagnostic
    "q_skew_keys" -> ((s, dir) =>
      operators.Skew.keyProfile(
          Tables.load(s, dir, "events"), col("user_id"), topN = 20)
        .orderBy("rank")),

    // per-label centroid drift vs the corpus centroid: fixed-point
    // integer dim sums, scale-invariant cosine computed ON the sums
    "q_centroid_drift" -> ((s, dir) =>
      Similarity.centroidDrift(Tables.load(s, dir, "embeddings"), "label")
        .orderBy("label")),

    // functional-dependency audit: l_partkey does NOT determine
    // l_suppkey — every violating part with its distinct supplier count
    "q_fd_check" -> ((s, dir) =>
      operators.Stats.fdViolations(Tables.load(s, dir, "lineitem"),
          Seq("l_partkey"), "l_suppkey")
        .orderBy("l_partkey")),

    // Benford first-digit audit over extended prices — the fabricated-
    // data smell test (deviation per digit vs log10(1+1/d) literals)
    "q_benford" -> ((s, dir) =>
      operators.Stats.benford(
          Tables.load(s, dir, "lineitem"), "l_extendedprice")
        .orderBy("digit")),

    // chi-square independence of (lang, source): per-cell contributions
    // plus the decimal-summed statistic — no logs, fully replayable
    "q_chisq" -> ((s, dir) =>
      operators.Stats.chiSquare(
          Tables.load(s, dir, "documents"), "lang", "source")
        .orderBy("a", "b")),

    // one-way ANOVA F: does document length separate languages? —
    // decimal power sums, 6dp-quantized per-group terms (the chi_term
    // technique), one k-row finisher
    "q_anova" -> ((s, dir) =>
      operators.Stats.anovaF(
        Tables.load(s, dir, "documents"), "n_chars", "lang")),

    // the embedding-quality readout: F of the UNSUPERVISED pc1 axis
    // against the held labels — a near-zero F says the dominant
    // variance direction carries no label signal
    "q_anova_pc1" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      operators.Stats.anovaF(
        operators.Pca.pc1Scores(emb)
          .join(emb.select(col("vec_id"), col("label")), "vec_id"),
        "pc1_score", "label")
    }),

    // product quantization: m=4 × ksub=16 pseudo-codebooks, ADC
    // inner-product candidates from the broadcast lookup table (exact
    // fixed-point sums), exact cosine re-rank of the k·4 survivors
    "q_pq_topk" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Pq.pqTopK(emb, emb.filter(col("vec_id") < 5), k = 3,
          m = 4, ksub = 16, dim = 64, rerankFactor = 4)
        .orderBy("query_id", "rank")
    }),

    // IVFADC: PQ codes stored INSIDE the hive-partitioned IVF index,
    // probe = partition-pruned code scan + integer ADC + exact re-rank
    // of the k·4 survivors fetched by id — the production 100-TB ANN
    "q_ivf_pq" -> ((s, dir) => withTempStore("ivfpq") { tmp =>
      val emb = Tables.load(s, dir, "embeddings")
      val idx = tmp + "/index"
      Similarity.writeIvfPqIndex(emb, idx, numCentroids = 32,
        m = 4, ksub = 16, dim = 64)
      Similarity.ivfPqTopK(s, idx, emb.filter(col("vec_id") < 5), emb,
          k = 3, nprobe = 2, rerankFactor = 4, m = 4, dim = 64)
        .orderBy("query_id", "rank")
    }),

    // the FILTERED recall dial: the same nprobe sweep with both the
    // probe's code scan AND the brute-force truth restricted to the
    // predicate — the telemetry that sizes nprobe under a metadata
    // filter (a filter keeping 1/f of the corpus thins each probed
    // partition by ~f, so recall at fixed nprobe decays; this measures
    // exactly how much)
    "q_ivf_filtered_recall" -> ((s, dir) => withTempStore("ivffr") { tmp =>
      val emb = Tables.load(s, dir, "embeddings")
      val idx = tmp + "/index"
      Similarity.writeIvfPqIndex(emb, idx, numCentroids = 32,
        m = 4, ksub = 16, dim = 64)
      Similarity.ivfPqRecall(s, idx, emb.filter(col("vec_id") < 5), emb,
          k = 3, nprobes = Seq(1, 2, 4),
          predicate = Some(col("vec_id") % 3 === 1))
        .orderBy("nprobe")
    }),

    // FILTERED ANN: top-k among docs satisfying a metadata predicate
    // (vec_id % 3 == 1 as the stand-in) — the allowed set semi-joins
    // the partition-pruned code scan PRE-ADC, so the answer can never
    // be starved by post-filtering; must equal the unfiltered chain
    // over a corpus that never held the excluded vectors (frozen
    // codebooks stay corpus-wide — the tombstone semantics as a
    // query-time filter)
    "q_ivf_filtered" -> ((s, dir) => withTempStore("ivffilt") { tmp =>
      val emb = Tables.load(s, dir, "embeddings")
      val idx = tmp + "/index"
      Similarity.writeIvfPqIndex(emb, idx, numCentroids = 32,
        m = 4, ksub = 16, dim = 64)
      Similarity.ivfPqTopKFiltered(s, idx, emb.filter(col("vec_id") < 5),
          emb, col("vec_id") % 3 === 1,
          k = 3, nprobe = 2, rerankFactor = 4, m = 4, dim = 64)
        .orderBy("query_id", "rank")
    }),

    // residual IVFADC (Faiss by_residual=true — the TPAMI'11 original):
    // codes quantize x − centroid(x) in double, the probe adds the
    // fixed-point q·centroid base back — the same m·log₂ksub bits spend
    // their resolution on what IVF hasn't already explained
    "q_ivf_pq_res" -> ((s, dir) => withTempStore("ivfpqres") { tmp =>
      val emb = Tables.load(s, dir, "embeddings")
      val idx = tmp + "/index"
      Similarity.writeIvfPqIndex(emb, idx, numCentroids = 32,
        m = 4, ksub = 16, dim = 64, byResidual = true)
      Similarity.ivfPqTopK(s, idx, emb.filter(col("vec_id") < 5), emb,
          k = 3, nprobe = 2, rerankFactor = 4, m = 4, dim = 64)
        .orderBy("query_id", "rank")
    }),

    // IVFADC recall@k vs brute force per nprobe — the telemetry that
    // sizes the probe depth for a target recall before any 100-TB run
    "q_ivf_pq_recall" -> ((s, dir) => withTempStore("ivfpqr") { tmp =>
      val emb = Tables.load(s, dir, "embeddings")
      val idx = tmp + "/index"
      Similarity.writeIvfPqIndex(emb, idx, numCentroids = 32,
        m = 4, ksub = 16, dim = 64)
      Similarity.ivfPqRecall(s, idx, emb.filter(col("vec_id") < 5), emb,
        k = 3, nprobes = Seq(1, 2, 4), rerankFactor = 4, m = 4, dim = 64)
    }),

    // IVFADC maintenance, oracle-gated end-to-end: cold-build the index
    // over a SEED (which must carry the codebook-defining pseudo draw,
    // vec_id < numCentroids), appendIvfPq the held-out half against the
    // frozen sidecars, re-append the SAME batch with the producer-
    // duplicate guard (must be a no-op — a surviving duplicate would
    // double that vector's ADC sum and hash-mismatch), then probe. The
    // oracle replays the cold chain over the union: seed-then-append ≡
    // cold build is the operator's contract, so the cold replay IS its
    // truth
    // codebook staleness telemetry: seed the IVFADC index, then report
    // how an incoming batch lands under the FROZEN codebook — per-
    // centroid store mass vs batch mass vs 6dp-fixed-point mean
    // assignment cosine; the "rebuild the codebook now?" dashboard row
    "q_ivf_drift" -> ((s, dir) => withTempStore("ivfdrift") { tmp =>
      val emb = Tables.load(s, dir, "embeddings")
      val idx = tmp + "/index"
      val seed = emb.filter(col("vec_id") < 32 || col("vec_id") % 2 === 0)
      Similarity.writeIvfPqIndex(seed, idx, numCentroids = 32,
        m = 4, ksub = 16, dim = 64)
      Similarity.ivfDriftReport(s, idx,
          emb.filter(col("vec_id") >= 32 && col("vec_id") % 2 === 1))
        .orderBy("centroid_id")
    }),

    "q_ivf_pq_append" -> ((s, dir) => withTempStore("ivfpqapp") { tmp =>
      val emb = Tables.load(s, dir, "embeddings")
      val idx = tmp + "/index"
      val seed = emb.filter(col("vec_id") < 32 || col("vec_id") % 2 === 0)
      val batch = emb.filter(col("vec_id") >= 32 && col("vec_id") % 2 === 1)
      Similarity.writeIvfPqIndex(seed, idx, numCentroids = 32,
        m = 4, ksub = 16, dim = 64)
      Similarity.appendIvfPq(s, batch, idx)
      Similarity.appendIvfPq(s, batch, idx, dedupeIds = true)
      Similarity.ivfPqTopK(s, idx, emb.filter(col("vec_id") < 5), emb,
          k = 3, nprobe = 2, rerankFactor = 4, m = 4, dim = 64)
        .orderBy("query_id", "rank")
    }),

    // BPE merge training: 6 rounds of frequency-weighted pair argmax +
    // greedy merge application over the vocabulary's delimited symbol
    // strings — the tokenizer-vocabulary induction step, distributed
    "q_bpe" -> ((s, dir) =>
      Bpe.trainMerges(Tables.load(s, dir, "documents"), rounds = 6)),

    // tokenize the corpus under the 6-round BPE vocab: per-doc word and
    // subword counts via ONE vocabulary segmentation + a word join
    "q_bpe_tokens" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Bpe.tokenizeCorpus(docs, Bpe.trainMerges(docs, rounds = 6))
        .orderBy("doc_id")
    }),

    // DSIR importance resampling: keep probability ∝ the ratio of two
    // bigram-LM scores (target domain = 'de' docs vs the raw corpus),
    // executed through the md5-bucket membership — domain-targeted data
    // selection as one deterministic plan
    "q_dsir" -> ((s, dir) =>
      Sampling.dsirResample(Tables.load(s, dir, "documents"),
          col("lang") === "de", scale = 1.0)
        .orderBy("doc_id")),

    // PQ recall@k vs brute force per rerank factor — the code-probe
    // family's tuning dial next to q_ivf_recall's nprobe sweep
    "q_pq_recall" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Pq.pqRecall(emb, emb.filter(col("vec_id") < 5), k = 3,
        m = 4, ksub = 16, dim = 64, rerankFactors = Seq(1, 2, 4))
    }),

    // Lloyd's-TRAINED PQ codebooks (r10 verdict task 3): the pseudo
    // draw survives as deterministic init, two fixed-point k-means
    // iterations per subspace refine it (one distributed pass per
    // iteration over all m subspaces at once), then the standard ADC
    // chain probes with the trained book
    "q_pq_trained" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val cb = Pq.pqCodebooksTrained(emb, m = 4, ksub = 16, dim = 64, iters = 2)
      Pq.pqTopK(emb, emb.filter(col("vec_id") < 5), k = 3,
          m = 4, ksub = 16, dim = 64, rerankFactor = 4, codebooks = Some(cb))
        .orderBy("query_id", "rank")
    }),

    // CDC changelog apply (MERGE INTO): latest row-image per key wins,
    // deletes drop, untouched base keys pass through one anti-join.
    // Changelog synthesized from orders (unique seq = o_orderkey)
    "q_cdc_apply" -> ((s, dir) =>
      Cdc.applyChangelog(Tables.load(s, dir, "customer"),
          ordersChangelog(s, dir), "c_custkey", "seq",
          broadcastChangedKeys = true)
        .orderBy("c_custkey")),

    // SCD Type-2 history: every I/U change becomes a validity interval,
    // deletes close their predecessor — one window per key
    "q_scd2" -> ((s, dir) =>
      Cdc.scd2History(ordersChangelog(s, dir), "c_custkey", "seq")
        .orderBy("c_custkey", "valid_from")),

    // CDC capture (the inverse): diff base vs merged snapshot back into
    // I/U/D row images — one null-safe full-outer join
    "q_cdc_diff" -> ((s, dir) => {
      val base = Tables.load(s, dir, "customer")
      val merged = Cdc.applyChangelog(base, ordersChangelog(s, dir),
        "c_custkey", "seq", broadcastChangedKeys = true)
      Cdc.snapshotDiff(base, merged, "c_custkey").orderBy("c_custkey")
    }),

    // incremental aggregate maintenance: base agg + changelog delta,
    // never a base rescan; the oracle aggregates the merged snapshot
    // from scratch, so the hash match proves the maintenance identity
    "q_incr_agg" -> ((s, dir) =>
      Cdc.incrementalAgg(Tables.load(s, dir, "customer"),
          ordersChangelog(s, dir), "c_custkey", "seq",
          groupCol = "c_mktsegment", valueCol = "c_acctbal",
          broadcastChangedKeys = true)
        .orderBy("c_mktsegment")),

    // blocked record linkage: within-nation candidate pairs scored by
    // weighted field-agreement rules, tiered match/possible
    "q_linkage" -> ((s, dir) => {
      import Linkage.LinkRule
      val rules = Seq(
        LinkRule("same_segment", 2.0,
          (a, b) => a("c_mktsegment") === b("c_mktsegment")),
        LinkRule("close_balance", 2.5,
          (a, b) => abs(a("c_acctbal") - b("c_acctbal")) < lit(50.0)),
        LinkRule("name_suffix", 1.5,
          (a, b) => substring(a("c_name"), -2, 2) === substring(b("c_name"), -2, 2)))
      // broadcastSide: 25 nations would cap a shuffled self-join at 25
      // busy tasks; the broadcast join parallelizes over the scan.
      // The persist under the sort is an exchange barrier (r20 profile):
      // `orderBy` plans a range exchange whose partitioner SAMPLES its
      // child RDD before the real pass, so a map-heavy tail with no
      // exchange of its own (broadcast-join pair scoring, within-cluster
      // similarity joins) executes twice per action — stage-profiled on
      // q_fuzzy_pairs/q_semantic_dedup as two same-shape stages of equal
      // CPU. A `repartition` does NOT survive: the optimizer elides a
      // user shuffle directly under a global sort. Persisting the
      // ANSWER-SIZED result lets the sampler's pass fill the cache and
      // the sort's real pass read it back; row set and order are
      // unchanged, and the registry releases it after the query.
      CacheRegistry.persist(Linkage.linkPairs(Tables.load(s, dir, "customer"),
          "c_custkey", "c_nationkey", rules,
          matchAt = 4.5, possibleAt = 3.5, broadcastSide = true))
        .orderBy("id_a", "id_b")
    }),

    // continuous-similarity linkage: the native codegen'd Jaro-Winkler
    // over brand-blocked part names, 4dp-rounded before the cut — gated
    // against the oracle engine's own jaro_winkler_similarity.
    // broadcastSide: 25 brand blocks would serialize the quadratic
    // scoring on 25 reducers; broadcasting the capped record slim lets
    // the row-partitioned scan side use every core; persisted under the
    // sort as q_linkage's exchange barrier
    "q_fuzzy_pairs" -> ((s, dir) =>
      CacheRegistry.persist(Linkage.fuzzyPairs(Tables.load(s, dir, "part"),
          "p_partkey", "p_brand", "p_name", threshold = 0.9,
          broadcastSide = true))
        .orderBy("id_a", "id_b")),

    // hop-bounded weighted shortest paths over the span graph: cheapest
    // total span-weight route from the seed set within 4 edges — the
    // weighted sibling of q_bfs (first arrival is not cheapest under
    // weights, so improved nodes re-enter the frontier)
    "q_sssp" -> ((s, dir) => {
      val seeds = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("node"))
        .filter(col("node") % 10 === 0)
      Graph.ssspCosts(spanEdges(s, dir), seeds, maxRounds = 4)
        .orderBy("node")
    }),

    // sorted-neighborhood (merge/purge) linkage: rank by (p_name, key),
    // score each record against the 7 that follow — fixed n·(w−1)
    // candidates whatever the value distribution, the complement of
    // q_fuzzy_pairs' blocking. Global rank = range partitions + offsets
    "q_snm_pairs" -> ((s, dir) =>
      // NO exchange barrier here (measured r20): SNM's scoring tail is already
      // behind its own rank/offset exchanges and persists, so the
      // barrier's cache fill only added cost (A/B: 12.0 -> 12.6 cpu-s)
      Linkage.sortedNeighborhoodPairs(Tables.load(s, dir, "part"),
          "p_partkey", "p_name", "p_name", window = 8, threshold = 0.9)
        .orderBy("id_a", "id_b")),

    // PageRank centrality over the duplication-link graph (docs sharing
    // a span fingerprint): the high-rank nodes are the boilerplate hubs.
    // Fixed-point contributions make the iteration engine-exact
    "q_pagerank" -> ((s, dir) =>
      Graph.pageRank(spanEdges(s, dir).select("src", "dst"), iters = 3)
        .orderBy("node")),

    // weighted variant: mass splits ∝ shared-span count, so the heavy
    // duplicators concentrate rank — same fixed-point engine-exact loop
    "q_pagerank_w" -> ((s, dir) =>
      Graph.pageRank(spanEdges(s, dir), iters = 3, weightCol = Some("w"))
        .orderBy("node")),

    // personalized PageRank: restart to the even-id seed docs — rank =
    // proximity to the seed set through the duplication graph, the
    // contamination-expansion tool (seed known-bad docs, read off the
    // copies their family reaches)
    "q_ppr" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val edges = spanEdges(s, dir).select("src", "dst")
      Graph.personalizedPageRank(edges,
          docs.filter(col("doc_id") % 2 === 0).select(col("doc_id").as("node")),
          iters = 3)
        .orderBy("node")
    }),

    // HyperANF neighborhood function over the span-duplication graph:
    // per-node h-hop reach estimates from propagated HLL registers —
    // the scalable radius/centrality telemetry (one edge join + grouped
    // max per hop; registers replay bit-for-bit in the oracle)
    "q_hyperanf" -> ((s, dir) =>
      Graph.neighborhoodFunction(spanEdges(s, dir).select("src", "dst"),
          maxHops = 3, p = 8)
        .orderBy("h", "node")),

    // exactly-once triangle enumeration by (deg, id) orientation over
    // the span-duplication graph: per-node clique participation — high
    // counts mark densely cross-copied template families
    "q_triangles" -> ((s, dir) =>
      Graph.triangleCounts(spanEdges(s, dir).select("src", "dst"))
        .orderBy("node")),

    // one-row closure telemetry: wedges Σ C(deg,2), triangles, global
    // clustering 3T/wedges — chains-vs-cliques before choosing the CC
    // contraction strategy
    "q_triangle_stats" -> ((s, dir) =>
      Graph.triangleStats(spanEdges(s, dir).select("src", "dst"))),

    // incremental triangle maintenance: per-node triangles CREATED by
    // appending the (src+dst)%3==0 edge batch to the rest — work ∝ the
    // batch, never the accumulated graph (the appendIvfPq asymmetry)
    "q_triangle_delta" -> ((s, dir) => {
      val edges = spanEdges(s, dir).select("src", "dst")
      val old = edges.filter((col("src") + col("dst")) % 3 =!= 0)
      val batch = edges.filter((col("src") + col("dst")) % 3 === 0)
      Graph.triangleDelta(old, batch).orderBy("node")
    }),

    // 2-core of the duplication graph: template FAMILIES (cycles,
    // cliques) survive the peel, incidental pairwise matches (trees)
    // peel away — iterated to the unique fixpoint
    "q_kcore" -> ((s, dir) =>
      Graph.kCore(spanEdges(s, dir).select("src", "dst"), k = 2)
        .orderBy("node")),

    // synchronous label-propagation communities (min-label ties, fixed
    // rounds — fully integer, so the rounds unroll into an exact
    // replay): denser substructure than CC, coarser than k-core
    "q_lpa" -> ((s, dir) =>
      Graph.labelPropagation(spanEdges(s, dir).select("src", "dst"), iters = 3)
        .orderBy("node")),

    // multi-source BFS levels from every-10th doc: the discrete
    // "how many copy-hops from a known-bad document" audit — exact
    // integer distances, frontier-driven rounds
    "q_bfs" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Graph.bfsLevels(spanEdges(s, dir).select("src", "dst"),
          docs.filter(col("doc_id") % 10 === 0)
            .select(col("doc_id").as("node")),
          maxDepth = 4)
        .orderBy("node")
    }),

    // SemDeDup-style semantic dedup: k-means clusters → within-cluster
    // cosine prune → keep the lowest-id representative. Threshold 0.4
    // because the synthetic corpus has no true embedding dups (max cos
    // ≈ 0.48) — the plumbing is exercised with non-empty drops.
    // k=16/iters=1: SemDeDup needs only a rough partition of the space —
    // more clusters mean a more parallel (and smaller) pair join, and one
    // training round halves the driver-synced k-means jobs; persisted
    // under the sort as q_linkage's exchange barrier
    "q_semantic_dedup" -> ((s, dir) =>
      CacheRegistry.persist(Similarity.semanticDedup(
          Tables.load(s, dir, "embeddings"), k = 16, iters = 1, threshold = 0.4))
        .orderBy("vec_id")),

    // centroid-distance outliers: vectors whose rounded cosine to their
    // assigned trained centroid sits under the cut — SemDeDup's inverse
    // (too FAR from everything, not too close to a neighbor)
    "q_embed_outliers" -> ((s, dir) =>
      Similarity.embedOutliers(Tables.load(s, dir, "embeddings"),
          k = 8, iters = 2, minCos = 0.1,
          codebook = Some(trainedCodebook8(s, dir)))
        .orderBy("vec_id")),

    // deterministic k-means training summary (codebook arrays summarized
    // by their first four components — driver can't hash arrays)
    // embedding isotropy: mean pairwise cosine over all n(n−1) pairs
    // WITHOUT the pair join — the sum-vector identity ‖Σv̂‖² − Σ‖v̂‖²,
    // one pass, d-row state (the anisotropy / narrow-cone QA readout)
    "q_isotropy" -> ((s, dir) =>
      operators.Pca.isotropy(Tables.load(s, dir, "embeddings"))),

    // per-label cohesion: within-label vs cross-label mean cosine, both
    // from the grouped sum-vector identity — no pair join, labels × d
    // state (the one-pass exact cousin of a silhouette)
    "q_label_cohesion" -> ((s, dir) =>
      operators.Pca.labelCohesion(Tables.load(s, dir, "embeddings"))
        .orderBy("label")),

    // exact embedding covariance (upper triangle): integer Gram sums
    // via the chained-generator hash agg — the shuffle carries ≤ d²
    // cells per partition, never corpus rows
    "q_pca_cov" -> ((s, dir) =>
      operators.Pca.covarianceMatrix(Tables.load(s, dir, "embeddings"))
        .orderBy("i", "j")),

    // dominant principal component by the FIXED 8-round power spec from
    // e0 — integer matrix-applies on the answer-sized covariance, two
    // pinned double ops per round; the oracle replays the identical
    // arithmetic as a recursive CTE
    "q_pca_power" -> ((s, dir) =>
      operators.Pca.dominantComponent(Tables.load(s, dir, "embeddings"))
        .orderBy("pos")),

    // top-2 principal subspace via Hotelling deflation on the quantized
    // grid — every deflated cell is one pinned double expression, so
    // the SECOND component replays in the oracle too
    "q_pca2" -> ((s, dir) =>
      operators.Pca.topComponents(Tables.load(s, dir, "embeddings"), r = 2)
        .orderBy("component", "pos")),

    // per-vector projection onto pc1: broadcast d-row eigenvector join
    // + grouped exact decimal sum — the 1-D corpus embedding
    "q_pca_scores" -> ((s, dir) =>
      operators.Pca.pc1Scores(Tables.load(s, dir, "embeddings"))
        .orderBy("vec_id")),

    "q_kmeans" -> ((s, dir) => {
      val cb = trainedCodebook8(s, dir)
      cb.select(
        col("centroid_id"), col("n_assigned"),
        element_at(col("embedding"), 1).cast("double").as("c0"),
        element_at(col("embedding"), 2).cast("double").as("c1"),
        element_at(col("embedding"), 3).cast("double").as("c2"),
        element_at(col("embedding"), 4).cast("double").as("c3"))
        .orderBy("centroid_id")
    }),

    // int8 scalar quantization summary (full code array summarized by its
    // exact integer sum + first four codes — driver can't hash arrays)
    "q_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(Tables.load(s, dir, "embeddings"))
        .orderBy("vec_id")),

    "q_mm_meta" -> ((s, dir) =>
      Multimodal.withPayload(Tables.load(s, dir, "documents"))
        .select("doc_id", "payload_bytes", "width", "height", "frames")
        .orderBy("doc_id")),

    "q_mm_features" -> ((s, dir) => {
      // REAL round trip: synthesize a conformant PPM/BMP/WAV file per doc,
      // then sniff + decode the binary column and emit typed features. The
      // oracle recomputes the expected features in closed form from the
      // generation parameters, so any header/padding/byte-order bug in the
      // codec breaks the hash. Exact integer channel sums only — no floats
      // in the gated projection (cross-engine determinism).
      val media = Multimodal.synthesizeMedia(s, Tables.load(s, dir, "documents"))
      Multimodal.decodeFeatures(s, media).orderBy("doc_id")
    }),

    // video path: synthesize a concatenated-P6 frame stream per doc, decode
    // frame-at-a-time, keep every 2nd frame, exact channel sums over the
    // KEPT frames — gates the stream-walking offsets and the stride logic
    "q_mm_frames" -> ((s, dir) => {
      val media = Multimodal.synthesizeFrameStreams(s, Tables.load(s, dir, "documents"))
      Multimodal.frameFeatures(s, media, stride = 2).orderBy("doc_id")
    }),

    // thumbnail path: decode the mixed PPM/BMP/WAV corpus, nearest-neighbor
    // resize images to 8x8, channel sums of the RESIZED pixels (gates the
    // floor(x'*W/W') index math); audio rows are skipped
    "q_mm_resize" -> ((s, dir) => {
      val media = Multimodal.synthesizeMedia(s, Tables.load(s, dir, "documents"))
      Multimodal.resizeFeatures(s, media, outW = 8, outH = 8).orderBy("doc_id")
    }),

    // perceptual average-hash over DECODED thumbnails: 64-bit integer
    // above-mean fingerprint, MSB-first — the image SimHash
    "q_mm_phash" -> ((s, dir) => {
      val media = Multimodal.synthesizeMedia(s, Tables.load(s, dir, "documents"))
      Multimodal.imageAHash(s, media).orderBy("doc_id")
    }),

    // banded near-dup blocking over those fingerprints: 4×16-bit bands
    // (hamming ≤ 3 < 4 bands → pigeonhole-exact among un-capped
    // buckets), bucket cap 64 drops degenerate-thumbnail junk from
    // candidate generation, exact xor+bit_count verify
    "q_mm_phash_pairs" -> ((s, dir) => {
      val media = Multimodal.synthesizeMedia(s, Tables.load(s, dir, "documents"))
      Multimodal.aHashPairs(Multimodal.imageAHash(s, media),
          maxHamming = 3, bands = 4, maxBucket = 64)
        .orderBy("id_a", "id_b")
    }),

    // end-to-end visual canonicalization: phash pairs → connected
    // components → lowest-id representative per family (the q_dedup_
    // clusters machinery riding the image near-dup graph unchanged)
    "q_mm_phash_clusters" -> ((s, dir) => {
      val media = Multimodal.synthesizeMedia(s, Tables.load(s, dir, "documents"))
      val hashes = Multimodal.imageAHash(s, media)
      val pairs = Multimodal.aHashPairs(hashes, maxHamming = 3, bands = 4,
          maxBucket = 64)
        .select(col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"))
      Dedup.dedupClusters(hashes.select("doc_id"), pairs).orderBy("doc_id")
    }),

    // the WAV twin: 64-window interleaved energy signature from decoded
    // RIFF bytes — the FFT-free spectral envelope fingerprint
    "q_mm_audiohash" -> ((s, dir) => {
      val media = Multimodal.synthesizeMedia(s, Tables.load(s, dir, "documents"))
      Multimodal.audioEnergyHash(s, media).orderBy("doc_id")
    }),

    // same banding contract over the audio hashes (hash-agnostic)
    "q_mm_audiohash_pairs" -> ((s, dir) => {
      val media = Multimodal.synthesizeMedia(s, Tables.load(s, dir, "documents"))
      Multimodal.aHashPairs(Multimodal.audioEnergyHash(s, media),
          maxHamming = 3, bands = 4, maxBucket = 64, hashCol = "ehash")
        .orderBy("id_a", "id_b")
    })
  )
}
