package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, CacheRegistry, Cdc, Dedup, Eval, Events, Graph, HllStore, Index, Linkage, Multimodal, Pq, Quantiles, Sampling, Similarity, SketchStore, Sketches, TextAnalysis, Tfidf}
import QueryShared._

/** Query registry, part 2 of 4 (entries in the original
  * SparkEntry order — SparkEntry.queries concatenates the parts and
  * fails loudly on any duplicate key).
  */
private[graft] object QueriesPart2 {
  val m: Map[String, (SparkSession, String) => DataFrame] = Map(


    // BM25-style keyword relevance (rational idf — see keywordScores doc)
    "q_keyword_scores" -> ((s, dir) =>
      TextAnalysis.keywordScores(Tables.load(s, dir, "documents"),
          Seq("spark", "data", "table"))
        .orderBy("doc_id")),

    // corpus vocabulary: global top-k tokens by occurrence (ties on token)
    "q_vocab_topk" -> ((s, dir) =>
      TextAnalysis.vocabTopK(Tables.load(s, dir, "documents"), 100)
        .orderBy(col("occurrences").desc, col("token"))),

    // rendezvous (HRW) shard routing: argmax of 16 per-shard md5 scores
    // — zero-shuffle map-side assignment; growing the shard count moves
    // only the new shard's winners (the consistent-routing law)
    "q_rendezvous" -> ((s, dir) =>
      Sampling.rendezvousShard(Tables.load(s, dir, "documents"), "doc_id", 16)
        .select("doc_id", "shard").orderBy("doc_id")),

    // deterministic hash-bucket train/val/test assignment (md5-replayable)
    "q_split" -> ((s, dir) =>
      Sampling.deterministicSplit(Tables.load(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split").orderBy("doc_id")),

    // the pairs-only leakage fix (vs q_split_leakage's CC report and
    // q_cluster_split's family-hash reassignment): every non-train doc
    // with a near-dup partner quarantines to train — one pass, closed
    // (all pair endpoints end in train), no CC job needed, and eval
    // sets come out near-dup-FREE; pairs from the proven portable
    // MinHash path at the q_minhash_neardup geometry
    "q_split_quarantine" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Sampling.leakageSafeSplit(docs,
          Dedup.minHashNearDupPortable(docs, numHashes = 16, bands = 4,
            shingleSize = 3, threshold = 0.5),
          "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split_raw"), col("n_dup_partners"),
          col("moved"), col("split"))
        .orderBy("doc_id")
    }),

    // curriculum data order: length-band stages easy→hard (bounded:
    // n_chars ≤ ~600 in this corpus → ≤ 7 stages; curricula are coarse
    // by contract), epoch-key shuffle within each stage, contiguous
    // global rank from the grouped two-level prefix scan
    "q_curriculum" -> ((s, dir) =>
      Sampling.curriculumOrder(
          Tables.load(s, dir, "documents")
            .withColumn("stage", expr("n_chars div 100")),
          "stage", seed = 3L)
        .select("doc_id", "stage", "shuffle_key", "curriculum_rank")
        .orderBy("doc_id")),

    // reproducible training-order shuffle: md5 sort key + contiguous
    // global rank from the two-level prefix scan
    "q_shuffle" -> ((s, dir) =>
      Sampling.deterministicShuffle(Tables.load(s, dir, "documents"),
          "doc_id", seed = 7L)
        .select("doc_id", "shuffle_key", "shuffle_rank")
        .orderBy("shuffle_rank")),

    // reproducible ~10k-token subset drawn in shuffle order
    "q_token_budget" -> ((s, dir) =>
      Sampling.tokenBudgetSample(Tables.load(s, dir, "documents"),
          budgetTokens = 10000L, seed = 5L)
        .select("doc_id", "token_offset", "n_tokens")
        .orderBy("token_offset", "doc_id")),

    // sliding-window chunking: 64-token windows, 16-token overlap
    "q_chunks" -> ((s, dir) =>
      TextAnalysis.chunkDocuments(Tables.load(s, dir, "documents"), 64, 16)
        .orderBy("doc_id", "chunk_id")),

    // ---- fixed-memory sketches (Sketches.scala) ----

    // incremental-ingest dedup: Bloom pre-filter (codegen'd bitset probe,
    // no shuffle for definitely-new rows) + exact anti-join verify on the
    // Bloom-positive candidates. History = doc_id % 3 == 0; key = md5 of
    // the normalized text. maybe_seen exposes the Bloom verdict so the
    // oracle replays the bit math, is_new is the exact verdict.
    "q_incr_dedup" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Sketches.incrementalDedupDocs(
          docs.filter(col("doc_id") % 3 =!= 0),
          docs.filter(col("doc_id") % 3 === 0),
          mBits = 1 << 14, k = 5)
        .select("doc_id", "maybe_seen", "is_new").orderBy("doc_id")
    }),

    // count-min sketch: 4×4096 counter table built in one pass, probed
    // with the exact top-10 tokens so the oracle shows est vs truth
    // (est only ever over-counts)
    "q_cms_topk" -> ((s, dir) =>
      Sketches.cmsTokenTopK(Tables.load(s, dir, "documents"),
          depth = 4, width = 1 << 12, topK = 10)
        .orderBy(col("occurrences").desc, col("token"))),

    // EXACT heavy hitters via the Misra–Gries candidate pass: keys with
    // frequency ≥ 20% of the stream, recounted exactly — the oracle is
    // the plain GROUP BY/HAVING the two-pass plan avoids running over
    // the full key universe
    "q_heavy_hitters" -> ((s, dir) =>
      Sketches.heavyHitters(Tables.load(s, dir, "events"),
          "event_type", minFrac = 0.2)
        .orderBy("event_type")),

    // distinct-count heavy hitters (superspreaders): top-10 users by
    // count(DISTINCT value) — grouped-HLL candidate pass (bounded
    // map-side state), exact recount of candidates only, 3σ-margin
    // certificate; candidates=2048 covers every key at sf (the
    // distribution is flat — no certified cut below full coverage)
    "q_superspreaders" -> ((s, dir) =>
      Sketches.superSpreaders(Tables.load(s, dir, "events"),
          "user_id", "value", k = 10, candidates = 2048)
        .orderBy("rank")),

    // EXACT top-k most-frequent with a runtime certificate (the k-th
    // recounted count must clear the MG absence budget n/(k+1), so no
    // non-candidate can outrank the cut) — the exact-regime twin of
    // q_cms_topk's estimates
    "q_topk_tokens" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val toks = docs.select(
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      Sketches.topKFrequent(toks, "token", topK = 10, k = 512)
        .orderBy("rank")
    }),

    // per-group certified top-k: each language's 5 most frequent tokens
    // exactly, candidates joined back (no driver collect), the ranking
    // window over the candidate table only (≤ groups×k rows)
    "q_topk_by_lang" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val toks = docs.select(col("lang"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      Sketches.topKFrequentBy(toks, "token", Seq("lang"), topK = 5, k = 512)
        .orderBy("lang", "rank")
    }),

    // the grouped shape — per-language heavy tokens with NO driver
    // collect: candidate arrays explode into a (group, hash) table that
    // broadcast-joins back, so the recount touches candidate rows only.
    // The n-gram/vocabulary use case this family exists for
    "q_heavy_tokens" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val toks = docs.select(col("lang"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      Sketches.heavyHittersBy(toks, "token", Seq("lang"), minFrac = 0.02)
        .orderBy("lang", "token")
    }),

    // absolute-threshold twin under REAL eviction pressure: 96 counters
    // vs 100+ distinct suppliers, so the sketch must shed light keys
    // while everything at or above minCount — just clear of the
    // n/(k+1) error budget (618.6 at sf0.01) — survives the recount.
    // minCount derives from the row count (1.05% of n = 630 at sf0.01)
    // so the budget arithmetic is scale-invariant and the same k holds
    // at every bench SF
    "q_heavy_supp" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val minCount = math.ceil(0.0105 * li.count()).toLong
      Sketches.heavyHittersAbs(li, "l_suppkey", minCount, k = 96)
        .orderBy("l_suppkey")
    }),

    // HyperLogLog (p=10, 1024 registers) over (doc_id, token) incidence
    // pairs — posting-list cardinality from a fixed-size register table,
    // with the exact count alongside for the error story
    "q_hll_distinct" -> ((s, dir) =>
      Sketches.hllTokenIncidence(Tables.load(s, dir, "documents"), p = 10)),

    // shard-merge driven end to end: per-source sketches merged by
    // per-index max must equal the single-pass sketch (the oracle
    // computes the single-pass side, so the hash gates the identity)
    "q_hll_merge" -> ((s, dir) =>
      Sketches.hllTokenIncidenceSharded(
        Tables.load(s, dir, "documents"), "source", p = 10)),

    // the grouped-sketch path: one register set + estimate per language,
    // same calibration and bit-replay as the global q_hll_distinct
    "q_hll_by_lang" -> ((s, dir) =>
      Sketches.hllTokenIncidenceBy(Tables.load(s, dir, "documents"),
          "lang", p = 10)
        .orderBy("lang")),

    // KMV set-operation sketch: per-source k-minimum shingle hashes →
    // pairwise Jaccard/overlap estimates between sources — the sketch
    // family's answer to "how much do two crawls share?" without an
    // exact cross-source join (q_cross_dup is the exact twin). k=64 so
    // the estimator regime (not the exact small-set regime) is gated.
    "q_kmv_overlap" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val items = docs
        .select(col("source"), TextAnalysis.tokens(col("text")).as("__toks"))
        .select(col("source"), Dedup.shinglesFromTokens(col("__toks"), 3).as("__sh"))
        .select(col("source"), explode_outer(col("__sh")).as("item"))
        .filter(col("item").isNotNull) // Dedup.safeExplodeNote
      val sketch = Sketches.kmvSketch(items, "item", Seq("source"), k = 64)
      Sketches.kmvPairOverlap(sketch, "source", k = 64)
        .orderBy("group_a", "group_b")
    }),

    // KMV distinct estimates per source from the same sketch, exact
    // (k−1)·2⁶⁰/h_k arithmetic — HLL's estimate without registers, and
    // the per-group base the overlap estimator composes from
    "q_kmv_distinct" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val items = docs
        .select(col("source"), TextAnalysis.tokens(col("text")).as("__toks"))
        .select(col("source"), Dedup.shinglesFromTokens(col("__toks"), 3).as("__sh"))
        .select(col("source"), explode_outer(col("__sh")).as("item"))
        .filter(col("item").isNotNull) // Dedup.safeExplodeNote
      val sketch = Sketches.kmvSketch(items, "item", Seq("source"), k = 64)
      Sketches.kmvDistinctEstimate(sketch, 64, Seq("source"))
        .orderBy("source")
    }),

    // the FULL LSH candidate path (signature → banding → pair-gen →
    // estimate) on the md5-portable family, so DuckDB replays every step
    // (r4 verdict task 1). The xxhash64 default (Dedup.minHashNearDup)
    // stays the in-engine fast path, pinned by OperatorsSpec recall and
    // banding-equivalence specs; benching both hash families would be
    // ballast (r4 verdict nit 4 — same reason q_simhash was retired from
    // the suite in favor of q_simhash_md5).
    "q_minhash_neardup" -> ((s, dir) =>
      Dedup.minHashNearDupPortable(Tables.load(s, dir, "documents"), threshold = 0.5)
        .orderBy("doc_id_a", "doc_id_b")),

    // LSH near-dup maintenance, oracle-gated end-to-end — the text twin
    // of q_ivf_pq_append: cold-build the persisted band-bucket store
    // over the even half, append the odd half under the frozen sidecar
    // geometry, re-append the SAME batch behind the producer-duplicate
    // guard (must be a no-op — a surviving duplicate would list its id
    // twice per bucket and the pair expansion would emit self-pairs at
    // est 1.0 → hash mismatch), then read the full pair set back from
    // buckets + signatures, never text. Signatures are pure per-row
    // functions of the doc, so seed-then-append ≡ cold rebuild over the
    // union: the oracle replays the cold chain over the WHOLE documents
    // table and IS the operator's truth. The probe (delta) path is
    // pinned exactly by LshIndexSpec.
    "q_lsh_append" -> ((s, dir) => withTempStore("lshapp") { tmp =>
      val docs = Tables.load(s, dir, "documents")
      val idx = tmp + "/index"
      graft.operators.LshIndex.write(docs.filter(col("doc_id") % 2 === 0), idx)
      val batch = docs.filter(col("doc_id") % 2 === 1)
      graft.operators.LshIndex.append(s, batch, idx)
      graft.operators.LshIndex.append(s, batch, idx, dedupeIds = true)
      graft.operators.LshIndex.lshPairs(s, idx, threshold = 0.5)
        .orderBy("doc_id_a", "doc_id_b")
    }),

    // banding-recall telemetry: LSH-flagged pairs vs the exact >=0.5
    // jaccard truth — the report a user reads to size bands/hashes, and a
    // regression pin on the banding quality itself
    "q_lsh_recall" -> ((s, dir) =>
      Dedup.lshRecall(Tables.load(s, dir, "documents"), threshold = 0.5)),

    // engine-portable signature variant: md5-derived token hash, so the
    // full bit pattern is DuckDB-replayable (q_simhash itself is xxhash64
    // → rows-only)
    "q_simhash_md5" -> ((s, dir) =>
      Dedup.simHashTablePortable(Tables.load(s, dir, "documents")).orderBy("doc_id")),

    "q_minhash_md5" -> ((s, dir) =>
      Dedup.minHashSignaturesPortable(Tables.load(s, dir, "documents"),
        numHashes = 8, shingleSize = 3).orderBy("doc_id")),

    "q_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"), threshold = 0.8)
        .orderBy("doc_id_a", "doc_id_b")),

    // pairs → decisions: connected components over the near-dup graph
    // (the trio shares the memoized dedupLabels substrate — one CC pass
    // per suite process, three derived reports)
    "q_dedup_clusters" -> ((s, dir) =>
      dedupLabels(s, dir).orderBy("doc_id")),

    // eval-contamination audit: near-dup families split across
    // train/val/test by the doc-id-keyed split — each leaked family is
    // a test answer visible from train (rides the memoized CC labels)
    "q_split_leakage" -> ((s, dir) =>
      operators.Sampling.splitLeakage(
          dedupLabels(s, dir),
          Sampling.deterministicSplit(Tables.load(s, dir, "documents"),
              "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
            .select("doc_id", "split"))
        .orderBy("canonical_id")),

    // the leakage FIX: split assignment keyed by the cluster label, so
    // a near-dup family moves as one unit (zero leakage by construction)
    "q_cluster_split" -> ((s, dir) =>
      Sampling.deterministicSplit(dedupLabels(s, dir), "canonical_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split").orderBy("doc_id")),

    // dedup impact BY SOURCE: which crawls contribute the duplicates?
    // a doc is a duplicate iff it is not its family's canonical — one
    // join of the memoized CC labels to the source column, one grouped
    // count (the budget view: dedup spend follows dup_rate, per source)
    "q_dup_rate_by_source" -> ((s, dir) =>
      dedupLabels(s, dir)
        .join(Tables.load(s, dir, "documents").select("doc_id", "source"),
          "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") =!= col("canonical_id"), 1L).otherwise(0L))
            .as("n_dups"))
        .withColumn("dup_rate",
          round(col("n_dups").cast("double") / col("n_docs"), 6))
        .orderBy("source")),

    // per-source dataset card: volume, language spread, mean quality
    // signals, near-dup contamination — the documentation table a
    // corpus release ships, riding the memoized CC labels
    "q_datasheet" -> ((s, dir) =>
      TextAnalysis.datasheet(Tables.load(s, dir, "documents"),
          dedupLabels(s, dir))
        .orderBy("source")),

    // dedup impact report: how big are the duplicate families? two
    // bounded aggregates over the cluster labeling
    "q_cluster_sizes" -> ((s, dir) =>
      dedupLabels(s, dir)
        .groupBy("canonical_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")),

    // cross-source duplication matrix: distinct span fingerprints shared
    // per source pair — whole-doc dups stay within a dump, boilerplate
    // crosses crawls at the span level (the overlap forensic that sizes
    // dedup budgets)
    "q_cross_dup" -> ((s, dir) =>
      Dedup.crossSourceDuplication(Tables.load(s, dir, "documents"))
        .orderBy("source_a", "source_b")),

    // quality-aware canonical selection: keep each cluster's cleanest
    // member (argmax alpha_ratio, n_chars; tie -> lowest id), not its
    // lowest id — the curation refinement over q_dedup_clusters
    "q_dedup_best" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.dedupRepresentativesFromLabels(docs, dedupLabels(s, dir))
        .orderBy("doc_id")
    }),

    // large-star/small-star contraction on a CHAIN-shaped pair graph:
    // consecutive doc_ids within each normalized-text dup group, i.e.
    // deliberately DEEP components — the O(diameter)-round worst case for
    // min-label propagation and exactly the shape the O(log² n) star
    // rounds exist for. The oracle needs no recursion: a chain's closure
    // is its group, so canonical_id must equal the group min — which is
    // precisely what the CC must reproduce by multi-round contraction.
    "q_cc_star" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val keyed = docs.select(col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("__k"))
      val w = Window.partitionBy("__k").orderBy("doc_id")
      val chainPairs = keyed
        .withColumn("__prev", lag("doc_id", 1).over(w))
        .filter(col("__prev").isNotNull)
        .select(col("__prev").as("doc_id_a"), col("doc_id").as("doc_id_b"))
      Dedup.dedupClustersStar(docs, chainPairs)
        .orderBy("doc_id")
    }),

    // Z-order (Morton) layout key over two join/filter dimensions — the
    // data-layout primitive behind multi-dimensional file skipping; pure
    // codegen bit arithmetic, verified bit-for-bit by the oracle
    "q_zorder" -> ((s, dir) =>
      graft.operators.Layout.withZOrderKey(
          Tables.load(s, dir, "lineitem"), "l_partkey", "l_suppkey")
        .select("l_orderkey", "l_linenumber", "z_key")
        .orderBy("z_key", "l_orderkey", "l_linenumber")),

    // storage maintenance, gated: shatter the documents table into 16
    // files, compact to 2 range-sorted files, and return the read-back
    // rows PLUS the two claims the operator makes — the output file
    // count (n_files, oracle pins 2) and zero within-file sort
    // violations (disorder, oracle pins 0). Rows, schema and hash prove
    // compaction is content-preserving; the literals prove the layout.
    "q_compact" -> ((s, dir) => withTempStore("q-compact") { tmp =>
      Tables.load(s, dir, "documents")
        .repartition(16).write.mode("overwrite").parquet(s"$tmp/shattered")
      graft.ParquetIO.compact(s, s"$tmp/shattered", s"$tmp/compacted",
        sortCols = Seq("doc_id"), numFiles = 2)
      val back = s.read.parquet(s"$tmp/compacted")
      // PHYSICAL row order per file via the parquet _metadata column —
      // ordering the lag window by doc_id itself would be circular
      val byFile = back.select(col("_metadata.file_path").as("__f"),
        col("_metadata.row_index").as("__ri"), col("doc_id"))
      val nFiles = byFile.select("__f").distinct().count()
      val disorder = byFile
        .withColumn("__prev", lag("doc_id", 1)
          .over(Window.partitionBy("__f").orderBy("__ri")))
        .filter(col("__prev") > col("doc_id")).count()
      back.select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"),
          lit(nFiles).as("n_files"), lit(disorder).as("disorder"))
        .orderBy("doc_id")
    }),

    // distributed ANALYZE: per-column counts/nulls/min/max + HLL ndv in
    // two partial-agg passes over the whole table
    // est_distinct is dropped from the GATED projection: its ln-based
    // small-range correction is not bit-replayable (Sketches
    // .correctedEstimate); the exact register count is, and pins the
    // whole sketch state
    // exact grouped Pearson correlation: DECIMAL power sums (order-free)
    // + a pinned-IEEE closed form — corr without float accumulation
    "q_corr" -> ((s, dir) =>
      operators.Stats.groupedCorrelation(Tables.load(s, dir, "lineitem"),
          "l_quantity", "l_extendedprice", "l_returnflag")
        .orderBy("l_returnflag")),

    // sqrt-temperature (alpha=0.5) stratum rebalancing plan: post-sample
    // counts ∝ sqrt(n_i), rarest stratum kept whole; one ratio + one
    // correctly-rounded sqrt per stratum — replays unrounded
    "q_sqrt_mix" -> ((s, dir) =>
      Sampling.sqrtTemperatureMix(Tables.load(s, dir, "documents"), "lang")
        .orderBy("stratum")),

    "q_column_profile" -> ((s, dir) =>
      operators.Stats.columnProfile(Tables.load(s, dir, "lineitem"),
          Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag"))
        .drop("est_distinct")
        .orderBy("column")),

    // exact-count per-stratum draw (vs q_stratified's fractional one):
    // md5-ranked, partitioning-independent
    "q_fixed_sample" -> ((s, dir) =>
      Sampling.fixedSizeSample(Tables.load(s, dir, "documents"),
          "doc_id", "lang", n = 25, seed = 7L)
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // corpus-bigram fluency score — the CCNet-style perplexity-filter
    // proxy, log-free so it replays exactly
    "q_lm_score" -> ((s, dir) =>
      TextAnalysis.lmScore(Tables.load(s, dir, "documents"))
        .orderBy("doc_id")),

    // inverted-index dictionary: per-term df / total tf / doc span — the
    // scalar summary of the positional index (posting lists themselves
    // are per-(term,doc) rows, never one giant per-term array)
    "q_term_stats" -> ((s, dir) =>
      Index.termStats(Tables.load(s, dir, "documents"))
        .orderBy("term")),

    // exact phrase search by positional intersection — cost bounded by
    // the rarest phrase term's postings
    "q_phrase" -> ((s, dir) =>
      Index.phraseSearch(Tables.load(s, dir, "documents"),
          Seq("order", "fast"))
        .orderBy("doc_id")),

    // sparse TF-IDF triples — rational idf (no log), so every weight
    // replays bit-for-bit in the oracle
    "q_tfidf" -> ((s, dir) =>
      Tfidf.tfidfVectors(Tables.load(s, dir, "documents"))
        .orderBy("doc_id", "term")),

    // term-blocked sparse cosine pairs over BIGRAM vectors, pair-gen
    // restricted to rare terms: df ≤ min(1% of docs, absolute 1000) —
    // the fractional cap guards skew, the absolute cap bounds block
    // width (and so per-term candidates) independently of corpus size
    "q_sparse_cosine" -> ((s, dir) =>
      Tfidf.sparseCosinePairs(
          Tfidf.tfidfVectors(Tables.load(s, dir, "documents"), ngram = 2),
          threshold = 0.05, maxDfFrac = 0.01, maxDf = 1000L)
        .orderBy("doc_id_a", "doc_id_b")),

    // Gopher/MassiveText-style within-doc repetition quality stats
    "q_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(Tables.load(s, dir, "documents"))
        .orderBy("doc_id")),

    // PII redaction over a corpus with deterministically PLANTED pii (the
    // synthetic corpus contains none — every 7th doc gets an email, phone,
    // and IP appended via the same expression the oracle uses, so the
    // redaction path is actually exercised, not vacuously green)
    "q_pii" -> ((s, dir) => {
      val planted = Tables.load(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"),
            lit("@example.com or 555-123-4567 at 10.0.0."),
            (col("doc_id") % 256).cast("string")))
          .otherwise(col("text")))
      operators.Pii.redact(planted).orderBy("doc_id")
    }),

    // per-language deterministic downsampling (keep-all default for
    // unlisted strata — zh here)
    "q_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(Tables.load(s, dir, "documents"),
          "doc_id", "lang",
          Seq("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1), default = 1.0)
        .select("doc_id", "lang").orderBy("doc_id")),

    // sequence packing by global token offset — distributed two-level
    // prefix scan, never a whole-corpus single-partition window
    "q_pack" -> ((s, dir) =>
      operators.Packing.packSequences(
          TextAnalysis.chunkDocuments(Tables.load(s, dir, "documents"), 64, 16),
          budget = 256, docBucket = 64)
        .select("doc_id", "chunk_id", "n_chunk_tokens", "global_offset", "seq_id")
        .orderBy("doc_id", "chunk_id")),

    // packing efficiency: fill rate per training sequence — the
    // wasted-FLOPs / boundary-straddle report over the packed table
    "q_pack_stats" -> ((s, dir) =>
      operators.Packing.packStats(
          operators.Packing.packSequences(
            TextAnalysis.chunkDocuments(Tables.load(s, dir, "documents"), 64, 16),
            budget = 256, docBucket = 64),
          budget = 256)
        .orderBy("seq_id")),

    // publish-to-training shard export: token-balanced contiguous
    // shard assignment (exclusive prefix offset div ceil(total/N) via
    // the distributed two-level scan), actually WRITTEN as one hive
    // partition per shard, manifest recomputed from the read-back —
    // the returned (n_docs, n_tokens, order-invariant md5-half xor
    // digest) proves the published bytes match what any engine would
    // assign, which is what the oracle replays
    "q_publish_shards" -> ((s, dir) => withTempStore("publish") { tmp =>
      val docs = Tables.load(s, dir, "documents")
      operators.Layout.writeShards(s,
          operators.Layout.publishShards(docs, nShards = 8), tmp + "/shards")
        .orderBy("shard_id")
    }),

    // the END-TO-END training-sequence assembly: curate (quality →
    // exact-dedup → near-dup-drop → split → chunk), keep the train
    // split, pack into fixed-token-budget sequences — every stage's
    // replay is proven separately (q_pipeline, q_split, q_pack); this
    // composes them through ONE lazy plan and ONE oracle
    "q_pipeline_pack" -> ((s, dir) =>
      operators.Packing.packSequences(
          operators.Pipeline.curate(Tables.load(s, dir, "documents"))
            .filter(col("split") === "train"),
          budget = 256, docBucket = 64)
        .select("doc_id", "chunk_id", "n_chunk_tokens", "global_offset", "seq_id")
        .orderBy("doc_id", "chunk_id")),

    // BM25 keyword retrieval (rational-idf variant — the log-free
    // Robertson–Spärck-Jones odds the oracle replays bit-for-bit;
    // exact-binary-fraction k1/b make the saturation chain drift-free):
    // first five docs as seed queries, top-10 lexical matches each
    "q_bm25" -> ((s, dir) =>
      operators.Retrieval.bm25TopK(Tables.load(s, dir, "documents"),
          queryMaxId = 5, k = 10, logIdf = false)
        .orderBy("query_id", "rank")),

    // BM25 + RM3 pseudo-relevance feedback (the production query-
    // expansion layer): pass-1 rational-idf BM25 picks 5 feedback docs
    // per query, the top-10 NEW terms by uniform-prior relevance-model
    // weight (order-free 6dp tf/dl sums) expand the query at weight
    // 0.5, pass-2 rescores — both passes, the term selection, and the
    // interpolation replay bit-for-bit
    "q_bm25_prf" -> ((s, dir) =>
      operators.Retrieval.bm25PrfTopK(Tables.load(s, dir, "documents"),
          queryMaxId = 5, k = 10, fbDocs = 5, fbTerms = 10, logIdf = false)
        .orderBy("query_id", "rank")),

    // the OTHER export tail: curate at document granularity, keep the
    // train split, publish as token-balanced shards with the read-back
    // integrity manifest — curate → publish as one lineage, the
    // q_pipeline_pack sibling for loaders that consume whole documents
    "q_pipeline_publish" -> ((s, dir) => withTempStore("pipepub") { tmp =>
      operators.Layout.writeShards(s,
          operators.Layout.publishShards(
            operators.Pipeline.curateDocs(Tables.load(s, dir, "documents"))
              .filter(col("split") === "train"),
            nShards = 8),
          tmp + "/shards")
        .orderBy("shard_id")
    }),

    // INCREMENTAL publish: seed export over doc_id < 250 (frozen
    // budget + meta), append the rest as NEW shards — published shards
    // are immutable (the append starts at the next free shard id; the
    // seed's tail shard ships short), the appended assignment is the
    // same prefix scan shifted by next_shard·budget. The full read-back
    // manifest is the gate: seed shards must hash exactly as a
    // seed-only publish, appended shards replay the shifted scan
    "q_publish_append" -> ((s, dir) => withTempStore("pubappend") { tmp =>
      val docs = Tables.load(s, dir, "documents")
      val dest = tmp + "/shards"
      operators.Layout.publishInit(s, docs.filter(col("doc_id") < 250),
        dest, nShards = 8)
      operators.Layout.appendShards(s, docs.filter(col("doc_id") >= 250), dest)
        .orderBy("shard_id")
    }),

    // takedown THROUGH the export (r18 verdict task 3): publish, then
    // forgetPublished doc_id % 11 == 5 — only the shards holding those
    // docs rewrite (every other shard byte-equal, spec-asserted), meta
    // keeps its frozen geometry and bumps forget_gen. Oracle: the
    // original assignment minus the forgotten docs — surviving docs
    // keep their shard ids, never re-flowed
    "q_publish_forget" -> ((s, dir) => withTempStore("pubforget") { tmp =>
      val docs = Tables.load(s, dir, "documents")
      val dest = tmp + "/shards"
      operators.Layout.publishInit(s, docs, dest, nShards = 8)
      operators.Layout.forgetPublished(s,
          docs.filter(col("doc_id") % 11 === 5).select("doc_id"), dest)
        .orderBy("shard_id")
    }),

    // per-language corpus telemetry aggregate
    "q_corpus_stats" -> ((s, dir) =>
      TextAnalysis.corpusStats(Tables.load(s, dir, "documents"), "lang")
        .orderBy("stratum"))
  )
}
