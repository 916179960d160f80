package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, CacheRegistry, Cdc, Dedup, Eval, Events, Graph, HllStore, Index, Linkage, Multimodal, Pq, Quantiles, Sampling, Similarity, SketchStore, Sketches, TextAnalysis, Tfidf}
import QueryShared._

/** Query registry, part 3 of 4 (entries in the original
  * SparkEntry order — SparkEntry.queries concatenates the parts and
  * fails loudly on any duplicate key).
  */
private[graft] object QueriesPart3 {
  val m: Map[String, (SparkSession, String) => DataFrame] = Map(


    // water-filling mixture plan: largest corpus achieving the target mix
    "q_mixture_plan" -> ((s, dir) =>
      Sampling.mixturePlan(Tables.load(s, dir, "documents"), "lang",
          Seq("en" -> 0.5, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1))
        .orderBy("stratum")),

    // water-filling budget allocation: cap dominant languages at the
    // common level that spends exactly the budget — all-integer
    // decisions (cross-multiplied cut + largest-remainder split)
    "q_waterfill" -> ((s, dir) =>
      Sampling.waterfillBudget(Tables.load(s, dir, "documents"),
          "lang", budget = 400)
        .orderBy("stratum")),

    // fuzzy dedup: LSH candidates + exact Levenshtein verify
    "q_edit_neardup" -> ((s, dir) =>
      Dedup.editDistanceNearDup(Tables.load(s, dir, "documents"))
        .orderBy("doc_id_a", "doc_id_b")),

    // cross-doc duplicate 32-token spans (window-fingerprint substring
    // dedup) — md5 fingerprints, fully SQL-replayable
    "q_dupspans" -> ((s, dir) =>
      Dedup.duplicateSpans(Tables.load(s, dir, "documents"), 32, 16)
        .orderBy("doc_id", "chunk_id")),

    // span telemetry folded into the per-doc drop/trim decision signal
    "q_span_dup_frac" -> ((s, dir) =>
      Dedup.spanDupFraction(Tables.load(s, dir, "documents"))
        .orderBy("doc_id")),

    // EXACT >=16-token duplicated substrings (Lee et al. ExactSubstr
    // semantics): stride-1 window anchors, bucket-verified equality,
    // islands merged to maximal spans with exact token boundaries
    "q_dupspans_exact" -> ((s, dir) =>
      Dedup.duplicateSpansExact(Tables.load(s, dir, "documents"), 16)
        .orderBy("doc_id", "span_start")),

    // the extractor APPLIED: duplicateSpansExact's ranges cut out of the
    // corpus in the same lineage — extract → trim as one composed query,
    // graded on the trimmed text itself (md5) plus the token accounting
    "q_trim_spans" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.trimSpans(docs, Dedup.duplicateSpansExact(docs, 16))
        .select(col("doc_id"), md5(col("text")).as("trimmed_md5"),
          col("n_tokens_before"), col("n_tokens_kept"))
        .orderBy("doc_id")
    }),

    // the ExactSubstr family's persisted-store lifecycle: seed the
    // span-print store with the even docs, append the odd half under
    // the frozen geometry, probe five docs — the "does this batch
    // duplicate the corpus" ingest shape; the oracle replays the probe
    // over the UNION corpus, so seed+append ≡ cold rebuild is the gate
    "q_spanstore" -> ((s, dir) => withTempStore("spanstore") { tmp =>
      val docs = Tables.load(s, dir, "documents")
      val store = tmp + "/store"
      // 16 shards: directory fan-out follows store size (the geometry
      // knob's contract) — a few-MB bench store under 256 dirs paid
      // ~2x wall in pure directory churn (r17 bench), while the
      // 10x-store ScaleCheck stanza exercises the wide default
      operators.SpanStore.write(docs.filter(col("doc_id") % 2 === 0),
        store, minTokens = 16, shardChars = 1)
      operators.SpanStore.append(s, docs.filter(col("doc_id") % 2 === 1), store)
      operators.SpanStore.probe(s, docs.filter(col("doc_id") < 5), store)
        .orderBy("doc_id", "p")
    }),

    // the span store's Bloom-sidecar admission path: sidecar sized on
    // the seed third (headroom ×4), middle third appended under the
    // frozen bit geometry (generation OR ≡ one filter over the union),
    // novel third probed through the sidecar. One row per probe doc:
    // distinct prints, Bloom-positive prints (true dups + the bounded
    // FP share), exact store dups. The oracle replays the Bloom verdict
    // bit-for-bit — md5-half positions mod a replayed m_bits — so the
    // sizing formula, the per-shard position sets, and the append union
    // are all hash-gated; n_dup <= n_maybe <= n_prints is the
    // no-false-negative law made visible in the result itself
    "q_spanstore_bloom" -> ((s, dir) => withTempStore("spanbloom") { tmp =>
      val docs = Tables.load(s, dir, "documents")
      val store = tmp + "/store"
      // 16 shards — bench-store-sized geometry (q_spanstore note);
      // withBloom fuses the sidecar build into the seed write's own
      // fingerprint pass
      operators.SpanStore.write(docs.filter(col("doc_id") % 3 === 1),
        store, minTokens = 16, shardChars = 1, withBloom = true)
      operators.SpanStore.append(s, docs.filter(col("doc_id") % 3 === 2), store)
      // trickle-shaped probe batch (1/15 of the corpus, disjoint from
      // the store): the representative ingest ratio, and the accounting
      // passes stay batch-sized
      val batch = docs.filter(col("doc_id") % 15 === 0)
      val pr = CacheRegistry.persist(operators.SpanStore.printsOf(s, batch, store))
      // persisted: three consumers — the n_maybe join below plus the
      // probe's shard IN-list and semi-join key set (passed through the
      // reuse handles so the probe neither re-fingerprints the batch nor
      // re-runs the Bloom check it already has — r21, guide §6)
      val maybe = CacheRegistry.persist(operators.SpanStore.bloomMaybe(s,
          pr.select("shard", "span_md5").distinct(), store))
      val hits = operators.SpanStore.probe(s, batch, store, // bloom path ON
        printsPre = Some(pr), bloomCandidatesPre = Some(maybe))
      val perDoc = pr.groupBy("doc_id")
        .agg(countDistinct(col("span_md5")).as("n_prints"))
      val nMaybe = pr.join(maybe, Seq("shard", "span_md5"), "left_semi")
        .groupBy("doc_id").agg(countDistinct(col("span_md5")).as("n_maybe"))
      val nDup = hits.groupBy("doc_id")
        .agg(countDistinct(col("span_md5")).as("n_dup"))
      perDoc
        .join(nMaybe, Seq("doc_id"), "left")
        .join(nDup, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_prints"),
          coalesce(col("n_maybe"), lit(0L)).as("n_maybe"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"))
        .orderBy("doc_id")
    }),

    // decontaminate-at-ingest, the cross-store composition: seed the
    // span store with the even half, run the odd half through ONE
    // probe → trim → drop → append-survivors lineage (SpanStore
    // .ingestCurate), then re-probe the survivors so the audit carries
    // proof the append landed (n_store_prints = each survivor's own
    // print count served back from the post-append store; the oracle
    // recomputes it from the trimmed text — equal iff the survivors'
    // prints actually entered the store)
    "q_ingest_curate" -> ((s, dir) => withTempStore("ingestcurate") { tmp =>
      val docs = Tables.load(s, dir, "documents")
      val store = tmp + "/store"
      // 16 shards — bench-store-sized geometry (q_spanstore note). NO
      // bloom sidecar: the odd-half batch is backfill-shaped and the
      // sidecar measured 2x slower here (4.5 -> 9.1 s at sf0.1, r17) —
      // the trickle case that pays off is q_spanstore_bloom's
      operators.SpanStore.write(docs.filter(col("doc_id") % 2 === 0),
        store, minTokens = 16, shardChars = 1)
      val audit = operators.SpanStore.ingestCurate(s,
        docs.filter(col("doc_id") % 2 === 1), store, minKeptFrac = 0.3)
      val own = operators.SpanStore.probe(s,
          audit.filter(!col("dropped")).select("doc_id", "text"), store)
        .groupBy("doc_id")
        .agg(countDistinct(col("span_md5")).as("n_store_prints"))
      audit.join(own, Seq("doc_id"), "left")
        .select(col("doc_id"), md5(col("text")).as("curated_md5"),
          col("n_tokens_before"), col("n_tokens_kept"), col("dropped"),
          coalesce(col("n_store_prints"), lit(0L)).as("n_store_prints"))
        .orderBy("doc_id")
    }),

    // dedup-at-ingest, the near-duplicate twin of q_ingest_curate:
    // seed the LSH store with the even half, probe the odd half, drop
    // batch docs that near-dup the corpus or a smaller-id batch doc
    // (keep-first), append only survivors (LshIndex.ingestDedup) —
    // in_store is read back from the post-append sigs sidecar, so the
    // oracle's NOT-dropped prediction gates that the append landed
    "q_ingest_dedup" -> ((s, dir) => withTempStore("ingestdedup") { tmp =>
      val docs = Tables.load(s, dir, "documents")
      val idx = tmp + "/index"
      graft.operators.LshIndex.write(docs.filter(col("doc_id") % 2 === 0), idx)
      val audit = graft.operators.LshIndex.ingestDedup(s,
        docs.filter(col("doc_id") % 2 === 1), idx)
      val inStore = s.read.parquet(idx + "_sigs").select(col("doc_id"))
        .distinct().withColumn("in_store", lit(true))
      audit.join(inStore, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_store_dups"), col("n_batch_dups"),
          col("dropped"),
          coalesce(col("in_store"), lit(false)).as("in_store"))
        .orderBy("doc_id")
    }),

    // the full admission gauntlet — BOTH persisted stores in one ingest
    // lineage: stage 1 dedups the batch against the LSH store (near-dup
    // drops, keep-first), stage 2 curates the survivors against the
    // span store (exact-span trims, kept-fraction drops), each stage
    // appending only what it admits. One row per batch doc carries both
    // stage verdicts; stage-2 columns read sentinels ('' / -1 / false)
    // for docs stage 1 already dropped — the production shape where a
    // batch passes every admission gate before any of it becomes corpus
    "q_ingest_gauntlet" -> ((s, dir) => withTempStore("gauntlet") { tmp =>
      val docs = Tables.load(s, dir, "documents")
      val seed = docs.filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(col("doc_id") % 2 === 1)
      val lshDir = tmp + "/lsh"
      val spanDir = tmp + "/span"
      // the two seed builds are independent stores — concurrent jobs,
      // not serial submission latency (the ParJobs store-write pattern)
      // NO bloom sidecar here (measured r17): this batch is the odd
      // HALF of the corpus — backfill-shaped, so the sidecar cleared
      // little and its build + per-append generation passes nearly
      // doubled the wall (5.3 -> 11.0 s at sf0.1). The sidecar's case
      // is the trickle ratio q_spanstore_bloom models.
      operators.ParJobs.run(
        () => graft.operators.LshIndex.write(seed, lshDir),
        () => operators.SpanStore.write(seed, spanDir,
          minTokens = 16, shardChars = 1))
      // 0.8 stage-1 cut: near-certain copies drop, fuzzier near-dups
      // (est in [0.5, 0.8)) flow through to stage 2's exact-span pass.
      // On this corpus every exact-span candidate is itself a
      // near-certain copy, so stage 1 shields stage 2 (trims land in
      // q_ingest_curate where stage 1 is absent) — the gate here is the
      // stage composition: 204 survivors' full-text md5s + both stage
      // verdicts per doc, all replayed
      val dedupAudit = graft.operators.LshIndex.ingestDedup(s, batch, lshDir,
        threshold = 0.8)
      val curateAudit = operators.SpanStore.ingestCurate(s,
        dedupAudit.filter(!col("dropped")).select("doc_id", "text"),
        spanDir, minKeptFrac = 0.3)
      dedupAudit
        .select(col("doc_id"), col("n_store_dups"), col("n_batch_dups"),
          col("dropped").as("dedup_dropped"))
        .join(curateAudit
          .select(col("doc_id"), md5(col("text")).as("curated_md5"),
            col("n_tokens_before"), col("n_tokens_kept"),
            col("dropped").as("curate_dropped")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_store_dups"), col("n_batch_dups"),
          col("dedup_dropped"),
          coalesce(col("curated_md5"), lit("")).as("curated_md5"),
          coalesce(col("n_tokens_before"), lit(-1L)).as("n_tokens_before"),
          coalesce(col("n_tokens_kept"), lit(-1L)).as("n_tokens_kept"),
          coalesce(col("curate_dropped"), lit(false)).as("curate_dropped"))
        .orderBy("doc_id")
    }),

    // targeted deletion (the data-governance takedown), exact-span
    // store: full-corpus store, forget doc_id % 7 == 3, probe the
    // first five docs against the LIVE (uncompacted) store — serving
    // between forget and compaction must already equal a cold build
    // without the forgotten docs, which is what the oracle replays
    // (store prints restricted to survivors; the probe side stays
    // unrestricted — a forgotten doc may itself arrive as a new batch,
    // and its prints must count only SURVIVING store docs)
    "q_forget_span" -> ((s, dir) => withTempStore("forgetspan") { tmp =>
      val docs = Tables.load(s, dir, "documents")
      val store = tmp + "/store"
      operators.SpanStore.write(docs, store, minTokens = 16, shardChars = 1)
      operators.SpanStore.forget(s,
        docs.filter(col("doc_id") % 7 === 3).select("doc_id"), store)
      operators.SpanStore.probe(s, docs.filter(col("doc_id") < 5), store)
        .orderBy("doc_id", "p")
    }),

    // takedown, near-dup store, PHYSICAL half: forget doc_id % 7 == 3,
    // compact (tombstones applied to buckets AND sigs, sidecar not
    // carried forward), then serve the full pair set from the compacted
    // store — must equal a cold build over the survivors (the oracle's
    // candidate chain restricted to them); the live-serving half of the
    // law is PropertySpec's forget∘compact stanza
    "q_forget_lsh" -> ((s, dir) => withTempStore("forgetlsh") { tmp =>
      val docs = Tables.load(s, dir, "documents")
      val idx = tmp + "/index"
      graft.operators.LshIndex.write(docs, idx)
      graft.operators.LshIndex.forget(s,
        docs.filter(col("doc_id") % 7 === 3).select("doc_id"), idx)
      graft.operators.LshIndex.compactLsh(s, idx, tmp + "/compacted")
      graft.operators.LshIndex.lshPairs(s, tmp + "/compacted", threshold = 0.5)
        .orderBy("doc_id_a", "doc_id_b")
    }),

    // takedown, IVFADC index: forget vec_id % 7 == 3, probe the live
    // index — forgotten vectors' codes vanish from every candidate list
    // while the FROZEN codebooks (trained with them) keep serving, the
    // trained-artifact semantics the oracle mirrors exactly (codebook
    // CTEs corpus-wide, code CTE restricted to survivors)
    "q_forget_ivf" -> ((s, dir) => withTempStore("forgetivf") { tmp =>
      val emb = Tables.load(s, dir, "embeddings")
      val idx = tmp + "/index"
      Similarity.writeIvfPqIndex(emb, idx, numCentroids = 32,
        m = 4, ksub = 16, dim = 64)
      Similarity.forgetIvfPq(s,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), idx)
      Similarity.ivfPqTopK(s, idx, emb.filter(col("vec_id") < 5), emb,
          k = 3, nprobe = 2, rerankFactor = 4, m = 4, dim = 64)
        .orderBy("query_id", "rank")
    }),

    // codebook retrain-and-swap, the drift monitor's actuator (r18
    // verdict task 1): build the IVFADC index, forget vec_id % 7 == 3,
    // then RETRAIN — membership = surviving store ids, tombstones
    // applied physically, codebooks re-drawn over the survivors (unlike
    // q_forget_ivf, where the frozen books keep the forgotten vectors'
    // geometry) — and probe the swapped index. Oracle: the full cold
    // chain over a corpus that never held the forgotten vectors, which
    // is exactly what a retrained index must equal
    "q_ivf_retrain" -> ((s, dir) => withTempStore("ivfretrain") { tmp =>
      val emb = Tables.load(s, dir, "embeddings")
      val idx = tmp + "/index"
      Similarity.writeIvfPqIndex(emb, idx, numCentroids = 32,
        m = 4, ksub = 16, dim = 64)
      Similarity.forgetIvfPq(s,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), idx)
      Similarity.retrainIvfPq(s, emb, idx)
      val survivors = emb.filter(col("vec_id") % 7 =!= 3)
      Similarity.ivfPqTopK(s, idx, survivors.filter(col("vec_id") < 5),
          survivors, k = 3, nprobe = 2, rerankFactor = 4, m = 4, dim = 64)
        .orderBy("query_id", "rank")
    }),

    // the GENERATIONAL retrain (r19 verdict task 3): identical
    // governance semantics to q_ivf_retrain, but the rebuilt index —
    // retrained _codebook/_pq sidecars included — stages as generation
    // 1 behind the atomic _current pointer flip instead of the in-place
    // rename swap, so serving never pauses. The probe resolves the
    // pointer; the oracle is the SAME survivor cold chain, which is the
    // law: the always-on protocol changes where bytes live, never what
    // serves
    "q_ivf_retrain_gen" -> ((s, dir) => withTempStore("ivfretraingen") { tmp =>
      val emb = Tables.load(s, dir, "embeddings")
      val idx = tmp + "/index"
      Similarity.writeIvfPqIndex(emb, idx, numCentroids = 32,
        m = 4, ksub = 16, dim = 64)
      Similarity.forgetIvfPq(s,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), idx)
      Similarity.retrainIvfPq(s, emb, idx, generational = true)
      require(graft.operators.StoreGen.resolve(idx, s) == idx + "_g1",
        "generational retrain must serve from generation 1")
      val survivors = emb.filter(col("vec_id") % 7 =!= 3)
      Similarity.ivfPqTopK(s, idx, survivors.filter(col("vec_id") < 5),
          survivors, k = 3, nprobe = 2, rerankFactor = 4, m = 4, dim = 64)
        .orderBy("query_id", "rank")
    }),

    // the drift POLICY end-to-end (r19 verdict task 6):
    // StoreUpkeep.maybeRetrain measures a genuinely drifted probe batch
    // (the corpus NEGATED — no codebook direction is near it, so the
    // weighted mean assignment cosine sits far below the documented
    // 0.70 default) and fires the retrain itself. The drifted batch is
    // only MEASURED, never ingested; firing is observable because the
    // store carries a pending forget — a non-firing policy would serve
    // q_forget_ivf's frozen-codebook answers, the firing one serves the
    // survivor cold chain the oracle replays
    "q_retrain_policy" -> ((s, dir) => withTempStore("retrainpolicy") { tmp =>
      val emb = Tables.load(s, dir, "embeddings")
      val idx = tmp + "/index"
      Similarity.writeIvfPqIndex(emb, idx, numCentroids = 32,
        m = 4, ksub = 16, dim = 64)
      Similarity.forgetIvfPq(s,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), idx)
      val drifted = emb.filter(col("vec_id") < 64).select(col("vec_id"),
        expr("transform(embedding, x -> -x)").as("embedding"))
      val fired = graft.operators.StoreUpkeep.maybeRetrain(
        s, emb, drifted, idx, trainIters = 0)
      require(fired,
        "construction: the negated batch must cross the default threshold")
      val survivors = emb.filter(col("vec_id") % 7 =!= 3)
      Similarity.ivfPqTopK(s, idx, survivors.filter(col("vec_id") < 5),
          survivors, k = 3, nprobe = 2, rerankFactor = 4, m = 4, dim = 64)
        .orderBy("query_id", "rank")
    }),

    // the TRAINED retrain, oracle-gated end-to-end: retrainIvfPq with
    // trainIters=2 replaces the pseudo books with the q_kmeans-proven
    // fixed-point k-means chain over the store's members, re-encodes,
    // swaps — and the DuckDB oracle replays k-means INTO the full
    // IVFADC probe chain (kmeansCtes composed with ivfPqChainSql)
    "q_ivf_retrain_trained" -> ((s, dir) => withTempStore("ivfretraintr") { tmp =>
      val emb = Tables.load(s, dir, "embeddings")
      val idx = tmp + "/index"
      Similarity.writeIvfPqIndex(emb, idx, numCentroids = 32,
        m = 4, ksub = 16, dim = 64)
      Similarity.retrainIvfPq(s, emb, idx, trainIters = 2)
      Similarity.ivfPqTopK(s, idx, emb.filter(col("vec_id") < 5), emb,
          k = 3, nprobe = 2, rerankFactor = 4, m = 4, dim = 64)
        .orderBy("query_id", "rank")
    }),

    // intra-doc twin: exact boundaries of >=8-token substrings repeated
    // WITHIN a document. The synthetic corpus has no natural self-
    // repetition at any k (checked), so the gate plants one
    // deterministically — each doc's first 20 tokens appended at its
    // end — and the oracle replays the derived corpus verbatim: the
    // expected spans are the 20-token prefix and the appended tail copy
    "q_selfrep_spans" -> ((s, dir) => {
      val toks = operators.TextAnalysis.tokens(col("text"))
      val planted = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          concat_ws(" ", concat(toks, slice(toks, 1, 20))).as("text"))
      Dedup.selfRepetitionSpans(planted, 8)
        .orderBy("doc_id", "span_start")
    }),

    // per-row probability sample: keep probability scales with doc length
    "q_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(Tables.load(s, dir, "documents"),
          "doc_id", col("n_chars") / 1000.0)
        .select("doc_id", "n_chars").orderBy("doc_id")),

    // benchmark decontamination sweep: probes = doc_id < 20
    "q_contamination" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      operators.Contamination.overlapReport(docs,
          docs.filter(col("doc_id") < 20), minShared = 2)
        .orderBy("probe_id", "doc_id")
    }),

    // the sweep APPLIED: every corpus doc flagged against the probe set
    // is cut, survivors keep the audit columns — detect → drop as one
    // lineage (probes are their own trivial hits and drop too; the gate
    // reads the whole corpus annotated, dropped and kept alike)
    "q_decontaminate" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      operators.Contamination.decontaminate(docs,
          docs.filter(col("doc_id") < 20), minShared = 2)
        .select(col("doc_id"), col("dropped"), col("n_probes_hit"),
          col("max_shared"))
        .orderBy("doc_id")
    }),

    // per-session duration/engagement aggregates over the sessionize
    // assignment — the session-distribution base table
    "q_session_stats" -> ((s, dir) =>
      operators.Events.sessionStats(Tables.loadEvents(s, dir))
        .orderBy("user_id", "session_id")),

    // Heaps'-law vocabulary growth over md5-ordered corpus slices: one
    // pass (first-seen slice per token), ≤slices-row running sum
    "q_vocab_growth" -> ((s, dir) =>
      TextAnalysis.vocabGrowth(Tables.load(s, dir, "documents"), slices = 10)
        .orderBy("slice")),

    // collocation mining by LIFT (rational PMI): bigrams whose
    // co-occurrence beats independence, min-count floored
    "q_collocations" -> ((s, dir) =>
      TextAnalysis.collocations(Tables.load(s, dir, "documents"),
          minCount = 5, topK = 20)
        .orderBy("rank")),

    // per-doc token diversity as Gini impurity — the log-free entropy
    // twin, decimal-exact squared-share accumulation
    "q_gini" -> ((s, dir) =>
      TextAnalysis.tokenDiversity(Tables.load(s, dir, "documents"))
        .orderBy("doc_id")),

    // empirical event-type Markov chain: per-user time-ordered
    // transitions, counts + row-normalized probabilities
    "q_transitions" -> ((s, dir) =>
      operators.Events.transitionMatrix(Tables.loadEvents(s, dir))
        .orderBy("from_type", "to_type")),

    // top 3-step journeys (count desc, path ties) — the two-ahead
    // complement to the transition matrix
    "q_paths" -> ((s, dir) =>
      operators.Events.pathTrigrams(Tables.loadEvents(s, dir), topN = 20)),

    // per-transition dwell times: n, min/max, decimal-exact mean gap
    "q_dwell" -> ((s, dir) =>
      operators.Events.dwellStats(Tables.loadEvents(s, dir))
        .orderBy("from_type", "to_type")),

    // deterministic k-fold assignment — reproducible cross-validation
    // membership from the id hash alone
    "q_kfold" -> ((s, dir) =>
      Sampling.kfoldAssign(Tables.load(s, dir, "documents"), "doc_id", k = 5)
        .select("doc_id", "fold").orderBy("doc_id")),

    // external cluster quality: k-means clusters scored against the
    // ground-truth label column — majority label + purity per cluster
    "q_cluster_purity" -> ((s, dir) =>
      Similarity.clusterPurity(Tables.load(s, dir, "embeddings"),
          "label", k = 8, iters = 2,
          codebook = Some(trainedCodebook8(s, dir)))
        .orderBy("cluster_id")),

    // distribution drift between two corpus halves: shared-bin
    // histograms + per-bin total-variation contribution (rational — no
    // PSI/KL logarithm), fixed ≤bins memory
    "q_drift" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      operators.Stats.histogramDrift(
          li.filter(col("l_orderkey") % 2 === 0),
          li.filter(col("l_orderkey") % 2 === 1),
          "l_extendedprice", bins = 64)
        .orderBy("bin")
    }),

    // exact two-sample Kolmogorov–Smirnov over the same two halves: the
    // sup-norm drift readout (TVD above answers "how much moved"; KS
    // answers "how far apart do the CDFs get") — two-level prefix scan
    // over the distinct-value table, integer cross-product comparisons
    "q_ks_drift" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      operators.Stats.ksDrift(
        li.filter(col("l_orderkey") % 2 === 0),
        li.filter(col("l_orderkey") % 2 === 1),
        "l_extendedprice")
    }),

    // unigram-distribution drift per source vs the corpus: exact-integer
    // total-variation distance (the text twin of q_drift's histogram TVD)
    "q_vocab_drift" -> ((s, dir) =>
      TextAnalysis.vocabDrift(Tables.load(s, dir, "documents"))
        .orderBy("source")),

    // per-source content novelty: fraction of shingle occurrences whose
    // first corpus appearance (min doc_id) is in that document — the
    // "is this crawl new text" curve, linear in documents (no pairs)
    "q_novelty" -> ((s, dir) =>
      Dedup.noveltyBySource(Tables.load(s, dir, "documents"))
        .orderBy("source")),

    // c-TF-IDF cluster term profiling: most DISTINCTIVE terms per
    // language — rational idf over group document-frequency, no log
    "q_cluster_terms" -> ((s, dir) =>
      Tfidf.clusterTopTerms(Tables.load(s, dir, "documents"),
          "lang", topK = 10)
        .orderBy("lang", "rank")),

    // asymmetric containment (quote/excerpt detection): what symmetric
    // jaccard structurally misses — a short doc inside a long one
    "q_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.load(s, dir, "documents"),
          k = 3, threshold = 0.2)
        .orderBy("doc_id_a", "doc_id_b")),

    // the composed curation pipeline end-to-end (quality → exact-dedup →
    // near-dup-drop → split → chunk) — cross-operator composition is where
    // optimizer-interaction bugs appear; the oracle pins the whole chain
    "q_pipeline" -> ((s, dir) =>
      operators.Pipeline.curate(Tables.load(s, dir, "documents"))
        .orderBy("doc_id", "chunk_id")),

    "q_embed_neardup" -> ((s, dir) =>
      // the synthetic corpus has no true embedding dups (max cos ≈ 0.48);
      // 0.4 exercises the operator with non-empty output
      Dedup.embeddingNearDup(Tables.load(s, dir, "embeddings"), threshold = 0.4)
        .orderBy("vec_id_a", "vec_id_b")),

    "q_embed_topk" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 3)
        .orderBy("query_id", "rank")
    }),

    "q_embed_lsh_neardup" -> ((s, dir) =>
      // sign-LSH scale path for unlabeled corpora; the synthetic corpus has
      // no true near-dups (max cos ≈ 0.48), so a low threshold exercises
      // the bucket/verify plumbing with non-empty output
      operators.Similarity.lshNearDup(
          Tables.load(s, dir, "embeddings"), threshold = 0.3)
        .orderBy("vec_id_a", "vec_id_b")),

    // contrastive-training hard negatives: top-5 cross-label neighbors
    // per query — the near-miss negatives an embedding trainer mines
    "q_hard_negatives" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 5), k = 5)
        .orderBy("query_id", "rank")
    }),

    // hybrid retrieval: RRF fusion of the sparse TF-IDF cosine ranking
    // (documents) and the dense embedding cosine ranking (row-aligned
    // embeddings), 20-deep lists, fused top-10 per query
    "q_rrf_hybrid" -> ((s, dir) =>
      operators.Retrieval.rrfHybridTopK(
          Tables.load(s, dir, "documents"),
          Tables.load(s, dir, "embeddings"),
          nQueries = 3, perList = 20, k = 10)
        .orderBy("query_id", "rank")),

    // the BM25 flavor of the hybrid: same RRF fold, lexical leg ranked
    // by Okapi BM25 (rational idf — oracle-exact) instead of TF-IDF
    // cosine — the production lexical+dense pairing
    "q_rrf_bm25" -> ((s, dir) =>
      operators.Retrieval.rrfHybridBm25TopK(
          Tables.load(s, dir, "documents"),
          Tables.load(s, dir, "embeddings"),
          nQueries = 3, perList = 20, k = 10)
        .orderBy("query_id", "rank")),

    // expansion INSIDE the hybrid: the lexical leg is RM3-expanded BM25
    // (q_bm25_prf's two-pass chain at 20 deep), fused with the dense
    // list through the same fixed-order RRF fold
    "q_rrf_prf" -> ((s, dir) =>
      operators.Retrieval.rrfHybridPrfTopK(
          Tables.load(s, dir, "documents"),
          Tables.load(s, dir, "embeddings"),
          nQueries = 3, perList = 20, k = 10)
        .orderBy("query_id", "rank")),

    // diversity-aware exemplar selection: greedy MMR over the dense
    // top-10 candidates, λ=0.7, 3 picks per query
    "q_mmr" -> ((s, dir) =>
      operators.Retrieval.mmrSelect(
          Tables.load(s, dir, "embeddings"),
          nQueries = 3, m = 10, k = 3, lambda = 0.7)
        .orderBy("query_id", "mmr_rank")),

    "q_ivf_topk" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 3)
        .orderBy("query_id", "rank")
    }),

    // the storage-level IVF shape: write the corpus hive-partitioned by
    // centroid, probe via a partition-pruning IN filter — the scan reads
    // nprobe directories only (PartitionFilters pinned by spec); result
    // identical to the in-memory IVF at the same parameters
    "q_ivf_indexed" -> ((s, dir) => withTempStore("ivfidx") { tmp =>
      val emb = Tables.load(s, dir, "embeddings")
      val idx = tmp + "/index"
      Similarity.writeIvfIndex(emb, idx, numCentroids = 32)
      Similarity.ivfTopKIndexed(s, idx, emb.filter(col("vec_id") < 5),
          k = 3, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    // the memory-bound ANN shape: int8-code probe scan + exact re-rank of
    // the k*rerankFactor survivors (fetched by id, not rescanned)
    "q_ivf_quantized" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.ivfTopKQuantized(emb, emb.filter(col("vec_id") < 5), k = 3,
          numCentroids = 32, nprobe = 2, rerankFactor = 4)
        .orderBy("query_id", "rank")
    }),

    // recall@k vs the brute-force truth per nprobe — the tuning dial for
    // IVF; also regression-pins codebook quality beyond convergence
    "q_ivf_recall" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.ivfRecall(emb, emb.filter(col("vec_id") < 5), k = 3,
        numCentroids = 32, nprobes = Seq(1, 2, 4))
    }),

    // matryoshka telemetry: recall@k of prefix-dimension cosine vs the
    // full 64-dim exact top-k — sizes the cheap first-pass retriever
    // (candidate cost scales linearly with the kept prefix)
    "q_dim_recall" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.dimRecall(emb, emb.filter(col("vec_id") < 5), k = 3,
        dims = Seq(8, 16, 32))
    }),

    // the two-stage retriever that telemetry sizes: 16-dim prefix
    // candidates (k·4 survivors), exact 64-dim re-rank fetched by id
    "q_trunc_topk" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.truncatedTopK(emb, emb.filter(col("vec_id") < 5), k = 3,
          d = 16, rerankFactor = 4)
        .orderBy("query_id", "rank")
    }),

    // greedy k-center diversity coreset: 6 farthest-point picks spread
    // across the embedding space; the 6th pick's distance is the
    // covering radius — the "how well do k exemplars blanket the
    // corpus" telemetry next to q_kmeans's density-seeking codebook
    "q_kcenter" -> ((s, dir) =>
      Similarity.kCenterSample(Tables.load(s, dir, "embeddings"), k = 6)
        .orderBy("rank")),

    // retrieval grade for the truncated retriever: MRR@5 + hit-rate@5
    // of the dim-16 prefix ranking (no rerank cushion) against the
    // full-dim exact top-1 over 50 queries — where recall says the
    // truth appeared, MRR says at which position
    "q_mrr" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 50)
      val system = Similarity.truncatedTopK(emb, queries, k = 5,
        d = 16, rerankFactor = 1)
      val truth = Similarity.bruteForceTopK(emb, queries, 1)
        .select("query_id", "vec_id")
      Eval.mrrAtK(system, truth, k = 5)
    }),

    // the retrieval eval LOOP, end to end in one lineage: the IVF
    // retriever that would serve at scale (the q_ivf_topk substrate —
    // first-32 pseudo-codebook, nprobe=1) produces the system ranking,
    // the brute-force exact top-1 is the truth, MRR@5 grades where the
    // truth landed — "build index → retrieve → score" as one composed
    // query instead of three disconnected telemetry reads
    "q_retrieval_eval" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 50)
      val system = Similarity.ivfTopK(emb, queries, k = 5)
      val truth = Similarity.bruteForceTopK(emb, queries, 1)
        .select("query_id", "vec_id")
      Eval.mrrAtK(system, truth, k = 5)
    }),

    // 1-bit sign-plane quantization: Hamming candidates from packed
    // longs (bit_count(xor), 32x less scan than fp32), exact cosine
    // re-rank of the k·4 survivors — BQ as the cheapest corpus-wide
    // candidate generator
    "q_binary_topk" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.binaryTopK(emb, emb.filter(col("vec_id") < 5), k = 3,
          dim = 64, rerankFactor = 4)
        .orderBy("query_id", "rank")
    }),

    // the BQ tuning dial: recall@3 vs exact cosine, swept over Hamming
    // candidate widths rf in {1,2,4} from ONE all-pairs scoring pass
    "q_binary_recall" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.binaryRecall(emb, emb.filter(col("vec_id") < 5), k = 3,
          dim = 64, rerankFactors = Seq(1, 2, 4))
        .orderBy("rf")
    }),

    // reciprocal top-1 pairs: both directions must agree — the
    // high-precision pairing primitive (a near-hub pairs with at most one)
    "q_mutual_nn" -> ((s, dir) =>
      Similarity.mutualNeighbors(Tables.load(s, dir, "embeddings"))
        .orderBy("vec_id_a", "vec_id_b")),

    // the scale path for the same pairing: IVF-blocked candidates (no
    // corpus broadcast, no all-pairs scoring), mutuality over each
    // side's candidate top-1 — the exact twin stays the truth baseline
    "q_mutual_nn_ivf" -> ((s, dir) =>
      Similarity.mutualNeighborsApprox(Tables.load(s, dir, "embeddings"),
          numCentroids = 32, nprobe = 4)
        .orderBy("vec_id_a", "vec_id_b")),

    // structural link prediction on the part co-purchase graph (every
    // 10th order keeps the graph sparse enough that non-adjacency is
    // meaningful): part pairs never bought together whose shared
    // neighbors say they will be
    "q_link_predict" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") % 10 === 0)
      val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      Graph.linkPredict(edges, maxDegree = 64, minCommon = 2)
        .orderBy("node_a", "node_b")
    }),

    // market-basket statistics on the same bipartite substrate: exact
    // basket counts, support/confidence both directions, lift — the
    // affinity-vs-independence read on co-purchase pairs
    "q_assoc_rules" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") % 10 === 0)
      Graph.associationRules(li, "l_orderkey", "l_partkey",
          minSupportCount = 1, maxItemsPerBasket = 64)
        .orderBy("item_a", "item_b")
    }),

    // median/MAD fences per event type — the outlier census whose fence
    // the outliers themselves cannot drag (50% breakdown vs z-scores' 0%)
    "q_mad_outliers" -> ((s, dir) =>
      operators.Stats.madOutliers(
          Tables.load(s, dir, "events"), "value", "event_type")
        .orderBy("stratum")),

    // k-anonymity audit over (nation, segment) quasi-identifiers: every
    // equivalence class with its 1/n re-identification risk, k=10 flags
    "q_kanon" -> ((s, dir) =>
      operators.Pii.kAnonymity(Tables.load(s, dir, "customer"),
          Seq("c_nationkey", "c_mktsegment"), k = 10)
        .orderBy("c_nationkey", "c_mktsegment"))
  )
}
