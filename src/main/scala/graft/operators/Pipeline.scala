package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composition a training-data pipeline
  * actually runs, as ONE lazy plan:
  *
  *   quality-filter → exact-dedup → near-dup-drop → split → chunk
  *
  * Cross-operator composition is where optimizer-interaction bugs (the
  * `InferFiltersFromGenerate` explode-trap class) surface, so the whole
  * chain is oracle-verified end-to-end (q_pipeline), not just its stages.
  *
  * Scale shape: stages 1-2 are a map-side projection plus one hash-shuffle
  * semi-join each; stage 3 is the bounded-candidate near-dup pipeline
  * ([[Dedup.ngramJaccardPairs]] → [[Dedup.dedupClusters]]); stages 4-5 are
  * pure map-side arithmetic — the split is recomputed from doc_id on the
  * chunk output instead of joined back, so the tail of the pipeline adds
  * ZERO shuffles.
  */
object Pipeline {

  def curate(
      docs: DataFrame,
      minTokens: Long = 5,
      minAlphaRatio: Double = 0.5,
      jaccardThreshold: Double = 0.8,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      chunkTokens: Int = 64,
      overlap: Int = 16): DataFrame =
    // 4+5. chunk, then assign the split on the chunk rows directly —
    // deterministicSplit is pure doc_id hash arithmetic, so recomputing it
    // per chunk costs one md5 and saves a corpus-wide join
    Sampling.deterministicSplit(
        TextAnalysis.chunkDocuments(
          survivors(docs, minTokens, minAlphaRatio, jaccardThreshold),
          chunkTokens, overlap),
        "doc_id", splits)
      .select("doc_id", "split", "chunk_id", "n_chunk_tokens", "chunk_text")

  /** The curation stages at DOCUMENT granularity — the same survivors
    * [[curate]] chunks, split-labeled but left whole: the input to the
    * exports that want documents, not training sequences
    * ([[Layout.publishShards]], eval-set freezes). Output: the doc
    * columns + `split`.
    */
  def curateDocs(
      docs: DataFrame,
      minTokens: Long = 5,
      minAlphaRatio: Double = 0.5,
      jaccardThreshold: Double = 0.8,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)): DataFrame =
    Sampling.deterministicSplit(
      survivors(docs, minTokens, minAlphaRatio, jaccardThreshold),
      "doc_id", splits)

  /** Stages 1-3 (quality gate → exact dedup → near-dup drop), shared by
    * [[curate]] and [[curateDocs]].
    */
  private def survivors(
      docs: DataFrame,
      minTokens: Long,
      minAlphaRatio: Double,
      jaccardThreshold: Double): DataFrame = {
    // 1. quality gate: thresholds compare the same 4dp-rounded ratios the
    // q_quality oracle proves engine-identical, so the gate is portable
    val quality = TextAnalysis.qualityScore(docs)
      .filter(col("n_tokens") >= minTokens &&
        col("alpha_ratio") >= minAlphaRatio)
      .select("doc_id")
    val filtered = docs.join(quality, Seq("doc_id"), "left_semi")

    // 2. exact dedup: keep the smallest doc_id per normalized text key
    val exactKeep = Dedup.exactDedup(filtered).select("doc_id")
    val deduped = filtered.join(exactKeep, Seq("doc_id"), "left_semi")

    // persisted: consumed by the pair generator, the cluster label
    // universe, and the survivor semi-join — three pipeline re-runs of the
    // two semi-joins above otherwise
    val cached = CacheRegistry.persist(deduped)

    // 3. near-dup drop: pairs → connected components → keep cluster minima
    val clusters = Dedup.dedupClusters(cached,
      Dedup.ngramJaccardPairs(cached, threshold = jaccardThreshold))
    val keepers = clusters.filter(col("doc_id") === col("canonical_id"))
      .select("doc_id")
    cached.join(keepers, Seq("doc_id"), "left_semi")
  }
}
