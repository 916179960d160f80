package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted span-fingerprint store — the incremental-maintenance form
  * of [[Dedup.duplicateSpansExact]]: the corpus' stride-1 `minTokens`-
  * token window md5s live as a hive-partitioned bucket table, new
  * batches APPEND their fingerprints under the frozen geometry, and a
  * probe answers "which of this batch's token windows already appear
  * in the corpus" with work proportional to the batch and its
  * DUPLICATION, never the store — the production shape of exact-
  * substring dedup at ingest cadence (the [[LshIndex]] lifecycle
  * applied to the ExactSubstr family; LSH stores near-dup signatures,
  * this stores exact window prints).
  *
  * Layout: `dir/shard=<hh>/…` where shard = the FIRST `shard_chars`
  * HEX CHARS of the window md5 (2 by default → 256 fixed directories —
  * deterministic, engine-portable, and the DuckDB oracle replays it as
  * substr(md5, 1, n)); rows are (shard, span_md5, doc_id, p) with
  * doc_id normalized to BIGINT (fixed store schema — reads never
  * depend on schema/partition inference, so a store whose present
  * shards happen to be all digits still reads shard as STRING). Files
  * are sorted by span_md5 within each shard so row-group min/max
  * footer stats stay tight for print-keyed skipping and compaction.
  * `dir_meta/meta.json` freezes (min_tokens, shard_chars)
  * ([[StoreMeta]]); stores written before shard_chars existed read
  * back as 1-char/16-shard layouts.
  *
  * Probe scale shape (the 100 TB ingest story): the store scan
  * partition-prunes to the shards the batch hashes to, then SEMI-JOINS
  * against the batch's distinct prints BEFORE any aggregation — the
  * batch print set broadcasts (trickle default), so no store row ever
  * shuffles; only rows whose print the batch actually carries survive
  * into the distinct-doc count. Probe shuffle volume is therefore
  * bounded by batch windows + matching store rows (duplication), not
  * store size — ScaleCheck pins this at a 10× store / tiny batch
  * ratio. An optional Bloom sidecar ([[writeBloom]]) goes further:
  * definitely-new prints are cleared from a few-MB-per-shard bitset
  * that never grows with the store, so a mostly-novel batch prunes its
  * shard list and semi-join keys to the possible-duplicate residue —
  * often reading ZERO store files — while Bloom positives still
  * exact-verify against the store (answers never change).
  *
  * Append is a pure accumulate (duplicate rows across appends are
  * legal — probe counts DISTINCT store docs per print), so replayed
  * appends can only repeat rows, never change answers.
  */
object SpanStore {

  /** Fixed on-disk schema (shard is the hive partition column). Reads
    * supply it explicitly: partition-type inference would flip shard to
    * INT whenever the present shards are all digits, breaking the
    * isin() pruning filter and flip-flopping the column type across
    * store generations.
    */
  private val storeSchema = "doc_id BIGINT, p BIGINT, span_md5 STRING, shard STRING"

  private def readStore(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(storeSchema).parquet(dir)

  /** The store as SERVING sees it: raw rows minus pending tombstones
    * ([[forget]]) — a broadcast anti-join on rows the probe has already
    * shard-pruned and print-semi-joined, so the takedown filter rides
    * duplication-proportional row counts, never the store's.
    */
  private def servingStore(spark: SparkSession, dir: String): DataFrame =
    Tombstones.filterServing(spark, readStore(spark, dir), dir, "doc_id")

  /** Targeted deletion (the data-governance takedown): hide `docIds`'
    * fingerprints from every probe NOW (tombstone sidecar, answer-sized
    * write), remove them physically at the next [[compactStore]]. The
    * Bloom sidecar is append-only and keeps the forgotten docs' bits —
    * harmless by construction (Bloom positives always exact-verify
    * against the tombstone-filtered store, so a print only forgotten
    * docs carried clears to zero hits; no false negative is possible);
    * a [[writeBloom]] rebuild sheds the stale bits when FP-rate hygiene
    * warrants the pass. Re-ingesting a forgotten doc_id is legal only
    * AFTER a compaction has cleared the tombstone ([[Tombstones]]).
    */
  def forget(spark: SparkSession, docIds: DataFrame, dir: String): Unit =
    Tombstones.add(docIds, StoreGen.resolve(dir, spark))

  private def fingerprints(docs: DataFrame, k: Int, shardChars: Int): DataFrame =
    docs
      .select(col("doc_id").cast("long").as("doc_id"),
        TextAnalysis.tokens(col("text")).as("__toks"))
      .filter(size(col("__toks")) >= k)
      .select(col("doc_id"), col("__toks"),
        explode(sequence(lit(0), size(col("__toks")) - k)).as("__p"))
      .select(col("doc_id"), col("__p").cast("long").as("p"),
        md5(concat_ws(" ",
          slice(col("__toks"), col("__p") + 1, lit(k)))).as("span_md5"))
      .withColumn("shard", substring(col("span_md5"), 1, shardChars))

  /** The store-keyed fingerprints of `docs` under `dir`'s frozen
    * geometry: (doc_id, p, span_md5, shard) — the same frame [[probe]]
    * derives internally, exposed so callers can account per-print
    * verdicts ([[bloomMaybe]] admission vs exact hits) without a second
    * tokenization pass of their own.
    */
  def printsOf(spark: SparkSession, docs: DataFrame, dir: String): DataFrame = {
    val (k, sc) = readGeometry(StoreGen.resolve(dir, spark))
    fingerprints(docs, k, sc)
  }

  /** (minTokens, shardChars); pre-shard_chars stores are 1-char/16-dir. */
  private def readGeometry(dir: String): (Int, Int) = {
    val m = StoreMeta.read(dir)
    (m("min_tokens").toInt, m.getOrElse("shard_chars", "1").toInt)
  }

  /** Cold-build the store over `docs`. `shardChars` fixes the directory
    * fan-out (16^n dirs): 2 (256) prunes trickle probes to a few
    * directories; 3 (4096) suits corpus-scale stores where even 1/256
    * of the data is a big scan.
    */
  def write(docs: DataFrame, dir0: String, minTokens: Int = 16,
      filesPerPartition: Int = 1, shardChars: Int = 2,
      withBloom: Boolean = false): Unit = {
    val dir = StoreGen.resolve(dir0, docs.sparkSession)
    require(minTokens > 1, s"minTokens must be > 1, got $minTokens")
    require(shardChars >= 1 && shardChars <= 4,
      s"shardChars must be in [1,4], got $shardChars")
    CacheRegistry.scoped(docs.sparkSession) {
      // withBloom fuses the sidecar build into the write: the store write
      // and the word build share ONE fingerprint pass (the r16 IVFADC
      // fused-guard precedent) instead of writeBloom re-reading the store
      val fp =
        if (withBloom)
          CacheRegistry.persist(fingerprints(docs, minTokens, shardChars))
        else fingerprints(docs, minTokens, shardChars)
      graft.ParquetIO.writePartitioned(fp,
        dir, Seq("shard"), filesPerPartition, sortCols = Seq("span_md5"))
      StoreMeta.write(dir, "min_tokens" -> minTokens, "shard_chars" -> shardChars)
      if (withBloom) buildBloom(fp.select("shard", "span_md5"), dir)
    }
  }

  /** Append a batch's fingerprints under the frozen geometry. When the
    * store carries a Bloom sidecar ([[writeBloom]]), the batch's print
    * positions are appended to it in the same call (frozen bit
    * geometry, so OR-ing generations at probe time equals one filter
    * built over the union) — an append that skipped the sidecar would
    * silently break [[probe]]'s no-false-negative contract, which is
    * why `updateBloom = false` exists only for callers that rebuild
    * the sidecar themselves afterwards.
    */
  def append(spark: SparkSession, batch: DataFrame, dir0: String,
      updateBloom: Boolean = true): Unit = {
    val dir = StoreGen.resolve(dir0, spark)
    val (k, sc) = readGeometry(dir)
    val withBloom = updateBloom && hasBloom(dir)
    CacheRegistry.scoped(spark) {
      // two writer jobs consume the fingerprints when the sidecar rides
      // along — persist so tokenize+md5 runs once over the batch
      val fp =
        if (withBloom)
          CacheRegistry.persist(fingerprints(batch, k, sc))
        else fingerprints(batch, k, sc)
      // SIDECAR FIRST (advisor r17): a crash between the two writer jobs
      // must not leave store prints absent from the Bloom — that would be
      // a silent false NEGATIVE (probe misses real duplicates). Writing
      // the word generation before the store rows means a partial failure
      // leaves only extra Bloom bits, which are harmless: false positives
      // exact-verify against the store, so the no-false-negative contract
      // holds under any crash point.
      if (withBloom) {
        val (mBits, kh) = readBloomGeometry(dir)
        graft.ParquetIO.writePartitioned(
          bloomRows(fp.select("shard", "span_md5"), mBits, kh),
          bloomDir(dir), Seq("shard"), filesPerPartition = 1, mode = "append",
          sortCols = Seq("w"))
      }
      graft.ParquetIO.writePartitioned(fp, dir,
        Seq("shard"), filesPerPartition = 1, mode = "append",
        sortCols = Seq("span_md5"))
    }
  }

  // ---- Bloom sidecar: store-scan-free admission of definitely-new prints

  private def bloomDir(dir: String): String = dir + "_bloom"
  private val bloomSchema = "w BIGINT, word BIGINT, shard STRING"

  /** Schema-explicit sidecar read — the one reader every bloom consumer
    * (probe merge, compaction, CLI report) goes through, so partition
    * inference can never flip `shard` to INT on an all-digit shard set
    * (the store-read rule [[readStore]] follows).
    */
  private[graft] def readBloom(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(bloomSchema).parquet(bloomDir(StoreGen.resolve(dir, spark)))

  /** Does the store carry a Bloom sidecar? */
  def hasBloom(dir: String): Boolean =
    StoreMeta.exists(bloomDir(StoreGen.resolve(dir)))

  /** Frozen (m_bits, k_hashes) of the sidecar. */
  private[graft] def readBloomGeometry(dir: String): (Int, Int) = {
    val m = StoreMeta.read(bloomDir(dir))
    (m("m_bits").toInt, m("k_hashes").toInt)
  }

  /** Dense per-shard Bloom words over prints: (shard, w, word) where
    * word = OR of bits at positions p with p >>> 6 == w. Input rows may
    * repeat (bit_or is idempotent, so no distinct pass is spent on
    * them); map-side partial aggregation collapses each task to at most
    * its touched (shard, w) words, so the shuffle carries ≤ tasks ×
    * shards × mBits/64 rows — sized by the FIXED filter geometry, never
    * the print count. Position family = [[Sketches.bloomPositions]]'s
    * portable md5 basis, so the DuckDB oracle replays the verdict as
    * position-set membership.
    */
  private[graft] def bloomRows(prints: DataFrame, mBits: Int, k: Int): DataFrame =
    prints
      .select(col("shard"),
        explode(Sketches.bloomPositions(col("span_md5"), mBits, k)).as("pos"))
      .select(col("shard"), shiftright(col("pos"), 6).as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("bit"))
      .groupBy("shard", "w")
      .agg(expr("bit_or(bit)").as("word"))

  /** Build the store's Bloom sidecar at `dir_bloom`: one fixed-size
    * bitset per shard over the shard's distinct prints, persisted as
    * sparse (w, word) rows under the same hive shard partitioning so a
    * probe reads only the shards it touches. Size is frozen at build
    * (like every store geometry here): m_bits = bitsPerKey × headroom ×
    * the largest shard's print count, rounded to whole words, clamped
    * to [1024, 2^26] (8 MB/shard cap) — headroom keeps the false-
    * positive rate honest as appends accumulate, and md5 sharding keeps
    * shard counts near-uniform so one global size fits all shards.
    *
    * Why this exists (the 100 TB ingest story): at trickle cadence most
    * batch windows are brand-new, and [[probe]]'s store scan — however
    * well pruned — still opens store files to learn that. The sidecar
    * answers "definitely new" from bitsPerKey bits per distinct store
    * print — ~1-2 orders of magnitude smaller than the (span_md5,
    * doc_id, p) rows it summarizes, frozen across appends — so the
    * store scan runs only over prints the Bloom could not clear: probe
    * I/O ∝ batch duplication + the sidecar slice, with ZERO store files
    * read when the Bloom clears the whole batch.
    */
  def writeBloom(spark: SparkSession, dir0: String, bitsPerKey: Int = 12,
      kHashes: Int = 5, headroom: Int = 4): Unit = {
    val dir = StoreGen.resolve(dir0, spark)
    // tombstone-filtered rebuild: forgotten docs' bits are shed here
    // (between [[forget]] and a rebuild they linger harmlessly — extra
    // bits only ever cost exact-verifications that find nothing)
    buildBloom(servingStore(spark, dir).select("shard", "span_md5"), dir,
      bitsPerKey, kHashes, headroom)
  }

  /** Size + build + freeze the sidecar from a (shard, span_md5) frame —
    * the store's rows ([[writeBloom]]) or the write's own fingerprint
    * pass (`write(withBloom = true)`, one fewer store scan).
    */
  private def buildBloom(prints: DataFrame, dir: String,
      bitsPerKey: Int = 12, kHashes: Int = 5, headroom: Int = 4): Unit = {
    require(bitsPerKey >= 1, s"bitsPerKey must be >= 1, got $bitsPerKey")
    require(kHashes >= 1 && kHashes < 128,
      s"kHashes must be in [1,128), got $kHashes")
    require(headroom >= 1, s"headroom must be >= 1, got $headroom")
    // sizing needs the DISTINCT count; the word build does not (bit_or
    // absorbs repeats), so only this bounded aggregate pays the dedup
    val maxN = prints.groupBy("shard")
      .agg(countDistinct(col("span_md5")).as("n"))
      .agg(coalesce(max("n"), lit(0L))).head().getLong(0)
    val mBits = math.min(math.max(
      (bitsPerKey.toLong * headroom * maxN + 63L) / 64L * 64L, 1024L),
      1L << 26).toInt
    graft.ParquetIO.writePartitioned(bloomRows(prints, mBits, kHashes),
      bloomDir(dir), Seq("shard"), filesPerPartition = 1,
      sortCols = Seq("w"))
    StoreMeta.write(bloomDir(dir), "m_bits" -> mBits, "k_hashes" -> kHashes)
  }

  /** Which of `prints` (distinct (shard, span_md5) rows) does the Bloom
    * sidecar consider possibly-in-store? Returns the POSITIVE subset —
    * true duplicates plus the bounded false-positive share; prints
    * absent from the result are definitely new (Bloom filters have no
    * false negatives as long as every append updated the sidecar, which
    * [[append]] does by default). Work: sidecar word slice for the
    * touched shards OR-merged across append generations (an aggregate
    * over ≤ generations × m_bits/64 rows per shard — the sidecar's own
    * size, never the store's row count), joined position-wise against
    * the batch prints; no store file is opened here. `broadcastWords`
    * (trickle default) ships the merged slice map-side; a corpus-scale
    * store whose word table is broadcast-hostile sets it false and
    * takes a (shard, w)-keyed shuffle of batch positions + sidecar
    * words — still store-scan-free.
    */
  def bloomMaybe(spark: SparkSession, prints: DataFrame, dir0: String,
      broadcastWords: Boolean = true): DataFrame = {
    val dir = StoreGen.resolve(dir0, spark)
    val (mBits, kh) = readBloomGeometry(dir)
    val touched = prints.select("shard").distinct()
      .collect().map(_.getString(0)) // bounded by the 16^shardChars universe
    val words0 = readBloom(spark, dir)
      .filter(col("shard").isin(touched.toIndexedSeq: _*))
      .groupBy("shard", "w").agg(expr("bit_or(word)").as("word"))
    val words = if (broadcastWords) broadcast(words0) else words0
    val pos = prints
      .select(col("shard"), col("span_md5"),
        explode(Sketches.bloomPositions(col("span_md5"), mBits, kh)).as("pos"))
      .select(col("shard"), col("span_md5"), shiftright(col("pos"), 6).as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("bit"))
    pos.join(words, Seq("shard", "w"), "left")
      .groupBy("shard", "span_md5")
      // every one of the k positions must find its bit set; a missing
      // (shard, w) word means no store print ever touched that word
      .agg(min(when(col("word").isNotNull &&
        (col("word").bitwiseAND(col("bit")) =!= 0), 1L).otherwise(0L)).as("__all"))
      .filter(col("__all") === 1L)
      .select("shard", "span_md5")
  }

  /** Which of `batch`'s windows already appear in the store, and in how
    * many distinct STORE documents: (doc_id, p, span_md5,
    * n_store_docs). Batch ids are assumed new to the store (ingest
    * order is probe-then-append, the [[LshIndex.probe]] convention); a
    * doc probed against a store that already contains it reports its
    * own prints back. Feed the hits to [[anchorsToSpans]] →
    * [[Dedup.trimSpans]] (or use [[ingestCurate]] which composes the
    * whole probe→trim→append lineage).
    *
    * `broadcastProbe` (trickle default) broadcasts the batch print set
    * into the store-side semi-join and the batch fingerprints into the
    * final hit join, so store rows never shuffle; a backfill-sized
    * batch sets it false and takes the shuffle joins.
    *
    * `useBloom` (default on, a no-op without the sidecar): when the
    * store carries a Bloom sidecar, definitely-new prints are cleared
    * BEFORE any store planning — the shard IN-list and semi-join keys
    * shrink to the possible-duplicate residue, and a fully-cleared
    * batch reads zero store files. Requires every append since
    * [[writeBloom]] to have updated the sidecar ([[append]]'s default);
    * an out-of-band append with `updateBloom = false` would create
    * false negatives — rebuild via [[writeBloom]] after such a backfill.
    *
    * The batch fingerprint frame is persisted (three consumers: shard
    * collect, print key set, final join) and CacheRegistry-tracked —
    * ingest-cadence callers release it per batch via
    * [[CacheRegistry.release]] (the bench/verify harnesses and
    * [[ingestCurate]]'s streaming twin do), the same contract as
    * [[LshIndex.probe]]'s tracked intermediates.
    */
  def probe(spark: SparkSession, batch: DataFrame, dir0: String,
      broadcastProbe: Boolean = true, useBloom: Boolean = true,
      printsPre: Option[DataFrame] = None,
      bloomCandidatesPre: Option[DataFrame] = None): DataFrame = {
    val dir = StoreGen.resolve(dir0, spark)
    val (k, sc) = readGeometry(dir)
    // reuse handles (r21, guide §6 write-once/reuse): accounting callers
    // (q_spanstore_bloom's shape) already hold this batch's [[printsOf]]
    // frame and its [[bloomMaybe]] verdict for their own per-print
    // columns — without the handles the probe re-tokenized + re-md5'd
    // the batch and re-ran the Bloom check, doubling both passes per
    // ingest batch. `printsPre` MUST be printsOf(batch, dir) and
    // `bloomCandidatesPre` MUST be bloomMaybe over its distinct prints
    // (both ideally persisted by the caller); answers are unchanged by
    // construction — the frames are the ones probe would derive itself.
    val bf = printsPre.getOrElse(CacheRegistry.persist(fingerprints(batch, k, sc)))
    // Bloom admission (when the sidecar exists): clear definitely-new
    // prints BEFORE any store planning, so both the shard IN-list and
    // the semi-join key set shrink to possible-duplicates only — a
    // batch the Bloom fully clears reads ZERO store files. Exactness is
    // unchanged: Bloom positives still exact-verify against the store.
    val candidates =
      if (useBloom && hasBloom(dir))
        bloomCandidatesPre.getOrElse(CacheRegistry.persist(
          bloomMaybe(spark, bf.select("shard", "span_md5").distinct(), dir,
            broadcastWords = broadcastProbe)))
      else bf
    // partition-pruned store scan: only the shards this batch hashes to.
    // The shard universe is <= 16^shardChars values, so the collect is
    // bounded by construction and buys a STATIC PartitionFilters IN-list
    // (planning-time directory elimination, not a runtime join the
    // optimizer may or may not convert to dynamic pruning).
    val shards = candidates.select("shard").distinct().collect().map(_.getString(0))
    val keys = {
      val d = candidates.select("span_md5").distinct()
      if (broadcastProbe) broadcast(d) else d
    }
    // semi-join BEFORE the aggregate: only store rows whose print the
    // batch actually carries reach the distinct-doc count, so the
    // groupBy shuffles duplication-proportional rows — aggregating the
    // whole touched shard first would make every trickle probe pay a
    // store-sized shuffle (r16 verdict task 1).
    val store = servingStore(spark, dir)
      .filter(col("shard").isin(shards.toIndexedSeq: _*))
      .join(keys, Seq("span_md5"), "left_semi")
      .groupBy("span_md5")
      .agg(countDistinct(col("doc_id")).as("n_store_docs"))
    val probeSide = if (broadcastProbe) broadcast(bf) else bf
    store.join(probeSide, "span_md5")
      .select(col("doc_id"), col("p"), col("span_md5"), col("n_store_docs"))
  }

  /** Merge a probe's window anchors into maximal duplicated spans —
    * the gaps-and-islands step of [[Dedup.duplicateSpansExact]] applied
    * to store hits: anchors within `minTokens` of each other belong to
    * one verbatim overlap region [min p, max p + minTokens). Input: any
    * frame with (doc_id, p, n_store_docs) — [[probe]]'s output; window
    * is PARTITIONED BY doc_id (per-doc sized, never global). Output:
    * (doc_id, span_start, span_end, n_tokens, n_windows,
    * max_store_docs).
    */
  def anchorsToSpans(hits: DataFrame, minTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("p")
    hits
      .withColumn("__brk",
        when(col("p") - lag(col("p"), 1).over(w) > minTokens, 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "__island")
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + minTokens).as("span_end"),
        count(lit(1)).as("n_windows"),
        max(col("n_store_docs")).as("max_store_docs"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("n_tokens"),
        col("n_windows"), col("max_store_docs"))
  }

  /** Rewrite the store with duplicate (print, doc, p) rows folded — the
    * accumulate-only append grows the bucket table past the distinct
    * bound after replays; answers are unchanged (probe counts distinct
    * docs anyway). Same-shard partitioning and within-shard span_md5
    * sort, new directory (the [[LshIndex.compactLsh]] atomicity
    * convention). Pending tombstones ([[forget]]) are APPLIED here —
    * forgotten docs' rows never reach `dstDir` and the sidecar is not
    * carried forward, so the compacted store equals a cold build
    * without those docs (the PropertySpec forget∘compact law).
    */
  def compactStore(spark: SparkSession, srcDir0: String,
      dstDir: String, filesPerPartition: Int = 1): Unit = {
    val srcDir = StoreGen.resolve(srcDir0, spark)
    require(dstDir != srcDir, "compactStore writes to a new directory")
    graft.ParquetIO.writePartitioned(
      servingStore(spark, srcDir)
        .select("shard", "span_md5", "doc_id", "p").distinct(),
      dstDir, Seq("shard"), filesPerPartition, sortCols = Seq("span_md5"))
    StoreMeta.copy(srcDir, dstDir)
    // the Bloom sidecar REBUILDS from the compacted store's own prints
    // at the frozen (m_bits, k_hashes) geometry (r18 verdict task 5):
    // OR-folding the append generations kept forgotten/compacted-away
    // prints' bits set forever, so the filter could only densify — a
    // long-lived store's false-positive rate would ratchet upward and
    // a takedown's bits would outlive the takedown. One extra pass over
    // the just-written rows, the compaction's own cost class; answers
    // unchanged (bits only shed where no surviving print sets them —
    // clears are never false negatives). The rebuilt sidecar is row-
    // identical to a fresh build on the compacted store (PropertySpec).
    if (hasBloom(srcDir)) {
      val (mBits, kh) = readBloomGeometry(srcDir)
      graft.ParquetIO.writePartitioned(
        bloomRows(readStore(spark, dstDir).select("shard", "span_md5"),
            mBits, kh)
          .select("w", "word", "shard"),
        bloomDir(dstDir), Seq("shard"), filesPerPartition = 1,
        sortCols = Seq("w"))
      StoreMeta.copy(bloomDir(srcDir), bloomDir(dstDir))
    }
  }

  /** Decontaminate-at-ingest: the [[probe]] → [[anchorsToSpans]] →
    * [[Dedup.trimSpans]] → [[append]] lifecycle as ONE lineage — the
    * production shape where every incoming batch is checked against
    * the corpus the store summarizes, corpus-duplicated spans are CUT
    * from the batch text, docs that were mostly duplication are
    * DROPPED, and only the curated survivors' prints enter the store
    * (so the next batch is probed against corpus+survivors, never
    * against text a trim already removed).
    *
    * A doc is dropped when its kept-token fraction falls below
    * `minKeptFrac` (Lee-et-al style: a doc that is mostly verbatim
    * corpus text contributes nothing new). Dropped docs keep their
    * audit row (dropped=true) but append nothing.
    *
    * Returns the batch audit: (doc_id, text, n_tokens_before,
    * n_tokens_kept, dropped) with `text` already trimmed. The returned
    * frame re-reads the appended store only through [[probe]]-shaped
    * consumers; the append itself runs EAGERLY inside this call (it is
    * a store mutation, not a query), after which the batch-sized
    * intermediates this call persisted are released — streaming-ingest
    * safe.
    */
  def ingestCurate(spark: SparkSession, batch: DataFrame, dir0: String,
      minKeptFrac: Double = 0.3,
      broadcastProbe: Boolean = true): DataFrame = {
    val dir = StoreGen.resolve(dir0, spark)
    require(minKeptFrac >= 0.0 && minKeptFrac <= 1.0,
      s"minKeptFrac must be in [0,1], got $minKeptFrac")
    // the probe's tracked batch fingerprints serve every consumer (trim +
    // append run eagerly inside the scope) — the scope frees them so
    // ingest cadence doesn't grow executor storage one cached frame per
    // batch
    CacheRegistry.scoped(spark) {
      val (k, _) = readGeometry(dir)
      val hits = probe(spark, batch, dir, broadcastProbe)
      val trimmed = Dedup.trimSpans(
        batch.select(col("doc_id").cast("long").as("doc_id"), col("text")),
        anchorsToSpans(hits, k))
      val audited = trimmed.withColumn("dropped",
        when(col("n_tokens_before") === 0L, lit(true))
          .otherwise(col("n_tokens_kept").cast("double")
            / col("n_tokens_before") < minKeptFrac))
      // one computation feeds both the store append and the returned
      // audit: localCheckpoint materializes the curated batch (answer-
      // sized: one row per batch doc) and cuts the probe lineage, so the
      // append below and the caller's reads never recompute the probe
      val out = audited.localCheckpoint(true)
      append(spark, out.filter(!col("dropped")).select("doc_id", "text"), dir)
      out
    }
  }
}
