package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH band-bucket store — incremental near-duplicate
  * maintenance, the text twin of the IVFADC storage index
  * ([[Similarity.writeIvfPqIndex]] / [[Similarity.appendIvfPq]]).
  *
  * A batch dedup ([[Dedup.minHashNearDupPortable]]) re-shingles the whole
  * corpus per run; a real pipeline appends shards. The store keeps what
  * the candidate path actually needs — band buckets and signatures — so
  * an append costs one signature pass over the BATCH only, and probing a
  * batch against a 100 TB corpus reads bucket collisions, never text.
  *
  * Layout under `dir` (all zstd parquet):
  *   - `dir`        — (bucket, doc_id), hive-partitioned by
  *                    `shard = pmod(xxhash64(bucket), nShards)`: appends
  *                    drop files only into touched shards, and a probe's
  *                    store scan partition-prunes to the shards its batch
  *                    buckets hash to (pinned by PlansSpec);
  *   - `dir_sigs`   — (doc_id, s0..s{numHashes-1}) wide portable
  *                    signatures ([[Dedup.minHashSignaturesPortable]]) —
  *                    pair estimates never re-read text;
  *   - `dir_meta`   — one row (num_hashes, bands, shingle_size, n_shards):
  *                    the frozen hash-family geometry. Probes and appends
  *                    read their parameters FROM the sidecar, so a batch
  *                    can never be encoded under a different family than
  *                    the store (the appendIvfPq meta-guard precedent).
  *
  * Equality law (oracle-gated by q_lsh_append, spec-gated by
  * LshIndexSpec): signatures and band buckets are pure per-row functions
  * of the document — no trained codebook — so seed-then-append produces
  * a store whose pair set ([[lshPairs]]) is row-identical to a cold
  * [[write]] over the union, and [[probe]] (new-vs-store + intra-batch)
  * is exactly the pair-set delta. Unlike the IVF index there is no
  * codebook-defining-seed precondition: ANY split satisfies the law.
  */
object LshIndex {

  private def sigsDir(dir: String) = dir + "_sigs"
  // schema-explicit reads: an EMPTY seed or batch is legal (no codebook
  // precondition), and a zero-row partitioned write leaves no parquet
  // footer to infer from — the store's schemas are fixed by its meta,
  // so supply them instead of inferring (pinned by the PropertySpec
  // any-split law, whose draws include empty seeds)
  private def readBuckets(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema("bucket string, doc_id bigint, shard bigint")
      .parquet(dir)

  private def readSigs(spark: SparkSession, dir: String,
      numHashes: Int): DataFrame =
    spark.read.schema(
        ("doc_id bigint" +: (0 until numHashes).map(i => s"s$i bigint"))
          .mkString(", "))
      .parquet(sigsDir(dir))

  private case class Meta(numHashes: Int, bands: Int, shingleSize: Int,
      nShards: Int)

  /** Targeted deletion: hide `docIds` from every serving read NOW
    * ([[Tombstones]] sidecar — [[lshPairs]] and [[probe]] anti-join the
    * bucket scan against the broadcast set, so no pair with a forgotten
    * endpoint survives), remove their bucket and signature rows
    * physically at the next [[compactLsh]]. The `dedupeIds` append
    * guard intentionally still sees forgotten ids (their sigs rows are
    * physically present): re-ingesting a forgotten doc_id is legal only
    * AFTER a compaction has removed the old rows and cleared the
    * tombstone — an append before that would hide the new rows behind
    * the same tombstone.
    */
  def forget(spark: SparkSession, docIds: DataFrame, dir: String): Unit =
    Tombstones.add(docIds, StoreGen.resolve(dir, spark))

  /** The bucket table as SERVING sees it: raw rows minus pending
    * tombstones — a broadcast anti-join on the (narrow) bucket rows,
    * identity when nothing was ever forgotten.
    */
  private def servingBuckets(spark: SparkSession, dir: String): DataFrame =
    Tombstones.filterServing(spark, readBuckets(spark, dir), dir, "doc_id")

  private def readMeta(spark: SparkSession, dir: String): Meta = {
    val m = StoreMeta.read(dir)
    Meta(m("num_hashes").toInt, m("bands").toInt,
      m("shingle_size").toInt, m("n_shards").toInt)
  }

  /** (doc_id, bucket, shard) for `docs` under the store geometry, plus
    * the persisted wide signatures they were banded from — the shared
    * encode of [[write]], [[append]] and [[probe]]. The signature frame
    * is persisted and CacheRegistry-tracked (two+ consumers everywhere:
    * bucket build and sig write / estimate sides).
    */
  private def encode(docs: DataFrame, m: Meta): (DataFrame, DataFrame) = {
    val sigs = CacheRegistry.persist(
      Dedup.minHashSignaturesPortable(docs, m.numHashes, m.shingleSize))
    val buckets = Dedup.portableBandBuckets(sigs, m.numHashes, m.bands)
      .withColumn("shard", pmod(xxhash64(col("bucket")), lit(m.nShards)))
    (sigs, buckets)
  }

  /** Cold-build the store over `docs`. Parameter defaults mirror
    * [[Dedup.minHashNearDupPortable]] so the cold pair set is the proven
    * q_minhash_neardup answer. `filesPerPartition` bounds files per shard
    * ([[graft.ParquetIO.writePartitioned]]).
    */
  def write(docs: DataFrame, dir0: String, numHashes: Int = 16,
      bands: Int = 4, shingleSize: Int = 3, nShards: Int = 16,
      filesPerPartition: Int = 1): Unit = {
    val dir = StoreGen.resolve(dir0, docs.sparkSession)
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val m = Meta(numHashes, bands, shingleSize, nShards)
    val (sigs, buckets) = encode(docs, m)
    // both sig consumers (bucket build, sidecar write) run inside this
    // eager call, so release the cached signatures here — a streaming
    // ingest calls write/append once per micro-batch, and leaving the
    // release to the session-level CacheRegistry would grow executor
    // storage by one cached frame per batch, forever
    try ParJobs.run(
      () => graft.ParquetIO.writePartitioned(
        buckets.select("shard", "bucket", "doc_id"), dir, Seq("shard"),
        filesPerPartition),
      () => sigs.write.mode("overwrite").option("compression", "zstd")
        .parquet(sigsDir(dir)))
    finally sigs.unpersist(false)
    // sidecar is driver-written JSON — zero extra Spark jobs (StoreMeta)
    StoreMeta.write(dir, "num_hashes" -> numHashes, "bands" -> bands,
      "shingle_size" -> shingleSize, "n_shards" -> nShards)
  }

  /** Append `batch` under the FROZEN store geometry: one signature pass
    * over the batch, buckets into their shards, signatures into the
    * sidecar. Nothing existing is rewritten — maintenance is a pure
    * per-row append, like [[Similarity.appendIvfPq]].
    *
    * `dedupeIds` (opt-in) drops batch docs whose `doc_id` the store
    * already signed — the producer-duplicate guard: a doc appended twice
    * would list its id twice in every one of its buckets, and the pair
    * expansion would then emit a self-pair (est 1.0) plus doubled
    * neighbor pairs — loud hash corruption, which is exactly why
    * q_lsh_append re-appends its batch behind this guard. The existence
    * scan is a column-pruned `doc_id` read of the sigs sidecar (an
    * anti-join, never a collect).
    */
  def append(spark: SparkSession, batch: DataFrame, dir0: String,
      dedupeIds: Boolean = false): Unit = {
    val dir = StoreGen.resolve(dir0, spark)
    val m = readMeta(spark, dir)
    val input =
      if (!dedupeIds) batch
      else batch.join(
        readSigs(spark, dir, m.numHashes).select("doc_id"),
        Seq("doc_id"), "left_anti")
    // redelivery fast path: behind the id guard a fully-replayed batch
    // appends nothing — skip the signature encode and its two write
    // jobs (one bounded limit-1 probe instead). At-least-once producers
    // hit this on every redelivery, so the skip is ingest-cadence wall,
    // not just hygiene; the un-guarded path keeps its zero-action shape
    // (an empty write is how "no rows" commits there).
    if (dedupeIds && input.isEmpty) return
    val (sigs, buckets) = encode(input, m)
    // eager consumers both run here — release the batch signatures
    // (streaming ingest leak guard, same as [[write]])
    try ParJobs.run(
      () => graft.ParquetIO.writePartitioned(
        buckets.select("shard", "bucket", "doc_id"), dir, Seq("shard"),
        filesPerPartition = 1, mode = "append"),
      () => sigs.write.mode("append").option("compression", "zstd")
        .parquet(sigsDir(dir)))
    finally sigs.unpersist(false)
  }

  /** The store's full near-duplicate pair set — what a cold
    * [[Dedup.minHashNearDupPortable]] over every doc ever written would
    * return, read from buckets and signatures instead of text.
    * Output: (doc_id_a, doc_id_b, est_jaccard), a < b, est ≥ threshold.
    */
  def lshPairs(spark: SparkSession, dir0: String, threshold: Double = 0.5,
      pairListCutoff: Int = 128): DataFrame = {
    val dir = StoreGen.resolve(dir0, spark)
    val m = readMeta(spark, dir)
    // persisted: both pairsFromIdLists branches scan the lists
    val lists = CacheRegistry.persist(
      servingBuckets(spark, dir).groupBy("bucket")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) > 1))
    val candidates = Dedup.pairsFromIdLists(lists, "bucket", pairListCutoff)
      .distinct()
    Dedup.portableEstJaccard(
        candidates, readSigs(spark, dir, m.numHashes), m.numHashes)
      .filter(col("est_jaccard") >= threshold)
  }

  /** Compact a bucket table that [[append]] has grown by accumulation:
    * every append drops at least one file into each touched `shard=`
    * directory, and at streaming cadence per-file open/footer overhead
    * eventually dominates the probe scan — the same small-file failure
    * [[Similarity.compactIvfPq]] exists for. Rewrites buckets into
    * `outDir` with the SAME shard partitioning (probe pruning untouched)
    * at `filesPerPartition` files per shard, compacts the signature
    * sidecar to `sigFiles` files, and copies the frozen `_meta` verbatim.
    * Writes to a NEW directory: the swap-to-live step is the caller's
    * atomicity boundary (object-store rename semantics).
    */
  def compactLsh(spark: SparkSession, dir0: String, outDir: String,
      filesPerPartition: Int = 1, sigFiles: Int = 4): Unit = {
    val dir = StoreGen.resolve(dir0, spark)
    require(outDir != dir, "compactLsh writes to a new directory")
    // pending tombstones ([[forget]]) apply PHYSICALLY here: forgotten
    // docs' bucket AND signature rows never reach outDir, and the
    // sidecar is not carried forward — the compacted store equals a
    // cold build without those docs (the forget∘compact law)
    graft.ParquetIO.writePartitioned(
      servingBuckets(spark, dir).select("shard", "bucket", "doc_id"),
      outDir, Seq("shard"), filesPerPartition)
    Tombstones.filterServing(spark, spark.read.parquet(sigsDir(dir)),
        dir, "doc_id")
      .repartition(sigFiles)
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(sigsDir(outDir))
    StoreMeta.copy(dir, outDir)
  }

  /** Probe `batch` against the store WITHOUT appending: the near-dup
    * pairs a cold rebuild over (store ∪ batch) would add — batch-vs-store
    * bucket collisions plus intra-batch pairs. Probe-then-append is the
    * streaming ingest order: flag an incoming shard's duplicates against
    * the corpus, then admit it.
    *
    * Scale shape: the store scan partition-prunes to the shards the
    * batch's own buckets hash to (a trickle batch touches few shards;
    * pinned by PlansSpec), and the collision join broadcasts the batch
    * side when `broadcastProbe` (the trickle default — at most
    * bands·|batch| narrow rows); a backfill-sized batch sets it false
    * and takes the shuffle join. Estimates join the candidate ids
    * against batch signatures ∪ the sigs sidecar — column-pruned,
    * never a text re-read.
    *
    * Batch ids must be new to the store (the [[append]] `dedupeIds`
    * guard's invariant); a redelivered id would pair with itself, so
    * self-pairs are filtered defensively but neighbor estimates of a
    * duplicated id are the caller's corruption to prevent.
    */
  def probe(spark: SparkSession, batch: DataFrame, dir0: String,
      threshold: Double = 0.5, pairListCutoff: Int = 128,
      broadcastProbe: Boolean = true): DataFrame = {
    val dir = StoreGen.resolve(dir0, spark)
    val m = readMeta(spark, dir)
    val (bsigs, bbucketsRaw) = encode(batch, m)
    val bbuckets = CacheRegistry.persist(bbucketsRaw)
    // touched shards: ≤ nShards values (codebook-bounded, like the IVF
    // probe's centroid list) — the partition-pruning IN filter below
    val touched = bbuckets.select("shard").distinct()
      .collect().map(_.getLong(0))
    val store = servingBuckets(spark, dir)
      .filter(col("shard").isin(touched.toSeq: _*))
      .select(col("bucket"), col("doc_id").as("__sid"))
    val probeSide = {
      val b = bbuckets.select(col("bucket"), col("doc_id").as("__bid"))
      if (broadcastProbe) broadcast(b) else b
    }
    val cross = store.join(probeSide, "bucket")
      .select(least(col("__sid"), col("__bid")).as("doc_id_a"),
        greatest(col("__sid"), col("__bid")).as("doc_id_b"))
      .filter(col("doc_id_a") =!= col("doc_id_b"))
    val intraLists = CacheRegistry.persist(
      bbuckets.groupBy("bucket")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) > 1))
    val intra = Dedup.pairsFromIdLists(intraLists, "bucket", pairListCutoff)
    val candidates = cross.union(intra).distinct()
    val allSigs = readSigs(spark, dir, m.numHashes).unionByName(bsigs)
    Dedup.portableEstJaccard(candidates, allSigs, m.numHashes)
      .filter(col("est_jaccard") >= threshold)
  }

  /** Dedup-at-ingest — the near-duplicate twin of
    * [[SpanStore.ingestCurate]]: probe `batch` against the store
    * ([[probe]]: batch-vs-store collisions + intra-batch pairs), DROP
    * every batch doc that near-duplicates the corpus or a smaller-id
    * batch doc (the deterministic keep-first rule — smallest id of an
    * intra-batch pair survives, exactly replayable in SQL; full
    * transitive clustering is [[Dedup.dedupClusters]]' batch job, not
    * an ingest decision), then [[append]] only the survivors — so the
    * next batch is probed against corpus + survivors, never against
    * docs a drop already removed.
    *
    * Returns the batch audit: (doc_id, text, n_store_dups,
    * n_batch_dups, dropped) — n_store_dups counts ≥`threshold` pairs
    * with STORE docs, n_batch_dups with smaller-id batch docs. The
    * append runs EAGERLY inside this call (store mutation, not query);
    * batch-sized tracked intermediates are released before returning —
    * streaming-ingest safe, the [[SpanStore.ingestCurate]] contract.
    */
  def ingestDedup(spark: SparkSession, batch: DataFrame, dir0: String,
      threshold: Double = 0.5): DataFrame = {
    val dir = StoreGen.resolve(dir0, spark)
    CacheRegistry.scoped(spark) {
      val pairs = probe(spark, batch, dir, threshold)
      val bids = batch.select(col("doc_id"))
      // each pair read from BOTH ends, then per-doc partner accounting;
      // pair volume is duplication-proportional (the probe's contract)
      val sym = pairs
        .select(col("doc_id_b").as("doc_id"), col("doc_id_a").as("partner"))
        .unionByName(pairs
          .select(col("doc_id_a").as("doc_id"), col("doc_id_b").as("partner")))
      // batch ids broadcast twice (id-only frames): keep batch-side rows,
      // classify each partner as store or batch
      val flags = sym
        .join(broadcast(bids), Seq("doc_id"), "left_semi")
        .join(broadcast(bids.select(col("doc_id").as("partner"))
          .withColumn("__inb", lit(true))), Seq("partner"), "left")
        .groupBy("doc_id")
        .agg(
          sum(when(col("__inb").isNull, 1L).otherwise(0L)).as("n_store_dups"),
          sum(when(col("__inb").isNotNull && col("partner") < col("doc_id"),
            1L).otherwise(0L)).as("n_batch_dups"))
      val audited = batch.select(col("doc_id"), col("text"))
        .join(flags, Seq("doc_id"), "left")
        .select(col("doc_id"), col("text"),
          coalesce(col("n_store_dups"), lit(0L)).as("n_store_dups"),
          coalesce(col("n_batch_dups"), lit(0L)).as("n_batch_dups"))
        .withColumn("dropped",
          col("n_store_dups") > 0 || col("n_batch_dups") > 0)
      // answer-sized (one row per batch doc); materialized so the append
      // below and the caller's reads never recompute the probe
      val out = audited.localCheckpoint(true)
      append(spark, out.filter(!col("dropped")).select("doc_id", "text"), dir)
      out
    }
  }
}
