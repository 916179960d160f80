package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted HLL register layer — the distinct-count member of the
  * metrics-store family ([[SketchStore]] is the quantile member; same
  * window-partitioned layout, same frozen-geometry sidecar rule).
  *
  * The dashboard question is "distinct users per type for the week of
  * Jan 8" over data too large to rescan. What CAN be persisted is the
  * [[Sketches.hllRegistersBy]] register table per (event-time window,
  * group): ≤ 2^p rows per cell whatever the event volume, and registers
  * MERGE BY PER-INDEX MAX — across windows, shards, and ingest batches
  * ([[Sketches.hllMerge]]'s union property). Serving a range distinct
  * count is a partition-pruned read of the covered windows plus one
  * bounded max-merge + finalize; raw events are never touched again.
  *
  * The algebra difference from the quantile store is the operational
  * point: MAX is IDEMPOTENT, so re-appending the same events cannot
  * change any answer (duplicate (idx, rho) observations collapse in the
  * serve-time merge). An at-least-once producer needs no replay fence
  * for correctness here — only compaction hygiene, because replayed
  * rows still occupy store space until [[compactStore]] folds them.
  * [[SketchStore]]'s counts have no such identity; its appends MUST be
  * fenced. The streaming twins inherit exactly this contrast
  * ([[graft.streaming.Streaming.streamingHllIngest]]).
  *
  * Layout: `dir/window_start_ms=<epoch ms>/…parquet` holding
  * (group, idx, mrho), plus the one-row `dir_meta` freezing (p,
  * windowMs, itemCol, groupCol) — appends must hash under the SEED's
  * precision or the merged registers would mix incompatible idx spaces
  * (the [[Sketches.hllMerge]] contract, frozen-sidecar rule).
  */
object HllStore {

  private case class Meta(p: Int, windowMs: Long,
      itemCol: String, groupCol: String)

  private def readMeta(spark: SparkSession, dir: String): Meta = {
    val m = StoreMeta.read(dir)
    Meta(m("p").toInt, m("window_ms").toLong, m("item_col"), m("group_col"))
  }

  /** Window-keyed register partials for `events` under precision `m.p`.
    * The item is hashed via its STRING form (md5Token60 needs bytes and
    * the DuckDB oracle replays `CAST(x AS VARCHAR)` identically).
    * Expects the nanos-long `ts` convention (`Tables.loadEvents`).
    */
  private def encode(events: DataFrame, m: Meta): DataFrame =
    Sketches.hllRegistersBy(
      events
        .withColumn("window_start_ms",
          expr(s"((ts div 1000000) div ${m.windowMs}) * ${m.windowMs}"))
        .withColumn("__item", col(m.itemCol).cast("string")),
      "__item", m.p, Seq("window_start_ms", m.groupCol))

  /** Cold-build the store over `events`. */
  def write(events: DataFrame, dir: String,
      itemCol: String = "user_id", groupCol: String = "event_type",
      windowMs: Long = 3600000L, p: Int = 12,
      filesPerPartition: Int = 1): Unit = {
    require(windowMs > 0, s"windowMs must be positive, got $windowMs")
    val m = Meta(p, windowMs, itemCol, groupCol)
    graft.ParquetIO.writePartitioned(encode(events, m), dir,
      Seq("window_start_ms"), filesPerPartition)
    // sidecar is driver-written JSON — zero extra Spark jobs (StoreMeta)
    StoreMeta.write(dir, "p" -> p, "window_ms" -> windowMs,
      "item_col" -> itemCol, "group_col" -> groupCol)
  }

  /** Append a batch's register partials under the FROZEN precision.
    * Pure accumulate; duplicate (window, group, idx) rows are legal —
    * the serve-time per-index MAX folds them, which also makes a
    * REPLAYED append invisible to every answer (pinned in
    * HllStoreSpec). Returns the touched window keys — the same
    * bounded-maintenance contract as [[SketchStore.append]].
    */
  def append(spark: SparkSession, events: DataFrame, dir: String): Seq[Long] = {
    val m = readMeta(spark, dir)
    // touched windows ride the write itself as an Observation (a
    // windows-sized collect_set evaluated inline with the write job) —
    // the prior CacheRegistry.cut + separate distinct/collect cost a full
    // extra materialization per append, pure fixed overhead at store
    // cadence (r15 verdict task 7)
    val obs = org.apache.spark.sql.Observation()
    graft.ParquetIO.writePartitioned(
      encode(events, m).observe(obs, collect_set(col("window_start_ms")).as("__ws")),
      dir, Seq("window_start_ms"), filesPerPartition = 1, mode = "append")
    obs.get("__ws").asInstanceOf[Seq[Any]].map {
      case l: Long => l
      case l: java.lang.Long => l.longValue()
    }
  }

  private def readRegisters(spark: SparkSession, dir: String,
      fromMs: Long, toMs: Long): DataFrame = {
    require(fromMs < toMs, s"empty window range [$fromMs, $toMs)")
    // range filter on the hive partition column — planning-time pruning,
    // serving cost follows the RANGE, not the store's history
    spark.read.parquet(dir)
      .filter(col("window_start_ms") >= fromMs &&
        col("window_start_ms") < toMs)
  }

  /** Per-group distinct estimates over event-time range [fromMs, toMs):
    * window registers merge by per-index MAX into one per-group sketch
    * (the [[Sketches.hllMerge]] union property — the merged table IS the
    * register table of the union, not an approximation), then the raw
    * finalize. Output (group, n_registers_used, s_fixed, est_distinct).
    * No raw-event access; no small-range ln correction, so the estimate
    * replays bit-for-bit in the oracle (see
    * [[Sketches.correctedEstimate]] for why ln stays out of gated
    * results).
    */
  def distinct(spark: SparkSession, dir: String,
      fromMs: Long, toMs: Long, corrected: Boolean = false): DataFrame = {
    val m = readMeta(spark, dir)
    withCorrection(Sketches.hllFinalizeBy(
      readRegisters(spark, dir, fromMs, toMs)
        .groupBy(col(m.groupCol), col("idx"))
        .agg(max(col("mrho")).as("mrho")),
      m.p, Seq(m.groupCol)), m.p, corrected)
  }

  /** Optionally append the small-range-corrected estimate (linear
    * counting below 2.5·m — [[Sketches.correctedEstimate]]). Spec-gated
    * only: ln keeps it out of hash-gated results, but a DAU cell far
    * below 2.5·2^p is the COMMON case for a serving layer, where the
    * raw harmonic estimate is badly biased.
    */
  private def withCorrection(df: DataFrame, p: Int,
      corrected: Boolean): DataFrame =
    if (!corrected) df
    else df.withColumn("est_corrected",
      Sketches.correctedEstimate(p)(col("n_registers_used"), col("s_fixed")))

  /** Per-(window, group) estimates over the range — the time-series
    * view; the per-cell max-merge folds append-duplicated registers.
    */
  def windowDistinct(spark: SparkSession, dir: String,
      fromMs: Long, toMs: Long, corrected: Boolean = false): DataFrame = {
    val m = readMeta(spark, dir)
    withCorrection(Sketches.hllFinalizeBy(
      readRegisters(spark, dir, fromMs, toMs)
        .groupBy(col("window_start_ms"), col(m.groupCol), col("idx"))
        .agg(max(col("mrho")).as("mrho")),
      m.p, Seq("window_start_ms", m.groupCol)), m.p, corrected)
  }

  /** Pairwise distinct-count overlap between the store's groups over
    * event-time range [fromMs, toMs) — "how many users both clicked AND
    * purchased that week" from the same partition-pruned register read
    * the per-group serve uses ([[Sketches.hllOverlapBy]] for the
    * inclusion–exclusion algebra and the G² gate). Raw events never
    * rescanned; replayed appends invisible as everywhere in this store.
    */
  def overlap(spark: SparkSession, dir: String,
      fromMs: Long, toMs: Long, maxGroups: Int = 1024,
      corrected: Boolean = false): DataFrame = {
    val m = readMeta(spark, dir)
    Sketches.hllOverlapBy(
      readRegisters(spark, dir, fromMs, toMs)
        .select(col(m.groupCol), col("idx"), col("mrho")),
      m.p, m.groupCol, maxGroups, corrected)
  }

  /** Rewrite `srcDir` with duplicate registers max-folded (one row per
    * (window, group, idx)) — answers are unchanged BY CONSTRUCTION
    * (max-merge is exactly what serving does), rows drop back to the
    * ≤ 2^p-per-cell bound after many appends or replays.
    */
  def compactStore(spark: SparkSession, srcDir: String,
      dstDir: String): Unit = {
    val m = readMeta(spark, srcDir)
    val merged = spark.read.parquet(srcDir)
      .groupBy(col("window_start_ms"), col(m.groupCol), col("idx"))
      .agg(max(col("mrho")).as("mrho"))
    graft.ParquetIO.writePartitioned(merged, dstDir,
      Seq("window_start_ms"), filesPerPartition = 1)
    StoreMeta.copy(srcDir, dstDir)
  }
}
