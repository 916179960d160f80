package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{LogParser, ParquetIO, Schema, Tables}

/** Per-user sessionization state/rows (top-level so Encoders resolve). */
private[streaming] case class Ev(event_id: Long, user_id: Long, ts_ms: Long)
private[streaming] case class SessState(lastMs: Long, sessionId: Long)
private[streaming] case class SessOut(event_id: Long, user_id: Long, session_id: Long)

/** Per-user funnel / retention state and emissions (top-level for
  * Encoders). FunnelState.times is the filled PREFIX of per-stage
  * earliest timestamps — stages fill strictly left to right, so its
  * length is the number of stages reached.
  */
private[streaming] case class FEv(
    event_id: Long, user_id: Long, event_type: String, tsn: Long)
private[streaming] case class FunnelState(times: Seq[Long])
private[streaming] case class Reach(user_id: Long, stage_idx: Int, tsn: Long)
private[streaming] case class REv(user_id: Long, ts_ms: Long)
private[streaming] case class RetState(cohort: Long, seen: Seq[Long])
private[streaming] case class RetHit(
    user_id: Long, cohort: Long, period_offset: Long)

/** Per-user running-moment state for the online anomaly scorer: exact
  * unscaled longs of the batch plan's DECIMAL sums (Σx at scale 4,
  * Σx² at scale 8).
  */
private[streaming] case class AEv(
    event_id: Long, user_id: Long, value: Double, tsn: Long)
private[streaming] case class AnomState(n: Long, sxU: Long, sxxU: Long)
private[streaming] case class AnomOut(
    event_id: Long, user_id: Long, value: Double, z: Double)

/** Structured Streaming surface.
  *
  * The reference's "streaming" is pull-based batch iteration (SURVEY.md
  * §2.8) — plain DataFrames already reproduce it. This module is the
  * event-stream extension: continuous ingest of arriving log files and
  * event-time windowed analytics with watermarks.
  */
object Streaming {

  /** Continuous log ingest: watch `inputDir` for new log files, parse each
    * with the exact batch semantics, append entries to `outputDir`.
    *
    * File-granularity processing inside foreachBatch: the group
    * carry-forward (W1) is order-sensitive *within one file*, and a log
    * file arrives whole — so each micro-batch re-runs the deterministic
    * batch parser on exactly the newly-seen files. This keeps streaming
    * and batch results bit-identical (no approximation of W1 with
    * cross-batch state, which a raw line-stream would need).
    */
  def startLogIngest(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      availableNow: Boolean = true): StreamingQuery = {
    val fileStream = spark.readStream
      .format("text")
      .load(inputDir)
      .select(input_file_name().as("file"))

    val writer = fileStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val files = batch.select("file").distinct().collect().map(_.getString(0))
        if (files.nonEmpty) {
          val entries = LogParser.parse(batch.sparkSession, files.mkString(","))
          entries
            .sortWithinPartitions(Schema.File, Schema.LineNo)
            .write.mode("append")
            .option("compression", "zstd")
            .parquet(outputDir)
        }
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Event-time windowed aggregation with a watermark over the events
    * stream: counts + value sum per (window, event_type), late data beyond
    * the watermark dropped. `ts` (nanos long) becomes the event-time
    * column.
    */
  def eventWindowCounts(
      spark: SparkSession,
      eventsDir: String,
      windowDuration: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsDir).schema
    Tables.normalizeEventTs(spark.readStream
      .schema(schema)
      .parquet(eventsDir))
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowDuration), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
  }

  /** Streaming gap-based sessionization — custom per-key state via
    * flatMapGroupsWithState (the one reference-shaped operator that doesn't
    * translate to a plain window in streaming: each user's session counter
    * and last-seen time must survive across micro-batches).
    *
    * Emits (event_id, user_id, session_id) with the same semantics as the
    * batch [[graft.operators.Events.sessionize]] for in-order input.
    */
  def streamingSessionize(
      spark: SparkSession,
      eventsDir: String,
      gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsDir).schema
    val s = spark
    import s.implicits._

    val events = Tables.normalizeEventTs(
        spark.readStream.schema(schema).parquet(eventsDir))
      .selectExpr("event_id", "user_id", "ts div 1000000 AS ts_ms")
      .as[Ev]

    def fn(user: Long, evs: Iterator[Ev], state: GroupState[SessState]): Iterator[SessOut] = {
      var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L))
      val out = evs.toSeq.sortBy(e => (e.ts_ms, e.event_id)).map { e =>
        val newSession = st.lastMs == Long.MinValue || e.ts_ms - st.lastMs > gapMs
        st = SessState(e.ts_ms, if (newSession) st.sessionId + 1 else st.sessionId)
        SessOut(e.event_id, user, st.sessionId)
      }
      state.update(st)
      out.iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** Streaming funnel: a per-user stage-reach state machine keyed by
    * user_id. State is the filled prefix of per-stage earliest
    * timestamps; an event fills stage u iff u is the first unfilled
    * stage, its type is stages(u), and its ts is strictly after the
    * stage-(u-1) time — exactly [[graft.operators.Events.funnel]]'s
    * min-over-qualifying chain when events are processed in event-time
    * order (the [[streamingCdcApply]] ordered-delivery contract across
    * micro-batches; within a batch the group sorts by (tsn, event_id)).
    * Each (user, stage) reach is emitted EXACTLY ONCE, so
    * [[graft.operators.Events.funnelFromReaches]] over the emissions
    * equals the batch funnel — the streamed ≡ batch law the spec pins.
    * State per user is ≤ `stages.length` longs: bounded, no timeout
    * needed for correctness.
    */
  def streamingFunnelReaches(
      spark: SparkSession,
      eventsDir: String,
      stages: Seq[String],
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(stages.nonEmpty, "funnel needs at least one stage")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsDir).schema
    val s = spark
    import s.implicits._
    val reader = spark.readStream.schema(schema)
    val events = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(eventsDir)
      .transform(Tables.normalizeEventTs)
      .selectExpr("event_id", "user_id", "event_type", "ts AS tsn")
      .as[FEv]

    def fn(user: Long, evs: Iterator[FEv],
        state: GroupState[FunnelState]): Iterator[Reach] = {
      val times = scala.collection.mutable.ArrayBuffer.from(
        state.getOption.map(_.times).getOrElse(Seq.empty))
      val out = scala.collection.mutable.ArrayBuffer.empty[Reach]
      evs.toSeq.sortBy(e => (e.tsn, e.event_id)).foreach { e =>
        val u = times.length
        if (u < stages.length && e.event_type == stages(u) &&
            (u == 0 || e.tsn > times(u - 1))) {
          times += e.tsn
          out += Reach(user, u, e.tsn)
        }
      }
      state.update(FunnelState(times.toSeq))
      out.iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** Streaming cohort retention: per-user state is (cohort bucket of the
    * first-ever event, set of period offsets already emitted); each new
    * (user, period) is emitted exactly once, so grouping the emissions
    * by (cohort, period_offset) with a count equals
    * [[graft.operators.Events.retentionCohorts]]. Ordered delivery
    * makes the first processed event the user's true min — the same
    * contract every stateful twin here rides. State per user is one
    * long + one offset per ACTIVE period (bounded by the covered time
    * range / bucketMs, not by event count).
    */
  def streamingRetentionHits(
      spark: SparkSession,
      eventsDir: String,
      bucketMs: Long = 24L * 3600 * 1000,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(bucketMs > 0, "bucketMs must be positive")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsDir).schema
    val s = spark
    import s.implicits._
    val reader = spark.readStream.schema(schema)
    val events = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(eventsDir)
      .transform(Tables.normalizeEventTs)
      .selectExpr("user_id", "ts div 1000000 AS ts_ms")
      .as[REv]

    def fn(user: Long, evs: Iterator[REv],
        state: GroupState[RetState]): Iterator[RetHit] = {
      var cohort = state.getOption.map(_.cohort).getOrElse(Long.MinValue)
      val seen = scala.collection.mutable.Set.from(
        state.getOption.map(_.seen).getOrElse(Seq.empty))
      val out = scala.collection.mutable.ArrayBuffer.empty[RetHit]
      evs.toSeq.sortBy(_.ts_ms).foreach { e =>
        val p = Math.floorDiv(e.ts_ms, bucketMs)
        if (cohort == Long.MinValue) cohort = p
        val off = p - cohort
        if (!seen(off)) {
          seen += off
          out += RetHit(user, cohort, off)
        }
      }
      state.update(RetState(cohort, seen.toSeq))
      out.iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** Streaming online anomaly scorer — the live twin of
    * [[graft.operators.Events.runningValueAnomalies]]: per-user running
    * moments (n, Σx, Σx²) survive across micro-batches as three exact
    * longs of state; each event is scored against the STRICTLY PRIOR
    * history, then folded in.
    *
    * The streamed ≡ batch law holds BIT-FOR-BIT because the state
    * replicates the batch plan's decimal arithmetic exactly: values
    * quantize to 4dp with the same HALF_UP the Cast-to-DECIMAL(18,4)
    * uses, sums accumulate as unscaled longs (scale 4 for Σx, 8 for
    * Σx²), and the doubles entering the pinned z expression come from
    * `BigDecimal.valueOf(unscaled, scale).doubleValue` — the identical
    * correctly-rounded conversion Spark's decimal→double cast performs.
    * Long-unscaled state bounds: |Σx²| < 2⁶³ holds through ~9·10⁸
    * events of |value| ≤ 10⁴ per user — far past any per-user stream.
    *
    * Same ordered-delivery contract as every stateful twin here
    * (within a batch the group sorts by (tsn, event_id); across batches
    * delivery order is the file arrival order).
    */
  def streamingValueAnomalies(
      spark: SparkSession,
      eventsDir: String,
      zCut: Double = 3.0,
      minPrior: Int = 8,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(zCut > 0.0)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsDir).schema
    val s = spark
    import s.implicits._
    val reader = spark.readStream.schema(schema)
    val events = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(eventsDir)
      .transform(Tables.normalizeEventTs)
      .where(col("value").isNotNull)
      .selectExpr("event_id", "user_id", "value", "ts AS tsn")
      .as[AEv]

    def fn(user: Long, evs: Iterator[AEv],
        state: GroupState[AnomState]): Iterator[AnomOut] = {
      var st = state.getOption.getOrElse(AnomState(0L, 0L, 0L))
      val out = scala.collection.mutable.ArrayBuffer.empty[AnomOut]
      evs.toSeq.sortBy(e => (e.tsn, e.event_id)).foreach { e =>
        // the exact unscaled long of CAST(value AS DECIMAL(18,4))
        val xU = BigDecimal(e.value)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .underlying.movePointRight(4).longValueExact
        if (st.n >= minPrior) {
          val nD = st.n.toDouble
          val sxD = java.math.BigDecimal.valueOf(st.sxU, 4).doubleValue
          val sxxD = java.math.BigDecimal.valueOf(st.sxxU, 8).doubleValue
          val varNum = nD * sxxD - sxD * sxD
          if (varNum > 0.0) {
            val xD = java.math.BigDecimal.valueOf(xU, 4).doubleValue
            val z = (xD - sxD / nD) / (math.sqrt(varNum) / nD)
            val zr = BigDecimal(z)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
            if (math.abs(zr) > zCut) out += AnomOut(e.event_id, user, e.value, zr)
          }
        }
        st = AnomState(st.n + 1, st.sxU + xU, st.sxxU + xU * xU)
      }
      state.update(st)
      out.iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** Streaming exact dedup: keep the first arrival of each normalized-text
    * fingerprint (dropDuplicates state persists across micro-batches).
    */
  def streamingDedup(spark: SparkSession, docsDir: String): DataFrame = {
    val schema = spark.read.parquet(docsDir).schema
    spark.readStream.schema(schema).parquet(docsDir)
      .withColumn("text_key",
        regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      .dropDuplicates("text_key")
      .select(col("doc_id"), col("text_key"))
  }

  /** Streaming incremental-ingest dedup against a STATIC history: the
    * batch [[graft.operators.Sketches.incrementalDedupDocs]] plan runs
    * unchanged on a file stream — the history's Bloom bitset is built once
    * at plan time (fixed-size, broadcast into the codegen'd probe), every
    * arriving row gets `maybe_seen` map-side, and only Bloom-positive rows
    * pay the stream-static left join for the exact `is_new` verdict.
    * Append mode, no streaming state at all: the only state is the
    * broadcast bitset, so this scales to an unbounded stream (unlike
    * dropDuplicates, whose key state grows with the stream).
    */
  def streamingIncrementalDedup(
      spark: SparkSession,
      docsDir: String,
      seenDocs: DataFrame,
      mBits: Int = 1 << 14,
      k: Int = 5): DataFrame = {
    val schema = spark.read.parquet(docsDir).schema
    val incoming = spark.readStream.schema(schema).parquet(docsDir)
    graft.operators.Sketches.incrementalDedupDocs(incoming, seenDocs, mBits, k)
  }

  /** Watermark-bounded streaming dedup of an event stream: keep the first
    * arrival of each `event_id`, with dedup state EVICTED once the
    * watermark passes — the production answer to plain
    * `dropDuplicates`, whose key state grows with the stream forever.
    * State is bounded by (events within the watermark horizon), not by
    * stream length: the property that lets an at-least-once ingest
    * (Kafka replays, retried batches) run for months. Duplicates arriving
    * later than the watermark are NOT caught — the horizon is the
    * contract, sized to the source's redelivery window.
    */
  def streamingDedupEvents(
      spark: SparkSession,
      eventsDir: String,
      watermark: String = "2 hours"): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsDir).schema
    Tables.normalizeEventTs(spark.readStream
      .schema(schema)
      .parquet(eventsDir))
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"), col("event_type"))
  }

  /** Streaming count-min sketch over document tokens: the batch
    * [[graft.operators.Sketches.cmsTable]] plan unchanged on a file
    * stream. Run in Complete mode — the streaming state is the sketch
    * itself, a FIXED depth×width counter table however unbounded the
    * stream (that bounded-state property is the entire reason sketches
    * exist; dropDuplicates-style key state would grow forever).
    */
  /** Streaming log-histogram quantile buckets over an events file
    * stream: ONE Complete-mode aggregate whose state is the bounded
    * bucket table (≤ groups × sketch-geometry rows) however unbounded
    * the stream. Bucket counts merge by ADDITION — unlike Misra–Gries'
    * merge-order-dependent candidates, the streamed bucket table equals
    * the batch sketch BIT-FOR-BIT under any micro-batch split, so the
    * StreamingSpec law compares the finished quantile estimates
    * directly. Finish with [[graft.operators.Quantiles.logHistFinish]]
    * on the sink table.
    */
  /** `windowMs` adds an event-time tumbling-window key (integer epoch
    * arithmetic on the nanos `ts`, the q_event_windows convention) in
    * front of `groupCol` — streaming windowed percentiles whose state
    * stays (windows × groups × sketch geometry), never stream-sized.
    */
  def streamingLogHistBuckets(
      spark: SparkSession, eventsDir: String,
      valueCol: String = "value", groupCol: String = "event_type",
      mBits: Int = 6, quantScale: Double = 100.0,
      maxFilesPerTrigger: Option[Int] = None,
      windowMs: Option[Long] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsDir).schema
    val reader = spark.readStream.schema(schema)
    val stream = maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n))
      .getOrElse(reader)
      .parquet(eventsDir)
    val (input, groupCols) = windowMs match {
      case Some(ms) =>
        (Tables.normalizeEventTs(stream).withColumn("window_start_ms",
          expr(s"((ts div 1000000) div $ms) * $ms")),
          Seq("window_start_ms", groupCol))
      case None => (stream, Seq(groupCol))
    }
    graft.operators.Quantiles.logHistBuckets(
      input, valueCol, groupCols, mBits, quantScale)
  }

  /** Streaming model-quality state — the [[graft.operators.Eval
    * .scoreHistogram]] maintained as ONE Complete-mode aggregate over a
    * scored file stream: (pos, neg) counts per distinct (group, score)
    * are purely additive, so micro-batch accumulation is exact and the
    * batch-side finishers ([[graft.operators.Eval.rocAucFromHistogram]]
    * / [[graft.operators.Eval.averagePrecisionFromHistogram]]) read the
    * sink table for a LIVE AUC/AP readout — "is this week's probe
    * drifting" without rescanning scored history. The register/finalize
    * split of [[streamingHllRegisters]], applied to evaluation; state is
    * distinct-score-sized (pass `quantScale` to bound it by score
    * range × scale on continuous scores).
    */
  def streamingScoreHistogram(
      spark: SparkSession, scoredDir: String,
      scoreCol: String, labelExpr: String,
      groupCols: Seq[String] = Seq.empty,
      quantScale: Option[Double] = None,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = spark.read.parquet(scoredDir).schema
    val reader = spark.readStream.schema(schema)
    val stream = maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n))
      .getOrElse(reader)
      .parquet(scoredDir)
    graft.operators.Eval.scoreHistogram(stream, scoreCol, expr(labelExpr),
      groupCols, quantScale)
  }

  /** Live two-sample KS state over a file stream: per-value (a, b)
    * counts with side membership decided by `sideExpr` (rows where it
    * is true count as sample A, false as B; nulls drop). Purely
    * additive — the [[graft.operators.Stats.ksHistogram]] mergeable
    * state — so a Complete-mode aggregate maintains it across
    * micro-batches and [[graft.operators.Stats.ksDriftFromHistogram]]
    * finishes the sink: a drift alarm that never rescans history.
    */
  def streamingKsHistogram(
      spark: SparkSession, dir: String,
      valueCol: String, sideExpr: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    val reader = spark.readStream.schema(schema)
    val stream = maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n))
      .getOrElse(reader)
      .parquet(dir)
      .filter(expr(sideExpr).isNotNull)
    graft.operators.Stats.ksHistogram(
      stream.filter(expr(sideExpr)),
      stream.filter(!expr(sideExpr)), valueCol)
  }

  def streamingCmsTokens(
      spark: SparkSession, docsDir: String,
      depth: Int = 4, width: Int = 1 << 12): DataFrame = {
    val schema = spark.read.parquet(docsDir).schema
    val toks = spark.readStream.schema(schema).parquet(docsDir)
      .select(col("text"))
      .select(explode_outer(graft.operators.TextAnalysis.tokens(col("text"))).as("token"))
      .filter(col("token").isNotNull)
    graft.operators.Sketches.cmsTable(toks, "token", depth, width)
  }

  /** Streaming Misra–Gries heavy-hitter candidate summary over an events
    * file stream: ONE Complete-mode global aggregate whose state is the
    * fixed k-counter buffer plus a row count, however unbounded the
    * stream — the mergeable-summaries guarantee (error ≤ n/(k+1) under
    * any merge tree) covers micro-batch accumulation for free, which is
    * exactly why MG is the streaming-native heavy-hitter sketch. The
    * exact recount stays batch-side (the same second pass as
    * [[graft.operators.Sketches.heavyHitters]]); the StreamingSpec law
    * pins streamed-candidates + exact-recount ≡ the batch answer, even
    * though the candidate SET below the guarantee line is merge-order
    * dependent.
    */
  def streamingHeavyCandidates(
      spark: SparkSession, eventsDir: String,
      keyCol: String = "event_type", k: Int = 20): DataFrame = {
    val schema = spark.read.parquet(eventsDir).schema
    spark.readStream.schema(schema).parquet(eventsDir)
      .agg(graft.functions.GraftFunctions
          .mg_candidates(xxhash64(col(keyCol)), k).as("cand"),
        count(lit(1)).as("n"))
  }

  /** Per-GROUP streaming Misra–Gries candidate sketch — the grouped twin
    * of [[streamingHeavyCandidates]], one mergeable k-counter summary per
    * group in Complete mode. State is groups × (≤ k counters + a row
    * count): exactly the bounded shape the batch
    * [[graft.operators.Sketches.heavyHittersBy]] sketch pass shuffles, so
    * the incremental story covers the grouped form too. The candidate SET
    * below the guarantee line is merge-order dependent (micro-batch
    * arrival order ≠ batch partition order), but every key at or above
    * ceil(minFrac·n_g) survives ANY merge order — the MG absence bound
    * applied group-wise — so streamed-candidates + exact-recount equals
    * the batch answer; the StreamingSpec law replays this across ≥ 2
    * micro-batches (`maxFilesPerTrigger`).
    */
  def streamingGroupedHeavyCandidates(
      spark: SparkSession, eventsDir: String, groupCols: Seq[String],
      keyCol: String = "event_type", k: Int = 20,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    require(groupCols.nonEmpty,
      "grouped sketch needs group columns; use streamingHeavyCandidates")
    val schema = spark.read.parquet(eventsDir).schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(eventsDir)
      .groupBy(groupCols.map(col): _*)
      .agg(graft.functions.GraftFunctions
          .mg_candidates(xxhash64(col(keyCol)), k).as("cand"),
        count(lit(1)).as("n"))
  }

  /** Streaming JSON-field stats over an events file stream: the batch
    * [[graft.operators.Events.jsonFieldStats]] plan unchanged (stateless
    * codegen extraction + one Complete-mode aggregate whose state is the
    * handful of event-type rows).
    */
  def streamingJsonFieldStats(
      spark: SparkSession, eventsDir: String, path: String = "$.k"): DataFrame = {
    val schema = spark.read.parquet(eventsDir).schema
    graft.operators.Events.jsonFieldStats(
      spark.readStream.schema(schema).parquet(eventsDir), path)
  }

  /** Streaming HyperLogLog register table over document tokens — the
    * single-aggregation stage of [[graft.operators.Sketches.hllDistinct]]
    * on a file stream (state ≤ 2^p register rows, fixed). Structured
    * Streaming rejects the chained finalize aggregation in the same
    * query; fold the sink table with
    * [[graft.operators.Sketches.hllFinalize]] after (or per-batch).
    */
  def streamingHllRegisters(
      spark: SparkSession, docsDir: String, p: Int = 12): DataFrame = {
    val schema = spark.read.parquet(docsDir).schema
    val toks = spark.readStream.schema(schema).parquet(docsDir)
      .select(col("text"))
      .select(explode_outer(graft.operators.TextAnalysis.tokens(col("text"))).as("token"))
      .filter(col("token").isNotNull)
    graft.operators.Sketches.hllRegisters(toks, "token", p)
  }

  /** Streaming CDC apply: maintain a snapshot against a changelog file
    * stream by running [[graft.operators.Cdc.applyChangelog]] once per
    * micro-batch — the MERGE-per-trigger production shape (Debezium
    * consumer → Delta/Iceberg MERGE). The snapshot's lineage is cut
    * after every batch (the [[graft.operators.Graph]] iterative-plan
    * lesson: un-truncated, the plan grows by one merge per trigger for
    * the life of the stream).
    *
    * Delivery contract: batches must arrive in non-decreasing `seqCol`
    * order PER KEY (the normal CDC log-offset guarantee). Within a
    * batch, any order is fine — latest-wins handles it exactly.
    *
    * Returns the final snapshot after all available data is processed
    * (AvailableNow). A continuously-running deployment would instead
    * write each merged snapshot to its sink inside the batch function.
    */
  def streamingCdcApply(
      spark: SparkSession,
      changesDir: String,
      base: DataFrame,
      keyCol: String,
      seqCol: String,
      opCol: String = "op",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = spark.read.parquet(changesDir).schema
    val reader = spark.readStream.schema(schema)
    val changes = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(changesDir)
    var snapshot = base.localCheckpoint(true)
    val q = changes.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        snapshot = graft.operators.Cdc
          .applyChangelog(snapshot, batch.toDF(), keyCol, seqCol, opCol)
          .localCheckpoint(true)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    snapshot
  }

  /** Streaming materialized view: maintain a per-group (n_rows,
    * value_sum) aggregate under a changelog file stream — per
    * micro-batch, [[graft.operators.Cdc.incrementalAgg]] runs with the
    * PREVIOUS batch's view fed back (`baseAggOpt`), so the full-corpus
    * aggregate never re-runs after bootstrap; the snapshot advances via
    * [[graft.operators.Cdc.applyChangelog]] for the next batch's
    * replaced-row lookups. Both sides' lineage is cut per trigger.
    * Same ordered-delivery contract as [[streamingCdcApply]].
    *
    * Returns the final (groupCol, n_rows, value_sum) view.
    */
  def streamingIncrementalAgg(
      spark: SparkSession,
      changesDir: String,
      base: DataFrame,
      keyCol: String,
      seqCol: String,
      groupCol: String,
      valueCol: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = spark.read.parquet(changesDir).schema
    val reader = spark.readStream.schema(schema)
    val changes = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(changesDir)
    var snapshot = base.localCheckpoint(true)
    var view: Option[org.apache.spark.sql.DataFrame] = None
    val q = changes.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
        // exactOut: the fed-back view stays DECIMAL(28,4) so chained
        // maintenance never loses exactness to the double surface
        // (bit-exact only below |sum| ~ 2^39 at 4 dp — advisor r8)
        view = Some(graft.operators.Cdc.incrementalAgg(
          snapshot, b, keyCol, seqCol, groupCol, valueCol,
          baseAggOpt = view, exactOut = true).localCheckpoint(true))
        snapshot = graft.operators.Cdc
          .applyChangelog(snapshot, b, keyCol, seqCol)
          .localCheckpoint(true)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    view
      .map(_.withColumn("value_sum",
        org.apache.spark.sql.functions.col("value_sum").cast("double")))
      .getOrElse(graft.operators.Cdc.incrementalAgg(
        snapshot, spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema),
        keyCol, seqCol, groupCol, valueCol))
  }

  /** Streaming centroid-drift maintenance: the fixed-point dim sums of
    * [[graft.operators.Similarity.centroidDrift]] are plain integers,
    * so the telemetry is MERGEABLE — each micro-batch contributes
    * (group, dim, sum, n) partials that ADD into the running table
    * (bounded state: |groups|·dim longs, however unbounded the stream);
    * the final report comes from the accumulated sums and is
    * bit-identical to the batch operator over the union of all files
    * (integer addition is associative — the StreamingSpec law). This is
    * the ingest-time encoder-change tripwire: the drift report is
    * maintained for free while vectors land, no full-corpus re-scan.
    */
  def streamingCentroidDrift(
      spark: SparkSession,
      embDir: String,
      groupCol: String = "label",
      scaleBits: Int = 20,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import graft.operators.Similarity
    val schema = spark.read.parquet(embDir).schema
    val reader = spark.readStream.schema(schema)
    val stream = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(embDir)
    var sums: Option[DataFrame] = None
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val part = Similarity.centroidPartialSums(
          batch.toDF(), groupCol, scaleBits)
        val merged = sums.fold(part)(prev =>
          prev.unionByName(part).groupBy("__grp", "pos")
            .agg(org.apache.spark.sql.functions.sum(col("__s")).as("__s"),
              org.apache.spark.sql.functions.sum(col("__n")).as("__n")))
        // localCheckpoint: the running table must not re-derive every
        // prior batch's lineage on each new trigger
        sums = Some(merged.localCheckpoint(true))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    sums.fold(
      Similarity.centroidDrift(spark.read.parquet(embDir).limit(0), groupCol))(
      Similarity.centroidDriftFromSums(_, groupCol))
  }

  /** Streaming ANN ingest: maintain an IVFADC storage index under a
    * stream of arriving embedding files. The FIRST micro-batch
    * bootstraps the index — training the IVF/PQ codebook sidecars via
    * [[graft.operators.Similarity.writeIvfPqIndex]] — and every later
    * batch encodes against those FROZEN codebooks and appends its PQ
    * codes to the hive-partitioned code table
    * ([[graft.operators.Similarity.appendIvfPq]]). Encoding is a pure
    * per-row function of the frozen codebooks, so the incrementally
    * built index is row-identical to a cold rebuild over the same rows
    * (StreamingSpec pins both the code table and probe equality),
    * provided the seed batch carries the codebook-defining vectors.
    * The batch is locally checkpointed first: the bootstrap path runs
    * several jobs over it (centroid draw, PQ init, encode) and a raw
    * streaming-source relation would re-resolve per action.
    *
    * Delivery contract: the file source's checkpoint guarantees each
    * source FILE enters exactly one batch across restarts, but
    * foreachBatch itself is at-least-once — a crash after the append
    * lands but before the streaming commit-log entry REPLAYS that batch
    * on restart (advisor r12). The replay guard is a batchId sidecar
    * (`<checkpointDir>/graft-ingest-committed`, written AFTER each
    * batch's append): a replayed batchId ≤ the sidecar's is skipped, so
    * the non-idempotent append (and the bootstrap, which a replay would
    * otherwise re-run down the append path and duplicate the seed) runs
    * once per batch. The sidecar lives IN the checkpoint dir because
    * batchIds are only meaningful within one checkpoint lineage —
    * wiping the checkpoint wipes the guard with it. One window remains:
    * a crash BETWEEN the append and the sidecar write replays that one
    * append — `dedupeIds` (forwarded to
    * [[graft.operators.Similarity.appendIvfPq]]) closes it, and also
    * covers producer-side duplicates the file checkpoint cannot see.
    * Without `checkpointDir`, each invocation reprocesses every file
    * present (pinned by spec).
    *
    * Small-file control: every batch appends ≥1 file per touched
    * centroid, so a long-running ingest degrades the probe's open/footer
    * cost without bound. After each batch the partition file counts are
    * checked; past `autoCompactThreshold` the code table is rewritten
    * ([[graft.operators.Similarity.compactIvfPqCodes]]) and SWAPPED
    * in place via two directory renames — atomic per rename on
    * HDFS/POSIX, so use it only where rename is atomic (on object
    * stores leave it None and compact offline via
    * [[graft.operators.Similarity.compactIvfPq]]); a crash between the
    * renames leaves the data intact under `_precompact`/`_compacting`
    * for manual recovery, never a silent loss. With the threshold unset,
    * a count past [[compactionWatermark]] logs a compaction-needed
    * warning instead — growth is visible either way (pinned by spec).
    *
    * Codebook health rides the same loop (r19 verdict task 6, the
    * streaming wiring): with `driftRetrain = Some(minMeanCos)`, every
    * appended batch is ALSO the drift policy's probe sample —
    * [[graft.operators.StoreUpkeep.maybeRetrain]] measures it against
    * the frozen codebook and, past the threshold, retrains from the
    * stream's own source directory (`embDir` is the raw-vector corpus
    * of record; membership still comes from the STORE, so files not yet
    * ingested don't leak into the rebuild). `generational` applies to
    * the retrain swap exactly as it does to the compaction. A
    * non-firing batch pays one broadcast-codebook assignment pass over
    * itself — the cost class of the encode it just ran. The check sits
    * INSIDE the replay fence: a replayed batch re-measures nothing.
    */
  def streamingIvfPqIngest(
      spark: SparkSession,
      embDir: String,
      indexDir: String,
      numCentroids: Int = 32,
      maxFilesPerTrigger: Option[Int] = None,
      checkpointDir: Option[String] = None,
      autoCompactThreshold: Option[Int] = None,
      dedupeIds: Boolean = false,
      generational: Boolean = false,
      driftRetrain: Option[Double] = None,
      retrainIters: Int = 2): Unit = {
    autoCompactThreshold.foreach(t => require(t >= 1,
      "autoCompactThreshold must be >= 1 file per centroid"))
    shardedStoreIngest(spark, embDir, indexDir,
        maxFilesPerTrigger, checkpointDir) { (b, cold) =>
      if (cold)
        graft.operators.Similarity.writeIvfPqIndex(b, indexDir, numCentroids)
      else {
        graft.operators.Similarity.appendIvfPq(spark, b, indexDir, dedupeIds)
        driftRetrain.foreach { thr =>
          graft.operators.StoreUpkeep.maybeRetrain(spark,
            spark.read.parquet(embDir), b, indexDir,
            minMeanCos = thr, trainIters = retrainIters,
            generational = generational)
        }
      }
    } { fs =>
      val files = maxFilesPerCentroid(fs, indexDir)
      autoCompactThreshold match {
        // generational: flip a _current pointer instead of renaming the
        // live dirs — serving probes racing the swap stay correct
        // ([[graft.operators.StoreUpkeep.compactNewGeneration]])
        case Some(thr) if files > thr && generational =>
          graft.operators.StoreUpkeep.compactNewGeneration(spark, indexDir,
            graft.operators.StoreUpkeep.IvfPqKind)
        case Some(thr) if files > thr =>
          compactInPlace(spark, fs, indexDir)
        case None if files > compactionWatermark =>
          System.err.println(s"[graft] IVFADC index at $indexDir has " +
            s"$files files in its widest centroid partition — run " +
            "compactIvfPq (or set autoCompactThreshold) before the " +
            "probe's per-file overhead dominates")
        case _ => ()
      }
    }
  }

  /** The shared sharded-store ingest chassis — [[windowStoreIngest]]'s
    * sibling for the doc/vector stores (IVFADC codes, LSH buckets,
    * span prints, and the curating admissions): schema'd file stream →
    * AvailableNow foreachBatch → `body(batch, cold)` where `cold`
    * means the store has no geometry sidecar yet (first batch), all
    * inside the batchId replay fence; `afterBatch` runs POST-commit —
    * the small-file health checks (warn / in-place compact-and-swap)
    * are idempotent maintenance, so they sit outside the fence exactly
    * as the hand-rolled loops had them. The batch is locally
    * checkpointed so the body's multiple consumers (probe + append in
    * the curating twins) never re-read the stream source.
    */
  private def shardedStoreIngest(
      spark: SparkSession,
      inDir: String,
      storeDir: String,
      maxFilesPerTrigger: Option[Int],
      checkpointDir: Option[String])(
      body: (org.apache.spark.sql.DataFrame, Boolean) => Unit)(
      afterBatch: org.apache.hadoop.fs.FileSystem => Unit = _ => ()): Unit = {
    val schema = spark.read.parquet(inDir).schema
    val reader = spark.readStream.schema(schema)
    val stream = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(inDir)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(storeDir + "_meta")
      .getFileSystem(hconf)
    // cold detection resolves the generation pointer PER BATCH: after
    // two generational auto-compactions the plain (gen-0) directories
    // are reclaimed, and an unresolved existence probe would misread
    // the store as cold and overwrite the serving generation
    def storeExists(): Boolean = fs.exists(new org.apache.hadoop.fs.Path(
      graft.operators.StoreGen.resolve(storeDir, hconf) + "_meta"))
    val commitPath = checkpointDir.map(d =>
      new org.apache.hadoop.fs.Path(d, "graft-ingest-committed"))
    val writer0 = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val replayed = commitPath.exists(p =>
          IngestCommitLog.lastCommitted(p.getFileSystem(hconf), p) >= batchId)
        if (!replayed) {
          val b = batch.toDF().localCheckpoint(true)
          try body(b, !storeExists())
          finally graft.operators.CacheRegistry.free(b)
          commitPath.foreach(p =>
            IngestCommitLog.commit(p.getFileSystem(hconf), p, batchId))
          afterBatch(fs)
        }
        ()
      }
    val writer = checkpointDir
      .fold(writer0)(d => writer0.option("checkpointLocation", d))
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** CONTINUOUS PUBLISH — the incremental shard export
    * ([[graft.operators.Layout.appendShards]]) at micro-batch cadence:
    * the first batch runs [[graft.operators.Layout.publishInit]]
    * (freezing budget + geometry), every later batch exports as NEW
    * shards under the frozen budget — published shards are never
    * rewritten, so a training loader can consume the export WHILE it
    * grows. Each batch's read-back manifest appends to `manifestDir`
    * tagged with its batch id — the export's audit log.
    *
    * Contiguity contract: batches must arrive in ascending doc_id
    * order (appendShards enforces min(new) > published max before
    * anything writes) — the production reality for monotonically
    * assigned ingest ids; an out-of-order producer fails LOUDLY, never
    * shuffles a published shard. The batchId replay fence is
    * CORRECTNESS: a replayed batch would fail the contiguity guard at
    * best and double-publish shards at worst — pass `checkpointDir` in
    * production.
    */
  def streamingPublishIngest(
      spark: SparkSession,
      docsDir: String,
      shardsDir: String,
      manifestDir: String,
      nShards: Int = 8,
      maxFilesPerTrigger: Option[Int] = None,
      checkpointDir: Option[String] = None): Unit =
    shardedStoreIngest(spark, docsDir, shardsDir,
        maxFilesPerTrigger, checkpointDir) { (b, cold) =>
      val manifest =
        if (cold) graft.operators.Layout.publishInit(spark, b, shardsDir,
          nShards)
        else graft.operators.Layout.appendShards(spark, b, shardsDir)
      manifest.write.mode("append").option("compression", "zstd")
        .parquet(manifestDir)
    }()

  /** Streaming LSH-store ingest — the near-dup text twin of
    * [[streamingIvfPqIngest]]: drive the persisted band-bucket store
    * ([[graft.operators.LshIndex]]) from a documents file stream. The
    * first micro-batch cold-builds the store (writing the frozen
    * geometry sidecar); every later batch appends under that geometry.
    * Same exactly-once story as the IVF twin: the source checkpoint
    * gives file-level exactly-once, the batchId replay sidecar guards
    * foreachBatch's at-least-once crash window, and `dedupeIds` covers
    * producer redelivery the checkpoint can't see. Signatures are pure
    * per-row functions — no codebook-defining first batch required, so
    * ANY file order converges to the cold-rebuild store (the
    * StreamingSpec law). Small-file growth is never silent (the IVF
    * twin's contract): each batch checks the widest shard's file count
    * and either auto-compacts past `autoCompactThreshold` or warns past
    * [[compactionWatermark]].
    */
  def streamingLshIngest(
      spark: SparkSession,
      docsDir: String,
      storeDir: String,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      nShards: Int = 16,
      maxFilesPerTrigger: Option[Int] = None,
      checkpointDir: Option[String] = None,
      dedupeIds: Boolean = false,
      autoCompactThreshold: Option[Int] = None,
      generational: Boolean = false): Unit =
    shardedStoreIngest(spark, docsDir, storeDir,
        maxFilesPerTrigger, checkpointDir) { (b, cold) =>
      if (cold)
        graft.operators.LshIndex.write(b, storeDir,
          numHashes, bands, shingleSize, nShards)
      else graft.operators.LshIndex.append(spark, b, storeDir, dedupeIds)
    } { fs =>
      // same small-file health check as the IVF twin: every append
      // drops >= 1 file per touched shard forever — growth must be
      // visible (warn) or handled (auto-compact), never silent
      val files = maxFilesPerShard(fs, storeDir)
      autoCompactThreshold match {
        case Some(thr) if files > thr && generational =>
          graft.operators.StoreUpkeep.compactNewGeneration(spark, storeDir,
            graft.operators.StoreUpkeep.LshKind)
        case Some(thr) if files > thr =>
          compactLshInPlace(spark, fs, storeDir)
        case None if files > compactionWatermark =>
          System.err.println(s"[graft] LSH store at $storeDir has " +
            s"$files files in its widest shard partition — run " +
            "compactLsh (or set autoCompactThreshold) before the " +
            "probe's per-file overhead dominates")
        case _ => ()
      }
    }

  /** Continuous span-print store maintenance — the
    * [[streamingLshIngest]] twin for EXACT substring dedup
    * ([[graft.operators.SpanStore]]): first batch cold-builds the store
    * (freezing min_tokens), later batches append their window prints.
    * The replay fence is hygiene, not correctness — probe counts
    * DISTINCT store docs per print, so a replayed append can only
    * repeat rows it already wrote (the [[streamingHllIngest]] algebra,
    * not the count-accumulating sketch store's) — but the fence still
    * keeps store bytes from doubling on redelivery. Small-file health
    * rides the same 16-shard listing as the LSH twin: warn past the
    * watermark, or in-place compact-and-swap when `autoCompactThreshold`
    * is set.
    */
  def streamingSpanIngest(
      spark: SparkSession,
      docsDir: String,
      storeDir: String,
      minTokens: Int = 16,
      maxFilesPerTrigger: Option[Int] = None,
      checkpointDir: Option[String] = None,
      autoCompactThreshold: Option[Int] = None,
      withBloom: Boolean = false,
      generational: Boolean = false): Unit =
    shardedStoreIngest(spark, docsDir, storeDir,
        maxFilesPerTrigger, checkpointDir) { (b, cold) =>
      // withBloom: the cold build fuses the Bloom admission sidecar in;
      // every later append writes its word generation under the frozen
      // geometry automatically (SpanStore.append's default)
      if (cold) graft.operators.SpanStore.write(b, storeDir, minTokens,
        withBloom = withBloom)
      else graft.operators.SpanStore.append(spark, b, storeDir)
    } { fs =>
      val files = maxFilesPerShard(fs, storeDir)
      autoCompactThreshold match {
        case Some(thr) if files > thr && generational =>
          graft.operators.StoreUpkeep.compactNewGeneration(spark, storeDir,
            graft.operators.StoreUpkeep.SpanKind)
        case Some(thr) if files > thr =>
          graft.operators.StoreUpkeep.compactInPlace(spark, storeDir,
            graft.operators.StoreUpkeep.SpanKind)
        case None if files > compactionWatermark =>
          System.err.println(s"[graft] span store at $storeDir has " +
            s"$files files in its widest shard partition — run " +
            "SpanStore.compactStore (or set autoCompactThreshold) " +
            "before probe per-file overhead dominates")
        case _ => ()
      }
    }

  /** Continuous decontaminate-at-ingest — [[streamingSpanIngest]] with
    * the curation step composed in ([[graft.operators.SpanStore
    * .ingestCurate]]): the first batch cold-builds the span store
    * (nothing exists to be contaminated against), every later batch is
    * probed against the corpus-so-far, corpus-duplicated spans are
    * trimmed, mostly-duplicate docs dropped, and only the curated
    * survivors' prints append. Per-batch audit rows (doc_id, text,
    * n_tokens_before, n_tokens_kept, dropped) append to `auditDir` —
    * the pipeline's provenance trail.
    *
    * Unlike the accumulate-only ingests, REPLAY here would change
    * answers (a redelivered batch probed against a store that already
    * holds its survivors reports its own prints back and trims
    * everything), so the commit fence is correctness, not hygiene:
    * pass `checkpointDir` in production. Curation is order-dependent
    * by design — the law StreamingSpec pins is streamed ≡ the driver
    * loop `write(b0); ingestCurate(b1); ingestCurate(b2)…` over the
    * same batch sequence.
    */
  def streamingCurateIngest(
      spark: SparkSession,
      docsDir: String,
      storeDir: String,
      auditDir: String,
      minTokens: Int = 16,
      minKeptFrac: Double = 0.3,
      maxFilesPerTrigger: Option[Int] = None,
      checkpointDir: Option[String] = None): Unit =
    shardedStoreIngest(spark, docsDir, storeDir,
        maxFilesPerTrigger, checkpointDir) { (b, cold) =>
      if (cold) {
        graft.operators.SpanStore.write(b, storeDir, minTokens)
        // the seed batch is admitted whole: audit it as untrimmed
        b.select(col("doc_id").cast("long").as("doc_id"),
            col("text"),
            size(graft.operators.TextAnalysis.tokens(col("text")))
              .cast("long").as("n_tokens_before"))
          .withColumn("n_tokens_kept", col("n_tokens_before"))
          .withColumn("dropped", lit(false))
          .write.mode("append").option("compression", "zstd")
          .parquet(auditDir)
      } else {
        graft.operators.SpanStore
          .ingestCurate(spark, b, storeDir, minKeptFrac)
          .write.mode("append").option("compression", "zstd")
          .parquet(auditDir)
      }
    }()

  /** Continuous dedup-at-ingest — [[streamingCurateIngest]]'s near-
    * duplicate sibling ([[graft.operators.LshIndex.ingestDedup]]): the
    * first batch cold-builds the LSH store (nothing to deduplicate
    * against), every later batch is probed, near-dups of the corpus or
    * of smaller-id batchmates drop, survivors append. Audit rows
    * (doc_id, text, n_store_dups, n_batch_dups, dropped) append to
    * `auditDir`. The commit fence is CORRECTNESS here exactly as in the
    * curate twin: a replayed batch probed against its own admitted
    * survivors would read them back as store near-dups and drop
    * everything.
    */
  def streamingDedupIngest(
      spark: SparkSession,
      docsDir: String,
      storeDir: String,
      auditDir: String,
      threshold: Double = 0.5,
      maxFilesPerTrigger: Option[Int] = None,
      checkpointDir: Option[String] = None): Unit =
    shardedStoreIngest(spark, docsDir, storeDir,
        maxFilesPerTrigger, checkpointDir) { (b, cold) =>
      if (cold) {
        graft.operators.LshIndex.write(b, storeDir)
        // the seed batch is admitted whole: audit it as undropped
        b.select(col("doc_id").cast("long").as("doc_id"), col("text"))
          .withColumn("n_store_dups", lit(0L))
          .withColumn("n_batch_dups", lit(0L))
          .withColumn("dropped", lit(false))
          .write.mode("append").option("compression", "zstd")
          .parquet(auditDir)
      } else {
        graft.operators.LshIndex
          .ingestDedup(spark, b, storeDir, threshold)
          .write.mode("append").option("compression", "zstd")
          .parquet(auditDir)
      }
    }()

  /** Continuous ADMISSION GAUNTLET — the composed two-store production
    * shape (q_ingest_gauntlet) at streaming cadence: every micro-batch
    * runs stage 1 near-dup admission against the LSH store
    * ([[graft.operators.LshIndex.ingestDedup]], keep-first drops,
    * survivors appended), then stage 2 exact-span curation of the
    * stage-1 survivors against the span store
    * ([[graft.operators.SpanStore.ingestCurate]], corpus-duplicated
    * spans trimmed, mostly-dup docs dropped, curated survivors
    * appended). The first batch cold-builds BOTH stores as concurrent
    * jobs (the q_ingest_gauntlet seed pattern) and is admitted whole.
    *
    * One audit row per batch doc at `auditDir`: (doc_id, text,
    * n_store_dups, n_batch_dups, dedup_dropped, n_tokens_before,
    * n_tokens_kept, curate_dropped) — `text` is the CURATED text for
    * docs that reached stage 2 and the original for stage-1 drops
    * (they never entered the span store); stage-2 columns read the
    * (−1, −1, false) sentinels for stage-1 drops, the q_ingest_gauntlet
    * convention.
    *
    * The replay fence (the chassis' batchId sidecar) is CORRECTNESS
    * twice over here: a replayed batch would read its own admitted
    * survivors back as near-dups in stage 1 AND as corpus spans in
    * stage 2, dropping everything — pass `checkpointDir` in
    * production. `cold` keys on the LSH store's meta (stage order:
    * nothing reaches the span store without passing stage 1), and the
    * law StreamingSpec pins is streamed ≡ the driver loop
    * `seed(b0); gauntlet(b1); gauntlet(b2)…` including post-ingest
    * serving of BOTH stores.
    */
  def streamingGauntletIngest(
      spark: SparkSession,
      docsDir: String,
      lshDir: String,
      spanDir: String,
      auditDir: String,
      threshold: Double = 0.8,
      minTokens: Int = 16,
      minKeptFrac: Double = 0.3,
      maxFilesPerTrigger: Option[Int] = None,
      checkpointDir: Option[String] = None): Unit =
    shardedStoreIngest(spark, docsDir, lshDir,
        maxFilesPerTrigger, checkpointDir) { (b, cold) =>
      if (cold) {
        graft.operators.ParJobs.run(
          () => graft.operators.LshIndex.write(b, lshDir),
          () => graft.operators.SpanStore.write(b, spanDir, minTokens))
        // the seed batch is admitted whole: both stage verdicts clean
        b.select(col("doc_id").cast("long").as("doc_id"), col("text"),
            size(graft.operators.TextAnalysis.tokens(col("text")))
              .cast("long").as("n_tokens_before"))
          .withColumn("n_store_dups", lit(0L))
          .withColumn("n_batch_dups", lit(0L))
          .withColumn("dedup_dropped", lit(false))
          .withColumn("n_tokens_kept", col("n_tokens_before"))
          .withColumn("curate_dropped", lit(false))
          .select("doc_id", "text", "n_store_dups", "n_batch_dups",
            "dedup_dropped", "n_tokens_before", "n_tokens_kept",
            "curate_dropped")
          .write.mode("append").option("compression", "zstd")
          .parquet(auditDir)
      } else {
        val dedupAudit = graft.operators.LshIndex
          .ingestDedup(spark, b, lshDir, threshold)
        val curateAudit = graft.operators.SpanStore.ingestCurate(spark,
          dedupAudit.filter(!col("dropped")).select("doc_id", "text"),
          spanDir, minKeptFrac)
        dedupAudit
          .select(col("doc_id"), col("text").as("__orig"),
            col("n_store_dups"), col("n_batch_dups"),
            col("dropped").as("dedup_dropped"))
          .join(curateAudit
            .select(col("doc_id"), col("text").as("__cur"),
              col("n_tokens_before"), col("n_tokens_kept"),
              col("dropped").as("curate_dropped")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("__cur"), col("__orig")).as("text"),
            col("n_store_dups"), col("n_batch_dups"), col("dedup_dropped"),
            coalesce(col("n_tokens_before"), lit(-1L)).as("n_tokens_before"),
            coalesce(col("n_tokens_kept"), lit(-1L)).as("n_tokens_kept"),
            coalesce(col("curate_dropped"), lit(false)).as("curate_dropped"))
          .write.mode("append").option("compression", "zstd")
          .parquet(auditDir)
      }
    }()

  /** Files-per-centroid level above which an un-thresholded ingest warns
    * (≈ the point where probe open/footer cost is measurable next to the
    * pruned scan itself).
    */
  val compactionWatermark: Int = 64

  /** Widest `centroid_id=` partition of an IVFADC code table, in files —
    * the small-file health metric. Listing cost is bounded by the
    * codebook size (≤ numCentroids directory listings), never the data.
    */
  private[graft] def maxFilesPerCentroid(
      fs: org.apache.hadoop.fs.FileSystem,
      indexDir: String): Int =
    graft.operators.StoreUpkeep.maxPartitionFiles(fs,
      graft.operators.StoreGen.resolve(indexDir, fs.getConf), "centroid_id=")

  /** Rewrite + swap the code table under its live name — the swap
    * protocol now lives in [[graft.operators.StoreUpkeep]] (one
    * tombstone-aware owner for batch AND streaming auto-compaction).
    */
  private def compactInPlace(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      indexDir: String): Unit =
    graft.operators.StoreUpkeep.compactInPlace(spark, indexDir,
      graft.operators.StoreUpkeep.IvfPqKind)

  /** Widest `shard=` partition of an LSH bucket store, in files — the
    * [[maxFilesPerCentroid]] twin. Listing cost is bounded by
    * `nShards` directory listings, never the data.
    */
  private[graft] def maxFilesPerShard(
      fs: org.apache.hadoop.fs.FileSystem,
      storeDir: String): Int =
    graft.operators.StoreUpkeep.maxPartitionFiles(fs,
      graft.operators.StoreGen.resolve(storeDir, fs.getConf), "shard=")

  /** [[compactInPlace]] for the three-directory LSH store — delegated
    * to the [[graft.operators.StoreUpkeep]] swap protocol. A crash
    * mid-swap leaves a MIXED-layout store, which is still CORRECT
    * (compaction preserves every directory's content verbatim), and
    * each unreplaced directory remains recoverable from its
    * `_precompact` twin.
    */
  private[graft] def compactLshInPlace(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      storeDir: String): Unit =
    graft.operators.StoreUpkeep.compactInPlace(spark, storeDir,
      graft.operators.StoreUpkeep.LshKind)

  /** Streaming quantile-sketch-store ingest — the metrics twin of
    * [[streamingLshIngest]]: drive the persisted pre-aggregated
    * quantile layer ([[graft.operators.SketchStore]]) from an events
    * file stream. The first micro-batch cold-builds the store (frozen
    * geometry sidecar); every later batch appends partials under that
    * geometry. Replay fencing matters MORE here than for the other
    * stores: sketch counts have no row identity, so a replayed append
    * silently doubles weights (there is no `dedupeIds` escape hatch) —
    * the source checkpoint gives file-level exactly-once and the
    * batchId sidecar guards foreachBatch's at-least-once crash window;
    * the residual exposure is one lost commit marker = one
    * double-counted batch, exactly the at-least-once contract
    * [[graft.operators.SketchStore.append]] documents.
    *
    * Partials merge by count addition regardless of arrival order, so
    * ANY file order converges to the cold-rebuild store (the
    * StreamingSpec law). Small-file growth is never silent (the house
    * contract), but the health check is bounded by the BATCH, not the
    * store: window partitions accumulate with history (unlike the
    * fixed shard/centroid stores), so each batch checks only the
    * windows it touched — `append`'s answer-sized return.
    */
  def streamingSketchIngest(
      spark: SparkSession,
      eventsDir: String,
      storeDir: String,
      valueCol: String = "value",
      groupCol: String = "event_type",
      windowMs: Long = 3600000L,
      mBits: Int = 6,
      quantScale: Double = 100.0,
      maxFilesPerTrigger: Option[Int] = None,
      checkpointDir: Option[String] = None,
      autoCompactThreshold: Option[Int] = None): Unit =
    windowStoreIngest(spark, eventsDir, storeDir,
      coldBuild = b => graft.operators.SketchStore.write(b, storeDir,
        valueCol, groupCol, windowMs, mBits, quantScale),
      appendBatch = b => graft.operators.SketchStore.append(spark, b, storeDir),
      inPlaceCompact = fs => compactSketchInPlace(spark, fs, storeDir),
      storeName = "sketch store", compactHint = "SketchStore.compactStore",
      maxFilesPerTrigger, checkpointDir, autoCompactThreshold)

  /** Streaming HLL-store ingest — the distinct-count member of the
    * window-store ingest family ([[graft.operators.HllStore]]). Same
    * plumbing as [[streamingSketchIngest]], OPPOSITE replay exposure:
    * registers merge by per-index MAX, so a replayed append can never
    * change an answer — the batchId sidecar here protects only store
    * hygiene (duplicate rows until compaction), not correctness. The
    * quantile twin's counts have no such identity; there the sidecar IS
    * the correctness fence.
    */
  def streamingHllIngest(
      spark: SparkSession,
      eventsDir: String,
      storeDir: String,
      itemCol: String = "user_id",
      groupCol: String = "event_type",
      windowMs: Long = 3600000L,
      p: Int = 12,
      maxFilesPerTrigger: Option[Int] = None,
      checkpointDir: Option[String] = None,
      autoCompactThreshold: Option[Int] = None): Unit =
    windowStoreIngest(spark, eventsDir, storeDir,
      coldBuild = b => graft.operators.HllStore.write(b, storeDir,
        itemCol, groupCol, windowMs, p),
      appendBatch = b => graft.operators.HllStore.append(spark, b, storeDir),
      inPlaceCompact = fs => compactHllInPlace(spark, fs, storeDir),
      storeName = "hll store", compactHint = "HllStore.compactStore",
      maxFilesPerTrigger, checkpointDir, autoCompactThreshold)

  /** The shared window-store ingest loop: events file stream →
    * foreachBatch → cold-build on the first batch (no geometry sidecar
    * yet), frozen-geometry append after; batchId replay sidecar;
    * per-batch file-health check bounded to the windows the batch
    * touched (never the store's age), warn-or-auto-compact past the
    * watermark. `ts` is normalized per batch (the nanos/NTZ fixture
    * split — [[graft.Tables.normalizeEventTs]]).
    */
  private def windowStoreIngest(
      spark: SparkSession,
      eventsDir: String,
      storeDir: String,
      coldBuild: DataFrame => Unit,
      appendBatch: DataFrame => Seq[Long],
      inPlaceCompact: org.apache.hadoop.fs.FileSystem => Unit,
      storeName: String,
      compactHint: String,
      maxFilesPerTrigger: Option[Int],
      checkpointDir: Option[String],
      autoCompactThreshold: Option[Int]): Unit = {
    // nanos-physical events surface ts as long under this conf; the NTZ
    // fixture generation is normalized per batch below
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsDir).schema
    val reader = spark.readStream.schema(schema)
    val stream = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(eventsDir)
    val hconf = spark.sparkContext.hadoopConfiguration
    val metaPath = new org.apache.hadoop.fs.Path(storeDir + "_meta")
    val fs = metaPath.getFileSystem(hconf)
    val commitPath = checkpointDir.map(d =>
      new org.apache.hadoop.fs.Path(d, "graft-ingest-committed"))
    val writer0 = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val replayed = commitPath.exists(p =>
          IngestCommitLog.lastCommitted(p.getFileSystem(hconf), p) >= batchId)
        if (!replayed) {
          val b = Tables.normalizeEventTs(batch.toDF()).localCheckpoint(true)
          val touched =
            try {
              if (!fs.exists(metaPath)) {
                coldBuild(b)
                Seq.empty[Long] // cold build writes 1 file per window
              } else appendBatch(b)
            } finally graft.operators.CacheRegistry.free(b)
          commitPath.foreach(p =>
            IngestCommitLog.commit(p.getFileSystem(hconf), p, batchId))
          val files = maxFilesInWindows(fs, storeDir, touched)
          autoCompactThreshold match {
            case Some(thr) if files > thr => inPlaceCompact(fs)
            case None if files > compactionWatermark =>
              System.err.println(s"[graft] $storeName at $storeDir has " +
                s"$files files in a just-touched window partition — run " +
                s"$compactHint (or set autoCompactThreshold) before the " +
                "serving read's per-file overhead dominates")
            case _ => ()
          }
        }
        ()
      }
    val writer = checkpointDir
      .fold(writer0)(d => writer0.option("checkpointLocation", d))
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** Widest of the GIVEN `window_start_ms=` partitions, in files — the
    * [[maxFilesPerShard]] twin for the history-partitioned sketch
    * store. Listing cost is bounded by the caller's window list (one
    * batch's span), never the store's age.
    */
  private[graft] def maxFilesInWindows(
      fs: org.apache.hadoop.fs.FileSystem,
      storeDir: String,
      windows: Seq[Long]): Int = {
    import org.apache.hadoop.fs.Path
    val root = new Path(storeDir)
    if (windows.isEmpty || !fs.exists(root)) 0
    else windows.iterator.map { w =>
      val d = new Path(root, s"window_start_ms=$w")
      if (!fs.exists(d)) 0
      else fs.listStatus(d).count(_.getPath.getName.endsWith(".parquet"))
    }.foldLeft(0)(math.max)
  }

  /** [[compactInPlace]] for the two-directory sketch store (buckets,
    * `_meta`). Same crash story as the LSH swap: compaction preserves
    * every directory's content (identical merged totals, same frozen
    * meta), so a crash mid-swap leaves a mixed-layout store that still
    * serves correct answers, and each unreplaced directory remains
    * recoverable from its `_precompact` twin.
    */
  private[graft] def compactSketchInPlace(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      storeDir: String): Unit =
    compactWindowStoreInPlace(fs, storeDir,
      staging => graft.operators.SketchStore.compactStore(spark, storeDir, staging))

  /** [[compactSketchInPlace]] for the HLL register store — same
    * two-directory swap, max-fold rewrite.
    */
  private[graft] def compactHllInPlace(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      storeDir: String): Unit =
    compactWindowStoreInPlace(fs, storeDir,
      staging => graft.operators.HllStore.compactStore(spark, storeDir, staging))

  private def compactWindowStoreInPlace(
      fs: org.apache.hadoop.fs.FileSystem,
      storeDir: String,
      rewrite: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val staging = storeDir + "_compacting"
    for (sfx <- Seq("", "_meta", "_bloom", "_bloom_meta"))
      fs.delete(new Path(staging + sfx), true)
    rewrite(staging)
    // optional sidecars (the span store's Bloom admission filter) swap
    // with the store they summarize — a swap that left the old sidecar
    // live would stay CORRECT (compaction preserves the print set) but
    // orphan the staging copy and forfeit the OR-fold
    val sidecars = Seq("", "_meta") ++
      Seq("_bloom", "_bloom_meta").filter(s => fs.exists(new Path(staging + s)))
    for (sfx <- sidecars) {
      val live = new Path(storeDir + sfx)
      val retired = new Path(storeDir + sfx + "_precompact")
      fs.delete(retired, true)
      require(fs.rename(live, retired),
        s"compactWindowStoreInPlace: rename $live -> $retired failed")
      require(fs.rename(new Path(staging + sfx), live),
        s"compactWindowStoreInPlace: rename ${staging + sfx} -> $live failed " +
          s"(recover the directory from $retired)")
      fs.delete(retired, true)
    }
  }

  /** The ingest replay guard: one tiny file holding the last batchId
    * whose append committed. Written via create-temp + rename so a
    * reader never sees a torn value; the delete-before-rename gap can
    * only LOSE the marker (worst case one replayed append — the same
    * exposure as having no guard, and `dedupeIds` covers it), never
    * fabricate a too-high one.
    */
  private[graft] object IngestCommitLog {
    import org.apache.hadoop.fs.{FileSystem, Path}
    def lastCommitted(fs: FileSystem, p: Path): Long =
      if (!fs.exists(p)) -1L
      else {
        val in = fs.open(p)
        try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          "UTF-8").trim.toLong
        finally in.close()
      }
    def commit(fs: FileSystem, p: Path, batchId: Long): Unit = {
      val tmp = new Path(p.toString + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
      fs.delete(p, false)
      require(fs.rename(tmp, p),
        s"IngestCommitLog: rename $tmp -> $p failed")
    }
  }

  /** Run a streaming DF to completion on currently-available data into an
    * in-memory table; returns the result as a batch DF.
    */
  def runAvailableNow(df: DataFrame, name: String,
      mode: String = "complete"): DataFrame = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    df.sparkSession.table(name)
  }
}
