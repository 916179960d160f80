package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Histogram-binned quantile estimation — the fixed-memory scale path
  * next to the exact sort-based percentile (SparkEntry q_percentile).
  *
  * Exact per-group percentiles need a full sort (or a per-group
  * `row_number` window, which shuffles and ranks EVERY row); at 100 TB
  * that is the single most expensive thing you can ask of a column. The
  * binned estimate instead does:
  *
  *   1. one partial-aggregated pass for per-group (min, max, count) —
  *      map-side combined, shuffled bytes = one row per group;
  *   2. one partial-aggregated pass histogramming each value into one of
  *      `bins` equal-width buckets — shuffled bytes ≤ groups × bins rows
  *      regardless of input size;
  *   3. a per-group cumulative walk over ≤ `bins` rows (the window's
  *      partition is the GROUP, whose row count is capped by `bins` —
  *      never corpus-sized) picking the first bucket whose cumulative
  *      count crosses ceil(p·n); the estimate is that bucket's lower
  *      edge.
  *
  * Error is bounded by one bucket width, (max-min)/bins per group —
  * the classic fixed-budget tradeoff (t-digest/KLL refine the same idea
  * with adaptive buckets; equal-width keeps every arithmetic step
  * bit-replayable in any engine, which is what the DuckDB oracle
  * verifies end-to-end).
  *
  * All arithmetic is IEEE double with a pinned operation order, so the
  * estimates hash-match across engines bit-for-bit.
  */
object Quantiles {

  /** Per-group binned quantile estimates for each requested fraction.
    * Output: groupCol, n, p{p}_est columns (lower edge of the first
    * histogram bucket whose cumulative count reaches ceil(p·n)).
    */
  /** `broadcastGroupCap` bounds the stats broadcast: the per-group stats
    * table is one row per DISTINCT group, which is broadcast-small for
    * report-style group columns (flags, languages, sources) but would OOM
    * the driver for an id-like group column. The table is persisted and
    * counted; above the cap the histogram join degrades to a shuffle join
    * instead of failing on the broadcast limit.
    */
  def binnedQuantiles(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      bins: Int = 1024,
      ps: Seq[Double] = Seq(0.5, 0.95),
      broadcastGroupCap: Long = 1L * 1000 * 1000): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"quantile fractions must be in (0, 1], got $ps")
    val v = col(valueCol).cast("double")
    // quantiles are over NON-NULL values (quantile_cont semantics); also
    // keeps the cumulative walk engine-portable — Spark sorts nulls
    // first, DuckDB last, so a null bin row would split the replay
    val dfNN = df.filter(v.isNotNull)

    val stats = dfNN.groupBy(groupCol).agg(
      min(v).as("__mn"), max(v).as("__mx"), count(lit(1)).as("__n"))

    // degenerate single-value groups (max == min) collapse to bucket 0;
    // everything else maps by (v-mn)/(mx-mn)*bins with the top edge
    // clamped into the last bucket
    val binCol = when(col("__mx") === col("__mn"), lit(0L))
      .otherwise(least(
        floor((v - col("__mn")) / (col("__mx") - col("__mn")) * bins),
        lit((bins - 1).toLong)))

    // null-safe join key: an inner equi-join would silently DROP every
    // row whose group key is null (stats aggregates them, the join never
    // matches them) — null groups must report like any other group.
    // Persist + count the stats table to size-gate the broadcast (one
    // cheap pass over the tiny agg result; the cache keeps the join from
    // re-running the stats aggregation).
    val statsC = CacheRegistry.persist(stats)
    val statsR = statsC.withColumnRenamed(groupCol, "__g")
    val statsSide =
      if (statsC.count() <= broadcastGroupCap) broadcast(statsR) else statsR
    val hist = dfNN.join(statsSide, col(groupCol) <=> col("__g"))
      .drop("__g")
      .withColumn("__bin", binCol)
      .groupBy(col(groupCol), col("__bin"))
      .agg(count(lit(1)).as("__c"),
        max(col("__mn")).as("__mn"), max(col("__mx")).as("__mx"),
        max(col("__n")).as("__n"))

    // per-group cumulative histogram: the window partition holds at most
    // `bins` rows however large the input — this is NOT a corpus-sized
    // window
    val cum = hist.withColumn("__cum",
      sum(col("__c")).over(Window.partitionBy(groupCol).orderBy("__bin")))

    val edge = col("__mn") +
      col("__bin") * (col("__mx") - col("__mn")) / lit(bins.toDouble)
    val aggs = ps.map { p =>
      min(when(col("__cum") >= ceil(lit(p) * col("__n")), edge))
        .as(s"p${(p * 100).round}_est")
    }
    cum.groupBy(col(groupCol))
      .agg(max(col("__n")).as("n"), aggs: _*)
  }

  /** EXACT global quantile — the k-th smallest non-null value at rank
    * k = ceil(p·n) — by iterative histogram refinement ("distributed
    * selection"), WITHOUT a global sort.
    *
    * Why not sort at 100 TB: an exact percentile via `orderBy` is a full
    * range-shuffle of the column; via a `row_number` window it is that
    * plus a rank per row. Selection needs neither — each round:
    *
    *   1. one scan histogramming the CURRENT candidate range into `bins`
    *      equal-width buckets (`groupBy(bucket)` — map-side combined,
    *      ≤ bins rows shuffled, ≤ bins rows collected: a bounded driver
    *      collect like the codebooks);
    *   2. the driver walks the ≤ bins cumulative counts and descends into
    *      the one bucket straddling the remaining rank, carrying that
    *      bucket's ACTUAL (min, max) as the next range and the cumulative
    *      count below it as the next rank offset.
    *
    * The range filter `v BETWEEN lo AND hi` is a sargable parquet
    * predicate — later rounds prune row groups via column min/max stats,
    * so pass t touches roughly 1/bins^t of the data. Convergence is
    * guaranteed: binning keys on the VALUE, so equal values share a
    * bucket, and a range with ≥ 2 distinct values always splits (its min
    * maps to bucket 0, its max to the last) — each round strictly
    * shrinks the candidate set. A single-valued range (min == max — the
    * heavy-duplicate regime that breaks naive recursion) IS the answer.
    * When ≤ `cutoff` candidates remain, one `TakeOrderedAndProject`
    * (sort-limit on the filtered remnant, never the corpus) finishes.
    *
    * Rounds are ≤ log_bins(distinct values) — ≤ 6 for the full double
    * range at bins = 4096 — so the whole selection is a handful of
    * ever-narrowing scans. Result is deterministic (an order statistic is
    * a value, whatever the tie order) and engine-portable: the DuckDB
    * oracle replays it as `row_number() = ceil(p·n)`.
    *
    * Non-finite values resolve by rank arithmetic before the descent
    * (both engines order -Inf < finite < +Inf < NaN): their counts come
    * from the same first pass, and the histogram only ever bins FINITE
    * values — an infinite endpoint would degenerate the bucket width.
    * The width itself is computed as hi/bins − lo/bins (the direct
    * hi − lo can overflow for a range spanning most of the double line).
    *
    * Global by design: per-group exact selection would put a driver loop
    * inside a group loop — [[binnedQuantiles]] is the grouped/fixed-pass
    * answer, this is the exact-global one (q_percentile's window formul-
    * ation stays as the small-input truth twin).
    */
  def exactQuantile(
      df: DataFrame,
      valueCol: String,
      p: Double,
      bins: Int = 4096,
      cutoff: Int = 1 << 16): Double =
    exactQuantiles(df, valueCol, Seq(p), bins, cutoff).head

  /** Several [[exactQuantile]]s in one descent, sharing scans: pass 0
    * (counts, non-finite mass, finite min/max) runs ONCE, and every
    * round groups the still-active quantiles by their candidate range so
    * ranges that coincide share one histogram — in round 1 ALL of them
    * do, which removes the per-p full scans that dominate the
    * one-at-a-time formulation (later rounds run on range-pruned slices,
    * where a duplicate scan is cheap anyway). Returns results in `ps`
    * order.
    */
  def exactQuantiles(
      df: DataFrame,
      valueCol: String,
      ps: Seq[Double],
      bins: Int = 4096,
      cutoff: Int = 1 << 16): Seq[Double] = {
    require(ps.nonEmpty, "ps must be non-empty")
    require(ps.forall(p => p > 0.0 && p <= 1.0), s"each p must be in (0, 1], got $ps")
    require(bins >= 2, s"bins must be >= 2, got $bins")
    require(cutoff >= 1, s"cutoff must be >= 1, got $cutoff")
    val v = col(valueCol).cast("double")
    val all = df.filter(v.isNotNull).select(v.as("__v"))
    // non-finite mass is counted ONCE up front and resolved by rank
    // arithmetic (both engines order -Inf < finite < +Inf < NaN): an
    // infinite lo/hi would make the bucket width degenerate (w = Inf
    // puts every row in bucket 0 and the loop would never shrink), and
    // a NaN hi would skip refinement entirely and full-sort the corpus
    val isFin = !isnan(col("__v")) &&
      col("__v") > Double.NegativeInfinity && col("__v") < Double.PositiveInfinity
    val base = all.filter(isFin)

    val g0 = all.agg(count(lit(1)).as("n"),
      count(when(col("__v") === Double.NegativeInfinity, 1)).as("nneg"),
      count(when(col("__v") === Double.PositiveInfinity, 1)).as("npos"),
      count(when(isnan(col("__v")), 1)).as("nnan"),
      min(when(isFin, col("__v"))).as("mn"),
      max(when(isFin, col("__v"))).as("mx")).head()
    val n = g0.getLong(0)
    require(n > 0, s"exactQuantile: no non-null values in $valueCol")
    val (nNeg, nPos, nNan) = (g0.getLong(1), g0.getLong(2), g0.getLong(3))
    val nFin = n - nNeg - nPos - nNan

    final class State(var need: Long) {
      var lo: Double = if (nFin > 0) g0.getDouble(4) else 0.0
      var hi: Double = if (nFin > 0) g0.getDouble(5) else 0.0
      var cnt: Long = nFin
      var result: Option[Double] = None
    }
    val states = ps.map { p =>
      val rank = math.ceil(p * n).toLong.max(1L)
      val s = new State(rank - nNeg)
      if (rank <= nNeg) s.result = Some(Double.NegativeInfinity)
      else if (rank > nNeg + nFin + nPos) s.result = Some(Double.NaN)
      else if (rank > nNeg + nFin) s.result = Some(Double.PositiveInfinity)
      s
    }

    // Round budget scaled to the split factor: each round shrinks the
    // candidate VALUE width by ~1/bins (the picked bucket spans
    // width/bins), and the finite double line spans a width ratio of
    // ~2^2098 (max finite over min subnormal), so ceil(2100/log2(bins))
    // rounds provably reach a sub-ulp width from ANY starting range —
    // counting representable values (2^64) would under-budget
    // log-spaced heavy-duplicate inputs, whose range stays wide while
    // counts stay above cutoff. +8 absorbs uneven actual-min/max
    // splits. Typical descents converge in <= 6 rounds; the budget only
    // bounds the loud non-convergence failure.
    val maxRounds = math.ceil(2100.0 / (math.log(bins) / math.log(2))).toInt + 8
    var round = 0
    var progressed = true
    while (progressed && round < maxRounds) {
      val active = states.filter(s =>
        s.result.isEmpty && s.lo < s.hi && s.cnt > cutoff)
      progressed = active.nonEmpty
      // identical ranges share one histogram scan (round 1: all of them)
      active.groupBy(s => (s.lo, s.hi)).foreach { case ((lo, hi), group) =>
        // width computed as hi/bins - lo/bins: the direct (hi - lo) can
        // overflow to Inf for a range spanning most of the double line,
        // and an infinite width would stall the descent
        val w = hi / bins - lo / bins
        if (w == 0.0) {
          // sub-ulp range: equal-width bucketing can no longer split,
          // but a range this narrow holds only a handful of DISTINCT
          // doubles (each at most one subnormal step apart, however many
          // duplicate ROWS each carries). Walk the exact per-value
          // counts — a bounded collect — and resolve the whole group.
          val vals = base.filter(col("__v") >= lo && col("__v") <= hi)
            .groupBy("__v").agg(count(lit(1)).as("__c"))
            .collect().sortBy(_.getDouble(0))
          group.foreach { s =>
            var cum = 0L
            var i = 0
            while (i < vals.length && s.result.isEmpty) {
              cum += vals(i).getLong(1)
              if (cum >= s.need) s.result = Some(vals(i).getDouble(0))
              i += 1
            }
            if (s.result.isEmpty) throw new IllegalStateException(
              s"exactQuantile: rank walked off the value counts (need=${s.need})")
          }
        } else {
          // safe association: (v - lo)/w can overflow where v/w - lo/w
          // cannot (each quotient is bounded); any monotone value-
          // deterministic bucketing is correct, only balance shifts
          val bucket = least(floor(col("__v") / w - lit(lo / w)),
            lit((bins - 1).toLong))
          val hist = base.filter(col("__v") >= lo && col("__v") <= hi)
            .groupBy(bucket.as("__b"))
            .agg(count(lit(1)).as("__c"), min("__v").as("__bmn"),
              max("__v").as("__bmx"))
            .collect()
            .sortBy(_.getLong(0))
          group.foreach { s =>
            var cum = 0L
            var i = 0
            var found = false
            while (i < hist.length && !found) {
              val c = hist(i).getLong(1)
              if (cum + c >= s.need) {
                s.need -= cum
                s.lo = hist(i).getDouble(2)
                s.hi = hist(i).getDouble(3)
                s.cnt = c
                found = true
              } else { cum += c }
              i += 1
            }
            require(found, s"exactQuantile: rank walked off the histogram " +
              s"(need=${s.need} cum=$cum) — concurrent mutation of the input?")
          }
        }
      }
      round += 1
    }
    states.map { s =>
      s.result.getOrElse {
        if (s.lo == s.hi) s.lo
        else {
          // reachable only via cnt <= cutoff (strict progress: lo and hi
          // always land in different buckets, so the chosen bucket
          // shrinks every round); defense in depth for the .toInt
          require(s.need <= cutoff,
            s"exactQuantile: finisher invariant violated (need=${s.need} > cutoff=$cutoff)")
          base.filter(col("__v") >= s.lo && col("__v") <= s.hi)
            .orderBy(col("__v"))
            .limit(s.need.toInt)
            .agg(max("__v"))
            .head().getDouble(0)
        }
      }
    }
  }

  /** PER-GROUP exact quantile — for every group, the k_g-th smallest
    * non-null value at rank k_g = ceil(p·n_g) — by the same iterative
    * histogram descent as [[exactQuantiles]], with ALL GROUPS DESCENDING
    * IN PARALLEL. The per-group descent state (lo, hi, need, cnt) lives
    * in a groups-sized DataFrame, NOT on the driver: each round is one
    * null-safe join of the corpus against the active-state table, one
    * partial-aggregated histogram (≤ groups × bins rows through the
    * shuffle), and a ≤ bins-row-per-group cumulative walk that picks the
    * next (lo, hi, need, cnt) — so there is no driver loop PER GROUP
    * (the trap [[exactQuantiles]]' scaladoc warns about) and no
    * per-group collect; the only driver action per round is the
    * active-group count that decides termination.
    *
    * Group-level details shared with the global twin:
    *   - non-finite values resolve by rank arithmetic from pass 0's
    *     per-group (n, -Inf, +Inf, NaN) counts (-Inf < finite < +Inf <
    *     NaN in both engines), and the histogram only ever bins FINITE
    *     values;
    *   - width = hi/bins − lo/bins (overflow-safe), bucket =
    *     v/w − lo/w clamped into the last slot;
    *   - a sub-ulp range (w == 0: ≤ ~bins distinct doubles left however
    *     many ROWS carry them) or a ≤ `cutoff` candidate count drops the
    *     group out of the round loop into the shared finisher: one
    *     distinct-value count per remaining group and a cumulative walk
    *     over those ≤ max(cutoff, bins) values picks the exact answer.
    *
    * Groups whose every value is null do not appear (quantile-over-
    * nothing has no rank); null GROUP KEYS report like any other group
    * (null-safe joins throughout). Output: groupCols…, n (non-null
    * count), quantile. Deterministic — an order statistic is a value,
    * whatever the tie order — and replayable by DuckDB as
    * `row_number() = ceil(p·n_g)` per group.
    */
  def exactQuantileBy(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      p: Double,
      bins: Int = 4096,
      cutoff: Int = 1 << 16): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(p > 0.0 && p <= 1.0, s"p must be in (0, 1], got $p")
    require(bins >= 2, s"bins must be >= 2, got $bins")
    require(cutoff >= 1, s"cutoff must be >= 1, got $cutoff")
    val gc = groupCols.map(col)
    val v = col(valueCol).cast("double")
    val base = df.filter(v.isNotNull)
      .select(gc :+ v.as("__v"): _*)
    val isFin = !isnan(col("__v")) &&
      col("__v") > Double.NegativeInfinity && col("__v") < Double.PositiveInfinity

    // pass 0: per-group counts by finiteness class + finite min/max
    val g0 = base.groupBy(gc: _*).agg(
      count(lit(1)).as("__n"),
      count(when(col("__v") === Double.NegativeInfinity, 1)).as("__nneg"),
      count(when(col("__v") === Double.PositiveInfinity, 1)).as("__npos"),
      count(when(isnan(col("__v")), 1)).as("__nnan"),
      min(when(isFin, col("__v"))).as("__mn"),
      max(when(isFin, col("__v"))).as("__mx"))

    val rank = greatest(ceil(lit(p) * col("__n")).cast("long"), lit(1L))
    val nfin = col("__n") - col("__nneg") - col("__npos") - col("__nnan")
    var state = CacheRegistry.persist(g0.select(
        gc ++ Seq(
          col("__n"),
          (rank - col("__nneg")).as("__need"),
          coalesce(col("__mn"), lit(0.0)).as("__lo"),
          coalesce(col("__mx"), lit(0.0)).as("__hi"),
          nfin.as("__cnt"),
          when(rank <= col("__nneg"), lit(Double.NegativeInfinity))
            .when(rank > col("__nneg") + nfin + col("__npos"), lit(Double.NaN))
            .when(rank > col("__nneg") + nfin, lit(Double.PositiveInfinity))
            .as("__res")): _*))
    val nGroups = state.count()

    // a group stays in the round loop only while equal-width bucketing
    // can still split it (w != 0) and the remnant is above the finisher
    // cutoff; everything else waits for the shared finisher below
    val activeCond = col("__res").isNull && col("__lo") < col("__hi") &&
      col("__cnt") > cutoff &&
      (col("__hi") / bins - col("__lo") / bins) =!= 0.0

    // null-safe equi-join of the corpus against the (renamed) state
    def stateJoin(st: DataFrame, carry: Seq[String]): DataFrame = {
      val renamed = st.select(
        groupCols.map(c => col(c).as(s"__g_$c")) ++ carry.map(col): _*)
      val cond = groupCols.map(c => base(c) <=> renamed(s"__g_$c"))
        .reduce(_ && _)
      base.join(renamed, cond).drop(groupCols.map(c => s"__g_$c"): _*)
    }

    // width-ratio budget, not representable-value count — see the
    // exactQuantiles descent for the derivation
    val maxRounds = math.ceil(2100.0 / (math.log(bins) / math.log(2))).toInt + 8
    var round = 0
    var nActive = state.filter(activeCond).count()
    while (nActive > 0 && round < maxRounds) {
      val act = state.filter(activeCond)
      val w = col("__hi") / bins - col("__lo") / bins
      val joined = stateJoin(act, Seq("__need", "__lo", "__hi", "__n"))
        .filter(col("__v") >= col("__lo") && col("__v") <= col("__hi"))
        .withColumn("__w", w)
        .withColumn("__b", least(
          floor(col("__v") / col("__w") - col("__lo") / col("__w")),
          lit((bins - 1).toLong)))
      val hist = joined.groupBy(gc :+ col("__b"): _*)
        .agg(count(lit(1)).as("__c"),
          min(col("__v")).as("__bmn"), max(col("__v")).as("__bmx"),
          max(col("__need")).as("__need"), max(col("__n")).as("__n"))
      // ≤ bins rows per group: the cumulative walk's window partition is
      // the GROUP's histogram, never its rows
      val wCum = Window.partitionBy(gc: _*).orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val stepped = hist
        .withColumn("__cum", sum(col("__c")).over(wCum))
        .filter(col("__cum") >= col("__need"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(gc: _*).orderBy("__b")))
        .filter(col("__rn") === 1)
        .select(gc ++ Seq(col("__n"),
          (col("__need") - (col("__cum") - col("__c"))).as("__need"),
          col("__bmn").as("__lo"), col("__bmx").as("__hi"),
          col("__c").as("__cnt"),
          lit(null).cast("double").as("__res")): _*)
      val newState = CacheRegistry.persist(state.filter(!activeCond).unionByName(stepped))
      // ONE action per round: materializes the new state AND decides
      // termination; the old state's cache is dropped immediately
      nActive = newState.filter(activeCond).count()
      state.unpersist(blocking = false)
      state = newState
      round += 1
    }
    require(nActive == 0,
      s"exactQuantileBy: $nActive groups still active after $maxRounds " +
        s"rounds — descent did not converge (concurrent input mutation?)")

    val done = state.filter(col("__res").isNotNull)
      .select(gc ++ Seq(col("__n").as("n"), col("__res").as("quantile")): _*)
    val point = state.filter(col("__res").isNull && col("__lo") === col("__hi"))
      .select(gc ++ Seq(col("__n").as("n"), col("__lo").as("quantile")): _*)
    // finisher: per remaining group (≤ cutoff candidate rows, or a
    // sub-ulp range holding ≤ ~bins distinct doubles) — ONE distinct-
    // value count and a cumulative walk over values, never a row sort
    val rest = state.filter(col("__res").isNull && col("__lo") < col("__hi"))
    val vals = stateJoin(rest, Seq("__need", "__lo", "__hi", "__n"))
      .filter(col("__v") >= col("__lo") && col("__v") <= col("__hi"))
      .groupBy(gc :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"), max(col("__need")).as("__need"),
        max(col("__n")).as("__n"))
    val wVal = Window.partitionBy(gc: _*).orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val finished = vals
      .withColumn("__cum", sum(col("__c")).over(wVal))
      .filter(col("__cum") >= col("__need"))
      .groupBy(gc: _*)
      .agg(max(col("__n")).as("n"), min(col("__v")).as("quantile"))
    val out = CacheRegistry.persist(done.unionByName(point).unionByName(finished))
    // loud completeness check: every group that entered pass 0 must
    // report exactly once (a group silently dropped by a join bug would
    // otherwise under-report)
    val nOut = out.count()
    state.unpersist(blocking = false)
    require(nOut == nGroups,
      s"exactQuantileBy: $nOut results for $nGroups groups")
    out
  }

  /** Mergeable log-histogram quantile sketch — the ONE-PASS,
    * streaming-native member of the quantile family.
    *
    * [[binnedQuantiles]] needs a (min, max) pre-pass before it can bin,
    * and its equal-width buckets give an ABSOLUTE error bound that is
    * useless on heavy-tailed value columns (one outlier stretches every
    * bucket). This sketch instead buckets each value by its binary
    * magnitude — exponent plus the top `mBits` mantissa bits of the
    * quantized integer — which needs NO pre-pass, merges by simple count
    * addition (across partitions, shards, or micro-batches), and bounds
    * the RELATIVE error of every estimate by 2^(1-mBits) (~3% at the
    * default mBits=6). That is the DDSketch recipe (Masson et al.,
    * VLDB 2019) re-derived on integer arithmetic so every bucket edge is
    * bit-replayable in any engine:
    *
    *   nq = floor(v · quantScale)        — exact integer quantization
    *   e  = bit-length of |nq|           — length(bin(|nq|)): exact
    *   w  = max(2^(e − mBits), 1)        — power of two: exact double
    *   lo = floor(|nq| / w) · w          — bucket lower edge: exact
    *                                       while |nq| < 2^53 (asserted)
    *
    * Negative values land at −(lo + w) (the algebraic lower edge of the
    * mirrored magnitude bucket), zero in its own bucket — so ascending
    * `bucket_lo` IS ascending value order and one cumulative walk serves
    * signed inputs. Shuffled bytes per pass: ≤ groups × (2·53·2^(mBits−1)
    * + 1) bucket rows, never corpus-sized. No log() anywhere — log-based
    * bucket indexing (the float DDSketch) is last-ulp divergent across
    * runtimes, which would break the DuckDB hash oracle.
    */
  /** `weightCol` makes the sketch WEIGHTED: `c` accumulates the row's
    * integer weight instead of 1, so a p-quantile answers "the value
    * below which p of the total WEIGHT lies" (e.g. the doc length below
    * which 95% of the corpus' characters live — the curation view, where
    * one 1M-char doc counts for a million 1-char docs). Weights must be
    * non-negative longs; null weights contribute 0.
    */
  def logHistBuckets(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      mBits: Int = 6,
      quantScale: Double = 100.0,
      weightCol: Option[String] = None): DataFrame = {
    require(mBits >= 1 && mBits <= 20, s"mBits must be in [1,20], got $mBits")
    require(quantScale > 0.0, s"quantScale must be positive, got $quantScale")
    val v = col(valueCol).cast("double")
    // sketch over NON-NULL values (quantile_cont semantics; also keeps
    // the cumulative walk engine-portable — see binnedQuantiles)
    val nq = floor(v * quantScale).cast("long")
    val an = abs(nq)
    val e = length(bin(an))
    val wd = when(e <= mBits, lit(1.0))
      .otherwise(pow(lit(2.0), (e - mBits).cast("double")))
    val mag = floor(an.cast("double") / wd) * wd
    val lo = when(nq === 0, lit(0.0))
      .when(nq > 0, mag)
      .otherwise(-(mag + wd))
    val cAgg = weightCol
      .map(w => sum(coalesce(col(w).cast("long"), lit(0L))))
      .getOrElse(count(lit(1)))
    df.filter(v.isNotNull)
      .groupBy(groupCols.map(col) :+ lo.as("bucket_lo"): _*)
      .agg(cAgg.as("c"), max(an).as("mx"))
  }

  /** Single-group-column convenience overload. */
  def logHistBuckets(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame =
    logHistBuckets(df, valueCol, Seq(groupCol))

  /** Quantile estimates from a (merged) [[logHistBuckets]] table: per
    * group, the first bucket edge whose cumulative count reaches
    * ceil(p·n), de-quantized. The window partition holds the GROUP's
    * bucket rows — bounded by the sketch geometry, never corpus-sized.
    * Fails loudly (assert_true, not a silent wrong answer) if any
    * quantized magnitude reached 2^53, where the edge arithmetic stops
    * being exact.
    */
  def logHistFinish(
      buckets: DataFrame,
      groupCols: Seq[String],
      ps: Seq[Double] = Seq(0.5, 0.95, 0.99),
      quantScale: Double = 100.0): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"quantile fractions must be in (0, 1], got $ps")
    val gc = groupCols.map(col)
    val wCum = Window.partitionBy(gc: _*).orderBy("bucket_lo")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(gc: _*)
    val cum = buckets
      .withColumn("__cum", sum(col("c")).over(wCum))
      .withColumn("__n", sum(col("c")).over(wAll))
      .withColumn("__ck", assert_true(col("mx") < lit(1L << 53),
        lit("logHistQuantiles: a quantized magnitude reached 2^53 — " +
          "bucket edges are no longer exact; lower quantScale")))
      .filter(col("__ck").isNull)
      // a negative count can only come from a negative WEIGHT, which
      // breaks the cumulative walk's monotonicity — loud, not wrong
      .withColumn("__cw", assert_true(col("c") >= 0,
        lit("logHistQuantiles: negative bucket count — weights must be " +
          "non-negative")))
      .filter(col("__cw").isNull)
    val aggs = ps.map { p =>
      (min(when(col("__cum") >= ceil(lit(p) * col("__n")), col("bucket_lo")))
        / quantScale).as(s"p${(p * 100).round}_est")
    }
    cum.groupBy(gc: _*)
      .agg(max(col("__n")).as("n"), aggs: _*)
  }

  /** Single-group-column convenience overload. */
  def logHistFinish(buckets: DataFrame, groupCol: String): DataFrame =
    logHistFinish(buckets, Seq(groupCol))

  /** One-pass per-group quantile estimates with relative error
    * ≤ 2^(1−mBits): [[logHistFinish]] over [[logHistBuckets]].
    */
  def logHistQuantiles(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      mBits: Int = 6,
      ps: Seq[Double] = Seq(0.5, 0.95, 0.99),
      quantScale: Double = 100.0,
      weightCol: Option[String] = None): DataFrame =
    logHistFinish(
      logHistBuckets(df, valueCol, groupCols, mBits, quantScale, weightCol),
      groupCols, ps, quantScale)

  /** Single-group-column convenience overload. */
  def logHistQuantiles(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame =
    logHistQuantiles(df, valueCol, Seq(groupCol))

  /** CDF (rank) queries from a (merged) [[logHistBuckets]] table — the
    * INVERSE of [[logHistFinish]]: instead of "the value at rank p",
    * answer "what fraction of rows lie at or below x" for each threshold
    * in `xs`. The dashboard dual of the quantile serve ("how many
    * requests beat the 200 ms SLO this week") from the same persisted
    * sketch, raw events untouched.
    *
    * Each bucket's covered quantized range is recovered from its edge
    * alone — no width column is stored. For a positive edge `lo` the
    * generator guarantees bitlength(lo) = bitlength of every member, so
    * w = max(2^(e−mBits), 1) and the bucket covers [lo, lo+w−1]; a
    * negative edge lo = −(mag+w) covers [lo+1, lo+w], and e is
    * recovered as bitlength(|lo|−1) (|lo| ranges over (2^(e−1), 2^e] —
    * subtracting 1 folds the 2^e corner back to bitlength e; uniqueness
    * is an algebra fact, not a convention: no other exponent generates
    * the same multiple). All integer bit arithmetic — the same ops the
    * DuckDB oracle replays.
    *
    * The answer is a CERTIFIED BRACKET, not a point estimate: `*_lo`
    * counts buckets entirely ≤ ⌊x·quantScale⌋, `*_hi` adds the one
    * straddling bucket per group. The true quantized rank lies inside
    * by construction; the bracket width is the straddler's mass
    * (relative error ≤ 2^(1−mBits) of the neighborhood, the sketch's
    * own guarantee). Output: (groupCols…, n, le_<x>_lo, le_<x>_hi, …)
    * as fractions. Pure aggregation — no window, no collect; the
    * scale-simplest serve in the family.
    */
  def logHistCdf(
      buckets: DataFrame,
      groupCols: Seq[String],
      xs: Seq[Double],
      mBits: Int = 6,
      quantScale: Double = 100.0): DataFrame = {
    require(xs.nonEmpty, "logHistCdf: at least one threshold required")
    require(mBits >= 1 && mBits <= 20, s"mBits must be in [1,20], got $mBits")
    require(quantScale > 0.0, s"quantScale must be positive, got $quantScale")
    val gc = groupCols.map(col)
    val lo = col("bucket_lo")
    // recovered width: e from the edge (positive: bitlength(lo);
    // negative: bitlength(|lo|−1), the corner-folding trick above)
    val e = when(lo > 0, length(bin(lo.cast("long"))))
      .when(lo < 0, length(bin((abs(lo) - 1).cast("long"))))
      .otherwise(lit(mBits)) // zero bucket: w irrelevant, covers {0}
    val w = when(e <= mBits, lit(1.0))
      .otherwise(pow(lit(2.0), (e - mBits).cast("double")))
    val first = when(lo >= 0, lo).otherwise(lo + 1)
    val last = when(lo > 0, lo + w - 1).when(lo < 0, lo + w)
      .otherwise(lit(0.0))
    val checked = buckets
      .withColumn("__ck", assert_true(col("mx") < lit(1L << 53),
        lit("logHistCdf: a quantized magnitude reached 2^53 — bucket " +
          "edges are no longer exact; lower quantScale")))
      .filter(col("__ck").isNull)
      .withColumn("__first", first)
      .withColumn("__last", last)
    def name(x: Double) =
      "le_" + x.toString.replace("-", "m").replace(".", "_")
    val aggs = xs.flatMap { x =>
      val nqx = math.floor(x * quantScale)
      Seq(
        (sum(when(col("__last") <= nqx, col("c")).otherwise(0L))
          .cast("double") / sum(col("c"))).as(name(x) + "_lo"),
        (sum(when(col("__first") <= nqx, col("c")).otherwise(0L))
          .cast("double") / sum(col("c"))).as(name(x) + "_hi"))
    }
    checked.groupBy(gc: _*)
      .agg(sum(col("c")).as("n"), aggs: _*)
  }
}
