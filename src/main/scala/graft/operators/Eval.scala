package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classifier evaluation — the missing third of the quality-probe story
  * ([[Classifier]] trains and scores; nothing measured the scores). A
  * curation pipeline tunes its keep-threshold off exactly these three
  * readouts: ranking power (ROC-AUC), probability honesty per score
  * band (calibration table), and the single-number proper score (Brier).
  *
  * All three follow the engine's exactness discipline: integer/decimal
  * sums only (partition-order invariant — plain double accumulation is
  * not), one fixed scalar expression at the end, results 6dp-rounded so
  * the DuckDB oracle replays them bit-for-bit.
  *
  * The scale trap in AUC specifically is the rank: Mann–Whitney needs
  * every score's position in the global order, and the obvious
  * `Window.orderBy(score)` is a single-reducer sort over the DISTINCT-
  * SCORE table — corpus-sized for continuous scores (the collocations
  * lesson). [[rocAuc]] instead rides the two-level prefix scan
  * ([[Linkage.sortedNeighborhoodPairs]] step 1, [[Sampling
  * .deterministicShuffle]]): range-partition the score histogram,
  * rank inside each range partition in parallel, add broadcast
  * per-partition offsets. No stage holds more than one range partition
  * in one task.
  */
object Eval {

  /** Exact ROC-AUC as the Mann–Whitney U statistic with mid-rank tie
    * handling (Hand & Till 2001 formulation):
    *
    *   AUC = Σ_s pos_s · (2·negBelow_s + neg_s) / (2 · nPos · nNeg)
    *
    * summed over distinct score values s — each pos/neg pair contributes
    * 1 when the positive outscores the negative, 1/2 on a tie (the ×2
    * numerator keeps every term an integer). Output: (groupCols…,
    * n_pos, n_neg, auc), auc NULL for a single-class group (no pairs to
    * rank — NULL, not a fake 0.5, so a degenerate slice is visible).
    *
    * Scale shape, stepwise:
    *   1. histogram: groupBy(group, score) → (pos_s, neg_s). The ONLY
    *      corpus-sized pass; everything after is distinct-score-sized.
    *   2. negBelow via the two-level scan: `repartitionByRange(group,
    *      score)` (sampled bounds affect balance, never the result —
    *      rank is a property of the total order), per-(partition, group)
    *      running sum, plus per-(partition, group) totals rolled into
    *      offsets. The offsets table has ≤ partitions + groups − 1 rows
    *      (each range partition holds a contiguous group span), so its
    *      own per-group window is partition-count-sized, never
    *      data-sized.
    *   3. one final groupBy(group). Numerator terms multiply as
    *      decimal(38,0) — pos_s·(2·negBelow+neg_s) reaches 2·n² in one
    *      hot score bucket, past int64 at n ~ 2·10⁹; DuckDB's HUGEINT
    *      sums are the same 128-bit arithmetic, so exactness survives
    *      without a magnitude gate.
    *
    * `quantScale`: Some(q) ranks `floor(score·q)` instead of the raw
    * score — the binned estimate whose histogram is bounded by the score
    * RANGE × q instead of the corpus (the [[Quantiles.logHistBuckets]]
    * tradeoff; binning merges near-ties, and mid-rank handling makes the
    * result exactly the trapezoid rule on the binned ROC curve). Set it
    * when scores are continuous and the corpus is huge; leave None when
    * scores are already discrete ([[Classifier]] z's are integers).
    *
    * Null scores are excluded, NaN scores rejected loudly (engines
    * disagree on NaN order), null labels count as negative — the
    * [[Classifier.linearProbe]] label convention.
    */
  def rocAuc(
      scored: DataFrame,
      scoreCol: String,
      label: Column,
      groupCols: Seq[String] = Seq.empty,
      quantScale: Option[Double] = None): DataFrame =
    rocAucFromHistogram(
      scoreHistogram(scored, scoreCol, label, groupCols, quantScale),
      groupCols)

  /** [[rocAuc]] from an already-built [[scoreHistogram]] — the batch
    * finisher behind a LIVE model-quality monitor: the histogram's
    * (pos, neg) counts are purely additive, so a Structured Streaming
    * aggregate maintains it incrementally
    * ([[graft.streaming.Streaming.streamingScoreHistogram]]) and this
    * finisher reads the sink table — the
    * [[Sketches.hllRegisters]]/finalize split, applied to evaluation.
    */
  def rocAucFromHistogram(hist: DataFrame,
      groupCols: Seq[String] = Seq.empty): DataFrame = {
    val g = groupCols.map(col)
    val nb = negBelow(hist, groupCols)
    val term = col("__pos").cast("decimal(38,0)") *
      (lit(2L) * col("__nb") + col("__neg")).cast("decimal(38,0)")
    val agg = nb.groupBy(g: _*)
      .agg(sum(col("__pos")).as("n_pos"), sum(col("__neg")).as("n_neg"),
        sum(term).as("__num2"))
    agg.select(g :+ col("n_pos") :+ col("n_neg")
      :+ when(col("n_pos") === 0 || col("n_neg") === 0,
          lit(null).cast("double"))
        .otherwise(round(col("__num2").cast("double") /
          (lit(2.0) * col("n_pos") * col("n_neg")), 6)).as("auc"): _*)
  }

  /** The (group…, __s, __pos, __neg) distinct-score histogram — the one
    * corpus-sized pass every metric here starts from, and the MERGEABLE
    * STATE of the family: counts add across shards, micro-batches, and
    * reruns, so the histogram (not the metric) is what a streaming
    * monitor or a per-shard pre-aggregation maintains; [[
    * rocAucFromHistogram]]/[[averagePrecisionFromHistogram]] finish it.
    * Null scores excluded, NaN scores loud (engines disagree on NaN
    * rank), null labels negative; `quantScale` bins `floor(score·q)`.
    */
  def scoreHistogram(scored: DataFrame, scoreCol: String,
      label: Column, groupCols: Seq[String] = Seq.empty,
      quantScale: Option[Double] = None): DataFrame = {
    val g = groupCols.map(col)
    val s0 = col(scoreCol).cast("double")
    val y = coalesce(label.cast("boolean"), lit(false))
    val sKey = quantScale match {
      case Some(q) =>
        require(q > 0.0, s"quantScale must be positive, got $q")
        floor(s0 * q).cast("long").cast("double")
      case None => s0
    }
    scored
      .filter(s0.isNotNull)
      .withColumn("__nan", assert_true(!isnan(s0),
        lit("score histogram: NaN score — engines disagree on NaN " +
          "rank; filter or impute upstream")))
      .filter(col("__nan").isNull)
      .groupBy(g :+ sKey.as("__s"): _*)
      .agg(sum(y.cast("long")).as("__pos"),
        sum((!y).cast("long")).as("__neg"))
  }

  /** Average precision (the area under the precision–recall curve at
    * the distinct-score operating points — the scikit-learn
    * `average_precision_score` convention, ties collapsed to one
    * threshold):
    *
    *   AP = (1/nPos) · Σ_s pos_s · Prec(s),
    *   Prec(s) = cumPosIncl(s) / cumAllIncl(s)  (descending inclusive)
    *
    * The ranking-power readout for IMBALANCED labels, where ROC-AUC
    * saturates (a keep-2% quality filter cares about precision at the
    * head, not the false-positive rate over a 98% sea of negatives).
    *
    * Exactness: each precision is one double division (bit-identical in
    * DuckDB), snapped to the 10⁻¹² grid — floor(10¹²·prec + 0.5) ≤ 10¹²
    * always fits a long — then multiplied by the INTEGER pos_s as
    * decimal(38,0) and summed. Plain double term-sums would be
    * partition-order dependent; this is not, and the total quantization
    * error is ≤ 5·10⁻¹³ after the final division. Same two-level scan
    * as [[rocAuc]], run descending. Output: (groupCols…, n_pos, n_neg,
    * avg_prec), NULL avg_prec when a group has no positives.
    */
  def averagePrecision(
      scored: DataFrame,
      scoreCol: String,
      label: Column,
      groupCols: Seq[String] = Seq.empty,
      quantScale: Option[Double] = None): DataFrame =
    averagePrecisionFromHistogram(
      scoreHistogram(scored, scoreCol, label, groupCols, quantScale),
      groupCols)

  /** [[averagePrecision]] from an already-built [[scoreHistogram]] —
    * see [[rocAucFromHistogram]] for the monitor split.
    */
  def averagePrecisionFromHistogram(hist0: DataFrame,
      groupCols: Seq[String] = Seq.empty): DataFrame = {
    val g = groupCols.map(col)
    val hist = hist0.withColumn("__all", col("__pos") + col("__neg"))
    val cum = prefixExclusive(hist, groupCols, Seq("__pos", "__all"),
      descending = true)
    val cp = (col("__cum__pos") + col("__pos")).cast("double")
    val ca = (col("__cum__all") + col("__all")).cast("double")
    val precScaled = floor(lit(1e12) * (cp / ca) + lit(0.5))
    val term = col("__pos").cast("decimal(38,0)") *
      precScaled.cast("decimal(38,0)")
    val agg = cum.groupBy(g: _*)
      .agg(sum(col("__pos")).as("n_pos"), sum(col("__neg")).as("n_neg"),
        sum(term).as("__num"))
    agg.select(g :+ col("n_pos") :+ col("n_neg")
      :+ when(col("n_pos") === 0, lit(null).cast("double"))
        .otherwise(round(col("__num").cast("double") /
          (lit(1e12) * col("n_pos")), 6)).as("avg_prec"): _*)
  }

  /** Per-(group, score-row) count of NEGATIVES at strictly lower scores
    * — the ascending exclusive prefix of `__neg`.
    */
  private def negBelow(hist: DataFrame, groupCols: Seq[String]): DataFrame =
    prefixExclusive(hist, groupCols, Seq("__neg"), descending = false)
      .withColumnRenamed("__cum__neg", "__nb")

  /** Two-level distributed EXCLUSIVE prefix sums over the (group, __s,
    * …) histogram, in ascending or descending __s order: adds
    * `__cum__<c>` (the sum of `c` over rows STRICTLY before this one in
    * the chosen order) for each column in `sumCols`.
    *
    * Mechanics: `repartitionByRange(group, score)`, per-(partition,
    * group) running sum in parallel, plus per-(partition, group) totals
    * prefix-rolled into offsets (descending order just flips both
    * window directions — the ascending range partitioning itself is
    * order-neutral). The offsets table is contiguity-bounded
    * (≤ partitions + groups − 1 rows: each range partition holds a
    * contiguous group span), so its own per-group window is
    * partition-count-sized, never data-sized.
    *
    * PERSISTED AND MATERIALIZED BEFORE BRANCHING: __pid comes from a
    * SAMPLED range shuffle, so the local-rank branch and the offsets
    * branch must read the same materialization (the
    * [[Linkage.sortedNeighborhoodPairs]] exchange-reuse caveat,
    * verbatim).
    */
  private[operators] def prefixExclusive(hist: DataFrame, groupCols: Seq[String],
      sumCols: Seq[String], descending: Boolean,
      op: String = "sum"): DataFrame = {
    require(op == "sum" || op == "max", s"op must be sum|max, got $op")
    val g = groupCols.map(col)
    val ord = if (descending) col("__s").desc else col("__s").asc
    val pidOrd = if (descending) col("__pid").desc else col("__pid").asc
    // sum's identity is 0; max's is "absent" (NULL — greatest() skips it)
    def fold(c: Column) = if (op == "sum") coalesce(c, lit(0L)) else c
    def combine(a: Column, b: Column) =
      if (op == "sum") a + b else greatest(a, b)
    def aggOf(c: Column) = if (op == "sum") sum(c) else max(c)
    val ranged = CacheRegistry.persist(hist
      .repartitionByRange(g :+ col("__s"): _*)
      .withColumn("__pid", spark_partition_id()))
    ranged.count()
    val wLocal = Window
      .partitionBy(col("__pid") +: g: _*).orderBy(ord)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = sumCols.foldLeft(ranged)((d, c) => d.withColumn("__l_" + c,
      fold(aggOf(col(c)).over(wLocal))))
    val wOff = Window.partitionBy(g: _*).orderBy(pidOrd)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offTotals = ranged.groupBy(col("__pid") +: g: _*)
      .agg(aggOf(col(sumCols.head)).as("__p_" + sumCols.head),
        sumCols.tail.map(c => aggOf(col(c)).as("__p_" + c)): _*)
    val offsets = sumCols.foldLeft(offTotals)((d, c) =>
        d.withColumn("__o_" + c,
          fold(aggOf(col("__p_" + c)).over(wOff))))
      .select((col("__pid") +: g) ++ sumCols.map(c => col("__o_" + c)): _*)
    // the offsets table is contiguity-bounded; broadcast unconditionally
    // when global, let AQE size the grouped case (millions of groups
    // would exceed the broadcast budget)
    val joined =
      if (groupCols.isEmpty) local.join(broadcast(offsets), Seq("__pid"))
      else local.join(offsets, "__pid" +: groupCols)
    sumCols.foldLeft(joined)((d, c) =>
        d.withColumn("__cum" + c, combine(col("__l_" + c), col("__o_" + c)))
          .drop("__l_" + c, "__o_" + c))
      .drop("__pid")
  }

  /** Retrieval ranking metrics — MRR@k and hit-rate@k of a SYSTEM
    * ranking against per-query ground truth: `system` is (query_id,
    * id, rank) (rank 1-based, any retriever's output), `truth` is
    * (query_id, id) with ONE relevant item per query (the exact
    * nearest neighbor, the clicked result, the labeled answer). MRR =
    * mean over queries of 1/rank-of-truth, 0 when the truth missed the
    * top-k — THE rank-position-sensitive retriever grade (recall@k
    * says the truth appeared; MRR says where).
    *
    * Exactness: each query's reciprocal rank is ONE pinned double
    * division quantized to the 10⁻¹² grid (floor(10¹²/rank + 0.5) — an
    * integer, since rank ≤ k is tiny), summed as decimal — the
    * [[averagePrecision]] accumulation discipline, partition-order
    * free. Scale shape: one answer-sized join (truth ⋈ system on
    * (query, id) — both ≤ queries·k rows) + one global aggregate.
    * Output: (n_queries, hits, hit_rate, mrr), 6dp.
    */
  def mrrAtK(system: DataFrame, truth: DataFrame, k: Int,
      idCol: String = "vec_id", rankCol: String = "rank"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val joined = truth.select(col("query_id"), col(idCol))
      .join(system.select(col("query_id"), col(idCol),
        col(rankCol).cast("long").as("__rk")), Seq("query_id", idCol), "left")
      .select(col("query_id"),
        when(col("__rk").isNotNull && col("__rk") <= k, col("__rk"))
          .otherwise(lit(0L)).as("__rk"))
    joined.agg(count(lit(1)).as("n_queries"),
        sum(when(col("__rk") > 0, 1L).otherwise(0L)).as("hits"),
        // cast each term BEFORE the sum (the averagePrecision
        // discipline) — a long accumulator wraps past ~9.2M rank-1 rows
        sum(when(col("__rk") > 0,
            floor(lit(1e12) / col("__rk") + 0.5).cast("long"))
          .otherwise(0L).cast("decimal(38,0)")).as("__rr"))
      .select(col("n_queries"), col("hits"),
        round(col("hits").cast("double") / col("n_queries"), 6).as("hit_rate"),
        round(col("__rr").cast("double") / col("n_queries") / 1e12, 6)
          .as("mrr"))
  }

  /** Cohen's kappa — chance-corrected agreement between two raters
    * (label columns) over the same rows: κ = (p_o − p_e)/(1 − p_e),
    * p_o the observed agreement rate, p_e the agreement expected from
    * the raters' marginal label distributions alone. The label-QA
    * readout BEFORE [[Classifier.linearProbe]] trains on a hand-curated
    * slice: raw agreement flatters skewed labels (two raters who both
    * say "keep" 95% of the time agree 90.5% by chance); κ near 0 says
    * the labels carry no signal to learn.
    *
    * Scale shape: one count aggregation for (n, agree), one
    * category-marginal aggregation (answer-sized — categories, not
    * rows), Σ n_a(c)·n_b(c) as decimal(38,0) (n² magnitude). Rows where
    * EITHER label is null are excluded (an unlabeled row grades
    * nothing). κ is NULL when p_e = 1 (both raters constant — agreement
    * is vacuous, and the 0/0 would otherwise masquerade as signal).
    * Output: (groupCols…, n, po, pe, kappa), 6dp.
    */
  def cohenKappa(
      labeled: DataFrame,
      raterA: String,
      raterB: String,
      groupCols: Seq[String] = Seq.empty): DataFrame = {
    val g = groupCols.map(col)
    val a = col(raterA).cast("string")
    val b = col(raterB).cast("string")
    val rows = labeled.filter(a.isNotNull && b.isNotNull)
    val base = rows.groupBy(g: _*)
      .agg(count(lit(1)).as("__n"),
        sum(when(a === b, 1L).otherwise(0L)).as("__agree"))
    // marginals via one stacked pass: each row contributes its A-label
    // to the a-side count and its B-label to the b-side count
    val marg = rows
      .select(g ++ Seq(a.as("__cat"), lit(1L).as("__ca"), lit(0L).as("__cb")): _*)
      .unionByName(rows.select(
        g ++ Seq(b.as("__cat"), lit(0L).as("__ca"), lit(1L).as("__cb")): _*))
      .groupBy(g :+ col("__cat"): _*)
      .agg(sum(col("__ca")).as("__na"), sum(col("__cb")).as("__nb"))
      .groupBy(g: _*)
      .agg(sum(col("__na").cast("decimal(38,0)")
        * col("__nb").cast("decimal(38,0)")).as("__e"))
    val joined =
      if (groupCols.isEmpty) base.crossJoin(marg)
      else base.join(marg, groupCols)
    val po = col("__agree").cast("double") / col("__n")
    val pe = col("__e").cast("double") /
      (col("__n").cast("double") * col("__n"))
    joined.select(g :+ col("__n").as("n")
      :+ round(po, 6).as("po") :+ round(pe, 6).as("pe")
      :+ when(pe === 1.0, lit(null).cast("double"))
        .otherwise(round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"): _*)
  }

  /** Calibration (reliability) table: scores binned into `bins` equal
    * bands over [0, 1], per band the count, positive count, empirical
    * positive rate, and mean score — "when the probe says 0.7, is it
    * right 70% of the time?". Output: (groupCols…, bin, n, n_pos,
    * frac_pos, mean_score) with bin = ⌊s·bins⌋ clamped to bins−1.
    *
    * One aggregation, no window, no collect — the most scale-trivial
    * member of the family. The mean is an integer sum of
    * ⌊s·10⁶ + 0.5⌋ divided once at the end (exact and
    * partition-order invariant; a plain avg(double) is neither).
    * Scores outside [0, 1] fail loudly — a probe score past the label
    * range means the caller forgot to squash, and silently binning it
    * into the edge band would hide exactly the miscalibration this
    * table exists to show.
    */
  def calibration(
      scored: DataFrame,
      scoreCol: String,
      label: Column,
      bins: Int = 10,
      groupCols: Seq[String] = Seq.empty): DataFrame = {
    require(bins >= 2 && bins <= 100000, s"bins must be in [2, 1e5], got $bins")
    val g = groupCols.map(col)
    val s = col(scoreCol).cast("double")
    val y = coalesce(label.cast("boolean"), lit(false))
    val checked = scored.filter(s.isNotNull)
      .withColumn("__ck", assert_true(s >= 0.0 && s <= 1.0,
        lit("calibration: score outside [0, 1] — squash scores before " +
          "binning (a clamped bin would hide the miscalibration)")))
      .filter(col("__ck").isNull)
    val bin = least(floor(s * bins).cast("long"), lit(bins - 1L))
    val s6 = floor(s * 1e6 + 0.5).cast("long")
    checked
      .groupBy(g :+ bin.as("bin"): _*)
      .agg(count(lit(1)).as("n"),
        sum(y.cast("long")).as("n_pos"),
        sum(s6.cast("decimal(38,0)")).as("__s6"))
      .select(g :+ col("bin") :+ col("n") :+ col("n_pos")
        :+ round(col("n_pos").cast("double") / col("n"), 6).as("frac_pos")
        :+ round(col("__s6").cast("double") / (lit(1e6) * col("n")), 6)
          .as("mean_score"): _*)
  }

  /** Brier score — mean squared error of the probability against the
    * 0/1 outcome, the strictly proper score that punishes both bad
    * ranking AND bad calibration. Output: (groupCols…, n, brier).
    *
    * Exactness vs headroom: the squared terms sum as integers on a
    * 3-decimal score grid — (⌊s·1000+0.5⌋ − 1000·y)² ≤ 10⁶ per row, so
    * the int64 partial sums hold to ~9·10¹² rows per task before the
    * decimal(38,0) accumulator takes over; quantizing s at 3dp perturbs
    * the mean square by < 10⁻³ — noise against the metric's own use
    * (comparing probe versions) and the price of a result every engine
    * reproduces bit-for-bit. Scores must lie in [0, 1] (loud, as in
    * [[calibration]]).
    */
  def brierScore(
      scored: DataFrame,
      scoreCol: String,
      label: Column,
      groupCols: Seq[String] = Seq.empty): DataFrame = {
    val g = groupCols.map(col)
    val s = col(scoreCol).cast("double")
    val y = coalesce(label.cast("boolean"), lit(false))
    val checked = scored.filter(s.isNotNull)
      .withColumn("__ck", assert_true(s >= 0.0 && s <= 1.0,
        lit("brierScore: score outside [0, 1] — squash scores first")))
      .filter(col("__ck").isNull)
    val b3 = floor(s * 1000 + 0.5).cast("long")
    val term = (b3 - lit(1000L) * y.cast("long"))
    val agg =
      if (groupCols.isEmpty)
        checked.agg(count(lit(1)).as("n"),
          sum((term * term).cast("decimal(38,0)")).as("__sq"))
      else
        checked.groupBy(g: _*).agg(count(lit(1)).as("n"),
          sum((term * term).cast("decimal(38,0)")).as("__sq"))
    agg.select(g :+ col("n")
      :+ round(col("__sq").cast("double") / (lit(1e6) * col("n")), 6)
        .as("brier"): _*)
  }
}
