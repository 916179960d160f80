package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained quality classifier — the fastText/CCNet-recipe filter shape
  * used by production LLM data pipelines (train a cheap linear model on
  * a labeled slice, score the corpus, keep what clears a threshold) —
  * as a fully distributed, ORACLE-EXACT training loop.
  *
  * Model: linear probe on hashed bag-of-words PRESENCE features
  * (md5-portable bucket hash, `dim` buckets + a bias feature), trained
  * by `iters` full-batch gradient-descent steps on squared error
  * against a 0/1 label, then the corpus scored by the final weights.
  *
  * Exactness discipline (the kmeansCtes fixed-point pattern, taken one
  * step further): weights live as INTEGERS at scale Q = 2²⁰, features
  * are 0/1, so per-doc scores, residuals and per-feature gradients are
  * integer sums — exact and partition-order invariant, the property
  * plain double sums cannot give. The ONLY floating-point arithmetic is
  * one scalar expression per (feature, iteration) — the step
  * `floor(lr2 · g / F + 0.5)`, F the total presence-row count — a short
  * IEEE op sequence both engines evaluate bit-identically, so the
  * ENTIRE training loop (not just the scoring) replays in DuckDB
  * (q_quality_clf).
  *
  * Scale shape per iteration: one broadcast join of the ≤ dim+1 weight
  * rows onto the presence table, one groupBy(doc) integer sum (scores),
  * one groupBy(feature) integer sum (gradients), one ≤ dim+1-row driver
  * collect (the codebook-collect precedent). The presence table is
  * computed once and persisted. No step scales with anything but the
  * corpus; iterations are a small constant.
  *
  * Overflow headroom is checked, not assumed: |score| ≤ (dim+1)·max|qw|
  * and |g| ≤ n·max|score − Q|; the loop requires the bound stays inside
  * 2⁵³ (the double-exact integer range the step division needs) and
  * fails loudly otherwise — at lr2 ≤ 1 and presence features the
  * weights stay O(Q), leaving ~6 orders of magnitude of corpus-size
  * headroom.
  */
object Classifier {

  /** Fixed-point scale for weights: 2^20 ≈ 1e-6 resolution. */
  val Q: Long = 1L << 20

  /** (doc_id, feat) presence pairs: distinct hashed token buckets per
    * doc plus the always-on bias feature `dim`. Hash is the portable
    * md5 prefix (32 bits) mod dim — replayable by any engine with md5.
    */
  private def presence(docs: DataFrame, dim: Int): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode_outer(TextAnalysis.tokens(col("text"))).as("tok"))
      .filter(col("tok").isNotNull) // Dedup.safeExplodeNote
    toks.select(col("doc_id"),
        (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long")
          % dim).as("feat"))
      .distinct()
      .unionAll(docs.select(col("doc_id"), lit(dim.toLong).as("feat")))
  }

  /** Train the probe and return the corpus scored by the final weights:
    * (doc_id, y, score) with score = round(z/Q, 6) — z the integer
    * fixed-point prediction. `label` is any boolean Column over the
    * documents schema (the labeled slice a pipeline would hand-curate);
    * training and scoring run over the same `docs` here — a production
    * split trains on the labeled subset and scores the rest with
    * [[scoreWith]].
    */
  def linearProbe(docs: DataFrame, label: Column, dim: Int = 64,
      iters: Int = 3, lr2: Double = 0.25): DataFrame = {
    val w = trainLinearProbe(docs, label, dim, iters, lr2)
    scoreWith(docs, label, w, dim)
  }

  /** The trained weights as (feat, qw) — qw the integer fixed-point
    * weight at scale [[Q]]. Bounded driver state: dim+1 longs per
    * iteration, like the k-means codebook collects.
    */
  def trainLinearProbe(docs: DataFrame, label: Column, dim: Int = 64,
      iters: Int = 3, lr2: Double = 0.25): Map[Long, Long] = {
    require(dim >= 2 && dim <= (1 << 20), s"dim must be in [2, 2^20], got $dim")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(lr2 > 0 && lr2 <= 1.0, s"lr2 must be in (0, 1], got $lr2")
    val spark = docs.sparkSession
    val feats = CacheRegistry.persist(presence(docs, dim))
    // null-safe label: a null predicate row labels 0, as the oracle's
    // CASE WHEN does
    val y = docs.select(col("doc_id"),
      coalesce(label.cast("boolean"), lit(false)).cast("long").as("y"))
    val n = docs.count()
    require(n > 0, "linearProbe: empty corpus")
    // step normalizer F = total presence rows = n·k̄ (k̄ = mean active
    // features per doc). Normalizing the step by n alone diverges as
    // soon as docs carry many active features (squared-loss GD is
    // stable only for steps under 2/λmax, and λmax grows with k̄ — the
    // 10× ScaleCheck stanza caught exactly this at dim 256); dividing
    // by F makes the effective rate lr2/k̄, stable for lr2 ≤ 1 across
    // corpus shapes. Exact integer input to the one collapsed double
    // expression, like n.
    val fRows = feats.count()
    var w = Map.empty[Long, Long] // absent = 0 (the all-zeros init)
    for (_ <- 0 until iters) {
      val g = gradients(spark, feats, y, w)
      // the single floating-point step, collapsed to an integer:
      // Δqw = −lr2 · g / F, rounded half-up — floor(x+0.5) is the same
      // short IEEE sequence in DuckDB's replay
      w = (w.keySet ++ g.keySet).iterator.map { f =>
        val qw = w.getOrElse(f, 0L)
        val gf = g.getOrElse(f, 0L)
        require(math.abs(gf) < (1L << 53),
          s"linearProbe: gradient $gf exceeds double-exact range — " +
            "lower lr2 or dim (weights diverged)")
        f -> (qw - math.floor(lr2 * gf.toDouble / fRows + 0.5).toLong)
      }.toMap
    }
    w
  }

  /** Integer per-feature gradients under weights `w`:
    * g_f = Σ_docs∋f (z_doc − Q·y_doc), all integer sums.
    */
  private def gradients(spark: org.apache.spark.sql.SparkSession,
      feats: DataFrame, y: DataFrame, w: Map[Long, Long]): Map[Long, Long] = {
    val r = residuals(spark, feats, y, w)
    feats.join(r, "doc_id")
      .groupBy("feat").agg(sum(col("__r")).as("__g"))
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
  }

  /** (doc_id, __r): integer residual z − Q·y per doc under weights `w`
    * (docs whose features all have zero weight still appear — the bias
    * feature is always present, and a zero z is a real prediction).
    */
  private def residuals(spark: org.apache.spark.sql.SparkSession,
      feats: DataFrame, y: DataFrame, w: Map[Long, Long]): DataFrame = {
    val z = scoresInt(spark, feats, w)
    y.join(z, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("__z"), lit(0L)) - lit(Q) * col("y")).as("__r"))
  }

  /** (doc_id, __z): integer fixed-point score Σ_{f present} qw_f. */
  private def scoresInt(spark: org.apache.spark.sql.SparkSession,
      feats: DataFrame, w: Map[Long, Long]): DataFrame = {
    import spark.implicits._
    val wDf = w.toSeq.toDF("feat", "qw")
    feats.join(broadcast(wDf), Seq("feat"))
      .groupBy("doc_id").agg(sum(col("qw")).as("__z"))
  }

  /** Score `docs` under trained weights: (doc_id, y, score),
    * score = round(z/Q, 6).
    *
    * Deliberately MAP-SIDE, unlike the training passes: the weight map
    * is a literal expression (≤ dim+1 entries), the distinct bucket set
    * comes from the row's own tokens array, and the integer fold over
    * it is order-free (integer addition commutes — the same exactness
    * argument as the shuffled training sums). Zero shuffles: scoring a
    * 100 TB corpus is one projection, and the SAME code runs unchanged
    * on a stream (train batch, score the stream — the production filter
    * deployment; StreamingSpec law).
    */
  def scoreWith(docs: DataFrame, label: Column, w: Map[Long, Long],
      dim: Int = 64): DataFrame = {
    // typedlit keeps MAP<BIGINT,BIGINT> even for an EMPTY weight map —
    // a bare map() defaults to MAP<STRING,STRING>, whose string
    // element_at would fail analysis against the long fold below
    val wMap = typedlit(w)
    val bias = lit(w.getOrElse(dim.toLong, 0L))
    val featsArr = array_distinct(transform(
      TextAnalysis.tokens(col("text")),
      t => conv(substring(md5(t), 1, 8), 16, 10).cast("long") % dim))
    val z = coalesce(
      aggregate(featsArr, bias,
        (acc, f) => acc + coalesce(element_at(wMap, f), lit(0L))),
      bias) // null text: no token features, the bias still predicts
    docs.select(col("doc_id"),
      coalesce(label.cast("boolean"), lit(false)).cast("long").as("y"),
      round(z.cast("double") / Q, 6).as("score"))
  }
}
