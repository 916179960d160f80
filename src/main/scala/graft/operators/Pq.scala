package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.vec_dot

/** Product quantization (PQ) for ANN — the third point of the
  * memory-for-recall family next to [[Similarity.ivfTopK]] (partition
  * pruning) and [[Similarity.ivfTopKQuantized]] (int8 codes): each vector
  * is split into `m` contiguous subvectors, each subvector is replaced by
  * the id of its nearest subspace centroid, so storage per vector is
  * m·log₂(ksub) BITS (m=4, ksub=16 → 2 bytes for a 64-dim float vector),
  * and query scoring is table lookups instead of arithmetic
  * [Jégou, Douze, Schmid: "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011].
  *
  * Spark shape:
  *   - codebooks are m·ksub rows — BROADCAST everywhere they appear;
  *   - encoding is one pass: inline the m subvectors, join the broadcast
  *     codebook, rank-1 window per (vec, subspace) — codes shuffle
  *     m·n skinny rows once;
  *   - ADC scoring replays the classic in-memory lookup table as a
  *     broadcast (query, subspace, centroid) → partial-dot table joined
  *     to the code rows on (subspace, code), then an exact fixed-point
  *     SUM per (query, vec) — the one aggregation shuffle, map-side
  *     combined, m rows in per pair, 1 row out;
  *   - survivors (k·rerankFactor by approximate inner product) fetch
  *     full vectors BY ID for the exact cosine re-rank — the
  *     [[Similarity.ivfTopKQuantized]] re-rank contract.
  *
  * Determinism / oracle: subspace distances and partial dots are rounded
  * before ranking (ties on id), the ADC sum runs over FIXED-POINT longs
  * (exact in any partition order — the [[Similarity.trainCodebook]]
  * lesson), so the whole chain replays bit-for-bit in DuckDB.
  */
object Pq {

  /** Fixed-point scale for ADC partial dots: components are O(1), a
    * 16-dim partial dot is O(10); 2^40 scale keeps 4 summed subspace
    * terms far inside signed-64 while quantization error (~2^-40 per
    * term) sits below the 6dp rounding the ranking uses.
    */
  private val Q = 1L << 40

  /** Deterministic pseudo-codebooks: subspace s's centroids are the
    * sub-vectors of the `ksub` lowest-id corpus vectors at or above
    * `idOffset` (the [[Similarity.pseudoCentroids]] convention —
    * codebook size FIXED, not corpus-proportional), with centroid ids
    * renumbered to 0..ksub-1. The offset exists for the residual-IVFADC
    * path: its corpus is RESIDUALS and the vectors below numCentroids
    * ARE the IVF centroids, so their residuals are identically zero —
    * a codebook drawn from them would quantize everything to r̂ = 0.
    * Output: (subspace, centroid_id, c_sub).
    */
  def pqCodebooks(corpus: DataFrame, m: Int, ksub: Int, dim: Int,
      idOffset: Long = 0L): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sub = dim / m
    val subCols = (0 until m).map(s =>
      struct(lit(s).as("subspace"),
        slice(col("embedding"), s * sub + 1, sub).as("c_sub")))
    corpus.filter(col("vec_id") >= idOffset && col("vec_id") < idOffset + ksub)
      .select((col("vec_id") - idOffset).as("centroid_id"),
        explode_outer(array(subCols: _*)).as("e"))
      .filter(col("e").isNotNull) // Dedup.safeExplodeNote
      .select(col("e.subspace").as("subspace"), col("centroid_id"), col("e.c_sub"))
  }

  /** Lloyd's-TRAINED per-subspace codebooks — real k-means, vs the
    * [[pqCodebooks]] pseudo draw (which survives as the deterministic
    * INIT). Spark shape: all m subspaces train together — `subspace` is
    * just another grouping key, so each iteration is ONE distributed
    * assignment pass over the m·n inlined subvectors plus one
    * centroid-sized collect (ksub·dim floats — driver-bounded, the
    * [[Similarity.trainCodebook]] pattern), never m separate jobs.
    *
    * Determinism / oracle: assignment by 6dp-rounded squared L2 with
    * ties on centroid id (the [[pqEncode]] comparison), centroid means
    * over 2^20 fixed-point component longs cast back through float —
    * the exact [[Similarity.trainCodebook]] arithmetic, so the whole
    * training replays bit-for-bit in DuckDB CTEs. Empty clusters keep
    * their previous centroid. Output: (subspace, centroid_id, c_sub).
    */
  def pqCodebooksTrained(corpus: DataFrame, m: Int, ksub: Int, dim: Int,
      iters: Int = 2, idOffset: Long = 0L): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    val spark = corpus.sparkSession
    import spark.implicits._
    val Qm = 1L << 20

    // persisted: the assignment pass re-scans both per iteration
    val sv = CacheRegistry.persist(subvectors(corpus, "vec_id", "vec_id", m, dim))
    val qsv = CacheRegistry.persist(sv
      .select(col("vec_id"), col("subspace"), posexplode_outer(col("sub_emb")))
      .filter(col("pos").isNotNull) // Dedup.safeExplodeNote
      .select(col("vec_id"), col("subspace"), col("pos"),
        floor(col("col").cast("double") * Qm + 0.5).cast("long").as("q")))

    var cents: Seq[(Int, Long, Seq[Float])] =
      pqCodebooks(corpus, m, ksub, dim, idOffset).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2))).toSeq
    require(cents.size == m * ksub,
      s"PQ init needs ksub=$ksub vectors per subspace at or above id " +
        s"$idOffset; got ${cents.size} of ${m * ksub} centroids")

    for (_ <- 0 until iters) {
      val cbDf = broadcast(cents.toDF("subspace", "centroid_id", "c_sub"))
      // NaN distances (non-finite vector or centroid) map to +∞ BEFORE
      // negation: under the replaced asc window NaN sorted LAST, but
      // -NaN is still NaN and the top-k buffer ranks NaN FIRST — nanvl
      // keeps degenerate inputs losing the rank-1 assignment.
      val d2 = nanvl(round(
        vec_dot(col("sub_emb"), col("sub_emb"))
          - lit(2.0) * vec_dot(col("sub_emb"), col("c_sub"))
          + vec_dot(col("c_sub"), col("c_sub")), 6),
        lit(Double.PositiveInfinity))
      // rank-1 by negated distance (desc) — the [[Similarity.assignByScore]]
      // aggregate: one row per (vec, subspace) through the exchange, not
      // m·n·ksub sort rows
      val assigned = Similarity.assignByScore(
          sv.join(cbDf, Seq("subspace")), Seq("vec_id", "subspace"),
          "centroid_id", -d2, 1, Seq.empty,
          centAlias = "code", scoreAlias = "__sc", rankName = "__rn")
        .select(col("vec_id"), col("subspace"), col("code"))
      // m·ksub·(dim/m) = ksub·dim mean floats — the only driver-bound
      // data; ONE action per iteration
      val means = assigned.join(qsv, Seq("vec_id", "subspace"))
        .groupBy("subspace", "code", "pos")
        .agg((sum(col("q")).cast("double")
          / (count(lit(1)).cast("double") * lit(Qm.toDouble)))
          .cast("float").as("mv"))
        .collect()
      val byKey = means
        .map(r => ((r.getInt(0), r.getLong(1)), (r.getInt(2), r.getFloat(3))))
        .groupBy(_._1)
        .map { case (key, rs) => key -> rs.map(_._2).sortBy(_._1).map(_._2).toSeq }
      cents = cents.map { case (s, c, old) =>
        (s, c, byKey.getOrElse((s, c), old))
      }
    }
    sv.unpersist(blocking = false)
    qsv.unpersist(blocking = false)
    cents.toDF("subspace", "centroid_id", "c_sub")
  }

  /** (id, subspace, sub_emb) — each vector inlined into its m subvectors. */
  private def subvectors(df: DataFrame, idCol: String, idAlias: String,
      m: Int, dim: Int): DataFrame = {
    val sub = dim / m
    val subCols = (0 until m).map(s =>
      struct(lit(s).as("subspace"),
        slice(col("embedding"), s * sub + 1, sub).as("sub_emb")))
    df.select(col(idCol).as(idAlias), explode_outer(array(subCols: _*)).as("e"))
      .filter(col("e").isNotNull) // Dedup.safeExplodeNote
      .select(col(idAlias), col("e.subspace").as("subspace"), col("e.sub_emb"))
  }

  /** Encode the corpus: per (vector, subspace) the nearest centroid by
    * squared L2 distance, rounded to 6dp before ranking, ties on
    * centroid id. Output: (vec_id, subspace, code) — the PQ code table.
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int, dim: Int): DataFrame = {
    val sv = subvectors(corpus, "vec_id", "vec_id", m, dim)
    // ‖x−c‖² = x·x − 2x·c + c·c, all through the codegen'd vec_dot;
    // rank-1 by negated distance through the assignment aggregate (ties
    // on centroid id — negation keeps the 6dp rounding's tie classes:
    // -0.0 == 0.0 under the buffer's primitive compare). nanvl maps NaN
    // distances to +∞ first: the asc-window formulation this replicates
    // sorted NaN LAST, and -NaN would rank FIRST in the top-k buffer.
    val d2 = nanvl(round(
      vec_dot(col("sub_emb"), col("sub_emb"))
        - lit(2.0) * vec_dot(col("sub_emb"), col("c_sub"))
        + vec_dot(col("c_sub"), col("c_sub")), 6),
      lit(Double.PositiveInfinity))
    Similarity.assignByScore(
        sv.join(broadcast(codebooks), Seq("subspace")),
        Seq("vec_id", "subspace"), "centroid_id", -d2, 1, Seq.empty,
        centAlias = "code", scoreAlias = "__sc", rankName = "__rn")
      .select(col("vec_id"), col("subspace"), col("code"))
  }

  /** Asymmetric-distance top-k by inner product with exact re-rank:
    * approx_ip(q, v) = Σ_s ⟨q_s, centroid(s, code_s(v))⟩ from the
    * broadcast lookup table; the k·rerankFactor best per query fetch
    * full vectors by id for the exact 4dp cosine that orders the final
    * top-k. Output: (query_id, vec_id, cos_sim, approx_ip, rank).
    */
  /** ADC-scored candidates with their approximate-IP rank `__ar` per
    * query — the shared first stage of [[pqTopK]] and [[pqRecall]].
    */
  /** The broadcast ADC lookup table: (query_id, subspace, code) →
    * fixed-point partial inner product `ipq` (scale 2^40), quantized
    * once to a long so every per-pair sum downstream is exact integer
    * math; `approx_ip = round(sum(ipq)/2^40, 6)` is the engine-exact
    * approximate score. Shared by the flat ADC scan ([[pqTopK]]) and
    * the IVFADC probe ([[Similarity.ivfPqTopK]]).
    */
  def adcLut(queries: DataFrame, codebooks: DataFrame,
      m: Int, dim: Int): DataFrame =
    broadcast(
      subvectors(queries, "vec_id", "query_id", m, dim)
        .join(broadcast(codebooks), Seq("subspace"))
        .select(col("query_id"), col("subspace"), col("centroid_id").as("code"),
          ipQuantize(vec_dot(col("sub_emb"), col("c_sub"))).as("ipq")))

  /** Fixed-point quantization of a 6dp-rounded inner product at the
    * shared 2^40 scale — the single conversion every ADC term (LUT
    * partials, the residual path's q·centroid base) goes through so
    * their integer sums stay engine-exact.
    */
  def ipQuantize(ip: Column): Column =
    floor(round(ip, 6) * Q + 0.5).cast("long")

  /** approx_ip from summed fixed-point partials — the inverse of
    * [[adcLut]]'s quantization, pinned here so both ADC consumers
    * compute the identical 6dp double.
    */
  def adcScore(ipqSum: Column): Column =
    round(ipqSum.cast("double") / Q, 6)

  /** ADC-scored candidates cut to the top `depth` per query (rank kept
    * as `__ar`) — the candidate stream is corpus-sized, so the cut is
    * the bounded [[Similarity.aggTopKBy]] aggregate, never a
    * corpus-wide window shuffle.
    */
  private def approxRanked(
      corpus: DataFrame, queries: DataFrame,
      m: Int, ksub: Int, dim: Int,
      codebooksOpt: Option[DataFrame],
      depth: Int): DataFrame = {
    val codebooks = codebooksOpt.getOrElse(pqCodebooks(corpus, m, ksub, dim))
    val codes = pqEncode(corpus, codebooks, m, dim)
    val lut = adcLut(queries, codebooks, m, dim)

    val approx = codes.join(lut, Seq("subspace", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(adcScore(sum(col("ipq"))).as("approx_ip"))

    Similarity.aggTopKBy(approx, "approx_ip", depth, rankName = "__ar")
  }

  /** Exact-cosine columns joined onto a candidate frame by id. */
  private def withExactCosine(
      cands: DataFrame, corpus: DataFrame, queries: DataFrame): DataFrame = {
    val cNorm = corpus.select(col("vec_id"), col("embedding").as("__v_emb"),
      sqrt(vec_dot(col("embedding"), col("embedding"))).as("__v_norm"))
    val qNorm = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("__q_emb"),
      sqrt(vec_dot(col("embedding"), col("embedding"))).as("__q_norm")))
    // candidate frames are ≤ queries·k·rf rows; broadcast them so the
    // full-vector fetch probes the corpus scan map-side instead of
    // shuffling the corpus ([[Similarity.rerankExact]] note)
    broadcast(cands).join(cNorm, "vec_id").join(qNorm, "query_id")
      .withColumn("cos_sim",
        round(vec_dot(col("__q_emb"), col("__v_emb"))
          / (col("__q_norm") * col("__v_norm")), 4))
      .drop("__v_emb", "__v_norm", "__q_emb", "__q_norm")
  }

  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      m: Int = 4,
      ksub: Int = 16,
      dim: Int = 64,
      rerankFactor: Int = 4,
      codebooks: Option[DataFrame] = None): DataFrame = {
    require(k > 0 && rerankFactor >= 1)
    val survivors =
      approxRanked(corpus, queries, m, ksub, dim, codebooks, k * rerankFactor)
        .drop("__ar")

    // exact re-rank: full vectors fetched by id — a join, not a rescan;
    // the window input is already answer-sized (≤ queries·k·rf rows from
    // the aggregate cut), and a window keeps the approx_ip payload
    // without a second join
    val wR = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    withExactCosine(survivors, corpus, queries)
      .withColumn("rank", row_number().over(wR))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos_sim", "approx_ip", "rank")
  }

  /** Recall@k against the brute-force truth per rerank factor — the PQ
    * tuning dial ([[Similarity.ivfRecall]]'s contract for the code-probe
    * family): rf=1 trusts the ADC ranking outright; larger rf re-ranks a
    * deeper candidate pool and recovers vectors the quantized score
    * misordered. One ADC table serves every rf (a filter, not a re-scan).
    */
  def pqRecall(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      m: Int = 4,
      ksub: Int = 16,
      dim: Int = 64,
      rerankFactors: Seq[Int] = Seq(1, 2, 4),
      codebooks: Option[DataFrame] = None): DataFrame = {
    require(k > 0 && rerankFactors.nonEmpty && rerankFactors.forall(_ >= 1))
    val spark = corpus.sparkSession
    import spark.implicits._

    val ranked = CacheRegistry.persist(
      withExactCosine(
          approxRanked(corpus, queries, m, ksub, dim, codebooks,
            k * rerankFactors.max),
          corpus, queries))
    ranked.count() // one fill for every rf's consumer

    val rfs = broadcast(rerankFactors.toDF("rerank_factor"))
    val pq = Similarity.aggTopKBy(
        ranked.crossJoin(rfs)
          .filter(col("__ar") <= col("rerank_factor") * k),
        "cos_sim", k, groupCols = Seq("rerank_factor", "query_id"))
      .select("rerank_factor", "query_id", "vec_id")

    val exact = Similarity.bruteForceTopK(corpus, queries, k)
      .select(col("query_id").as("e_query_id"), col("vec_id").as("e_vec_id"))
    val exactPairs = broadcast(exact.agg(count(lit(1)).as("exact_pairs")))

    pq.join(exact,
        col("query_id") === col("e_query_id") && col("vec_id") === col("e_vec_id"),
        "left")
      .groupBy("rerank_factor")
      .agg(count(lit(1)).as("pq_pairs"),
        count(col("e_query_id")).as("hit_pairs"))
      .crossJoin(exactPairs)
      .select(col("rerank_factor"), col("exact_pairs"), col("pq_pairs"),
        col("hit_pairs"),
        (col("hit_pairs").cast("double") / col("exact_pairs").cast("double"))
          .as("recall_at_k"))
      .orderBy("rerank_factor")
  }
}
