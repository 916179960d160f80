package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.vec_dot

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * The inner product is [[graft.functions.VecDot]] — a codegen'd loop with
  * no per-pair array allocation. Norms are materialized ONCE per row in a
  * projection before any join, so a pair comparison costs exactly one fused
  * dot-product loop; naive `aggregate(zip_with(...))` per pair recomputes
  * norms and allocates an intermediate array for every candidate pair.
  *
  * Scale path: [[bruteForceTopK]] is the exact baseline (broadcast the
  * query set, one corpus pass, per-query top-k). [[ivfTopK]] is the
  * IVF-shaped variant: centroid assignment bounds each probe to a cluster;
  * at 100 TB the cluster id becomes the storage partition key so a probe
  * touches one partition's files only.
  */
object Similarity {

  def dot(a: Column, b: Column): Column = vec_dot(a, b)

  def l2norm(a: Column): Column = sqrt(vec_dot(a, a))

  /** Exact cosine — for ad-hoc use and tests. Inside joins prefer the
    * precomputed-norm pattern used by the operators below.
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Corpus projected to (idAlias, embedding, __norm) — norm computed once
    * per row, before any join. */
  private def withNorm(df: DataFrame, idCol: String, idAlias: String): DataFrame =
    df.select(col(idCol).as(idAlias), col("embedding"),
      l2norm(col("embedding")).as("__norm"))

  /** The window-free retrieval finisher: (query_id, vec_id, cos_sim)
    * candidates → per-query top-k with ranks, via the mergeable
    * [[graft.functions.BoundedTopK]] aggregate. A
    * `row_number().over(partitionBy(query_id))` window shuffles EVERY
    * candidate row to its query's reducer; the aggregate's map-side
    * partial keeps k slots per query per partition, so the shuffle
    * carries k·|queries| rows per partition — the difference between
    * wiring |corpus| rows and wiring answers. Identical output to the
    * window formulation including boundary ties (total order score
    * desc, id asc — pinned by spec under adversarial repartitioning).
    *
    * vec_id is normalized to bigint (the aggregate's slot type): any
    * integral id works, and the OUTPUT vec_id is always long — callers
    * with string ids must map them to longs first (zipWithIndex-style)
    * or use the window formulation.
    */
  private[graft] def aggTopK(scored: DataFrame, k: Int): DataFrame =
    aggTopKBy(scored, "cos_sim", k)

  /** [[aggTopK]] generalized over the score column name, the grouping
    * keys, and the emitted rank column — the one finisher every
    * retrieval stage shares (IVF probes rank `approx_ip`, the
    * int8 probe `approx_sim`, matryoshka stage 1 `prefix_sim`, the
    * dim-sweep groups by (dim, query_id)). Same total order and
    * boundary-tie contract as the `row_number` window it replaces:
    * score desc, vec_id asc, rank 1-based dense prefix of length ≤ k.
    * Null scores never rank (the windows' NULLS LAST under desc can
    * only differ when a group has < k non-null candidates — retrieval
    * scores here are never null, at worst NaN, which ranks FIRST in
    * both formulations).
    */
  private[graft] def aggTopKBy(scored: DataFrame, scoreCol: String, k: Int,
      groupCols: Seq[String] = Seq("query_id"),
      rankName: String = "rank",
      idCol: String = "vec_id"): DataFrame = {
    // id dispatch by schema: string ids ride BoundedTopKStr (binary
    // UTF-8 tiebreak = Spark `string asc`), everything integral casts
    // to the long-slot twin — one finisher contract for both key shapes
    val isStr = scored.schema(idCol).dataType ==
      org.apache.spark.sql.types.StringType
    val tk =
      if (isStr) graft.functions.GraftFunctions
        .top_k_by_str(col(scoreCol), col(idCol), k)
      else graft.functions.GraftFunctions
        .top_k_by(col(scoreCol), col(idCol).cast("long"), k)
    scored.groupBy(groupCols.map(col): _*)
      .agg(tk.as("__tk"))
      .select(groupCols.map(col) :+
        posexplode(col("__tk")).as(Seq("__i", "__e")): _*)
      .select(groupCols.map(col) ++ Seq(col("__e.id").as(idCol),
        col("__e.score").as(scoreCol),
        (col("__i") + 1).cast("int").as(rankName)): _*)
  }

  /** Shared nearest-centroid assignment as ONE mergeable aggregate: per
    * id, the top-`probes` centroids of a pre-joined (id × broadcast
    * centroids) frame by `score` (ties on centroid id asc). The window
    * formulation this replaces shuffled corpus × |centroids| rows —
    * embeddings included — through a sort per id; the k-slot
    * [[graft.functions.BoundedTopK]] partial finishes each id's group
    * map-side (a broadcast cross join never splits an id across
    * partitions), so the exchange carries ONE row per id. `carry`
    * columns must be constant within an id group (they ride as
    * `first`). Output: id, carry…, centroid id (long, `centAlias`),
    * score (`scoreAlias`), 1-based rank (int, `rankName`).
    */
  private[graft] def assignByScore(
      joined: DataFrame, idCols: Seq[String], centIdCol: String, score: Column,
      probes: Int, carry: Seq[String], centAlias: String,
      scoreAlias: String, rankName: String): DataFrame = {
    val aggs = carry.map(c => first(col(c)).as(c)) :+
      graft.functions.GraftFunctions
        .top_k_by(col("__sc"), col(centIdCol).cast("long"), probes).as("__tk")
    joined
      .select(idCols.map(col) ++ carry.map(col) ++
        Seq(col(centIdCol), score.as("__sc")): _*)
      .groupBy(idCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(idCols.map(col) ++ carry.map(col) ++
        Seq(posexplode(col("__tk")).as(Seq("__i", "__e"))): _*)
      .select(idCols.map(col) ++ carry.map(col) ++
        Seq(col("__e.id").as(centAlias), col("__e.score").as(scoreAlias),
          (col("__i") + 1).cast("int").as(rankName)): _*)
  }

  /** Exact brute-force cosine top-k for each query vector.
    * Similarity is rounded BEFORE ranking so ordering is reproducible
    * across engines/float-summation orders; ties break on vec_id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = withNorm(corpus, "vec_id", "vec_id")
    val q = broadcast(
      withNorm(queries, "vec_id", "query_id")
        .withColumnRenamed("embedding", "q_emb")
        .withColumnRenamed("__norm", "q_norm"))
    val scored = c.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("__norm")), 4)
          .as("cos_sim"))
    aggTopK(scored, k).select("query_id", "vec_id", "cos_sim", "rank")
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * query vector, the top-k most-similar corpus vectors whose `label`
    * DIFFERS from the query's — the near-miss negatives that make
    * contrastive batches informative (random negatives are trivially
    * easy; same-label neighbors are false negatives).
    *
    * Same shape and determinism contract as [[bruteForceTopK]] (broadcast
    * queries, one corpus pass, 4dp-rounded cosine, vec_id ties); the label
    * inequality is applied before scoring so same-label candidates never
    * rank. At 100 TB swap the corpus pass for the IVF probe and keep the
    * label filter on the survivor set.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id"), col("label"), col("embedding"),
      l2norm(col("embedding")).as("__norm"))
    val q = broadcast(
      queries.select(col("vec_id").as("query_id"), col("label").as("__qlabel"),
        col("embedding").as("q_emb"), l2norm(col("embedding")).as("q_norm")))
    val scored = c.crossJoin(q)
      .filter(col("label") =!= col("__qlabel"))
      .select(col("query_id"), col("vec_id"),
        round(dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("__norm")), 4)
          .as("cos_sim"))
    aggTopK(scored, k).select("query_id", "vec_id", "cos_sim", "rank")
  }

  /** Random-hyperplane (sign) LSH bucket id for table `t`: bit k is the
    * sign of the projection onto a deterministic ±1 hyperplane whose
    * components come from hashing (table, bit, dimension). Backed by the
    * native [[graft.functions.SignLshBuckets]] expression (the HOF
    * formulation it replaced is pinned byte-identical by OperatorsSpec).
    */
  def lshBucket(emb: Column, table: Int, bits: Int): Column =
    element_at(
      graft.functions.GraftFunctions.sign_lsh_buckets(emb, table + 1, bits),
      table + 1)

  /** Sign-LSH near-duplicate pairs: `tables` independent hash tables of
    * `bits`-bit buckets; a pair is a candidate iff it collides in at least
    * one table; candidates are verified with exact cosine. The scale path
    * for unlabeled corpora — candidate count is bounded by bucket
    * occupancy, never O(n²). (Sign-LSH recall is high only for genuinely
    * similar vectors; tune tables/bits to the target threshold.)
    */
  def lshNearDup(
      embeddings: DataFrame,
      threshold: Double = 0.9,
      tables: Int = 8,
      bits: Int = 8,
      pairListCutoff: Int = 128): DataFrame = {
    // vectors+norms persisted: re-read by both verification sides; tracked
    // in CacheRegistry so callers can release after consuming
    val withN = CacheRegistry.persist(
      embeddings.select(col("vec_id"), col("embedding"),
        l2norm(col("embedding")).as("__norm")))
    // bucket table carries (vec_id, bucket) ONLY — all per-vector sign
    // projections run in ONE native-expression pass, and no embedding rides
    // through the candidate join; table id folds into the bucket hash
    // posexplode_outer + null guard: plain posexplode of the computed
    // bucket array makes InferFiltersFromGenerate re-run SignLshBuckets
    // (L×b×dim work) two more times per row in a pushed-down filter
    // (see [[Dedup.safeExplodeNote]])
    val bucketed = withN.select(col("vec_id"),
        posexplode_outer(graft.functions.GraftFunctions
          .sign_lsh_buckets(col("embedding"), tables, bits)))
      .filter(col("pos").isNotNull)
      .select(col("vec_id"), xxhash64(col("col"), col("pos").cast("int")).as("bucket"))
    val lists = bucketed.groupBy("bucket")
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    val candidates = Dedup.pairsFromIdLists(lists, "bucket", pairListCutoff)
      .distinct()
      .select(col("doc_id_a").as("vec_id_a"), col("doc_id_b").as("vec_id_b"))

    val sim = dot(col("__emb_a"), col("__emb_b")) / (col("__norm_a") * col("__norm_b"))
    candidates
      .join(withN.select(col("vec_id").as("vec_id_a"),
        col("embedding").as("__emb_a"), col("__norm").as("__norm_a")), "vec_id_a")
      .join(withN.select(col("vec_id").as("vec_id_b"),
        col("embedding").as("__emb_b"), col("__norm").as("__norm_b")), "vec_id_b")
      .select(col("vec_id_a"), col("vec_id_b"), round(sim, 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Symmetric per-vector int8 scalar quantization — the storage-side
    * compression step for ANN at scale (4× smaller vectors; IVF probes
    * scan quantized codes and re-rank survivors at full precision).
    * scale = max|x|/127; code = clamp(floor(x/scale + 0.5), ±127) —
    * floor-plus-half instead of round() because floor on doubles is
    * bit-deterministic in every engine while round-half-even/up varies.
    * Zero vectors take scale 1.0 (all-zero codes). Pure map-side; each
    * intermediate (widened array, scale, codes) is materialized in its own
    * projection so HOF lambdas never re-evaluate captured subtrees
    * ([[Dedup.safeExplodeNote]] family of traps).
    *
    * Returns (vec_id, scale, q_sum, q0..q3): the driver compare can't hash
    * array cells, so the full code array is summarized by its exact
    * integer sum (order-independent) plus the first four codes; the
    * round-trip error bound is pinned by spec instead.
    */
  /** The storage form itself — (vec_id, scale, codes: array<long>) — that
    * [[ivfTopKQuantized]] probes scan; [[quantizeInt8]] summarizes it for
    * the driver gate.
    */
  def quantizeCodes(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("__d"))
      .select(col("vec_id"), col("__d"),
        array_max(transform(col("__d"), x => abs(x))).as("__m"))
      .select(col("vec_id"), col("__d"),
        when(col("__m") > 0, col("__m") / 127.0).otherwise(1.0).as("scale"))
      .select(col("vec_id"), col("scale"),
        transform(col("__d"), x =>
          greatest(lit(-127L), least(lit(127L),
            floor(x / col("scale") + 0.5).cast("long")))).as("codes"))

  def quantizeInt8(embeddings: DataFrame): DataFrame =
    quantizeCodes(embeddings)
      .select(col("vec_id"), col("scale"),
        aggregate(col("codes"), lit(0L), (a, x) => a + x).as("q_sum"),
        element_at(col("codes"), 1).as("q0"), element_at(col("codes"), 2).as("q1"),
        element_at(col("codes"), 3).as("q2"), element_at(col("codes"), 4).as("q3"))

  /** Deterministic distributed k-means codebook training — the offline
    * step [[ivfTopKWith]] consumes. Engine-exact and partition-order-free
    * by construction, so the whole iterative chain carries a DuckDB oracle
    * (q_kmeans):
    *
    *   - init: the `k` lowest-id vectors (same convention as
    *     [[pseudoCentroids]]);
    *   - assignment: nearest centroid by cosine rounded to 6 dp, ties on
    *     centroid id (the q_ivf_topk-proven comparison);
    *   - update: per-dimension means over FIXED-POINT values — each
    *     component is quantized once to `floor(x·2^20 + 0.5)` (a long), so
    *     the mean is an exact integer sum in any order divided once in
    *     double. Naive float summation is partition-order-dependent and
    *     can't hash-match anything, not even itself across runs. The mean
    *     is stored back as float32 (~2^-20 quantization error is far below
    *     codebook resolution);
    *   - empty clusters keep their previous centroid.
    *
    * Each iteration is one broadcast-join assignment pass plus one
    * (cluster, dim)-keyed partial-combined aggregate; only k×dim means
    * (and k counts) ever reach the driver — the classic bounded k-means
    * driver loop, same contract as [[Dedup.dedupClusters]]'s label loop.
    *
    * Returns (centroid_id, n_assigned, embedding: array<float>), where
    * n_assigned counts the final assignment pass that produced the
    * returned centroids.
    */
  def trainCodebook(
      corpus: DataFrame, k: Int, iters: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(k > 0 && iters > 0)
    val Q = 1L << 20

    // persisted: re-scanned every iteration (assignment) and re-joined
    // (means); fixed-point components materialize once. Parallelism.ensure:
    // a single-file embeddings scan would run every per-iteration
    // crossJoin-assignment pass (the heavy compute) on one core
    val ev = CacheRegistry.persist(
      Parallelism.ensure(corpus.select(col("vec_id"), col("embedding")), "vec_id"))
    val qv = CacheRegistry.persist(ev
      .select(col("vec_id"), posexplode_outer(col("embedding")))
      .filter(col("pos").isNotNull) // Dedup.safeExplodeNote
      .select(col("vec_id"), col("pos"),
        floor(col("col").cast("double") * Q + 0.5).cast("long").as("q")))

    // init = the k lowest-id vectors, whatever the id space — a
    // `vec_id < k` filter silently under-fills the codebook when ids
    // don't start near 0 (arbitrary parquet through `cli corpus -op
    // kmeans`); a short codebook must fail loudly, not train quietly
    var cents: Seq[(Long, Seq[Float])] = ev.orderBy("vec_id").limit(k)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    require(cents.size == k,
      s"k-means init needs k=$k vectors, corpus has only ${cents.size}")
    var counts: Map[Long, Long] = Map.empty

    for (_ <- 0 until iters) {
      val centDf = broadcast(cents.toDF("c", "e"))
      // rank-1 assignment as the [[assignByScore]] aggregate: the
      // exchange carries one row per vector, not corpus × k sort rows
      val assigned = CacheRegistry.persist(
        assignByScore(ev.crossJoin(centDf), Seq("vec_id"), "c",
          round(cosine(col("embedding"), col("e")), 6), 1, Seq.empty,
          centAlias = "c", scoreAlias = "__sc", rankName = "__rn")
        .select(col("vec_id"), col("c")))
      // k×dim mean rows + k counts — the only driver-bound data
      val means = assigned.join(qv, "vec_id")
        .groupBy("c", "pos")
        .agg((sum(col("q")).cast("double") / (count(lit(1)) * Q))
          .cast("float").as("mv"), count(lit(1)).as("__n"))
        .collect()
      counts = means.filter(_.getInt(1) == 0)
        .map(r => r.getLong(0) -> r.getLong(3)).toMap
      val byC = means.map(r => (r.getLong(0), r.getInt(1), r.getFloat(2)))
        .groupBy(_._1)
        .map { case (c, rs) => c -> rs.sortBy(_._2).map(_._3).toSeq }
      cents = cents.map { case (c, old) => (c, byC.getOrElse(c, old)) }
      assigned.unpersist(blocking = false)
    }
    cents.map { case (c, e) => (c, counts.getOrElse(c, 0L), e) }
      .toDF("centroid_id", "n_assigned", "embedding")
  }

  /** Deterministic pseudo-codebook: the `numCentroids` lowest-id vectors.
    * Centroid count is FIXED regardless of corpus size (round-2 verdict: a
    * stride-derived count grows linearly with the corpus, making assignment
    * O(n²/stride) and the broadcast codebook unbounded — a scale-killer at
    * 100×). An offline-trained k-means codebook drops in via [[ivfTopKWith]].
    */
  def pseudoCentroids(corpus: DataFrame, numCentroids: Int): DataFrame =
    corpus.filter(col("vec_id") < numCentroids)

  /** One-pass IVF with the deterministic pseudo-codebook
    * ([[pseudoCentroids]] — the assignment/probe plumbing is the operator;
    * k-means training is an offline refinement), nearest-centroid
    * assignment for the corpus, then top-k within each query's `nprobe`
    * closest clusters. nprobe=1 is the fastest/lowest-recall point;
    * nprobe=#centroids degenerates to exact brute force (pinned by spec).
    * At scale the cluster id is the storage partition key, so a probe
    * touches `nprobe` partitions' files only.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      numCentroids: Int = 32,
      nprobe: Int = 1): DataFrame =
    ivfTopKWith(corpus, queries, k, pseudoCentroids(corpus, numCentroids), nprobe)

  /** IVF against a caller-supplied codebook `(vec_id, embedding)` — e.g. an
    * offline-trained k-means table. Codebook size is assumed
    * broadcast-small (thousands of centroids, not corpus-proportional).
    */
  /** Shared probe assignment: rank the broadcast centroid table per id by
    * 6dp-rounded cosine (ties on centroid id — the oracle-proven
    * comparison) and keep the top `probes`, rank retained in `rankName`.
    * The centroid frame must carry (centroid_id, c_emb, c_norm).
    * Runs as the [[assignByScore]] aggregate — the exchange carries one
    * row per assigned id, not corpus × |centroids| sort rows.
    */
  private def assignProbes(
      df: DataFrame, centroids: DataFrame, probes: Int,
      rankName: String): DataFrame = {
    val idCol = df.columns.head
    assignByScore(df.crossJoin(centroids), Seq(idCol), "centroid_id",
      round(dot(col("c_emb"), col("embedding")) / (col("c_norm") * col("__norm")), 6),
      probes, carry = Seq("embedding", "__norm"),
      centAlias = "centroid_id", scoreAlias = "__assign_sc",
      rankName = rankName)
      .drop("__assign_sc")
  }

  private def broadcastCentroids(codebook: DataFrame): DataFrame =
    broadcast(
      withNorm(codebook, "vec_id", "centroid_id")
        .withColumnRenamed("embedding", "c_emb")
        .withColumnRenamed("__norm", "c_norm"))

  /** Materialize the corpus as an IVF-partitioned parquet index — the
    * "cluster id is the storage partition key" claim made real: one
    * hive-style `centroid_id=N` directory per cluster plus a `_codebook`
    * sidecar table. A probe then reads ONLY its nprobe partitions'
    * files ([[ivfTopKIndexed]] — `PartitionFilters` in the scan, pinned
    * by spec), which is the difference between an ANN probe costing
    * O(corpus/numCentroids · nprobe) IO and a full scan at 100 TB.
    */
  def writeIvfIndex(
      corpus: DataFrame, dir0: String, numCentroids: Int = 32): Unit = {
    val dir = StoreGen.resolve(dir0, corpus.sparkSession)
    val codebook = pseudoCentroids(corpus, numCentroids)
      .select("vec_id", "embedding")
    val centroids = broadcastCentroids(codebook)
    assignProbes(withNorm(corpus, "vec_id", "vec_id"), centroids, 1, "__r")
      .select(col("centroid_id"), col("vec_id"), col("embedding"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .option("compression", "zstd").parquet(dir)
    codebook.write.mode("overwrite")
      .option("compression", "zstd").parquet(dir + "_codebook")
  }

  /** Probe a [[writeIvfIndex]] index: assign each query its nprobe
    * centroids from the sidecar codebook, collect the BOUNDED probe-id
    * set (≤ queries × nprobe longs) into a partition-pruning IN filter,
    * and score only the surviving partitions' rows. Result is identical
    * to the in-memory [[ivfTopK]] at the same parameters (same oracle
    * family), but the scan touches nprobe directories, not the corpus.
    */
  def ivfTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      dir0: String,
      queries: DataFrame,
      k: Int,
      nprobe: Int = 1): DataFrame = {
    val dir = StoreGen.resolve(dir0, spark)
    val codebook = spark.read.parquet(dir + "_codebook")
    val centroids = broadcastCentroids(codebook)
    val q = assignProbes(withNorm(queries, "vec_id", "query_id"),
        centroids, nprobe, "__r").drop("__r")
      .withColumnRenamed("embedding", "q_emb")
      .withColumnRenamed("__norm", "q_norm")
    val probeIds = q.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val corpusIdx = spark.read.parquet(dir)
      .filter(col("centroid_id").isin(probeIds: _*))
      .select(col("centroid_id").cast("long").as("centroid_id"),
        col("vec_id"), col("embedding"),
        l2norm(col("embedding")).as("__norm"))
    val scored = corpusIdx.join(broadcast(q), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("__norm")), 4)
          .as("cos_sim"))
    aggTopK(scored, k).select("query_id", "vec_id", "cos_sim", "rank")
  }

  /** IVFADC storage index [Jégou, Douze, Schmid: "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011 §V] — the production
    * 100-TB ANN layout: the corpus stored as PQ CODES (m small ints per
    * vector, not 4·dim bytes of floats), hive-partitioned by IVF
    * centroid, with two broadcast-small sidecars (`_codebook` = IVF
    * centroids, `_pq` = per-subspace PQ codebooks). A probe reads
    * nprobe partitions of codes — both partition-PRUNED and ~50×
    * narrower than the raw vectors — scores them with the integer ADC
    * table, and only the k·rerankFactor survivors fetch full vectors
    * by id. Codes encode the RAW vector (Faiss `by_residual=false`):
    * residual encoding would couple every code to its centroid and
    * break the stage-by-stage DuckDB replay the oracle family rides.
    */
  def writeIvfPqIndex(
      corpus: DataFrame, dir0: String, numCentroids: Int = 32,
      m: Int = 4, ksub: Int = 16, dim: Int = 64,
      byResidual: Boolean = false,
      codebook: Option[DataFrame] = None): Unit = {
    val dir = StoreGen.resolve(dir0, corpus.sparkSession)
    // default: the deterministic pseudo draw (oracle-replayable);
    // callers may supply a trained codebook (vec_id, embedding) — e.g.
    // [[trainCodebook]]'s k-means output via [[retrainIvfPq]]
    val ivfCodebook = codebook.getOrElse(pseudoCentroids(corpus, numCentroids))
      .select("vec_id", "embedding")
    val centroids = broadcastCentroids(ivfCodebook)
    val assign = assignProbes(
        withNorm(corpus, "vec_id", "vec_id"), centroids, 1, "__r")
      .select(col("vec_id"), col("centroid_id"))
    // residual mode (Faiss by_residual=true — Jégou §V's actual IVFADC):
    // codes quantize x − centroid(x), whose magnitude shrinks with
    // cluster tightness — on a corpus that clusters around its
    // centroids the same m·log₂ksub bits buy a tighter reconstruction
    // (on scattered data, where residuals of near-orthogonal vectors
    // are LARGER than the vectors, raw codes can win — measured in the
    // spec; pick per corpus). The subtraction happens in DOUBLE (float
    // residuals would diverge from the oracle's double arithmetic at
    // the 6dp rounding boundaries).
    val encodeInput =
      if (!byResidual) corpus
      else corpus.join(assign, "vec_id")
        .join(broadcast(ivfCodebook.select(
          col("vec_id").as("centroid_id"), col("embedding").as("__c_emb"))),
          "centroid_id")
        .select(col("vec_id"),
          expr("zip_with(cast(embedding as array<double>), " +
            "cast(__c_emb as array<double>), (x, y) -> x - y)").as("embedding"))
    // residual codebooks skip the first numCentroids ids: those vectors
    // ARE the centroids, their residuals are zero, and a zero codebook
    // quantizes every residual to r̂ = 0 (measured: 4× the ADC error).
    // With a caller-supplied (trained) codebook no corpus vector IS a
    // centroid, so the draw starts at 0.
    val pqCodebooks = Pq.pqCodebooks(encodeInput, m, ksub, dim,
      idOffset = if (byResidual && codebook.isEmpty) numCentroids.toLong
        else 0L)
    // three independent writes (codes, IVF codebook, PQ codebooks) run
    // as concurrent jobs — serial submission billed ~2 extra job
    // latencies per cold build (r15 verdict task 7)
    ParJobs.run(
      () => Pq.pqEncode(encodeInput, pqCodebooks, m, dim)
        .join(assign, "vec_id")
        .select(col("centroid_id"), col("vec_id"), col("subspace"), col("code"))
        .write.mode("overwrite").partitionBy("centroid_id")
        .option("compression", "zstd").parquet(dir),
      () => ivfCodebook.write.mode("overwrite")
        .option("compression", "zstd").parquet(dir + "_codebook"),
      () => pqCodebooks.write.mode("overwrite")
        .option("compression", "zstd").parquet(dir + "_pq"))
    // sidecar is driver-written JSON — zero extra Spark jobs (StoreMeta)
    StoreMeta.write(dir, "by_residual" -> byResidual,
      "num_centroids" -> numCentroids, "m" -> m, "ksub" -> ksub,
      "dim" -> dim)
  }

  /** Incremental IVFADC maintenance: encode `batch` against the index's
    * FROZEN sidecar codebooks (IVF `_codebook`, PQ `_pq`, params from
    * `_meta`) and APPEND its codes to the hive-partitioned code table —
    * the streaming-ingest half of the storage index ([[writeIvfPqIndex]]
    * is the cold build). No sidecar is rewritten: codebooks are fixed at
    * index-creation time, which is what makes maintenance a pure per-row
    * append (at 100 TB, re-training would mean re-encoding the entire
    * corpus; the production pattern is periodic offline rebuild).
    *
    * Equality law (pinned by StreamingSpec): PQ/IVF encoding is a pure
    * per-row function of the frozen codebooks, so seed-then-append
    * produces a code table row-identical to a cold [[writeIvfPqIndex]]
    * over the union — provided the seed contained the codebook-defining
    * vectors (vec_id < max(numCentroids, ksub) under the pseudo draw).
    *
    * `dedupeIds` (opt-in) drops batch rows whose `vec_id` is already
    * coded — the producer-duplicate guard the streaming checkpoint
    * cannot provide (it deduplicates FILES, not ids a producer wrote
    * twice into different files). The existence scan is partition-
    * PRUNED to the batch's own assigned centroids: a redelivered
    * vector re-assigns to the same centroid (assignment is a pure
    * function of the frozen codebook), so no other partition can hold
    * its duplicate — the guard reads the touched partitions'
    * column-pruned `vec_id`s, never the whole index. Off by default:
    * the scan isn't free, and the default ingest path already gets
    * file-level exactly-once from the source checkpoint.
    */
  def appendIvfPq(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, dir0: String, dedupeIds: Boolean = false): Unit = {
    val dir = StoreGen.resolve(dir0, spark)
    val meta = StoreMeta.read(dir)
    val byResidual = meta("by_residual").toBoolean
    val m = meta("m").toInt
    val dim = meta("dim").toInt
    // geometry guard (advisor r12): a batch whose embedding dim differs
    // from the index's would silently append garbage codes (the PQ slicer
    // reads fixed [m × dim/m] windows). The check rides the append's own
    // write job as a per-row assert_true — a head(1) probe used to bill a
    // whole extra Spark job per append (r15 task 7: the store lifecycles
    // were fixed-cost bound), and an assert that fires aborts the job
    // BEFORE the committer publishes anything, so the loudness contract
    // is unchanged. Empty appends remain a pinned no-op (no rows, no
    // assert evaluation).
    val guarded = batch
      .withColumn("__dchk", assert_true(size(col("embedding")) === dim,
        lit(s"appendIvfPq: batch embedding dim != index dim $dim at $dir " +
          "— pass batches with the index's build-time geometry")))
      .filter(col("__dchk").isNull).drop("__dchk")
    val ivfCodebook = spark.read.parquet(dir + "_codebook")
    val centroids = broadcastCentroids(ivfCodebook)
    val assignAll = assignProbes(
        withNorm(guarded, "vec_id", "vec_id"), centroids, 1, "__r")
      .select(col("vec_id"), col("centroid_id"))
    val (input, assign) =
      if (!dedupeIds) (guarded, assignAll)
      else {
        // centroid list is codebook-bounded (≤ numCentroids) — safe to
        // collect; it becomes the partition-pruning IN filter below
        val touched = assignAll.select("centroid_id").distinct()
          .collect().map(_.getLong(0)).toSeq
        val existing = spark.read.parquet(dir)
          .filter(col("centroid_id").cast("long").isin(touched: _*))
          .select("vec_id").distinct()
        val fresh = guarded.join(existing, Seq("vec_id"), "left_anti")
        (fresh, assignAll.join(fresh.select("vec_id"), Seq("vec_id"), "left_semi"))
      }
    // redelivery fast path (the LshIndex.append twin): a fully-replayed
    // batch behind the id guard encodes and appends nothing — skip the
    // PQ encode job for a bounded limit-1 probe
    if (dedupeIds && input.isEmpty) return
    val encodeInput =
      if (!byResidual) input
      else input.join(assign, "vec_id")
        .join(broadcast(ivfCodebook.select(
          col("vec_id").as("centroid_id"), col("embedding").as("__c_emb"))),
          "centroid_id")
        .select(col("vec_id"),
          expr("zip_with(cast(embedding as array<double>), " +
            "cast(__c_emb as array<double>), (x, y) -> x - y)").as("embedding"))
    val pqCodebooks = spark.read.parquet(dir + "_pq")
    Pq.pqEncode(encodeInput, pqCodebooks, m, dim)
      .join(assign, "vec_id")
      .select(col("centroid_id"), col("vec_id"), col("subspace"), col("code"))
      .write.mode("append").partitionBy("centroid_id")
      .option("compression", "zstd").parquet(dir)
  }

  /** Codebook staleness monitor — the rebuild TRIGGER the frozen-
    * geometry contract defers to ([[appendIvfPq]]: "the production
    * pattern is periodic offline rebuild"; this tells you WHEN): assign
    * an incoming batch under the index's frozen `_codebook` and report,
    * per centroid, how the batch lands next to what the store already
    * holds. A drifting corpus shows up as (a) assignment mass piling
    * onto few centroids (n_batch skew vs n_store — probe-pruning decays
    * toward a full scan) and (b) falling assignment cosines
    * (mean_cos_batch — codes quantize vectors ever farther from their
    * centroid, recall decays at fixed nprobe).
    *
    * Output: (centroid_id, n_store, n_batch, mean_cos_batch), one row
    * per codebook centroid; mean_cos_batch is −1.0 for centroids the
    * batch never hit (sentinel, not NULL — hash-gate friendly).
    * n_store comes from the `centroid_id=` partitions' parquet FOOTER
    * row counts / m — a driver-side metadata walk, no store data page
    * is ever opened. The batch-side mean sums 6dp-fixed-point cosines
    * in LONGs (the [[Pq]] quantization idiom), so it replays bit-exact
    * in the oracle.
    *
    * Scale shape: one broadcast-codebook assignment pass over the
    * BATCH (map-side, the [[assignProbes]] aggregate), a footer-only
    * store walk (O(#files) driver metadata reads, zero Spark jobs),
    * one codebook-sized join — nothing corpus-×-centroids, no store
    * read of any kind beyond footers.
    */
  def ivfDriftReport(spark: org.apache.spark.sql.SparkSession,
      dir0: String, batch: DataFrame): DataFrame = {
    val dir = StoreGen.resolve(dir0, spark)
    val m = StoreMeta.read(dir)("m").toInt
    val ivfCodebook = spark.read.parquet(dir + "_codebook")
    val centroids = broadcastCentroids(ivfCodebook)
    val assigned = assignProbes(
        withNorm(batch, "vec_id", "vec_id"), centroids, 1, "__r")
      .select(col("vec_id"), col("centroid_id"), col("embedding"),
        col("__norm"))
    // re-derive the winning cosine as a 6dp fixed-point long: LONG sums
    // are exact in any engine, so the mean replays bit-for-bit (the
    // floor(x*Q + 0.5) idiom from [[Pq.adcScore]]'s quantization)
    val withCos = assigned
      .join(broadcast(ivfCodebook.select(col("vec_id").as("centroid_id"),
        col("embedding").as("__c_emb"))), "centroid_id")
      .withColumn("__cos6",
        floor(round(dot(col("__c_emb"), col("embedding"))
          / (l2norm(col("__c_emb")) * col("__norm")), 6) * 1e6 + 0.5)
          .cast("long"))
    val batchSide = withCos.groupBy("centroid_id")
      .agg(count(lit(1)).as("n_batch"),
        round((sum(col("__cos6")) / 1e6) / count(lit(1)), 6)
          .as("mean_cos_batch"))
    // per-centroid store mass from the hive partitions' parquet FOOTERS:
    // a driver-side metadata walk (#files footer reads, ZERO Spark jobs,
    // zero data pages) — at 100 TB a drift check must not open every
    // store file to re-count rows parquet already counted at write time
    // (the Layout.fileSpans footer rationale, actually taken here; r17
    // verdict task 4). Counts include rows pending tombstone compaction
    // — drift mass is telemetry, and forgotten rows occupy partitions
    // until [[compactIvfPq]] removes them.
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val prefix = "centroid_id="
    val storeCounts: Seq[(Long, Long)] = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith(prefix))
      .flatMap { d =>
        scala.util.Try(d.getName.stripPrefix(prefix).toLong).toOption
          .map { cid =>
            val rows = fs.listStatus(d).toSeq
              .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
              .map { f =>
                val r = org.apache.parquet.hadoop.ParquetFileReader.open(
                  org.apache.parquet.hadoop.util.HadoopInputFile
                    .fromStatus(f, conf))
                try r.getRecordCount finally r.close()
              }.sum
            (cid, rows / m)
          }
      }
    val storeSide = {
      import spark.implicits._
      storeCounts.toDF("centroid_id", "n_store")
    }
    ivfCodebook.select(col("vec_id").as("centroid_id"))
      .join(storeSide, Seq("centroid_id"), "left")
      .join(batchSide, Seq("centroid_id"), "left")
      .select(col("centroid_id"),
        coalesce(col("n_store"), lit(0L)).as("n_store"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"),
        coalesce(col("mean_cos_batch"), lit(-1.0)).as("mean_cos_batch"))
  }

  /** Targeted deletion for the IVFADC index ([[Tombstones]], the
    * [[LshIndex.forget]] twin): hide `vecIds`' codes from every probe
    * now (anti-join on the partition-pruned code scan), remove them
    * physically at the next [[compactIvfPq]]. The frozen codebooks are
    * untouched — a codebook-defining vector can be forgotten from
    * SERVING (its codes stop matching) while its geometry contribution
    * remains, exactly like any trained-model artifact; a rebuild
    * ([[writeIvfPqIndex]]) is the path that re-trains without it.
    * Re-ingesting a forgotten vec_id is legal only after a compaction
    * has cleared the tombstone.
    */
  def forgetIvfPq(spark: org.apache.spark.sql.SparkSession,
      vecIds: DataFrame, dir: String): Unit =
    Tombstones.add(vecIds, StoreGen.resolve(dir, spark))

  /** Codebook retrain-and-swap — the ACTUATOR for [[ivfDriftReport]]'s
    * staleness signal (r18 verdict task 1): when the monitor shows
    * assignment mass piling up or falling assignment cosines, this
    * rebuilds the index's codebooks from the CURRENT corpus and swaps
    * the result into place, in contrast to [[compactIvfPq]] which keeps
    * the codebooks frozen and only folds files.
    *
    * `corpus` is the raw-vector source of truth (vec_id, embedding);
    * membership comes from the STORE — the rebuild indexes exactly the
    * ids the store currently serves: its coded ids minus pending
    * tombstones (a takedown is applied PHYSICALLY here, and — unlike
    * [[forgetIvfPq]]'s serving filter — the retrained codebooks never
    * see the forgotten vectors at all, the full governance semantics).
    *
    * Codebook choice: `trainIters = 0` (default) re-runs the cold
    * build's deterministic pseudo draw over the surviving members —
    * engine-exact, so the swapped index is row-identical to
    * [[writeIvfPqIndex]] on the current members (the q_ivf_retrain
    * oracle gate). `trainIters > 0` trains a k-means codebook
    * ([[trainCodebook]]) over the members instead — the drift-recovery
    * path: centroids MOVE to where the corpus now is, recovering
    * recall at fixed nprobe on a drifted corpus (spec-asserted).
    *
    * Scale shape: one column-pruned distinct over the code table for
    * membership (the rebuild re-encodes everything anyway — at 100 TB a
    * retrain is the periodic offline job, not a serving-path call), the
    * cold build's own passes, then [[StoreUpkeep.swapStaged]]'s rename
    * protocol over data AND sidecars (codebooks change here, so `_pq`/
    * `_codebook`/`_meta` swap too; single-writer, like any compaction).
    *
    * `generational = true` is the ALWAYS-ON variant (r19 verdict task
    * 3): instead of the in-place rename swap — which pauses serving for
    * the swap window and has no object-store atomicity — the rebuilt
    * index (data AND codebook sidecars) is staged as generation N+1 and
    * the `_current` pointer flips LAST ([[StoreGen]]'s atomic replace).
    * A probe that resolved the pointer before the flip finishes on
    * generation N's intact directories (the same grace retention as
    * [[StoreUpkeep.compactNewGeneration]]: N stays, N−1 goes), so a
    * store that compacts via generations can now retrain without ever
    * pausing serving.
    */
  def retrainIvfPq(spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame, dir0: String, trainIters: Int = 0,
      generational: Boolean = false): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val gen = StoreGen.generation(dir0, hconf)
    val dir = StoreGen.path(dir0, gen)
    val meta = StoreMeta.read(dir)
    val numCentroids = meta("num_centroids").toInt
    val (m, ksub, dim) = (meta("m").toInt, meta("ksub").toInt,
      meta("dim").toInt)
    val byResidual = meta("by_residual").toBoolean
    // store membership, tombstones applied: the distinct is partition-
    // parallel and column-pruned (vec_id only — codes never read here)
    val servingIds = Tombstones.filterServing(spark,
      spark.read.parquet(dir).select("vec_id").distinct(), dir, "vec_id")
    val members = corpus.join(servingIds, Seq("vec_id"), "left_semi")
    val trained =
      if (trainIters <= 0) None
      else Some(trainCodebook(members, numCentroids, trainIters)
        .select(col("centroid_id").as("vec_id"), col("embedding")))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    // the rebuilt index replaces the codebooks, so ALL sidecars move
    // with the data; the new store starts tombstone-free (the rebuild
    // applied them via membership)
    val suffixes = Seq("", "_codebook", "_pq", "_meta")
    val staging =
      if (generational) StoreGen.path(dir0, gen + 1) else dir + "_retraining"
    // a dead prior attempt's staging is garbage (generational: also any
    // tomb sidecar a crashed attempt's staging accumulated)
    (suffixes ++ Seq("_tomb", "_tomb_meta")).foreach(sfx =>
      fs.delete(new org.apache.hadoop.fs.Path(staging + sfx), true))
    // the tombstones the rebuild applies (via membership) — snapshot so
    // a forget racing the rebuild stays pending, never silently dropped
    val tombSnapshot = Tombstones.listFiles(fs, dir)
    writeIvfPqIndex(members, staging, numCentroids, m, ksub, dim,
      byResidual, codebook = trained)
    if (generational) {
      // flip LAST; generation N stays as the in-flight readers' grace
      // window (its pending tombstones age out with it), N−1 goes
      StoreGen.setGeneration(dir0, gen + 1, hconf)
      if (gen >= 1)
        (suffixes ++ Seq("_tomb", "_tomb_meta")).foreach(sfx => fs.delete(
          new org.apache.hadoop.fs.Path(
            StoreGen.path(dir0, gen - 1) + sfx), true))
    } else {
      StoreUpkeep.swapStaged(fs, dir, staging, suffixes)
      Tombstones.clear(fs, dir, tombSnapshot)
    }
  }

  /** Compact an IVFADC code table that [[appendIvfPq]] has grown by
    * accumulation: every append drops at least one new file into each
    * touched `centroid_id=` directory, and at streaming cadence the
    * per-file open/footer overhead eventually dominates the probe scan —
    * the standard object-store small-file failure. Rewrites the codes
    * into `outDir` with the SAME hive partitioning (probe pruning is
    * untouched) and at most `filesPerPartition` files per centroid
    * ([[graft.ParquetIO.writePartitioned]]), then copies the frozen
    * sidecars verbatim. Writes to a NEW directory: an in-place overwrite
    * would delete the input mid-scan (ParquetIO's overwrite guard), and
    * on object stores the swap-to-live step is the caller's atomicity
    * boundary anyway.
    */
  def compactIvfPq(
      spark: org.apache.spark.sql.SparkSession,
      dir0: String,
      outDir: String,
      filesPerPartition: Int = 1): Unit = {
    val dir = StoreGen.resolve(dir0, spark)
    require(outDir != dir, "compactIvfPq writes to a new directory")
    compactIvfPqCodes(spark, dir, outDir, filesPerPartition)
    Seq("_codebook", "_pq").foreach { suffix =>
      spark.read.parquet(dir + suffix).write.mode("overwrite")
        .option("compression", "zstd").parquet(outDir + suffix)
    }
    StoreMeta.copy(dir, outDir)
  }

  /** The code-table half of [[compactIvfPq]] without the sidecar copy —
    * what an in-place maintenance swap wants: the sidecars are frozen
    * and already live at their final names, so rewriting them would be
    * wasted IO and (mid-swap) a second non-atomic surface.
    */
  private[graft] def compactIvfPqCodes(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      outDir: String,
      filesPerPartition: Int): Unit =
    // pending tombstones ([[forgetIvfPq]]) apply physically here and the
    // sidecar is not carried forward (the forget∘compact law)
    graft.ParquetIO.writePartitioned(
      Tombstones.filterServing(spark,
        spark.read.parquet(dir)
          .select("centroid_id", "vec_id", "subspace", "code"),
        dir, "vec_id"),
      outDir, Seq("centroid_id"), filesPerPartition)

  /** Probe a [[writeIvfPqIndex]] index: nprobe centroids per query from
    * the sidecar codebook, a partition-pruning IN filter over the code
    * table (the scan touches nprobe directories of CODES — pinned by
    * spec), integer ADC scoring against the broadcast lookup table,
    * then exact-cosine re-rank of the k·rerankFactor survivors fetched
    * from `corpus` BY ID (a join, never a second scan). Equal
    * parameters give results identical to composing the in-memory IVF
    * probe restriction with [[Pq.pqTopK]]'s ADC ranking — the q_ivf_pq
    * oracle replays the whole chain.
    * Output: (query_id, vec_id, cos_sim, approx_ip, rank).
    */
  /** The shared IVFADC probe core: query probe assignment (plus, in
    * residual mode, the fixed-point q·centroid base term `__qcq` the
    * reconstruction ⟨q, c + r̂⟩ = q·c + Σ LUT needs), partition-pruned
    * code scan at `probes` depth, ADC join, and the per-(query, vec)
    * integer sum. With `rankName` set, each candidate keeps the probe
    * rank of the centroid it arrived through (the recall sweep's
    * filter-not-rescan contract).
    */
  private def ivfPqApprox(
      spark: org.apache.spark.sql.SparkSession, dir0: String,
      queries: DataFrame, probes: Int, m: Int, dim: Int,
      rankName: Option[String],
      allowedIds: Option[DataFrame] = None,
      broadcastAllowed: Boolean = true): DataFrame = {
    // every ivfPq probe surface funnels through here — ONE generation-
    // pointer resolution serves ivfPqTopK/Filtered/Recall alike
    val dir = StoreGen.resolve(dir0, spark)
    val codebook = spark.read.parquet(dir + "_codebook")
    // the sidecar records the build-time geometry; a caller reusing a
    // prebuilt index (CLI -index) with mismatched -m/-dim would silently
    // score garbage ADC sums otherwise (advisor r9) — fail loudly
    val meta = StoreMeta.read(dir)
    val byRes = meta("by_residual").toBoolean
    val (metaM, metaDim) = (meta("m").toInt, meta("dim").toInt)
    require(metaM == m && metaDim == dim,
      s"IVFADC index at $dir was built with m=$metaM dim=$metaDim " +
        s"(ksub=${meta("ksub")}), but the probe was called " +
        s"with m=$m dim=$dim — pass the build-time parameters")
    val centroids = broadcastCentroids(codebook)
    val ranked = assignProbes(
      withNorm(queries, "vec_id", "query_id"), centroids, probes,
      rankName.getOrElse("__r"))
    val rankCols = rankName.toSeq
    val qa =
      if (!byRes)
        ranked.select((Seq("query_id", "centroid_id") ++ rankCols).map(col): _*)
      else ranked
        .join(broadcast(codebook.select(col("vec_id").as("centroid_id"),
          col("embedding").as("__c_emb"))), "centroid_id")
        .select((Seq("query_id", "centroid_id") ++ rankCols).map(col) :+
          Pq.ipQuantize(dot(
            expr("cast(embedding as array<double>)"),
            expr("cast(__c_emb as array<double>)"))).as("__qcq"): _*)
    val probeIds = qa.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    // pending tombstones ([[forgetIvfPq]]) hide forgotten vectors from
    // the probe: a broadcast anti-join on code rows the partition prune
    // already bounded to nprobe directories — takedown-sized, map-side
    val codes0 = Tombstones.filterServing(spark,
      spark.read.parquet(dir)
        .filter(col("centroid_id").isin(probeIds: _*))
        .select(col("centroid_id").cast("long").as("centroid_id"),
          col("vec_id"), col("subspace"), col("code")),
      dir, "vec_id")
    // filtered search ([[ivfPqTopKFiltered]]): the allowed-id set
    // restricts the SAME pruned code rows PRE-ADC (the Faiss IDSelector
    // shape) — a semi-join, broadcast for selective predicates (the
    // metadata-filter norm), shuffled when the caller says the allowed
    // set is corpus-shaped
    val codes = allowedIds match {
      case None => codes0
      case Some(ids) =>
        val idSet = ids.select(col(ids.columns.head).as("vec_id")).distinct()
        codes0.join(if (broadcastAllowed) broadcast(idSet) else idSet,
          Seq("vec_id"), "left_semi")
    }
    // residual codebooks are array<double> (the subtraction's type);
    // the query side of the LUT must match — float→double is exact, so
    // the partial dots are bit-identical to the oracle's double math
    val lutQueries =
      if (!byRes) queries
      else queries.select(col("vec_id"),
        expr("cast(embedding as array<double>)").as("embedding"))
    val lut = Pq.adcLut(lutQueries, spark.read.parquet(dir + "_pq"), m, dim)
    val joined = codes
      .join(broadcast(qa), Seq("centroid_id"))
      .join(lut, Seq("query_id", "subspace", "code"))
      .filter(col("vec_id") =!= col("query_id"))
    val keys = Seq("query_id", "vec_id") ++ rankCols ++
      (if (byRes) Seq("__qcq") else Nil)
    joined.groupBy(keys.map(col): _*)
      .agg((if (byRes) Pq.adcScore(sum(col("ipq")) + col("__qcq"))
            else Pq.adcScore(sum(col("ipq")))).as("approx_ip"))
      .drop("__qcq")
  }

  def ivfPqTopK(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nprobe: Int = 2,
      rerankFactor: Int = 4,
      m: Int = 4,
      dim: Int = 64): DataFrame = {
    require(k > 0 && nprobe >= 1 && rerankFactor >= 1)
    val approx = ivfPqApprox(spark, dir, queries, nprobe, m, dim, None)
    // the ADC candidate stream is probe-fraction-of-corpus sized — the
    // bounded aggregate cut, never a candidate-wide window shuffle
    val survivors = aggTopKBy(approx, "approx_ip", k * rerankFactor)
      .drop("rank")
    rerankExact(survivors, corpus, queries, k)
  }

  /** FILTERED IVFADC search — "top-k among the docs satisfying a
    * metadata predicate", the production ANN shape every vector store
    * ships (Faiss IDSelector / filtered HNSW): the allowed-id set
    * restricts the partition-pruned code scan PRE-ADC, so scoring work
    * follows the filtered candidate stream and the top-k can never be
    * starved by post-filtering an unfiltered answer list (the classic
    * filtered-search failure: k results, k−ε dropped by the filter).
    * Exactness contract (the oracle gate): identical to the unfiltered
    * chain over a corpus that never contained the excluded vectors —
    * frozen codebooks stay corpus-wide, the same trained-artifact
    * semantics as [[forgetIvfPq]] (a tombstone IS a standing filter).
    *
    * Scale shape: everything [[ivfPqTopK]] documents, plus one
    * semi-join on the pruned code rows — BROADCAST when the predicate
    * is selective (the metadata-filter norm; set `broadcastAllowed =
    * false` for corpus-shaped allowed sets and take the shuffle).
    * Recall under aggressive filters is the caller's `rerankFactor` /
    * `nprobe` dial: a filter that keeps 1/f of the corpus thins each
    * probed partition by ~f, so deepen nprobe accordingly — the
    * [[ivfPqRecall]] sweep measures exactly this.
    */
  def ivfPqTopKFiltered(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      queries: DataFrame,
      corpus: DataFrame,
      predicate: org.apache.spark.sql.Column,
      k: Int,
      nprobe: Int = 2,
      rerankFactor: Int = 4,
      m: Int = 4,
      dim: Int = 64,
      broadcastAllowed: Boolean = true): DataFrame = {
    require(k > 0 && nprobe >= 1 && rerankFactor >= 1)
    val allowed = corpus.filter(predicate).select("vec_id")
    val approx = ivfPqApprox(spark, dir, queries, nprobe, m, dim, None,
      allowedIds = Some(allowed), broadcastAllowed = broadcastAllowed)
    val survivors = aggTopKBy(approx, "approx_ip", k * rerankFactor)
      .drop("rank")
    rerankExact(survivors, corpus, queries, k)
  }

  /** Exact-cosine re-rank of an approximate candidate frame
    * (query_id, vec_id, approx_ip): full vectors arrive by id join,
    * the query side broadcast. Shared by [[ivfPqTopK]] and
    * [[ivfPqRecall]].
    */
  private def rerankExact(
      cands: DataFrame, corpus: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val cN = corpus.select(col("vec_id"), col("embedding").as("__v_emb"),
      l2norm(col("embedding")).as("__v_norm"))
    val qN = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("__q_emb"), l2norm(col("embedding")).as("__q_norm")))
    // the re-rank window input is already ANSWER-sized (≤ queries·k·rf
    // rows — the aggregate cut upstream bounded it), so the window
    // shuffle carries answers, not candidates; a window keeps the
    // approx_ip payload without a second join
    val wR = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    // survivors are ≤ queries·k·rf rows against a corpus-sized vector
    // table: broadcast them EXPLICITLY so the id fetch is a map-side
    // hash probe of the corpus scan, never a corpus shuffle — at 100 TB
    // AQE only fixes this after a misestimated exchange is planned
    broadcast(cands).join(cN, "vec_id").join(qN, "query_id")
      .withColumn("cos_sim",
        round(dot(col("__q_emb"), col("__v_emb"))
          / (col("__q_norm") * col("__v_norm")), 4))
      .drop("__v_emb", "__v_norm", "__q_emb", "__q_norm")
      .withColumn("rank", row_number().over(wR))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos_sim", "approx_ip", "rank")
  }

  /** Recall@k of the IVFADC probe vs the brute-force truth per nprobe —
    * the [[ivfRecall]] telemetry for the code-probe index: one pruned
    * code scan at the DEEPEST probe depth serves every sweep point
    * (probe_rank tags each candidate; shallower nprobes are filters,
    * not re-scans). Output: (nprobe, exact_pairs, ivf_pairs, hit_pairs,
    * recall_at_k).
    */
  def ivfPqRecall(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nprobes: Seq[Int] = Seq(1, 2, 4),
      rerankFactor: Int = 4,
      m: Int = 4,
      dim: Int = 64,
      predicate: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1), "nprobes must be >= 1")
    // `predicate` sweeps the FILTERED search ([[ivfPqTopKFiltered]]):
    // the allowed set restricts both the probe's code scan and the
    // brute-force truth (recall of filtered-approx vs filtered-exact —
    // the dial that sizes nprobe under a metadata filter, since a
    // filter keeping 1/f of the corpus thins each probed partition ~f)
    val allowed = predicate.map(p => corpus.filter(p).select("vec_id"))
    // probe_rank is constant over a (query, vec) pair's m subspace rows
    // (one centroid per corpus vector), so it rides the group-by keys
    val approx = CacheRegistry.persist(
      ivfPqApprox(spark, dir, queries, nprobes.max, m, dim,
          Some("probe_rank"), allowedIds = allowed))
    approx.count()
    val exact = CacheRegistry.persist(
      bruteForceTopK(predicate.fold(corpus)(corpus.filter), queries, k)
        .select(col("query_id"), col("vec_id")))
    exact.count()
    val exactTotal = broadcast(exact.agg(count(lit(1)).as("exact_pairs")))

    val perProbe = nprobes.sorted.map { np =>
      // probe-fraction candidate stream → bounded aggregate cut
      val survivors = aggTopKBy(approx.filter(col("probe_rank") <= np),
          "approx_ip", k * rerankFactor)
        .drop("rank")
      rerankExact(survivors, corpus, queries, k)
        .select("query_id", "vec_id")
        .join(exact.withColumn("__hit", lit(1)), Seq("query_id", "vec_id"), "left")
        .agg(count(lit(1)).as("ivf_pairs"), sum(col("__hit")).as("__hits"))
        .select(lit(np).as("nprobe"), col("ivf_pairs"),
          coalesce(col("__hits"), lit(0L)).as("hit_pairs"))
    }.reduce(_ unionByName _)
    perProbe.crossJoin(exactTotal)
      .select(col("nprobe"), col("exact_pairs"), col("ivf_pairs"),
        col("hit_pairs"),
        (col("hit_pairs").cast("double") / col("exact_pairs").cast("double"))
          .as("recall_at_k"))
      .orderBy("nprobe")
  }

  def ivfTopKWith(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      codebook: DataFrame,
      nprobe: Int = 1): DataFrame = {
    val centroids = broadcastCentroids(codebook)
    def assign(df: DataFrame, probes: Int): DataFrame =
      assignProbes(df, centroids, probes, "__r").drop("__r")

    val assignedCorpus = assign(withNorm(corpus, "vec_id", "vec_id"), 1)
    val assignedQueries = assign(withNorm(queries, "vec_id", "query_id"), nprobe)
      .withColumnRenamed("embedding", "q_emb")
      .withColumnRenamed("__norm", "q_norm")

    val scored = assignedCorpus.join(broadcast(assignedQueries), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("__norm")), 4)
          .as("cos_sim"))
    aggTopK(scored, k).select("query_id", "vec_id", "cos_sim", "rank")
  }

  /** IVF over int8-quantized codes with exact re-rank — the memory-bound
    * ANN shape at 100 TB: the probe scan reads 4×-smaller code arrays and
    * scores candidates with an INTEGER dot product (times the two scale
    * factors — two pinned IEEE multiplies, so the approximate score is
    * engine-exact and the whole operator carries a DuckDB oracle); only
    * the `k·rerankFactor` survivors per query fetch their full-precision
    * vectors (an id join against the corpus, not a second scan of every
    * row) for the exact cosine that orders the final top-k.
    *
    * Output: (query_id, vec_id, cos_sim, approx_sim, rank) — approx_sim
    * rides along as the probe-fidelity telemetry (how far the int8 score
    * sits from the exact one that decided the ranking).
    */
  def ivfTopKQuantized(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      numCentroids: Int = 32,
      nprobe: Int = 1,
      rerankFactor: Int = 4): DataFrame = {
    require(rerankFactor >= 1, "rerankFactor must be >= 1")
    val centroids = broadcastCentroids(pseudoCentroids(corpus, numCentroids))

    // probe side carries (centroid_id, vec_id, scale, codes, norm) — the
    // norm is one full-precision scalar per vector (standard int8-ANN
    // storage: codes 4× smaller, norm rides along so the probe ranks by
    // approximate COSINE, not raw inner product); no full-precision
    // embedding rides through the candidate join
    val corpusCodes = assignProbes(
        withNorm(corpus, "vec_id", "vec_id"), centroids, 1, "__r")
      .select(col("vec_id"), col("centroid_id"), col("__norm"))
      .join(quantizeCodes(corpus), "vec_id")
    val queryCodes = assignProbes(
        withNorm(queries, "vec_id", "query_id"), centroids, nprobe, "__r")
      .select(col("query_id"), col("centroid_id"), col("__norm").as("q_norm"))
      .join(quantizeCodes(queries).select(
        col("vec_id").as("query_id"), col("scale").as("q_scale"),
        col("codes").as("q_codes")), "query_id")

    val intDot = aggregate(
      zip_with(col("codes"), col("q_codes"), (a, b) => a * b),
      lit(0L), (acc, x) => acc + x)
    val scored = corpusCodes.join(broadcast(queryCodes), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        // ((scale·q_scale)·intdot)/(norm·q_norm) — parenthesized the same
        // in the oracle so every IEEE op replays in order
        round(((col("scale") * col("q_scale")) * intDot.cast("double"))
            / (col("__norm") * col("q_norm")), 6)
          .as("approx_sim"))
    // probe-fraction candidate stream → bounded aggregate cut
    val survivors = aggTopKBy(scored, "approx_sim", k * rerankFactor)
      .drop("rank")

    // survivors-only full-precision fetch: an id equi-join, never a
    // rescoring of the whole probed set
    val reranked = survivors
      .join(withNorm(corpus, "vec_id", "vec_id"), "vec_id")
      .join(broadcast(withNorm(queries, "vec_id", "query_id")
        .withColumnRenamed("embedding", "q_emb")
        .withColumnRenamed("__norm", "q_norm")), "query_id")
      .select(col("query_id"), col("vec_id"), col("approx_sim"),
        round(dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("__norm")), 4)
          .as("cos_sim"))
    reranked
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos_sim", "approx_sim", "rank")
  }

  /** Recall@k telemetry for IVF vs exact brute force — how a user tunes
    * `nprobe` (the recall/cost dial): one row per probed depth reporting
    * |ivf∩exact| / |exact| over the query set.
    *
    * Cost shape: corpus assignment and candidate scoring run ONCE at
    * nprobe = max(nprobes) with the probe rank attached; each smaller
    * depth's top-k is a filter + re-rank over that bounded candidate
    * table (≤ |queries|·avg-bucket rows), and the brute-force truth is
    * computed once. Adding probe points is near-free — no per-point
    * corpus pass.
    */
  def ivfRecall(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      numCentroids: Int = 32,
      nprobes: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1), "nprobes must be >= 1")
    val centroids = broadcastCentroids(pseudoCentroids(corpus, numCentroids))

    val assignedCorpus =
      assignProbes(withNorm(corpus, "vec_id", "vec_id"), centroids, 1, "__r").drop("__r")
    val assignedQueries = assignProbes(
        withNorm(queries, "vec_id", "query_id"), centroids, nprobes.max, "probe_rank")
      .withColumnRenamed("embedding", "q_emb")
      .withColumnRenamed("__norm", "q_norm")
    // candidates at the DEEPEST probe depth, each tagged with the probe
    // rank of the centroid it arrived through; persisted + eagerly filled
    // (one consumer per probe point — see the AQE cache-race note)
    val scored = CacheRegistry.persist(
      assignedCorpus.join(broadcast(assignedQueries), Seq("centroid_id"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), col("probe_rank"),
          round(dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("__norm")), 4)
            .as("cos_sim")))
    scored.count()
    val exact = CacheRegistry.persist(
      bruteForceTopK(corpus, queries, k).select(col("query_id"), col("vec_id")))
    exact.count()
    val exactTotal = broadcast(exact.agg(count(lit(1)).as("exact_pairs")))

    val perProbe = nprobes.sorted.map { np =>
      // bucket-fraction candidate stream → bounded aggregate cut
      aggTopK(scored.filter(col("probe_rank") <= np), k)
        .select("query_id", "vec_id")
        .join(exact.withColumn("__hit", lit(1)), Seq("query_id", "vec_id"), "left")
        .agg(count(lit(1)).as("ivf_pairs"), count(col("__hit")).as("hit_pairs"))
        .select(lit(np).as("nprobe"), col("ivf_pairs"), col("hit_pairs"))
    }
    perProbe.reduce(_ unionByName _)
      .crossJoin(exactTotal)
      // one integer-ratio IEEE division — bit-exact in any engine
      .withColumn("recall_at_k",
        col("hit_pairs").cast("double") / col("exact_pairs").cast("double"))
      .select("nprobe", "exact_pairs", "ivf_pairs", "hit_pairs", "recall_at_k")
      .orderBy("nprobe")
  }

  /** Matryoshka-style truncated-dimension recall@k (Kusupati et al.,
    * NeurIPS'22 "Matryoshka Representation Learning"): brute-force cosine
    * over only the FIRST `d` embedding components vs the full-dim exact
    * top-k, one row per d in `dims` — the telemetry that says how many
    * prefix dimensions a cheap first-pass retriever needs before the
    * full-precision re-rank.
    *
    * Why this is the 100-TB dial: candidate scoring cost (FLOPs, shuffle
    * bytes, index footprint) scales LINEARLY with d, so a prefix that
    * already carries recall ≈ 1 at d = dim/8 cuts the scan-side cost 8×
    * with the same [[bruteForceTopK]]-shaped exact re-rank on the
    * survivors. The truncated projections are materialized once per
    * (row, d) — prefix slice + prefix norm in ONE pass over the corpus,
    * no per-pair slicing — and the query side broadcasts, so the scoring
    * join stays shuffle-free like every brute-force family member.
    *
    * Determinism: truncated and exact cosines share the 4dp-round +
    * vec_id-tie contract, so the whole sweep replays in DuckDB by list
    * slicing (q_dim_recall). Prefixes are assumed non-degenerate
    * (all-zero prefixes would make cosine undefined in any engine).
    */
  def dimRecall(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1), "dims must be >= 1")
    require(dims.distinct.size == dims.size, s"duplicate dims: $dims")
    def truncated(df: DataFrame, idCol: String, idAlias: String): DataFrame =
      dims.sorted.map { d =>
        df.select(lit(d).as("dim"), col(idCol).as(idAlias),
          slice(col("embedding"), 1, d).as("embedding"))
      }.reduce(_ unionByName _)
        .select(col("dim"), col(idAlias), col("embedding"),
          l2norm(col("embedding")).as("__norm"))
    val tc = truncated(corpus, "vec_id", "vec_id")
    val tq = broadcast(truncated(queries, "vec_id", "query_id")
      .withColumnRenamed("embedding", "q_emb")
      .withColumnRenamed("__norm", "q_norm"))
    // corpus × |dims| candidate stream → bounded aggregate cut per
    // (dim, query) group
    val truncTopK = aggTopKBy(
      tc.join(tq, Seq("dim"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("dim"), col("query_id"), col("vec_id"),
          round(dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("__norm")), 4)
            .as("cos_sim")),
      "cos_sim", k, groupCols = Seq("dim", "query_id"))
    val exact = CacheRegistry.persist(
      bruteForceTopK(corpus, queries, k).select(col("query_id"), col("vec_id")))
    exact.count()
    val exactTotal = broadcast(exact.agg(count(lit(1)).as("exact_pairs")))
    truncTopK
      .join(exact.withColumn("__hit", lit(1)), Seq("query_id", "vec_id"), "left")
      .groupBy("dim")
      .agg(count(lit(1)).as("trunc_pairs"), count(col("__hit")).as("hit_pairs"))
      .crossJoin(exactTotal)
      // one integer-ratio IEEE division — bit-exact in any engine
      .withColumn("recall_at_k",
        col("hit_pairs").cast("double") / col("exact_pairs").cast("double"))
      .select("dim", "exact_pairs", "trunc_pairs", "hit_pairs", "recall_at_k")
      .orderBy("dim")
  }

  /** The two-stage retriever [[dimRecall]] sizes: candidate generation
    * over the first `d` components only (k·rerankFactor survivors per
    * query, 4dp prefix cosine + vec_id ties), then exact full-dimension
    * re-rank of the survivors fetched BY ID — the same
    * generate-cheap/re-rank-exact contract as [[Pq.pqTopK]]'s ADC stage,
    * with prefix truncation as the compression instead of quantization.
    *
    * At 100 TB the first stage is the only corpus-wide pass and it reads
    * `d/dim` of the embedding bytes (store the prefix as its own parquet
    * column — or a matryoshka-ordered model's leading slice — and column
    * pruning does the rest); the re-rank touches k·rf rows per query via
    * an id equi-join, never a second scan.
    * Output: (query_id, vec_id, prefix_sim, cos_sim, rank).
    */
  def truncatedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      d: Int,
      rerankFactor: Int = 4): DataFrame = {
    require(k >= 1 && d >= 1 && rerankFactor >= 1)
    def trunc(df: DataFrame, idCol: String, idAlias: String): DataFrame = {
      val sliced = df.select(col(idCol).as(idAlias),
        slice(col("embedding"), 1, d).as("embedding"))
      sliced.select(col(idAlias), col("embedding"),
        l2norm(col("embedding")).as("__norm"))
    }
    val tq = broadcast(trunc(queries, "vec_id", "query_id")
      .withColumnRenamed("embedding", "q_emb")
      .withColumnRenamed("__norm", "q_norm"))
    // the prefix scan is the one corpus-wide pass → bounded aggregate cut
    val survivors = aggTopKBy(
      trunc(corpus, "vec_id", "vec_id")
        .crossJoin(tq)
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("__norm")), 4)
            .as("prefix_sim")),
      "prefix_sim", k * rerankFactor)
      .drop("rank")
    // survivors-only full-precision fetch: an id equi-join, never a
    // rescoring of the whole corpus
    survivors
      .join(withNorm(corpus, "vec_id", "vec_id"), "vec_id")
      .join(broadcast(withNorm(queries, "vec_id", "query_id")
        .withColumnRenamed("embedding", "q_emb")
        .withColumnRenamed("__norm", "q_norm")), "query_id")
      .select(col("query_id"), col("vec_id"), col("prefix_sim"),
        round(dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("__norm")), 4)
          .as("cos_sim"))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "prefix_sim", "cos_sim", "rank")
  }

  /** SemDeDup-style semantic dedup (Abbas et al., arXiv:2303.09540):
    * k-means-cluster the embedding space, compare vectors only WITHIN
    * their cluster, and drop every vector that has a same-cluster
    * neighbor with `round(cosine, 4) >= threshold` and a SMALLER vec_id —
    * the deterministic keep-the-lowest-id-representative rule. Returns
    * (vec_id, cluster_id, keep).
    *
    * The whole chain is engine-exact ([[trainCodebook]]'s fixed-point
    * means + the q_embed_neardup-proven rounded-cosine comparison), so
    * train → assign → prune replays as one DuckDB oracle
    * (q_semantic_dedup).
    *
    * Scale shape: clustering is what makes the quadratic LOCAL — the
    * pair join is blocked on cluster_id, so pair work is bounded by the
    * largest cluster, never the corpus; assignment is one broadcast pass
    * over k centroids; the codebook and per-iteration driver state stay
    * k×dim. At 100 TB, size k so clusters stay joinable and reuse an
    * offline codebook across ingest batches instead of retraining.
    */
  /** Cluster-vs-label agreement report: train the k-means codebook,
    * assign every vector (the semanticDedup rounded-cosine/tie-break
    * comparison), and score each cluster against a ground-truth label
    * column — n, majority label (ties on label value), majority count,
    * purity = n_top/n at 4dp. The standard external cluster-quality
    * check when any labeled subset exists; also the telemetry that says
    * whether SemDeDup's blocks align with real structure.
    */
  def clusterPurity(
      embeddings: DataFrame,
      labelCol: String = "label",
      k: Int = 8,
      iters: Int = 2,
      codebook: Option[DataFrame] = None): DataFrame = {
    // codebook injection: a suite that runs the whole k-means family
    // (purity / outliers / the training summary) trains ONCE offline
    // and passes the table — the [[ivfTopKWith]] offline-codebook
    // contract; None keeps the self-training behavior
    val cb = codebook.getOrElse(trainCodebook(embeddings, k, iters))
    val cents = broadcast(
      cb.select(col("centroid_id").as("c"), col("embedding").as("e")))
    val ev = Parallelism.ensure(
      embeddings.select(col("vec_id"), col("embedding"), col(labelCol)), "vec_id")
    val assigned = assignByScore(ev.crossJoin(cents), Seq("vec_id"), "c",
        round(cosine(col("embedding"), col("e")), 6), 1, Seq(labelCol),
        centAlias = "cluster_id", scoreAlias = "__sc", rankName = "__rn")
      .select(col("vec_id"), col("cluster_id"), col(labelCol))
    val counts = assigned.groupBy("cluster_id", labelCol)
      .agg(count(lit(1)).as("__lc"))
    val wTop = Window.partitionBy("cluster_id")
      .orderBy(col("__lc").desc, col(labelCol).asc)
    counts.withColumn("__r", row_number().over(wTop))
      .withColumn("n", sum(col("__lc")).over(Window.partitionBy("cluster_id")))
      .filter(col("__r") === 1)
      .select(col("cluster_id"), col("n"),
        col(labelCol).as("top_label"), col("__lc").as("n_top"),
        round(col("__lc").cast("double") / col("n"), 4).as("purity"))
  }

  def semanticDedup(
      embeddings: DataFrame,
      k: Int = 8,
      iters: Int = 2,
      threshold: Double = 0.95): DataFrame = {
    val cb = trainCodebook(embeddings, k, iters)
    val cents = broadcast(
      cb.select(col("centroid_id").as("c"), col("embedding").as("e")))
    val ev = Parallelism.ensure(
      embeddings.select(col("vec_id"), col("embedding")), "vec_id")
    // final assignment against the TRAINED codebook — same rounded-cosine
    // comparison and centroid-id tie break as the training passes.
    // persisted: three consumers (both self-join sides + the keep join)
    // would re-run the crossJoin+assignment otherwise; at sf0.1 the
    // A/B is wall-neutral (cache barrier ≈ re-execution cost on 2k rows)
    // but at corpus scale assignment is the expensive pass
    val assigned = CacheRegistry.persist(
      assignByScore(ev.crossJoin(cents), Seq("vec_id"), "c",
        round(cosine(col("embedding"), col("e")), 6), 1, Seq("embedding"),
        centAlias = "cluster_id", scoreAlias = "__sc", rankName = "__rn")
      .select(col("vec_id"), col("embedding"), col("cluster_id")))
    val pairs = Dedup.embeddingNearDup(assigned, threshold, blockCol = "cluster_id")
    // pairs carry vec_id_a < vec_id_b, so the b side always has a
    // smaller-id near-dup → dropped
    val dropped = pairs.select(col("vec_id_b").as("vec_id")).distinct()
      .withColumn("__drop", lit(1))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"), col("__drop").isNull.as("keep"))
  }

  /** Centroid-distance outlier detection — the embedding-space quality
    * filter that complements [[semanticDedup]]: where SemDeDup drops
    * vectors too CLOSE to a neighbor, this flags vectors too FAR from
    * every trained centroid (cosine to their assigned centroid under
    * `minCos`) — mislabeled, garbled, or off-distribution points that a
    * curation pass routes to review instead of training.
    *
    * Same deterministic chain as [[clusterPurity]]/[[semanticDedup]]:
    * trained codebook, broadcast centroids, rounded-cosine (6dp)
    * assignment with centroid-id tie break — and the outlier cut
    * compares the ROUNDED cosine, so an engine ulp cannot flip a flag.
    *
    * Scale shape: one broadcast crossJoin (corpus × k centroids,
    * map-side), one per-vector window over exactly k rows — linear in
    * the corpus; no pair generation, no per-cluster materialization.
    *
    * Output: (vec_id, cluster_id, cos_centroid, is_outlier) — every
    * vector, flagged, so downstream can both count and route.
    */
  def embedOutliers(
      embeddings: DataFrame,
      k: Int = 8,
      iters: Int = 2,
      minCos: Double = 0.1,
      codebook: Option[DataFrame] = None): DataFrame = {
    val cb = codebook.getOrElse(trainCodebook(embeddings, k, iters))
    val cents = broadcast(
      cb.select(col("centroid_id").as("c"), col("embedding").as("e")))
    val ev = Parallelism.ensure(
      embeddings.select(col("vec_id"), col("embedding")), "vec_id")
    // the assignment aggregate materializes the cosine once and keeps
    // it as the emitted score — the outlier cut compares the value that
    // decided the ranking
    assignByScore(ev.crossJoin(cents), Seq("vec_id"), "c",
        round(cosine(col("embedding"), col("e")), 6), 1, Seq.empty,
        centAlias = "cluster_id", scoreAlias = "cos_centroid",
        rankName = "__rn")
      .select(col("vec_id"), col("cluster_id"), col("cos_centroid"),
        (col("cos_centroid") < minCos).as("is_outlier"))
  }

  /** Reciprocal (mutual) nearest-neighbor pairs: (a, b) with a < b where
    * each is the other's exact top-1 cosine neighbor (4dp rounding +
    * vec_id ties — the [[bruteForceTopK]] contract). RNN pairs are the
    * high-precision pairing primitive: both directions must agree, so a
    * hub that is merely NEAR many vectors pairs with at most one — the
    * classic seed for dedup clusters and alignment mining, far more
    * selective than any one-directional threshold.
    *
    * One all-pairs scoring pass feeds both directions (the rank-1
    * window ranks within query_id; direction b→a is the same scored
    * frame re-keyed), and the mutual join is rank-1-list sized —
    * |corpus| rows, never pairs.
    *
    * SIZE BOUND: this exact twin broadcasts the whole corpus as the
    * query side (every vector is a query), so it is only for corpora
    * that fit a broadcast (≲ a few hundred MB of vectors) — it is the
    * truth baseline, not the scale path. At 100 TB use
    * [[mutualNeighborsApprox]]: BQ-Hamming candidate generation, same
    * mutuality rule over candidate lists, no corpus broadcast and no
    * all-pairs scoring. Output: (vec_id_a, vec_id_b, cos_sim) —
    * cos_sim is direction-symmetric because the dot loop and the norm
    * product are order-identical.
    */
  def mutualNeighbors(embeddings: DataFrame): DataFrame = {
    // Parallelism.ensure on the STREAM side of the all-pairs crossJoin:
    // every vector is a query here, so this stage does |corpus|² dot
    // products — a compact embeddings file arrives as ONE scan
    // partition and the whole quadratic pass ran on a single core
    // (r21 stage profile: one 4.2 s single-task stage, 31 cores idle).
    // The guard keys on vec_id while the downstream top-1 aggregate
    // keys on query_id, so the aggregate's own exchange stays put (the
    // r20 ensure-revert trap does not apply).
    val c = withNorm(
      Parallelism.ensure(embeddings.select("vec_id", "embedding"), "vec_id"),
      "vec_id", "vec_id")
    val q = broadcast(c.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), col("__norm").as("q_norm")))
    val top1 = CacheRegistry.persist(aggTopK(
      c.crossJoin(q)
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("__norm")), 4)
            .as("cos_sim")), 1)
      .drop("rank"))
    top1.count()
    top1.as("f")
      .join(top1.select(col("query_id").as("__bq"), col("vec_id").as("__bv")),
        col("f.query_id") === col("__bv") && col("f.vec_id") === col("__bq"))
      .filter(col("f.query_id") < col("f.vec_id"))
      .select(col("f.query_id").as("vec_id_a"), col("f.vec_id").as("vec_id_b"),
        col("f.cos_sim"))
  }

  /** The 100 TB mutual-NN [[mutualNeighbors]]' docstring promises:
    * candidate generation via IVF blocking — every vector is assigned
    * its `nprobe` nearest centroids (the q_ivf_topk 6dp/tie contract),
    * candidates are vectors SHARING a probed centroid, exact 4dp cosine
    * scores candidate pairs only, and the reciprocal-agreement join
    * runs over each side's candidate top-1. The candidate relation is
    * symmetric (shared-centroid is direction-free), so mutuality means
    * what it means in the exact twin; a true RNN pair is missed only
    * when the two vectors share none of their probed centroids —
    * recall vs the exact operator is a ScaleCheck floor.
    *
    * Scale shape, the [[semanticDedup]] contract: NO corpus broadcast
    * (the exact twin's bound) and no all-pairs scoring — the pair join
    * shuffles on centroid_id, so compute is Σ cluster² and the top-1
    * cut is the mergeable [[aggTopK]] aggregate. Size `numCentroids`
    * PROPORTIONALLY to the corpus (clusters of a few thousand vectors),
    * not as a constant: with nc fixed, Σ cluster² is still n²/nc —
    * recall tracks nprobe (probe depth), not nc, so growing nc buys
    * bounded blocks without the recall cost of narrower probes. A pair sharing
    * several probed centroids scores identically through each (the
    * cosine is a pure pair function), and identical (score, id)
    * candidates collapse in the k-slot buffer — no dedup pass needed.
    * Output: (vec_id_a, vec_id_b, cos_sim), a < b.
    */
  def mutualNeighborsApprox(
      embeddings: DataFrame,
      numCentroids: Int = 32,
      nprobe: Int = 4): DataFrame = {
    require(numCentroids >= 1 && nprobe >= 1)
    val centroids = broadcastCentroids(pseudoCentroids(embeddings, numCentroids))
    val assigned = CacheRegistry.persist(
      assignProbes(withNorm(embeddings, "vec_id", "vec_id"), centroids,
          nprobe, "__r")
        .drop("__r"))
    assigned.count() // both sides of the blocked pair join read it
    val q = assigned.select(col("centroid_id"), col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), col("__norm").as("q_norm"))
    val scored = assigned.join(q, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("__norm")), 4)
          .as("cos_sim"))
    val top1 = CacheRegistry.persist(aggTopK(scored, 1).drop("rank"))
    top1.count()
    top1.as("f")
      .join(top1.select(col("query_id").as("__bq"), col("vec_id").as("__bv")),
        col("f.query_id") === col("__bv") && col("f.vec_id") === col("__bq"))
      .filter(col("f.query_id") < col("f.vec_id"))
      .select(col("f.query_id").as("vec_id_a"), col("f.vec_id").as("vec_id_b"),
        col("f.cos_sim"))
  }

  /** Per-group embedding centroid drift vs the global centroid: for
    * each group, how far its mean vector points away from the corpus
    * mean (rounded cosine) and how its mean vector length compares
    * (norm ratio). The batch-over-batch / source-over-source telemetry
    * that catches an encoder change, a broken modality, or a
    * mistranslated shard BEFORE similarity search quality degrades.
    *
    * Determinism: per-dimension sums are 2^scaleBits fixed-point longs
    * (float * 2^k is exact in double — the q_pagerank contribution-sum
    * trick), so they are order-independent integers; the cosine is then
    * computed on the INTEGER sums directly (cosine is scale-invariant,
    * so centroid division never happens inside it) with the 4dp
    * rounding contract. The global centroid re-aggregates the same
    * per-group sums — one pass over the data total.
    *
    * Scale shape: posexplode → (group, dim) hash aggregate with
    * map-side combine — the shuffle carries |groups|·dim longs, never
    * vectors; the per-group array rebuild sorts dim-count lists; the
    * global side is a broadcast one-row frame.
    * Output: (groupCol, n, cos_to_global, norm_ratio).
    */
  def centroidDrift(
      embeddings: DataFrame,
      groupCol: String = "label",
      scaleBits: Int = 20): DataFrame =
    centroidDriftFromSums(
      centroidPartialSums(embeddings, groupCol, scaleBits), groupCol)

  /** The mergeable half of [[centroidDrift]]: per-(group, dim)
    * fixed-point sums and counts. Plain integers, so partials from
    * shards/micro-batches ADD — `streamingCentroidDrift` accumulates
    * exactly these and finishes with [[centroidDriftFromSums]], and the
    * result is bit-identical to the batch operator on the union (the
    * StreamingSpec law). */
  def centroidPartialSums(
      embeddings: DataFrame,
      groupCol: String,
      scaleBits: Int = 20): DataFrame = {
    require(scaleBits >= 1 && scaleBits <= 30, s"scaleBits: $scaleBits")
    val q = (1L << scaleBits).toDouble
    embeddings
      .select(col(groupCol).as("__grp"),
        posexplode(col("embedding")).as(Seq("pos", "__x")))
      .select(col("__grp"), col("pos"),
        floor(col("__x").cast("double") * q + 0.5).cast("long").as("__fx"))
      .groupBy("__grp", "pos")
      .agg(sum(col("__fx")).as("__s"), count(lit(1)).as("__n"))
  }

  /** Finisher over accumulated (__grp, pos, __s, __n) partials. */
  def centroidDriftFromSums(byGroup: DataFrame, groupCol: String): DataFrame = {
    def toVec(df: DataFrame, keyCols: Seq[Column], sCol: String): DataFrame =
      df.groupBy(keyCols: _*)
        .agg(max(col("__n")).as("n"),
          array_sort(collect_list(struct(col("pos"), col(sCol)))).as("__ps"))
        .withColumn("__v",
          transform(col("__ps"), p => p(sCol).cast("double")))
        .drop("__ps")
    val groups = toVec(byGroup, Seq(col("__grp")), "__s")
    val global = broadcast(
      toVec(
        byGroup.groupBy("pos")
          .agg(sum(col("__s")).as("__gs"), sum(col("__n")).as("__n"))
          .withColumn("__one", lit(1)),
        Seq(col("__one")), "__gs")
        .select(col("n").as("__gn"), col("__v").as("__gv")))
    groups.crossJoin(global)
      .select(col("__grp").as(groupCol), col("n"),
        round(dot(col("__v"), col("__gv"))
          / (l2norm(col("__v")) * l2norm(col("__gv"))), 4).as("cos_to_global"),
        round((l2norm(col("__v")) / col("n"))
          / (l2norm(col("__gv")) / col("__gn")), 4).as("norm_ratio"))
  }

  // ---- 1-bit (sign-plane) binary quantization ------------------------

  /** Packs a `dim`-float embedding into ceil(dim/64) sign words: bit `i`
    * of word `w` is set iff component `w*64 + i` is >= 0. The packing is
    * unrolled at PLAN time (no lambda, no per-row loop state): each word
    * is an OR-reduce of 64 `when(x >= 0, 1L << i)` terms over
    * `element_at`, which whole-stage codegen collapses to straight-line
    * branch-free long arithmetic. `bitwiseOR` instead of `+` so the
    * i = 63 term (Long.MinValue) can never trip ANSI overflow checks.
    *
    * Why: a sign plane is a 32x compression of fp32 — at 100 TB of
    * embeddings the packed planes are ~3 TB, and a Hamming scan over
    * them is `bit_count(xor)` on longs, the cheapest whole-corpus
    * candidate generator there is (BQ in FAISS / Lucene terms). The
    * bit-level layout is engine-internal: correctness only depends on
    * Hamming distances, which any engine can replay from the sign
    * vectors themselves (the DuckDB oracle uses the +-1 inner-product
    * identity `hamming = (dim - <sa, sb>) / 2` — exact integers, no
    * float tolerance).
    */
  def binarySignWords(emb: Column, dim: Int): Column = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val words = (dim + 63) / 64
    array((0 until words).map { w =>
      val n = math.min(64, dim - w * 64)
      (0 until n).map { i =>
        when(element_at(emb, w * 64 + i + 1) >= 0f, lit(1L << i)).otherwise(0L)
      }.reduce(_ bitwiseOR _)
    }: _*)
  }

  /** Hamming distance between two packed sign-word arrays: the native
    * [[graft.functions.VecHamming]] popcount-of-XOR loop — no
    * intermediate array, no lambda frame, codegen'd end to end (the
    * `zip_with + aggregate` formulation it replaces allocated both per
    * candidate pair; the spec pins the two equal). */
  def binaryHamming(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vec_hamming(a, b)

  /** (vec_id, sign_bits) — the persisted form of the binary index. */
  def binaryQuantize(embeddings: DataFrame, dim: Int = 64): DataFrame =
    embeddings.select(col("vec_id"),
      binarySignWords(col("embedding"), dim).as("sign_bits"))

  /** All-pairs (query x corpus) scoring for [[binaryRecall]]: Hamming
    * from the packed planes, exact rounded cosine, and the Hamming
    * candidate rank (`hr`, ties on vec_id). The recall diagnostic needs
    * the exact ranking of EVERY pair anyway (it is the baseline being
    * compared against), so all-pairs windows are its honest cost —
    * [[binaryTopK]] itself never scores a float until stage 2. */
  private def binaryScored(
      corpus: DataFrame, queries: DataFrame, dim: Int): DataFrame = {
    def packed(df: DataFrame, idAlias: String): DataFrame =
      withNorm(df, "vec_id", idAlias)
        .withColumn("__bits", binarySignWords(col("embedding"), dim))
    val c = packed(corpus, "vec_id")
    val q = broadcast(packed(queries, "query_id")
      .withColumnRenamed("embedding", "q_emb")
      .withColumnRenamed("__norm", "q_norm")
      .withColumnRenamed("__bits", "q_bits"))
    c.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        binaryHamming(col("__bits"), col("q_bits")).as("hamming"),
        round(dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("__norm")), 4)
          .as("cos_sim"))
      .withColumn("__hr", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("hamming").asc, col("vec_id").asc)))
  }

  /** Two-stage binary-quantized retrieval: Hamming over the packed sign
    * planes generates k*rerankFactor candidates per query (ties on
    * vec_id), exact full-precision cosine re-ranks the survivors — the
    * [[truncatedTopK]] generate-cheap/re-rank-exact contract with 1-bit
    * quantization as the compression. At 100 TB the Hamming stage is the
    * only corpus-wide pass and it reads 1/32 of the embedding bytes
    * (store `sign_bits` as its own column and column pruning does the
    * rest); the re-rank touches k*rf rows per query.
    *
    * Output: (query_id, vec_id, hamming, cos_sim, rank).
    */
  def binaryTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int = 64,
      rerankFactor: Int = 4): DataFrame = {
    require(k >= 1 && rerankFactor >= 1)
    // stage 1 touches ONLY the packed bits — a popcount scan with the
    // bounded [[aggTopK]] finisher (score = −hamming: desc = Hamming
    // asc, ties on vec_id), so the shuffle carries k·rf survivors per
    // query per partition, never the corpus
    val c = corpus.select(col("vec_id"),
      binarySignWords(col("embedding"), dim).as("__bits"))
    val qb = broadcast(queries.select(col("vec_id").as("query_id"),
      binarySignWords(col("embedding"), dim).as("q_bits")))
    val cand = c.crossJoin(qb)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (-binaryHamming(col("__bits"), col("q_bits"))).cast("double")
          .as("cos_sim"))
    val surv = aggTopK(cand, k * rerankFactor)
      .select(col("query_id"), col("vec_id"),
        (-col("cos_sim")).cast("long").as("hamming"))
    // stage 2: full-precision fetch BY ID of the k·rf survivors; the
    // final rank window runs over <= k·rf rows per query
    surv
      .join(withNorm(corpus, "vec_id", "vec_id"), "vec_id")
      .join(broadcast(withNorm(queries, "vec_id", "query_id")
        .withColumnRenamed("embedding", "q_emb")
        .withColumnRenamed("__norm", "q_norm")), "query_id")
      .select(col("query_id"), col("vec_id"), col("hamming"),
        round(dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("__norm")), 4)
          .as("cos_sim"))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "hamming", "cos_sim", "rank")
  }

  /** Recall@k of [[binaryTopK]] against the exact cosine top-k, swept
    * over rerank factors — the tuning dial that says how much Hamming
    * candidate width buys back the 1-bit quantization loss. One all-
    * pairs scoring pass feeds every rf AND the exact baseline (the
    * exact list is the cos_sim ranking of the same scored frame), so
    * the sweep costs one corpus scan regardless of how many factors it
    * reports. Output: (rf, exact_pairs, bin_pairs, hit_pairs,
    * recall_at_k), one row per rf; the recall is a single
    * integer-ratio IEEE division, bit-exact in any engine.
    */
  def binaryRecall(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int = 64,
      rerankFactors: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    require(k >= 1 && rerankFactors.nonEmpty && rerankFactors.forall(_ >= 1))
    require(rerankFactors.distinct.size == rerankFactors.size,
      s"duplicate rerank factors: $rerankFactors")
    val scored = CacheRegistry.persist(binaryScored(corpus, queries, dim))
    scored.count()
    val exact = scored
      .withColumn("__er", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("vec_id").asc)))
      .filter(col("__er") <= k)
      .select(col("query_id"), col("vec_id"), lit(1).as("__hit"))
    val exactTotal = broadcast(exact.agg(count(lit(1)).as("exact_pairs")))
    val rfs = rerankFactors.sorted.map(lit(_))
    val bin = scored
      .select(col("query_id"), col("vec_id"), col("cos_sim"), col("__hr"),
        explode(array(rfs: _*)).as("rf"))
      .filter(col("__hr") <= lit(k) * col("rf"))
      .withColumn("rank", row_number().over(Window.partitionBy("rf", "query_id")
        .orderBy(col("cos_sim").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)
    bin.join(exact, Seq("query_id", "vec_id"), "left")
      .groupBy("rf")
      .agg(count(lit(1)).as("bin_pairs"), count(col("__hit")).as("hit_pairs"))
      .crossJoin(exactTotal)
      .withColumn("recall_at_k",
        col("hit_pairs").cast("double") / col("exact_pairs").cast("double"))
      .select("rf", "exact_pairs", "bin_pairs", "hit_pairs", "recall_at_k")
      .orderBy("rf")
  }

  /** Greedy k-center (farthest-point) coreset — Gonzalez's 2-approx to
    * the k-center cover, the standard DIVERSITY selection for training
    * subsets: each round adds the point farthest (in cosine distance)
    * from everything already selected, so the picks spread across the
    * embedding space instead of oversampling dense clusters (the
    * opposite failure mode of similarity search). The k-th pick's
    * distance IS the covering radius — the telemetry that says how well
    * k exemplars blanket the corpus.
    *
    * Determinism / oracle: seed = smallest vec_id; distance = 1 −
    * round(cos, 6) (one pinned division per pair, the centroid-
    * assignment convention); argmax ties to the SMALLEST vec_id via
    * one struct-max aggregate. Every round is ONE corpus pass (a least()
    * against the single new center — broadcast one row) plus one
    * answer-sized argmax; the running min-distance column makes round
    * cost independent of how many centers are already chosen (the
    * incremental form of the textbook algorithm). k is a small constant
    * ⇒ k corpus passes, the published shape; state is cut every round
    * (the [[Pca.dominantComponent]] loop discipline). Zero-norm vectors
    * are excluded (cosine undefined — the [[Pca.isotropy]] convention).
    * Output: (rank, vec_id, dist_to_selected) — rank 1 is the seed with
    * distance NULL; rank i>1's distance is its min-distance at
    * selection time (non-increasing; the last row bounds the cover).
    */
  def kCenterSample(emb: DataFrame, k: Int): DataFrame = {
    require(k >= 2 && k <= 64, s"k must be in [2,64], got $k")
    val spark = emb.sparkSession
    import org.apache.spark.sql.Row
    val base = CacheRegistry.cut(
      withNorm(emb, "vec_id", "vec_id").filter(col("__norm") > 0))
    // loud precondition instead of a bare NoSuchElementException from
    // the seed/argmax head() calls: k is range-checked above but the
    // corpus wasn't, and zero-norm exclusion can shrink it below k
    // (one answer-sized count against a k<=64 corpus-pass loop — noise)
    val n = base.count()
    require(n >= k, s"kCenterSample needs at least k=$k vectors with " +
      s"nonzero norm; input has $n")
    def distTo(cEmb: Array[Float], cNorm: Double): Column = {
      val cl = array(cEmb.map(v => lit(v)): _*)
      lit(1.0) - round(dot(col("embedding"), cl)
        / (col("__norm") * lit(cNorm)), 6)
    }
    val seedRow = base.orderBy(col("vec_id").asc).head()
    var picks = List[(Long, Option[Double])]((seedRow.getAs[Long]("vec_id"), None))
    var state = CacheRegistry.cut(base
      .filter(col("vec_id") =!= seedRow.getAs[Long]("vec_id"))
      .withColumn("__md",
        distTo(seedRow.getAs[scala.collection.Seq[Float]]("embedding").toArray,
          seedRow.getAs[Double]("__norm"))))
    for (_ <- 2 to k) {
      // struct-max picks (largest distance, then smallest id): one
      // aggregate, never a global sort
      val top = state
        .agg(max(struct(col("__md"), (-col("vec_id")).as("__ni"))).as("__m"))
        .select((-col("__m.__ni")).as("vec_id"), col("__m.__md").as("d"))
        .head()
      val picked = top.getAs[Long]("vec_id")
      picks = (picked, Some(top.getAs[Double]("d"))) :: picks
      val pickedRow = base.filter(col("vec_id") === picked).head()
      val prev = state
      state = CacheRegistry.cut(prev
        .filter(col("vec_id") =!= picked)
        .withColumn("__md", least(col("__md"),
          distTo(pickedRow.getAs[scala.collection.Seq[Float]]("embedding").toArray,
            pickedRow.getAs[Double]("__norm")))))
      CacheRegistry.free(prev)
    }
    import spark.implicits._
    picks.reverse.zipWithIndex
      .map { case ((id, d), i) => (i + 1, id, d) }
      .toDF("rank", "vec_id", "dist_to_selected")
      .select(col("rank"), col("vec_id"),
        col("dist_to_selected").cast("double").as("dist_to_selected"))
  }
}
