package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge tables. Companion to the
  * connected-components family ([[Dedup.dedupClusters]] /
  * [[Dedup.dedupClustersStar]]): where CC answers "which docs are the
  * same", PageRank answers "which nodes are structurally central" — on a
  * duplication/link graph the high-rank nodes are the template/boilerplate
  * hubs worth human review before a dedup pass deletes their whole
  * neighborhood.
  *
  * Scale shape per iteration: contributions shuffle ON THE EDGE (one
  * partial-combined aggregation keyed by dst), ranks are one row per
  * node, the dangling mass rides as a crossed ONE-ROW frame (no driver
  * collect — one action per iteration, the lineage cut), and the only
  * driver-bound value is the node count. Rank tables are cut each round
  * and released the round after.
  *
  * Determinism (the oracle contract): per-edge contributions are
  * quantized ONCE to 2^40 fixed point — floor(rank/outdeg · 2^40 + 0.5)
  * — so the per-node sum is exact integer addition in any partition
  * order, and the new rank is one pinned IEEE expression over that sum.
  * Float-summed PageRank is not even self-reproducible across runs.
  */
object Graph {

  private val Q = 1L << 40

  /** PageRank over `edges(srcCol, dstCol)` (directed; pass both
    * directions for an undirected graph). Node universe = src ∪ dst.
    * Dangling nodes (no out-edges) redistribute their mass uniformly.
    * Returns (node, rank) with Σ rank = 1 (up to quantization).
    *
    * `weightCol`: optional positive integer edge weights — a node's
    * mass splits ∝ weight/Σ(out-weights) instead of uniformly (for
    * [[spanLinkEdges]]-style graphs, the natural weight is how many
    * spans a pair shares). Unweighted is weight ≡ 1. Weights must be
    * integral: the out-strength stays an exact long, so the
    * fixed-point contribution `floor(rank·w/strength·2^40 + 0.5)`
    * remains one pinned IEEE expression per edge.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      iters: Int = 3,
      damping: Double = 0.85,
      weightCol: Option[String] = None): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    require(damping > 0.0 && damping < 1.0)

    // one cut up front: e backs 3 plans per iteration — without it the
    // whole edge-derivation subtree (for spanLinkEdges: chunk + md5 +
    // self-join) rides inside every iteration's optimizer pass
    val e = CacheRegistry.cut(weightCol match {
      case Some(wc) => edges
        .select(col(srcCol).as("src"), col(dstCol).as("dst"),
          col(wc).cast("long").as("w"))
        .groupBy("src", "dst").agg(sum(col("w")).as("w"))
      case None => edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .distinct()
        .withColumn("w", lit(1L))
    })
    val nodes = CacheRegistry.persist(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct())
    val outdeg = CacheRegistry.persist(e.groupBy("src").agg(sum(col("w")).as("deg")))
    val n = nodes.count()
    if (n == 0) {
      // NOT CacheRegistry.free: the returned frame still reads e's
      // checkpointed RDD if its own cache entry is ever evicted
      e.unpersist(blocking = false); outdeg.unpersist(blocking = false)
      return nodes.withColumn("rank", lit(0.0))
    }

    val base = lit(1.0 - damping) / lit(n)
    var ranks = nodes.withColumn("rank", lit(1.0) / lit(n))

    for (_ <- 0 until iters) {
      // exact long mass of dangling nodes (rank quantized once per node)
      // — a ONE-ROW frame crossed into the update instead of a driver
      // collect: one action per iteration (the cut), not two
      val dangDf = ranks.join(outdeg, col("node") === col("src"), "left_anti")
        .agg(coalesce(sum(floor(col("rank") * Q + 0.5).cast("long")), lit(0L))
          .as("__dang"))

      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst"),
          floor(col("rank") * col("w") / col("deg") * Q + 0.5).cast("long").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))

      // per-iteration cut, not persist: rank rows are one-per-node but
      // the PLAN doubles per round without truncation
      val next = CacheRegistry.cut(
        nodes.join(contribs, col("node") === col("dst"), "left")
          .crossJoin(dangDf)
          .select(col("node"),
            (base + lit(damping) *
              (coalesce(col("s"), lit(0L)).cast("double") / Q
                + col("__dang").cast("double") / lit(n) / Q)).as("rank")))
      // release, not unpersist: on the localCheckpoint path (no
      // checkpoint dir) rounds > 0 hold blocks a Dataset.unpersist
      // cannot evict; on the reliable path the dead round is checkpoint
      // FILES, which deleteFiles reclaims — safe here because `next` is
      // an eager cut with its own files before the predecessor goes
      CacheRegistry.free(ranks, deleteFiles = true)
      ranks = next
    }
    CacheRegistry.free(e, deleteFiles = true)
    outdeg.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    ranks
  }

  /** Personalized PageRank (random walk with restart to a SEED set): the
    * teleport distribution is uniform over `seeds` ∩ graph nodes instead
    * of all nodes, and dangling mass restarts to the seeds too — so rank
    * measures proximity to the seed set through graph structure. On a
    * duplication graph this is the contamination-expansion tool: seed the
    * handful of known-bad documents (leaked eval sets, spam templates)
    * and the high-PPR nodes are the copies and near-copies the seed
    * family reaches, ranked by connection strength — without scoring the
    * whole corpus against every seed pairwise.
    *
    * Same loop discipline and determinism contract as [[pageRank]]
    * (one action + one lineage cut per iteration, 2^40 fixed-point
    * contribution sums, pinned IEEE rank expression); Σ rank = 1 over
    * the graph. Seeds that are not graph nodes are ignored; an empty
    * intersection fails loudly (a silent all-zero rank table would read
    * as "no contamination" — the dangerous default).
    */
  def personalizedPageRank(
      edges: DataFrame,
      seeds: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      seedCol: String = "node",
      iters: Int = 3,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    require(damping > 0.0 && damping < 1.0)

    val e = CacheRegistry.cut(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct())
    val seedIds = seeds.select(col(seedCol).as("node")).distinct()
    val nodes = CacheRegistry.persist(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct()
        .join(seedIds.withColumn("__isSeed", lit(true)), Seq("node"), "left")
        .select(col("node"), coalesce(col("__isSeed"), lit(false)).as("__seed")))
    val outdeg = CacheRegistry.persist(e.groupBy("src").agg(count(lit(1)).as("deg")))
    val ns = nodes.filter(col("__seed")).count()
    require(ns > 0,
      "personalizedPageRank: no seed is a node of the graph — an all-zero " +
        "rank table would silently read as 'nothing reachable'")

    // per-node teleport share: 1/|seeds| on seeds, 0 elsewhere — the only
    // difference from pageRank's uniform 1/n base, carried through both
    // the base term and the dangling redistribution
    val seedShare = when(col("__seed"), lit(1.0) / lit(ns)).otherwise(lit(0.0))
    var ranks = nodes.withColumn("rank", seedShare)

    for (_ <- 0 until iters) {
      val dangDf = ranks.join(outdeg, col("node") === col("src"), "left_anti")
        .agg(coalesce(sum(floor(col("rank") * Q + 0.5).cast("long")), lit(0L))
          .as("__dang"))
      val contribs = e
        .join(ranks.select(col("node").as("src"), col("rank")), "src")
        .join(outdeg, "src")
        .select(col("dst"),
          floor(col("rank") / col("deg") * Q + 0.5).cast("long").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      val next = CacheRegistry.cut(
        nodes.join(contribs, col("node") === col("dst"), "left")
          .crossJoin(dangDf)
          .select(col("node"), col("__seed"),
            (lit(1.0 - damping) * seedShare + lit(damping) *
              (coalesce(col("s"), lit(0L)).cast("double") / Q
                + col("__dang").cast("double") / Q * seedShare)).as("rank")))
      CacheRegistry.free(ranks, deleteFiles = true)
      ranks = next
    }
    CacheRegistry.free(e, deleteFiles = true)
    outdeg.unpersist(blocking = false)
    val out = ranks.select("node", "rank")
    nodes.unpersist(blocking = false)
    out
  }

  /** The duplication-link graph: doc pairs sharing at least one span
    * fingerprint ([[Dedup.duplicateSpans]] substrate), both directions.
    * Feeds [[pageRank]] for boilerplate-hub centrality.
    *
    * `maxDocsPerSpan` is the quadratic-blowup guard: a span shared by d
    * docs contributes d² pair rows, so one ubiquitous boilerplate span
    * (a license header in 100k docs) would dwarf the whole graph; spans
    * above the cap are dropped BEFORE pair generation — same contract as
    * [[Similarity.lshNearDup]]'s pairListCutoff and
    * [[Tfidf.sparseCosinePairs]]' df cap.
    */
  def spanLinkEdges(docs: DataFrame, spanTokens: Int = 32, stride: Int = 16,
      maxDocsPerSpan: Int = 64): DataFrame =
    spanLinkEdgesWeighted(docs, spanTokens, stride, maxDocsPerSpan)
      .select("src", "dst")

  /** [[spanLinkEdges]] carrying the natural edge weight: how many
    * distinct spans the pair shares — feeds [[pageRank]]'s `weightCol`
    * so heavily-duplicating pairs pull proportionally more rank.
    */
  def spanLinkEdgesWeighted(docs: DataFrame, spanTokens: Int = 32,
      stride: Int = 16, maxDocsPerSpan: Int = 64): DataFrame = {
    require(maxDocsPerSpan >= 2)
    val spans = Dedup.spanFingerprints(docs, spanTokens, stride)
      .select("doc_id", "span_md5").distinct()
    // eager fill of the underlying fingerprint cache: the linking agg,
    // the slim join, and both self-join sides all hang off it — racing
    // stages on an unfilled cache re-run the chunk+md5 pipeline each
    spans.count()
    val linking = spans.groupBy("span_md5")
      .agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") > 1 && col("__nd") <= maxDocsPerSpan)
      .select("span_md5")
    val slim = spans.join(linking, "span_md5")
    val a = slim.select(col("span_md5"), col("doc_id").as("src"))
    val b = slim.select(col("span_md5"), col("doc_id").as("dst"))
    val pairs = a.join(b, "span_md5")
      .filter(col("src") < col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst"), col("w")))
  }

  /** The degree-orientation triangle substrate shared by
    * [[triangleCounts]] and [[triangleStats]]: canonical undirected
    * edges, per-node degrees, and each triangle enumerated EXACTLY once
    * as (u, v, w) ascending in the total order π(x) = (deg(x), x).
    *
    * Why orientation at 100 TB: the naive wedge join fans each vertex
    * into C(deg, 2) pairs, so one hub with degree 10⁶ alone yields
    * 5·10¹¹ wedge rows — the canonical graph-join skew failure. Orienting
    * every edge toward the HIGHER (deg, id) endpoint caps out-degree at
    * O(√m) for any graph (a node of degree d > √m has < √m higher-degree
    * neighbors, because Σdeg = 2m), so Σ outdeg² — the wedge row count —
    * is bounded by m^1.5 regardless of hub skew (Suri & Vassilvitskii,
    * WWW'11 "Counting Triangles and the Curse of the Last Reducer").
    * Every triangle {x,y,z} with π(x)<π(y)<π(z) appears as exactly one
    * closed wedge: both x→y and x→z are oriented out of x, and the
    * closing edge {y,z} is necessarily oriented y→z.
    */
  private def orientedTriangles(edges: DataFrame, srcCol: String,
      dstCol: String): (DataFrame, DataFrame, DataFrame) = {
    // canonical undirected pairs: a < b, self-loops out, both-direction
    // inputs collapse — one distinct shuffle keyed on the pair.
    // PERSISTED (CacheRegistry-tracked): und backs the degree agg plus
    // both orientation joins, and oriented backs three frames — without
    // the pins every branch re-derives the whole upstream edge pipeline
    // (for spanLinkEdges: the chunk+md5 self-join) once per reference
    val und = CacheRegistry.persist(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orientation carries the DESTINATION's degree: the wedge join below
    // re-derives π-order between two out-neighbors without re-joining deg
    val aLower = col("__da") < col("__db") ||
      (col("__da") === col("__db") && col("a") < col("b"))
    val oriented = CacheRegistry.persist(und
      .join(deg.select(col("node").as("a"), col("deg").as("__da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("__db")), "b")
      .select(
        when(aLower, col("a")).otherwise(col("b")).as("u"),
        when(aLower, col("b")).otherwise(col("a")).as("v"),
        when(aLower, col("__db")).otherwise(col("__da")).as("__dv")))
    // eager fill before the fan-out: three racing consumers on an
    // unfilled cache would each run the orientation joins themselves
    // (the lshNearDup AQE cache-race note)
    oriented.count()
    // wedges at u: out-neighbor pairs in π-order; closure = the oriented
    // edge v→w exists (orientation of {v,w} is forced by π(v) < π(w))
    val o2 = oriented.select(col("u"), col("v").as("w"), col("__dv").as("__dw"))
    val wedges = o1Wedges(oriented, o2)
    val tris = wedges
      .join(oriented.select(col("u").as("v"), col("v").as("w")),
        Seq("v", "w"), "left_semi")
      .select("u", "v", "w")
    (und, deg, tris)
  }

  private def o1Wedges(o1: DataFrame, o2: DataFrame): DataFrame =
    o1.join(o2, "u")
      .filter(col("__dv") < col("__dw") ||
        (col("__dv") === col("__dw") && col("v") < col("w")))

  /** Per-node triangle participation over an undirected graph (directed
    * or both-direction edge tables are canonicalized first). Output:
    * (node, triangles) for EVERY node of the graph, zero-participants
    * included — on a duplication graph ([[spanLinkEdges]]) the high
    * counts are the densely cross-copied template cliques, the structural
    * complement to [[pageRank]]'s centrality.
    */
  def triangleCounts(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val (_, deg, tris) = orientedTriangles(edges, srcCol, dstCol)
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("__t"))
    deg.select("node")
      .join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("__t"), lit(0L)).as("triangles"))
  }

  /** Incremental triangle maintenance: the per-node counts of triangles
    * CREATED by appending `newEdges` to `oldEdges` — every triangle of
    * the union that contains at least one new edge, each counted once.
    * `triangleCounts(old) + triangleDelta(old, new) =
    * triangleCounts(old ∪ new)` is the maintenance law (pinned by spec
    * and by the q_triangle_delta oracle, which replays the subtraction).
    *
    * Why enumeration beats recount at scale: each new triangle is found
    * THROUGH one of its new edges as a common-neighbor intersection in
    * the union adjacency, expanded from the LOWER-degree endpoint, so
    * the work is Σ over new edges of min(deg(a), deg(b)) —
    * proportional to the BATCH times the smaller endpoint degree, never
    * to the accumulated graph's triangle count, and a planted hub costs
    * only its neighbors' degrees (pinned by the ScaleCheck hub stanza).
    * The same append-vs-rebuild asymmetry as the IVFADC `appendIvfPq`
    * path.
    * Triangles formed by 2–3 new edges are reached through each of
    * them; the sorted-triple `distinct` collapses the multiplicity.
    * Output: (node, new_triangles) for nodes gaining ≥1.
    */
  def triangleDelta(
      oldEdges: DataFrame,
      newEdges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    def canon(df: DataFrame) = df
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val oldC = CacheRegistry.persist(canon(oldEdges))
    // an "appended" edge already present in the old graph creates nothing
    val newC = CacheRegistry.persist(
      canon(newEdges).join(oldC, Seq("a", "b"), "left_anti"))
    val union = oldC.unionByName(newC)
    val adj = CacheRegistry.persist(
      union.select(col("a").as("u"), col("b").as("v"))
        .unionByName(union.select(col("b").as("u"), col("a").as("v"))))
    adj.count()
    // common neighbors of each new edge's endpoints in the UNION graph:
    // expand the LOWER-degree endpoint's adjacency once, then ONE
    // (hi, w) equi-join keeps w ∈ N(hi) — the intersection never
    // materializes N(lo)×N(hi), and the expansion side is
    // min(deg(a), deg(b)) rows per edge. Expanding the min-ID endpoint
    // instead would fan a 10⁶-degree hub into 10⁶ rows per touching
    // edge (the [[orientedTriangles]] curse-of-the-last-reducer shape);
    // orienting by (deg, id) bounds the expansion at batch × min-degree
    // — for a hub edge that is the OTHER endpoint's degree. Degrees are
    // UNION degrees so the intersection semantics are unchanged
    // (π-orientation here only picks which side expands; the planted-hub
    // ScaleCheck stanza pins the bound). No-self-loop adjacency makes
    // w ≠ lo and w ≠ hi structural, no residual filter.
    val deg = adj.groupBy("u").agg(count(lit(1)).as("__deg"))
    val aLower = col("__da") < col("__db") ||
      (col("__da") === col("__db") && col("a") < col("b"))
    val orientedNew = newC
      .join(deg.select(col("u").as("a"), col("__deg").as("__da")), "a")
      .join(deg.select(col("u").as("b"), col("__deg").as("__db")), "b")
      .select(when(aLower, col("a")).otherwise(col("b")).as("lo"),
        when(aLower, col("b")).otherwise(col("a")).as("hi"))
    val tris = orientedNew
      .join(adj.select(col("u").as("lo"), col("v").as("__w")), Seq("lo"))
      .join(adj.select(col("u").as("hi"), col("v").as("__w")), Seq("hi", "__w"))
      .select(array_sort(array(col("lo"), col("hi"), col("__w"))).as("__t"))
      .distinct()
    tris.select(explode(col("__t")).as("node"))
      .groupBy("node").agg(count(lit(1)).as("new_triangles"))
  }

  /** Synchronous label-propagation community detection (Raghavan,
    * Albert, Kumara 2007, made deterministic): every node starts
    * labeled with its own id; each round, every node SIMULTANEOUSLY
    * adopts the most frequent label among its neighbors, ties broken
    * by the SMALLEST label — the argmax is over exact integer counts
    * with an integer tie-break, so rounds contain no floats, no
    * randomness, and no update-order dependence (asynchronous LPA, the
    * usual formulation, is schedule-dependent and cannot carry an
    * oracle). Fixed `iters` rounds rather than convergence: synchronous
    * LPA can 2-cycle on bipartite structure, so a fixpoint test is not
    * well-defined — callers pick the horizon, the oracle replays it
    * exactly. Communities are the label partition after the last round:
    * denser substructure than connected components (a chain fragments
    * where CC keeps it whole), coarser than k-core's survivors.
    *
    * Scale shape, the [[pageRank]] loop discipline: each round is one
    * edge-keyed join (labels onto neighbors), one (node, label) count
    * aggregate with map-side combine, one argmax aggregate via
    * max(struct(count, −label)) — NO per-node window — and a lineage
    * cut; dead rounds release their checkpoint files. Isolated nodes
    * don't exist in an edge table; nodes keep their label if the
    * neighbor aggregate somehow misses them (left join + coalesce).
    * Output: (node, label).
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    val und = CacheRegistry.cut(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    val adj = CacheRegistry.persist(
      und.select(col("a").as("u"), col("b").as("v"))
        .unionByName(und.select(col("b").as("u"), col("a").as("v"))))
    adj.count()
    val nodes = CacheRegistry.persist(adj.select(col("u").as("node")).distinct())
    var labels = nodes.withColumn("label", col("node"))
    for (_ <- 0 until iters) {
      // neighbor label counts: one join keyed on the edge source, one
      // (node, label) hash aggregate; argmax by (count desc, label asc)
      // = max(struct(count, -label)) — labels are node ids, which the
      // negation requires to be non-negative (enforced by the struct
      // decode below never seeing Long.MinValue on real id spaces)
      val counts = adj
        .join(labels.select(col("node").as("u"), col("label")), "u")
        .groupBy(col("v").as("node"), col("label"))
        .agg(count(lit(1)).as("__c"))
      val winners = counts.groupBy("node")
        .agg(max(struct(col("__c"), (-col("label")).as("__nl"))).as("__w"))
        .select(col("node"), (-col("__w.__nl")).as("__new"))
      val next = CacheRegistry.cut(
        labels.join(winners, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("__new"), col("label")).as("label")))
      CacheRegistry.free(labels, deleteFiles = true)
      labels = next
    }
    CacheRegistry.free(und, deleteFiles = true)
    adj.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    labels
  }

  /** Multi-source BFS levels: the hop distance from the nearest of a
    * SEED set to every reachable node of the undirected graph, by
    * synchronous min-distance relaxation — `maxDepth` rounds of
    * "dist(v) = min(dist(v), min over neighbors u of dist(u)+1)".
    * Distances are exact integers with a unique fixpoint, so any
    * unroll ≥ the true eccentricity replays the loop exactly (the
    * [[kCore]] determinism contract); unreached nodes simply don't
    * appear. On a duplication graph this is the contamination-radius
    * complement to [[personalizedPageRank]]: PPR ranks proximity by
    * walk probability, BFS levels answer the discrete "how many
    * copy-hops from a known-bad document" — the audit question.
    *
    * Scale shape, the [[pageRank]] loop discipline: each round is one
    * frontier join keyed on the edge source (the FRONTIER, not the
    * full distance table, drives the expansion — work per round is
    * frontier-adjacency-sized), one min-aggregate, one anti-join to
    * drop already-settled nodes, and a lineage cut; one action per
    * round (the frontier count, which also provides early exit when
    * the frontier empties before maxDepth).
    * Output: (node, dist), seeds at dist 0.
    */
  def bfsLevels(
      edges: DataFrame,
      seeds: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      seedCol: String = "node",
      maxDepth: Int = 10): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 64, s"maxDepth: $maxDepth")
    val und = CacheRegistry.cut(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    val adj = CacheRegistry.persist(
      und.select(col("a").as("u"), col("b").as("v"))
        .unionByName(und.select(col("b").as("u"), col("a").as("v"))))
    adj.count()
    // seeds restricted to graph nodes: a seed outside the graph has no
    // edges to relax through and would report dist 0 for a node that
    // isn't a node — match the q_ppr seed convention (ignored)
    val nodes = adj.select(col("u").as("node")).distinct()
    var settled = CacheRegistry.cut(
      seeds.select(col(seedCol).as("node")).distinct()
        .join(nodes, Seq("node"), "left_semi")
        .withColumn("dist", lit(0)))
    var frontier = settled
    var depth = 0
    var frontierSize = frontier.count()
    while (depth < maxDepth && frontierSize > 0L) {
      // expand the FRONTIER only; already-settled nodes keep their
      // (necessarily smaller) distance via the anti-join
      val next = CacheRegistry.cut(
        adj.join(frontier.select(col("node").as("u"), col("dist")), "u")
          .groupBy(col("v").as("node"))
          .agg((min(col("dist")) + 1).as("dist"))
          .join(settled, Seq("node"), "left_anti"))
      val grown = CacheRegistry.cut(settled.unionByName(next))
      CacheRegistry.free(settled, deleteFiles = false)
      if (depth > 0) CacheRegistry.free(frontier, deleteFiles = false)
      settled = grown
      frontier = next
      frontierSize = frontier.count()
      depth += 1
    }
    adj.unpersist(blocking = false)
    CacheRegistry.free(und, deleteFiles = true)
    settled
  }

  /** Multi-source weighted shortest paths, hop-bounded: the minimum
    * total edge weight from the nearest seed to every node reachable
    * within `maxRounds` edges — synchronous Bellman-Ford relaxation
    * where only the FRONTIER (nodes improved last round) expands.
    * [[bfsLevels]]' settled-first-wins shortcut is unit-weight-only (the
    * first arrival is NOT the cheapest under weights), so here a node
    * re-enters the frontier whenever a cheaper path arrives; with
    * non-negative integer weights every cost is an exact long sum and
    * the round-k table is the unique "cheapest ≤ k-hop cost" — replayed
    * verbatim by the unrolled oracle. Parallel edges collapse to their
    * MINIMUM weight during canonicalization (the only weight a shortest
    * path could use).
    *
    * On the span-duplication graph with w = shared-span count this
    * reads as cheapest contamination route; the natural pipeline cost
    * semantics (more shared spans = closer) belongs to [[bfsLevels]]/
    * [[personalizedPageRank]] — this operator is the generic weighted
    * metric for caller-supplied costs.
    *
    * Scale shape, the [[pageRank]] loop discipline: per round one
    * frontier-adjacency join, one min-aggregate, one left join against
    * the distance table (distance-table-sized, node-keyed), a lineage
    * cut, one action (the improved count, doubling as early exit).
    * Output: (node, cost), seeds at 0.
    */
  def ssspCosts(
      edges: DataFrame,
      seeds: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      weightCol: String = "w",
      seedCol: String = "node",
      maxRounds: Int = 10): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 64, s"maxRounds: $maxRounds")
    // enforce the documented weight contract up front (one cheap agg
    // over the edge table) instead of silently truncating: a fractional
    // weight would cast-to-long as a WRONG cost (0.7 -> 0), a negative
    // weight voids the ≤-k-hop minimality claim, a null would flow
    // through the improvement filter into the output
    val wd = col(weightCol).cast("double")
    val wchk = edges.agg(count(lit(1)).as("n"), count(wd).as("nw"),
      min(wd).as("mn"), max(abs(wd - floor(wd))).as("frac")).head()
    require(wchk.getLong(0) == wchk.getLong(1),
      s"ssspCosts: $weightCol has ${wchk.getLong(0) - wchk.getLong(1)} null weights")
    if (wchk.getLong(0) > 0) {
      require(wchk.getDouble(2) >= 0.0,
        s"ssspCosts: negative weight ${wchk.getDouble(2)} — " +
          "hop-bounded minimality requires non-negative costs")
      require(wchk.getDouble(3) == 0.0,
        s"ssspCosts: fractional weights (max frac part ${wchk.getDouble(3)}) — " +
          "costs are exact integer sums; pre-scale to integers")
    }
    val und = CacheRegistry.cut(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"),
        col(weightCol).cast("long").as("w"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(min(col("w")).as("w")))
    val adj = CacheRegistry.persist(
      und.select(col("a").as("u"), col("b").as("v"), col("w"))
        .unionByName(und.select(col("b").as("u"), col("a").as("v"), col("w"))))
    adj.count()
    val nodes = adj.select(col("u").as("node")).distinct()
    var dist = CacheRegistry.cut(
      seeds.select(col(seedCol).as("node")).distinct()
        .join(nodes, Seq("node"), "left_semi")
        .withColumn("cost", lit(0L)))
    var frontier = dist
    var round = 0
    var improvedCnt = frontier.count()
    while (round < maxRounds && improvedCnt > 0L) {
      val cand = adj
        .join(frontier.select(col("node").as("u"), col("cost")), "u")
        .groupBy(col("v").as("node"))
        .agg(min(col("cost") + col("w")).as("__c"))
      val improved = CacheRegistry.cut(cand
        .join(dist.select(col("node"), col("cost").as("__old")), Seq("node"), "left")
        .filter(col("__old").isNull || col("__c") < col("__old"))
        .select(col("node"), col("__c").as("cost")))
      val grown = CacheRegistry.cut(
        dist.join(improved.select("node"), Seq("node"), "left_anti")
          .unionByName(improved))
      CacheRegistry.free(dist, deleteFiles = false)
      if (round > 0) CacheRegistry.free(frontier, deleteFiles = false)
      dist = grown
      frontier = improved
      improvedCnt = frontier.count()
      round += 1
    }
    adj.unpersist(blocking = false)
    CacheRegistry.free(und, deleteFiles = true)
    dist
  }

  /** The k-core of an undirected graph: the maximal subgraph in which
    * every node has degree ≥ k, computed by iterated peeling (drop
    * under-degree nodes, recompute degrees, repeat to fixpoint). On a
    * duplication graph the 2-core separates template FAMILIES (cycles,
    * cliques) from incidental pairwise matches (trees peel away
    * completely) — the standard pre-filter before clique-shaped dedup
    * review. Returns (node, deg): the surviving nodes with their degree
    * INSIDE the core.
    *
    * Scale shape, the [[pageRank]] loop discipline: each round is one
    * degree aggregation (map-side combined, shuffled on node) and two
    * semi-joins (shuffled on the edge endpoints), one driver action
    * (the edge count — the convergence test), and a lineage cut so the
    * plan stays round-sized; dead rounds release their checkpoint files
    * eagerly. Rounds needed = the graph's peel depth (degeneracy
    * layers), a handful on real duplication graphs; `maxIters` fails
    * LOUDLY rather than returning a half-peeled subgraph as if it were
    * the core.
    *
    * Determinism: peeling is a monotone set operation (no floats, no
    * ties) — the fixpoint is unique, so ANY sufficiently-unrolled replay
    * (the q_kcore oracle's fixed CTE rounds) reaches the identical set.
    */
  def kCore(edges: DataFrame, k: Int, srcCol: String = "src",
      dstCol: String = "dst", maxIters: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxIters >= 1)
    var und = CacheRegistry.cut(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    var prevEdges = und.count()
    var iters = 0
    while (iters < maxIters) {
      val deg = und.select(col("a").as("node"))
        .union(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("node")
      if (prevEdges == 0L) {
        // materialize the (empty) result before releasing its input cut —
        // a lazy frame over deleted checkpoint files fails at the
        // caller's first action
        val out = CacheRegistry.cut(deg.filter(col("deg") >= k))
        CacheRegistry.free(und, deleteFiles = true)
        return out
      }
      val next = CacheRegistry.cut(und
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .select("a", "b"))
      val m = next.count()
      if (m == prevEdges) {
        // fixpoint: every remaining node already has deg >= k
        CacheRegistry.free(next, deleteFiles = true)
        val core = deg.filter(col("deg") >= k)
        // materialize before releasing the backing cut (the caller's
        // frame must not read a released checkpoint)
        val out = CacheRegistry.cut(core)
        CacheRegistry.free(und, deleteFiles = true)
        return out
      }
      CacheRegistry.free(und, deleteFiles = true)
      und = next
      prevEdges = m
      iters += 1
    }
    CacheRegistry.free(und, deleteFiles = true)
    throw new IllegalStateException(
      s"kCore did not converge in $maxIters rounds — peel depth exceeds " +
        "the guard; raise maxIters")
  }

  /** Graph-level closure summary: node/edge counts, wedge count
    * Σ C(deg, 2), triangle count, and the global clustering coefficient
    * (transitivity) 3·T / wedges — the one-row telemetry that says
    * whether a duplication graph is chains (≈0, pairwise near-dups) or
    * cliques (→1, template families), which decides CC star-contraction
    * vs plain pair-dedup downstream. All counts are exact integers; the
    * coefficient is one pinned IEEE division over them. Aggregates are
    * crossed one-row frames — no driver collect.
    */
  def triangleStats(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val (und, deg, tris) = orientedTriangles(edges, srcCol, dstCol)
    und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes"),
        // DIV, not /: long `/` is double division, and a 100-TB-graph
        // wedge sum overflows double's 2^53 exact-integer range
        coalesce(sum(expr("deg * (deg - 1L) DIV 2L")), lit(0L))
          .as("n_wedges")))
      .crossJoin(tris.agg(count(lit(1)).as("n_triangles")))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") === 0L, lit(0.0))
          .otherwise(lit(3.0) * col("n_triangles") / col("n_wedges"))
          .as("global_clustering"))
  }

  /** Co-occurrence projection of a bipartite (group, item) relation:
    * items sharing a group become pairwise undirected edges — the
    * basket/co-purchase graph from an order table, the co-citation
    * graph from a link table. Canonical (src < dst, distinct) output.
    *
    * `maxItemsPerGroup` is the scale guard: one group with n items
    * emits C(n, 2) pairs, so a single 10⁵-item mega-group would emit
    * 5·10⁹ — groups above the cap are DROPPED (lower-bound semantics,
    * the [[spanLinkEdgesWeighted]] `maxDocsPerSpan` contract: a group
    * that large is a hub artifact, not signal, and its pairs would
    * dominate the graph with noise).
    */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
      maxItemsPerGroup: Int = 64): DataFrame = {
    require(maxItemsPerGroup >= 2)
    val gi = CacheRegistry.persist(
      df.select(col(groupCol).as("__g"), col(itemCol).as("__i")).distinct())
    gi.count() // the linking agg and both self-join sides read it
    val linking = gi.groupBy("__g").agg(count(lit(1)).as("__ni"))
      .filter(col("__ni") > 1 && col("__ni") <= maxItemsPerGroup)
      .select("__g")
    val slim = gi.join(linking, "__g")
    slim.select(col("__g"), col("__i").as("src"))
      .join(slim.select(col("__g"), col("__i").as("dst")), "__g")
      .filter(col("src") < col("dst"))
      .select("src", "dst").distinct()
  }

  /** Pairwise association rules over a (basket, item) relation — the
    * classic market-basket statistics on the [[coOccurrenceEdges]]
    * substrate: for every unordered item pair co-occurring in at least
    * `minSupportCount` baskets,
    *
    *  - `n_a`, `n_b`, `n_ab`: exact basket counts (distinct baskets),
    *  - `support` = n_ab / N over the N analyzed baskets,
    *  - `conf_a_b` = n_ab/n_a and `conf_b_a` = n_ab/n_b (both
    *    directions — rules are directional, pairs are not),
    *  - `lift` = n_ab·N / (n_a·n_b) — >1 is genuine affinity, ~1 is
    *    coincidence under independence.
    *
    * Ratios are single IEEE divisions over exact longs, rounded to 6dp
    * — engine-exact. Baskets larger than `maxItemsPerBasket` are
    * excluded from the WHOLE analysis (pair counts, item counts, and
    * N) — consistent denominators, not just a pair-generation cap; a
    * 10⁵-item mega-basket is a hub artifact whose C(n,2) fan-out would
    * dominate the join ([[coOccurrenceEdges]] contract).
    *
    * Scale shape: one distinct shuffle on (basket, item), one
    * basket-size aggregate, the capped same-basket pair join, one
    * item-count aggregate joined back — no corpus-sized window, no
    * driver loop; N rides as a crossed one-row frame.
    */
  def associationRules(
      df: DataFrame, basketCol: String, itemCol: String,
      minSupportCount: Int = 2, maxItemsPerBasket: Int = 64): DataFrame = {
    require(minSupportCount >= 1 && maxItemsPerBasket >= 2)
    val bi = CacheRegistry.persist(
      df.select(col(basketCol).as("__b"), col(itemCol).as("__i")).distinct()
        .join(
          df.select(col(basketCol).as("__b"), col(itemCol).as("__i")).distinct()
            .groupBy("__b").agg(count(lit(1)).as("__ni"))
            .filter(col("__ni") <= maxItemsPerBasket).select("__b"),
          Seq("__b")))
    bi.count() // N, item counts, and both pair-join sides read it
    val nBaskets = bi.agg(countDistinct(col("__b")).as("__N"))
    val itemCnt = bi.groupBy("__i").agg(count(lit(1)).as("__n"))
    val pairs = bi.select(col("__b"), col("__i").as("item_a"))
      .join(bi.select(col("__b"), col("__i").as("item_b")), "__b")
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupportCount)
    pairs
      .join(itemCnt.select(col("__i").as("item_a"), col("__n").as("n_a")), "item_a")
      .join(itemCnt.select(col("__i").as("item_b"), col("__n").as("n_b")), "item_b")
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("n_a"), col("n_b"), col("n_ab"),
        round(col("n_ab").cast("double") / col("__N"), 6).as("support"),
        round(col("n_ab").cast("double") / col("n_a"), 6).as("conf_a_b"),
        round(col("n_ab").cast("double") / col("n_b"), 6).as("conf_b_a"),
        round(col("n_ab").cast("double") * col("__N")
          / (col("n_a") * col("n_b")).cast("double"), 6).as("lift"))
  }

  /** Structural link prediction over an undirected graph: for every
    * NON-adjacent pair (a, b) sharing >= `minCommon` common neighbors,
    * the three classic local scores —
    *
    *  - `common_neighbors`: |Γ(a) ∩ Γ(b)| over capped-degree neighbors,
    *  - `jaccard`: cn / (deg(a) + deg(b) − cn), one pinned IEEE
    *    division at 4dp,
    *  - `resource_alloc`: Σ_z 1/deg(z) (Zhou/Lü/Zhang '09) — chosen over
    *    Adamic–Adar because it needs no logarithm (engine-varying last
    *    ulp); each term is quantized once to a 10^12 fixed-point long
    *    (`floor(1e12/deg + 0.5)` — one IEEE division + floor, identical
    *    in any engine) so the sum over the wedge stream is exact
    *    order-free integer addition (the [[pageRank]] contribution
    *    trick — cheaper than a decimal sum on the operator's biggest
    *    row count), divided back and rounded to 6dp.
    *
    * On a duplication graph ([[spanLinkEdges]]) a predicted link is a
    * pair of docs that share copies without sharing a span themselves —
    * the "sibling duplicates" the direct fingerprint join structurally
    * cannot see.
    *
    * Scale shape: the wedge join fans each CENTER into C(deg, 2) pairs,
    * so one 10⁶-degree hub alone would emit 5·10¹¹ rows — `maxDegree`
    * caps the fan-out at C(cap, 2) per node ABSOLUTELY, independent of
    * corpus size. The price is documented lower-bound semantics: a
    * common neighbor with deg > cap contributes to neither the count
    * nor the scores (its RA term 1/deg is the smallest in the sum, so
    * the score loss is the least-informative tail — the same
    * cap-the-hubs trade as [[graft.operators.Dedup]]'s `maxDf`).
    * Degrees in the jaccard denominator stay UNCAPPED — only wedge
    * enumeration is bounded.
    */
  def linkPredict(
      edges: DataFrame,
      maxDegree: Int = 64,
      minCommon: Int = 2,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(maxDegree >= 2 && minCommon >= 1)
    val und = CacheRegistry.persist(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    und.count() // eager: degrees, adjacency, and the anti-join all read it
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val adj = und.select(col("a").as("z"), col("b").as("x"))
      .union(und.select(col("b").as("z"), col("a").as("x")))
    // cap BEFORE the self-join: the capped center list is what bounds
    // the wedge row count at C(maxDegree, 2) per center
    val ctrAdj = adj.join(
      deg.filter(col("deg") <= maxDegree)
        .select(col("node").as("z"), col("deg").as("__dz")), "z")
    val wedges = ctrAdj
      .join(ctrAdj.select(col("z"), col("x").as("y")), "z")
      .filter(col("x") < col("y"))
    val nonAdj = wedges.join(und,
      wedges("x") === und("a") && wedges("y") === und("b"), "left_anti")
    // RA terms as 10^12 fixed-point LONGS, not decimal(18,12): the sum
    // runs over the wedge stream (the operator's biggest row count) and
    // long addition is several times cheaper than decimal — same
    // order-independence, same engine-exactness (floor(1e12/deg + 0.5)
    // is one IEEE division + one floor in either engine), and per-group
    // totals are ≤ cap·10^12/2, far inside signed-64
    val scored = nonAdj.groupBy("x", "y").agg(
      count(lit(1)).as("common_neighbors"),
      sum(floor(lit(1e12) / col("__dz") + 0.5).cast("long")).as("__ra"))
      .filter(col("common_neighbors") >= minCommon)
    scored
      .join(deg.select(col("node").as("x"), col("deg").as("__da")), "x")
      .join(deg.select(col("node").as("y"), col("deg").as("__db")), "y")
      .select(col("x").as("node_a"), col("y").as("node_b"),
        col("common_neighbors"),
        round(col("common_neighbors").cast("double")
          / (col("__da") + col("__db") - col("common_neighbors")), 4)
          .as("jaccard"),
        round(col("__ra").cast("double") / 1e12, 6).as("resource_alloc"))
  }

  /** HyperANF-style neighborhood function [Boldi, Rosa, Vigna:
    * "HyperANF: Approximating the Neighbourhood Function of Very Large
    * Graphs on a Budget", WWW'11] — per node, the estimated count of
    * nodes reachable within ≤ h hops (undirected), for every h up to
    * `maxHops`. THE scalable radius/diameter/centrality telemetry: an
    * exact h-hop closure materializes the transitive frontier
    * (quadratic on dense graphs); here each node carries one mergeable
    * HLL register set ([[Sketches.hllRegistersBy]], md5-portable) and a
    * hop is ONE edge join + max-merge — the register algebra makes
    * set-union associative/idempotent, so repeated/cyclic propagation
    * is answer-invisible, exactly the [[graft.operators.HllStore]]
    * replay argument on a graph.
    *
    * Scale shape: state is (node, idx, mrho) — at most nodes × 2^p rows
    * and only GROWS toward that bound as neighborhoods widen; each hop
    * is one shuffle join on the edge table plus a grouped max, with a
    * lineage cut per round (the [[pageRank]] loop discipline). maxHops
    * is a fixed small constant (diameters of interest), so the driver
    * loop is bounded. Output: (h, node, n_registers_used, s_fixed,
    * est_reach) — est includes the node itself; raw harmonic estimate
    * (one IEEE division per row, bit-replayable). Reach counts far
    * below 2.5·2^p sit in HLL's small-range bias regime where the raw
    * estimate asymptotes to α·m (~200 at p=8 — measured in ScaleCheck
    * on 32-cliques): pass `corrected = true` for an extra
    * `est_corrected` column with the linear-counting fallback. The
    * corrected column is spec-gated only — ln keeps it out of
    * hash-gated oracles (the [[Sketches.correctedEstimate]] contract).
    */
  def neighborhoodFunction(edges: DataFrame, maxHops: Int = 3,
      p: Int = 8, corrected: Boolean = false): DataFrame = {
    require(maxHops >= 1 && maxHops <= 8,
      s"maxHops must be in [1,8] (fixed small hop counts), got $maxHops")
    val e = CacheRegistry.cut(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    val nodes = e.select(col("src").as("node")).distinct()
    var state = CacheRegistry.cut(Sketches.hllRegistersBy(
      nodes.withColumn("__item", col("node").cast("string")),
      "__item", p, Seq("node")))
    val perHop = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (h <- 1 to maxHops) {
      val nbr = e.join(
          state.select(col("node").as("dst"), col("idx"), col("mrho")), "dst")
        .select(col("src").as("node"), col("idx"), col("mrho"))
      val prev = state
      state = CacheRegistry.cut(prev.unionByName(nbr)
        .groupBy("node", "idx").agg(max(col("mrho")).as("mrho")))
      CacheRegistry.free(prev)
      // the per-hop readout is CUT (nodes-sized) before the next round
      // releases the register state it reads — a lazy finalize over a
      // released checkpoint could not recompute
      perHop += CacheRegistry.cut(Sketches.hllFinalizeBy(state, p, Seq("node"))
        .select(lit(h).as("h"), col("node"), col("n_registers_used"),
          col("s_fixed"), col("est_distinct").as("est_reach")))
    }
    val out = perHop.reduce(_.unionByName(_))
    if (!corrected) out
    else out.withColumn("est_corrected",
      Sketches.correctedEstimate(p)(col("n_registers_used"), col("s_fixed")))
  }
}
