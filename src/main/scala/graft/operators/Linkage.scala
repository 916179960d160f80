package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked record linkage (entity resolution) — score candidate record
  * pairs by weighted field-agreement rules and tier them into
  * match / possible / non-match, the Fellegi–Sunter decision shape with
  * caller-supplied agreement weights.
  *
  * Scale shape: candidate generation is BLOCKED — records meet only
  * inside equal `blockCol` values (the standard linkage move: a
  * deterministic cheap key — region, zip prefix, phonetic code — bounds
  * the quadratic), so pair count follows Σ block² not n². The block join
  * is a self-equi-join on the block key (one shuffle each side, AQE
  * handles skewed blocks), and every rule evaluates inside the join
  * projection — codegen'd comparisons, no UDFs, no driver loop. An
  * oversized block (a null-ish or default-valued key) is the classic
  * linkage failure mode: `maxBlockSize` drops such blocks loudly into
  * the `oversized_blocks` count rather than letting one block go
  * quadratic at corpus scale.
  *
  * Determinism: the score is a FIXED expression tree (w₁·f₁ + w₂·f₂ + …
  * in rule order, not a SUM aggregation), so it is bit-reproducible and
  * replayable in any engine.
  */
object Linkage {

  /** One agreement rule: `pred(a, b)` builds the boolean agreement column
    * from the two sides' column accessors; `weight` is added to the score
    * when it holds. (Disagreement penalties = negative-weight rules on
    * the negated predicate.)
    */
  final case class LinkRule(
      name: String,
      weight: Double,
      pred: (String => Column, String => Column) => Column)

  /** Score all within-block pairs of `records`. Output: (id_a, id_b,
    * one boolean column per rule, score, tier) for pairs scoring at or
    * above `possibleAt` — sub-threshold pairs are dropped in the join
    * projection, so the full quadratic never materializes past the
    * filter. Tiers: score ≥ `matchAt` → 'match', ≥ `possibleAt` →
    * 'possible'.
    */
  /** `broadcastSide = true` broadcasts the b-side: the right plan when
    * the record table fits an executor (a dedup pass over a dimension
    * table) — the block join then needs NO shuffle and its parallelism
    * follows the a-side's input partitions instead of the block-key
    * cardinality (a 25-nation block column caps a shuffled self-join at
    * 25 busy tasks however many cores exist). At corpus scale leave it
    * false: high-cardinality blocking keys parallelize the shuffle join
    * naturally.
    */
  def linkPairs(
      records: DataFrame,
      idCol: String,
      blockCol: String,
      rules: Seq[LinkRule],
      matchAt: Double,
      possibleAt: Double,
      maxBlockSize: Int = 4096,
      broadcastSide: Boolean = false): DataFrame = {
    require(rules.nonEmpty, "at least one rule")
    require(matchAt >= possibleAt, "matchAt must be >= possibleAt")
    require(maxBlockSize > 1)
    // a small single-file table scans as 1-2 partitions; under
    // broadcastSide the probe side's partitioning IS the parallelism of
    // the whole pair evaluation, so spread it before the block join
    val recordsP = Parallelism.ensure(records, idCol)

    // block-size guard: cap-exceeding blocks are excluded from pair gen
    // (they'd dominate the quadratic); count them so the exclusion is
    // visible telemetry, not silence
    val sizes = recordsP.groupBy(blockCol)
      .agg(count(lit(1)).as("__bn"))
    val okBlocks = sizes.filter(col("__bn") <= maxBlockSize)
      .select(col(blockCol))

    // block list broadcast only under broadcastSide (the caller's
    // records-fit-an-executor assertion covers the ≤1-row-per-block list);
    // in the shuffled regime block cardinality may be id-like — keep it
    // a shuffle join there
    val okB = if (broadcastSide) broadcast(okBlocks) else okBlocks
    val slim = recordsP.join(okB, Seq(blockCol))
    def side(tag: String) = slim.select(
      col(blockCol).as(s"__blk_$tag") +:
        slim.columns.filterNot(_ == blockCol).map(c => col(c).as(s"${tag}_$c")): _*)

    val a: String => Column = c => col(s"a_$c")
    val b: String => Column = c => col(s"b_$c")
    val flags = rules.map(r => r.pred(a, b).as(r.name))
    val score = rules.map(r => when(col(r.name), r.weight).otherwise(0.0))
      .reduce(_ + _)

    val bSide = if (broadcastSide) broadcast(side("b")) else side("b")
    side("a").join(bSide,
        col("__blk_a") === col("__blk_b") &&
          col(s"a_$idCol") < col(s"b_$idCol"))
      .select(col(s"a_$idCol").as("id_a") +: col(s"b_$idCol").as("id_b")
        +: flags: _*)
      .withColumn("score", score)
      .filter(col("score") >= possibleAt)
      .withColumn("tier",
        when(col("score") >= matchAt, "match").otherwise("possible"))
  }

  /** Blocks excluded by `maxBlockSize` — (block value, size). Run it next
    * to [[linkPairs]] when auditing coverage of a linkage pass.
    */
  def oversizedBlocks(
      records: DataFrame, blockCol: String, maxBlockSize: Int = 4096): DataFrame =
    records.groupBy(blockCol)
      .agg(count(lit(1)).as("block_size"))
      .filter(col("block_size") > maxBlockSize)

  /** Fuzzy-string linkage: every same-block record pair scored with the
    * native codegen'd [[graft.functions.JaroWinkler]] over `textCol`,
    * kept at `threshold` or above. The score is rounded to 4dp BEFORE
    * the cut, so an engine ulp cannot flip pair membership — the same
    * rounded-comparison contract as every similarity operator here; the
    * block-size cap is the [[linkPairs]] quadratic guard. Where
    * [[linkPairs]] scores hand-written boolean rules, this is the
    * continuous-similarity complement (typo-tolerant name/title
    * matching). Output: (id_a, id_b, jw).
    */
  /** `broadcastSide`: with a LOW-cardinality block column (brands,
    * nations) a shuffled self-join runs the whole quadratic scoring on
    * ≤ |blocks| busy reducers however many cores exist (the r14 bench
    * caught q_fuzzy_pairs at 1.4 cores of 32). Broadcasting the probe
    * side lets the scan-side partitioning — rows, not blocks — drive
    * parallelism, the same knob as [[linkPairs]]; the broadcast is the
    * block-capped record slim (id, block, text), which is dimension-
    * table-sized for linkage catalogs. Leave false when records are
    * corpus-scale AND the block column is high-cardinality (there the
    * shuffle join is both necessary and well-spread).
    */
  def fuzzyPairs(
      records: DataFrame,
      idCol: String,
      blockCol: String,
      textCol: String,
      threshold: Double = 0.9,
      maxBlockSize: Int = 4096,
      broadcastSide: Boolean = false): DataFrame = {
    require(threshold >= 0.0 && threshold <= 1.0)
    require(maxBlockSize > 1)
    val recordsP = Parallelism.ensure(
      records.select(col(idCol), col(blockCol), col(textCol)), idCol)
    val okBlocks = recordsP.groupBy(blockCol)
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= maxBlockSize)
      .select(col(blockCol))
    val slim = recordsP.join(okBlocks, Seq(blockCol))
    val a = slim.select(col(blockCol).as("__blk"), col(idCol).as("id_a"),
      col(textCol).as("__ta"))
    val b = slim.select(col(blockCol).as("__blk"), col(idCol).as("id_b"),
      col(textCol).as("__tb"))
    // provably lossless length prefilter for high thresholds: with the
    // Winkler boost capped at l·p = 0.4, jw ≥ t forces jaro ≥ (t-.4)/.6,
    // and jaro ≤ (2 + min/max)/3 (m ≤ min(la,lb), transpositions only
    // lower it) — so min/max ≥ 5t − 4. The 5e-5 slack covers the
    // round-to-4dp-before-cut contract (a true 0.89996 rounds UP into
    // the kept set); the cheap length compare skips the O(la·lb)
    // matcher for pairs that cannot reach the cut.
    //
    // The bound only holds in the UNIT the scorer counts — UTF-16 code
    // units — while Spark's length() counts code points; on
    // supplementary-plane text the two diverge and the cut could drop a
    // true match. So the guard applies only where octet_length == length
    // (pure ASCII: bytes == units == points); any non-ASCII pair skips
    // it and goes straight to the scorer.
    val lenGuard =
      if (threshold > 0.8) {
        val r = 5.0 * (threshold - 5e-5) - 4.0
        val asciiPair =
          octet_length(col("__ta")) === length(col("__ta")) &&
            octet_length(col("__tb")) === length(col("__tb"))
        !asciiPair ||
          least(length(col("__ta")), length(col("__tb"))).cast("double") >=
            lit(r) * greatest(length(col("__ta")), length(col("__tb"))).cast("double")
      } else lit(true)
    val bSide = if (broadcastSide) broadcast(b) else b
    a.join(bSide, "__blk")
      .filter(col("id_a") < col("id_b"))
      .filter(lenGuard)
      .select(col("id_a"), col("id_b"),
        round(graft.functions.GraftFunctions
          .jaro_winkler(col("__ta"), col("__tb")), 4).as("jw"))
      .filter(col("jw") >= threshold)
  }

  /** Sorted-neighborhood linkage (the Hernández–Stolfo merge/purge
    * method): rank every record in the total order (`sortCol`, `idCol`),
    * score each record against the `window − 1` records that FOLLOW it
    * in that order, keep Jaro-Winkler ≥ `threshold` (4dp-rounded before
    * the cut, the house contract). Output: (id_a, id_b, jw) with id_a
    * the LOWER-RANK side.
    *
    * The method is the structural complement of block-based linkage
    * ([[fuzzyPairs]]): blocking compares everything that shares a key
    * and misses cross-block matches; SNM compares a FIXED-width sliding
    * window over a sort order designed so near-duplicates land adjacent
    * (name, normalized address, …) — candidate count is exactly
    * n·(window−1) whatever the value distribution, the knob a curation
    * pipeline wants when one brand/domain would otherwise be a mega-
    * block.
    *
    * 100 TB shape, stepwise:
    *   1. global rank WITHOUT a single-partition window:
    *      `repartitionByRange(sortCol, idCol)` (sampled range bounds —
    *      Spark's own skew handling), rank within each range partition,
    *      add broadcast per-partition offsets (the two-level prefix-scan
    *      pattern of [[Sampling.deterministicShuffle]]). The rank is a
    *      property of the TOTAL ORDER, so sampled bounds cannot change
    *      the result, only balance.
    *   2. neighbor join via width-`window` rank blocks: side A at block
    *      ⌊rank/w⌋, side B replicated to its own and the PREVIOUS block
    *      — every pair with 1 ≤ rank_b − rank_a ≤ w−1 meets in exactly
    *      one block, each row is materialized ≤ 3 times total, and the
    *      join key (block id) is uniform by construction.
    */
  def sortedNeighborhoodPairs(
      records: DataFrame,
      idCol: String,
      sortCol: String,
      textCol: String,
      window: Int = 8,
      threshold: Double = 0.9): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(threshold >= 0.0 && threshold <= 1.0)
    import org.apache.spark.sql.expressions.Window
    val w = window.toLong
    val slim = records.select(col(idCol), col(sortCol), col(textCol))
    // PERSISTED AND MATERIALIZED BEFORE BRANCHING: __pid comes from a
    // SAMPLED range shuffle, so it is only consistent between the local-
    // rank branch and the offsets branch if both read the same
    // materialization — relying on exchange reuse to dedup the two
    // subtrees would break silently under spark.sql.exchange.reuse=false
    // (deterministicShuffle's md5-prefix bucket is data-derived and
    // immune; a sampled partition id is not)
    val ranged = CacheRegistry.persist(slim
      .repartitionByRange(col(sortCol), col(idCol))
      .withColumn("__pid", spark_partition_id()))
    ranged.count()
    // per-partition rank + broadcast offsets = global rank; the window
    // below partitions by __pid, i.e. range-partition-sized, never global
    val local = ranged.withColumn("__local", row_number()
      .over(Window.partitionBy("__pid").orderBy(col(sortCol), col(idCol)))
      .cast("long"))
    val offsets = ranged.groupBy("__pid").agg(count(lit(1)).as("__n"))
      .withColumn("__off",
        coalesce(sum(col("__n")).over(
          Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("__pid", "__off")
    val ranked = CacheRegistry.persist(local
      .join(broadcast(offsets), "__pid")
      .withColumn("__r", col("__local") + col("__off") - 1)
      .select(col(idCol), col(sortCol), col(textCol), col("__r")))
    val a = ranked.select(col(idCol).as("id_a"), col(textCol).as("__ta"),
      col("__r").as("__ra"), (col("__r") / w).cast("long").as("__blk"))
    val bBase = ranked.select(col(idCol).as("id_b"), col(textCol).as("__tb"),
      col("__r").as("__rb"))
    val b = bBase
      .withColumn("__blk", (col("__rb") / w).cast("long"))
      .unionByName(bBase
        .withColumn("__blk", (col("__rb") / w).cast("long") - 1))
    a.join(b, Seq("__blk"))
      .filter((col("__rb") - col("__ra")).between(lit(1L), lit(w - 1)))
      .select(col("id_a"), col("id_b"),
        round(graft.functions.GraftFunctions
          .jaro_winkler(col("__ta"), col("__tb")), 4).as("jw"))
      .filter(col("jw") >= threshold)
  }
}
