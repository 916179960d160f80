package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Fixed-memory probabilistic sketches for corpus-scale pipelines —
  * Bloom filter (incremental-ingest dedup pre-filter), count-min sketch
  * (approximate frequencies), HyperLogLog (approximate distinct count).
  *
  * All three are DETERMINISTIC and engine-portable: hashing is the
  * [[Dedup.md5Token60]] recipe (md5 hex prefix parsed base-16), so every
  * path replays bit-for-bit in DuckDB and carries a hash-match oracle —
  * unlike seeded xxhash/murmur sketches whose bits are engine-private.
  *
  * Why sketches at 100 TB: the exact alternatives all carry state
  * proportional to the data (a seen-key anti-join shuffles the history,
  * an exact top-k shuffles the vocabulary, a countDistinct shuffles every
  * key). Each sketch here is a few KB–MB regardless of corpus size, built
  * in one pass with map-side partial aggregation, and broadcast back for
  * O(1) per-row probes.
  */
object Sketches {

  /** Two independent 56-bit halves of ONE md5 — the Kirsch–Mitzenmacher
    * "Less Hashing, Same Performance" basis (ESA'06, their motivating use
    * case IS the Bloom filter): probe/row i derives as `a + i·b`, so a key
    * pays one md5 however many positions it needs (the r7 q_cms_topk cpu
    * was depth×md5 per token — this is the 4× cut that keeps the oracle).
    * Same hex split as [[Dedup.minHashSignaturesPortable]] (1-14, 17-30);
    * a,b < 2^56 keeps `a + i·b` inside signed 64 for i < 128, and the
    * whole construction replays bit-for-bit in any engine with md5.
    * Codegen subexpression elimination collapses the repeated md5 subtree
    * when both halves (or k array slots) appear in one projection.
    */
  private def md5HalfA(key: Column): Column =
    conv(substring(md5(key), 1, 14), 16, 10).cast("long")
  private def md5HalfB(key: Column): Column =
    conv(substring(md5(key), 17, 14), 16, 10).cast("long")

  /** The `k` Bloom bit positions for a content key: position i =
    * (a + i·b) mod mBits over the md5 halves — one md5 per key, k < 128.
    *
    * `portable = false` switches the (a, b) basis to two seeded xxhash64
    * calls (codegen-native, no hex formatting) — the in-engine family of
    * the same Kirsch–Mitzenmacher construction (the CMS/MinHash
    * precedent: fast bits are Spark-private, so only the md5 family
    * carries a hash-match oracle). xxhash64 spans the full signed range,
    * so the position arithmetic runs in pmod.
    */
  def bloomPositions(
      key: Column, mBits: Int, k: Int, portable: Boolean = true): Column = {
    require(k > 0 && k < 128, s"k must be in [1,128), got $k")
    if (portable) {
      val a = md5HalfA(key)
      val b = md5HalfB(key)
      array((0 until k).map(i => (a + lit(i.toLong) * b) % mBits): _*)
    } else {
      // reduce both halves below mBits BEFORE the i·b combination: raw
      // xxhash64 spans the full signed range and i·b would overflow
      // ANSI long arithmetic; bounded a,b keep a + 127·b < 2^38
      val a = pmod(xxhash64(lit(1), key), lit(mBits.toLong))
      val b = pmod(xxhash64(lit(2), key), lit(mBits.toLong - 1)) + 1
      array((0 until k).map(i =>
        pmod(a + lit(i.toLong) * b, lit(mBits.toLong))): _*)
    }
  }

  /** Dense Bloom bitset (one long per 64 bits) over the distinct keys of
    * `seen`. The shuffle carries DISTINCT bit positions (≤ mBits rows, with
    * map-side combine), the driver collect is ≤ mBits/64 word rows — both
    * bounded by the FIXED filter size, never by |seen|. At 100 TB: mBits
    * sized for the history's cardinality (~10 bits/key for 1% FP), built
    * once per ingest batch, shipped to executors as one array.
    */
  def buildBloomWords(
      seen: DataFrame, key: Column, mBits: Int, k: Int,
      portable: Boolean = true): Array[Long] = {
    require(mBits > 0 && mBits % 64 == 0,
      s"mBits must be a positive multiple of 64, got $mBits")
    require(mBits <= (1 << 30), s"bitset capped at 128 MB (2^30 bits), got $mBits")
    require(k > 0)
    val words = seen
      .select(explode_outer(bloomPositions(key, mBits, k, portable)).as("pos"))
      .filter(col("pos").isNotNull) // Dedup.safeExplodeNote
      .distinct()
      .select(shiftright(col("pos"), 6).as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("bit"))
      .groupBy("w").agg(expr("bit_or(bit)").as("word"))
      .collect()
    val arr = new Array[Long](mBits / 64)
    words.foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  /** Incremental-ingest dedup: which rows of `incoming` are new relative
    * to the `seen` history? EXACT result via a Bloom pre-filter:
    *
    *   1. build the history's Bloom bitset (fixed-size, broadcast);
    *   2. every incoming row gets `maybe_seen` from a codegen'd bitset
    *      probe — pure map-side, no shuffle;
    *   3. `maybe_seen = false` rows are DEFINITELY new (Bloom has no
    *      false negatives) and bypass the join entirely;
    *   4. only Bloom-positive candidates (true dups + the small FP share)
    *      anti-join the history for the exact verdict.
    *
    * At 100 TB with mostly-novel ingest, step 3 is the whole point: the
    * expensive history join runs on a few percent of the batch instead of
    * all of it. Output = incoming plus `maybe_seen` (the Bloom verdict)
    * and `is_new` (the exact verdict); `maybe_seen && is_new` rows are the
    * false positives — the measurable cost of the filter size chosen.
    */
  def incrementalDedup(
      incoming: DataFrame,
      seen: DataFrame,
      keyCol: String = "key",
      mBits: Int = 1 << 14,
      k: Int = 5,
      portable: Boolean = true): DataFrame = {
    val words = buildBloomWords(seen, col(keyCol), mBits, k, portable)
    val flagged = incoming.withColumn("maybe_seen",
      GraftFunctions.bloom_contains_all(
        bloomPositions(col(keyCol), mBits, k, portable), words))
    val definite = flagged.filter(!col("maybe_seen"))
      .withColumn("is_new", lit(true))
    val seenKeys = seen.select(col(keyCol)).distinct()
      .withColumn("__hit", lit(1))
    val checked = flagged.filter(col("maybe_seen"))
      .join(seenKeys, Seq(keyCol), "left")
      .withColumn("is_new", col("__hit").isNull)
      .drop("__hit")
    definite.unionByName(checked)
  }

  /** [[incrementalDedup]] over documents tables `(doc_id, text, ...)`:
    * content key = md5 of the normalized text
    * ([[TextAnalysis.normalizeText]]), the normalization-aware identity
    * also used by exactDedup. Shared by the q_incr_dedup oracle query and
    * `cli corpus -op incrdedup` so both drive ONE code path.
    */
  def incrementalDedupDocs(
      incoming: DataFrame, seen: DataFrame,
      mBits: Int = 1 << 14, k: Int = 5): DataFrame = {
    // no Parallelism.ensure here: the per-row work (normalize + md5) is
    // light and the bloom probe + stream-static join dominate — measured
    // strictly slower with the extra shuffle at sf0.1
    def keyed(d: DataFrame) = d.select(col("doc_id"),
      md5(TextAnalysis.normalizeText(col("text"))).as("key"))
    incrementalDedup(keyed(incoming), keyed(seen), "key", mBits, k)
  }

  /** Per-(item, j) counter index. Portable family: Kirsch–Mitzenmacher
    * over the md5 halves — hash ONCE per item (the halves are computed
    * before the depth explode), row j's index is integer arithmetic.
    * In-engine family: xxhash64 (codegen-native, no hex formatting) —
    * faster still, but its bits are Spark-private, so only the portable
    * family carries a hash-match oracle (the MinHash precedent).
    */
  private def withCmsIndex(
      rows: DataFrame, depth: Int, width: Int, portable: Boolean,
      carry: Seq[String]): DataFrame = {
    require(depth > 0 && depth < 128 && width > 0)
    val keyed =
      if (portable)
        rows.select(carry.map(col) :+ md5HalfA(col("item")).as("__a")
          :+ md5HalfB(col("item")).as("__b"): _*)
      else rows.select(carry.map(col) :+ col("item").as("__item"): _*)
    val exploded = keyed
      .select(col("*"), explode_outer(sequence(lit(0), lit(depth - 1))).as("j"))
      .filter(col("j").isNotNull) // Dedup.safeExplodeNote
    val idx =
      if (portable) (col("__a") + col("j") * col("__b")) % width
      else pmod(xxhash64(col("j"), col("__item")), lit(width.toLong))
    exploded.select(carry.map(col) :+ col("j") :+ idx.as("idx"): _*)
  }

  /** Count-min sketch over `items(itemCol)`: a depth×width counter table
    * (row j, counter idx, count), idx_j = (a + j·b) mod width over the
    * key's md5 halves ([[md5HalfA]] — one md5 per item, not per depth
    * row). One pass, map-side combined; the sketch is depth×width rows
    * whatever the vocabulary size. Estimates only ever OVER-count
    * (collisions add). `portable = false` switches the index family to
    * xxhash64 for in-engine use.
    */
  def cmsTable(
      items: DataFrame, itemCol: String, depth: Int, width: Int,
      portable: Boolean = true): DataFrame =
    withCmsIndex(items.select(col(itemCol).as("item")),
        depth, width, portable, Seq.empty)
      .groupBy("j", "idx").agg(count(lit(1)).as("cnt"))

  /** [[cmsTable]] from pre-aggregated (item, weight) rows: each counter
    * adds the weight instead of 1 — the sketch is IDENTICAL to hashing
    * every occurrence (counter sums commute), but the hash runs once per
    * DISTINCT item. On Zipf-shaped corpora this is the scale path: the
    * vocabulary groupBy is map-side combined (cheap), and hashing cost
    * follows |vocab|, not |tokens|.
    */
  def cmsTableWeighted(
      items: DataFrame, itemCol: String, weightCol: String,
      depth: Int, width: Int, portable: Boolean = true): DataFrame =
    withCmsIndex(items.select(col(itemCol).as("item"), col(weightCol).as("__w")),
        depth, width, portable, Seq("__w"))
      .groupBy("j", "idx").agg(sum(col("__w")).as("cnt"))

  /** Probe a count-min sketch: est(item) = min over rows j of
    * counter[j][idx_j(item)] (0 when the counter never filled). The sketch
    * side broadcasts — probes cost one tiny hash join, not a corpus scan.
    * `portable` MUST match the [[cmsTable]] that built the sketch.
    */
  def cmsEstimate(
      cms: DataFrame, probes: DataFrame, itemCol: String,
      depth: Int, width: Int, portable: Boolean = true): DataFrame =
    withCmsIndex(probes.select(col(itemCol).as("item")),
        depth, width, portable, Seq("item"))
      .join(broadcast(cms), Seq("j", "idx"), "left")
      .groupBy("item")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))

  /** CMS estimates beside the exact truth for the corpus's top-k tokens —
    * the sketch-vs-reality report q_cms_topk and `cli corpus -op cms`
    * share. est only ever over-counts ([[cmsTable]]).
    */
  def cmsTokenTopK(
      docs: DataFrame, depth: Int = 4, width: Int = 1 << 12,
      topK: Int = 10, portable: Boolean = true): DataFrame = {
    // ONE tokenize scan: the map-side-combined vocabulary count feeds BOTH
    // the sketch (via [[cmsTableWeighted]] — hash per distinct token, not
    // per occurrence; r7's 20 cpu-s was depth×md5×|tokens|) and the truth
    // top-k. Persisted + eagerly filled (two consumers — AQE cache-race
    // note); the vocab table is |vocab| rows, small under Zipf.
    val vocab = CacheRegistry.persist(
      Parallelism.ensure(docs)
        .select(explode_outer(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token").isNotNull) // Dedup.safeExplodeNote
        .groupBy("token").agg(count(lit(1)).as("occurrences")))
    vocab.count()
    val cms = cmsTableWeighted(vocab, "token", "occurrences", depth, width, portable)
    val truth = vocab
      .orderBy(col("occurrences").desc, col("token")).limit(topK)
    cmsEstimate(cms, truth.select("token"), "token", depth, width, portable)
      .withColumnRenamed("item", "token")
      .join(truth, "token")
      .select("token", "occurrences", "est_count")
  }

  /** HLL estimate of distinct `(doc_id, token)` incidence pairs with the
    * exact count alongside — q_hll_distinct and `cli corpus -op hll`.
    */
  /** The (doc_id:token) incidence-item stream both incidence reports
    * sketch over — ONE definition, because the item key format must stay
    * in lockstep with the q_hll_distinct AND q_hll_by_lang oracle SQL.
    */
  private def incidenceItems(docs: DataFrame, extraCols: Seq[String]): DataFrame =
    docs
      .select(extraCols.map(col) :+ col("doc_id")
        :+ explode_outer(TextAnalysis.tokens(col("text"))).as("token"): _*)
      .filter(col("token").isNotNull) // Dedup.safeExplodeNote
      .select(extraCols.map(col)
        :+ concat_ws(":", col("doc_id"), col("token")).as("item"): _*)

  def hllTokenIncidence(docs: DataFrame, p: Int = 10): DataFrame = {
    val pairs = incidenceItems(docs, Seq.empty)
    hllDistinct(pairs, "item", p)
      .crossJoin(pairs.agg(countDistinct(col("item")).as("exact_distinct")))
  }

  /** [[hllTokenIncidence]] per group key — the grouped-sketch path
    * ([[hllRegistersBy]]) under the same calibration contract: one 2^p
    * register set and one estimate row per group, alongside the exact
    * truth for the report. State is groups × 2^p rows however big the
    * corpus.
    */
  /** The shard-merge contract driven END TO END: sketch the (doc:token)
    * incidence independently per `shardCol` value (the per-day /
    * per-datacenter ingest shape), merge the shard register tables by
    * per-index max ([[hllMerge]]), finalize. Because merged registers are
    * EXACTLY the single-pass registers of the union, the oracle computes
    * the single-pass sketch — a hash match proves the merge identity
    * cross-engine, not just in a spec. Ships exact distinct + shard count
    * alongside for the report.
    */
  def hllTokenIncidenceSharded(
      docs: DataFrame, shardCol: String, p: Int = 10): DataFrame = {
    val pairs = incidenceItems(docs, Seq(shardCol))
    val perShard = hllRegistersBy(pairs, "item", p, Seq(shardCol))
    // a grouped register table IS the union of its shards' tables — one
    // grouped aggregate merges all shards, no per-shard frames
    val merged = hllMerge(Seq(perShard.select("idx", "mrho")), p)
    hllFinalize(merged, p)
      .crossJoin(broadcast(pairs.agg(
        countDistinct(col("item")).as("exact_distinct"),
        countDistinct(col(shardCol)).as("n_shards"))))
  }

  def hllTokenIncidenceBy(
      docs: DataFrame, groupCol: String, p: Int = 10): DataFrame = {
    val pairs = incidenceItems(docs, Seq(groupCol))
    val est = hllFinalizeBy(
      hllRegistersBy(pairs, "item", p, Seq(groupCol)), p, Seq(groupCol))
    val exact = pairs.groupBy(groupCol)
      .agg(countDistinct(col("item")).as("exact_distinct"))
    est.join(exact, groupCol)
  }

  /** HyperLogLog distinct-count estimate over `items(itemCol)` with 2^p
    * registers. Register index = top p bits of the 60-bit md5 hash; rho =
    * 1 + leading zeros of the remaining (60-p)-bit field, computed with
    * exact string/integer ops (`bin` + `length` — no libm, so DuckDB
    * replays it). The register table is 2^p rows whatever the cardinality.
    *
    * The harmonic sum uses FIXED-POINT terms 2^(X - rho), X = 61 - p:
    * exact integer addition in any partition order (the [[
    * Similarity.trainCodebook]] lesson — float sums aren't even
    * self-reproducible), maximum total 2^p · 2^X < 2^63. The only float
    * op is the final constant/sum division — one deterministic IEEE op.
    *
    * Raw HLL estimate, no small-range (linear-counting) correction: that
    * branch needs ln(), whose last-ulp varies by libm — the estimate is
    * only calibrated for cardinality ≳ 2.5·2^p, so choose p accordingly.
    * Returns one row: (n_registers_used, s_fixed, est_distinct).
    */
  /** alpha_m · m² · 2^(61-p) — the numerator of the raw HLL estimate,
    * folded to ONE double so the oracle SQL can interpolate the exact same
    * literal (Double.toString round-trips).
    */
  def hllConstant(p: Int): Double = {
    val m = 1 << p
    0.7213 / (1 + 1.079 / m) * m * m * math.pow(2.0, 61 - p)
  }

  /** The register table alone — (idx, mrho), one row per used register,
    * ≤ 2^p rows whatever the input size. Split out from [[hllDistinct]]
    * because this single-aggregation stage is the part that runs
    * UNCHANGED on a stream (Complete mode, bounded state = the register
    * table); the finalize below is a second aggregation, which Structured
    * Streaming disallows in one query — run it batch-side on the sink
    * table ([[graft.streaming.Streaming.streamingHllRegisters]]).
    */
  def hllRegisters(items: DataFrame, itemCol: String, p: Int = 12): DataFrame =
    hllRegistersBy(items, itemCol, p, Seq.empty)

  /** Grouped register tables: one 2^p-bounded register set per key in
    * `groupCols` — per-language/per-source/per-column distincts in a
    * single pass; state is groups × 2^p rows.
    */
  def hllRegistersBy(
      items: DataFrame, itemCol: String, p: Int,
      groupCols: Seq[String], portable: Boolean = true): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val restBits = 60 - p
    val mask = (1L << restBits) - 1
    // in-engine family: low 60 bits of xxhash64 (codegen-native, no hex
    // round-trip) — same idx/rho split downstream; only the md5 family
    // replays in DuckDB (the CMS/Bloom/MinHash portable-twin convention)
    val h =
      if (portable) Dedup.md5Token60(col(itemCol))
      else xxhash64(col(itemCol)).bitwiseAND(lit((1L << 60) - 1))
    val g = groupCols.map(col)
    items.filter(col(itemCol).isNotNull)
      .select(g :+ shiftright(h, restBits).as("idx")
        :+ h.bitwiseAND(lit(mask)).as("rem"): _*)
      .select(g :+ col("idx")
        :+ when(col("rem") === 0, lit(restBits + 1))
          .otherwise(lit(restBits + 1) - length(bin(col("rem")))).as("rho"): _*)
      .groupBy(g :+ col("idx"): _*).agg(max(col("rho")).as("mrho"))
  }

  /** Fold a register table into the distinct-count estimate. */
  def hllFinalize(reg: DataFrame, p: Int): DataFrame =
    hllFinalizeBy(reg, p, Seq.empty)

  /** Grouped finalize: one estimate row per key in `groupCols`. */
  def hllFinalizeBy(reg: DataFrame, p: Int, groupCols: Seq[String]): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val m = 1 << p
    val x = 61 - p
    // one shared double constant ([[hllConstant]] — the keywordScores
    // BM25-constant technique for oracle portability)
    val c = hllConstant(p)
    val g = groupCols.map(col)
    val aggd =
      if (groupCols.isEmpty)
        reg.agg(
          count(lit(1)).as("n_registers_used"),
          // coalesce: empty input must yield the all-empty-registers
          // estimate (s_fixed = m·2^X), not NULL (advisor r6)
          coalesce(sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($x - mrho AS INT))")),
            lit(0L)).as("s_used"))
      else
        reg.groupBy(g: _*).agg(
          count(lit(1)).as("n_registers_used"),
          coalesce(sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($x - mrho AS INT))")),
            lit(0L)).as("s_used"))
    aggd
      .select(g :+ col("n_registers_used")
        :+ (col("s_used") + (lit(m.toLong) - col("n_registers_used")) * (1L << x))
          .as("s_fixed"): _*)
      .select(g :+ col("n_registers_used") :+ col("s_fixed")
        :+ (lit(c) / col("s_fixed").cast("double")).as("est_distinct"): _*)
  }

  def hllDistinct(items: DataFrame, itemCol: String, p: Int = 12,
      portable: Boolean = true): DataFrame =
    hllFinalize(hllRegistersBy(items, itemCol, p, Seq.empty, portable), p)

  /** Small-range-corrected estimate from a finalized register row: below
    * 2.5·m the raw harmonic estimator is biased (up to ~60× at tiny
    * cardinalities — it asymptotes to α·m as registers empty), so the
    * standard HyperLogLog fallback switches to linear counting,
    * m·ln(m/V) over the V empty registers [Flajolet et al. 2007].
    *
    * NOT oracle-replayable: ln is the one operation engines disagree on
    * in the last ulp (measured: 4 of 4096 values differ between
    * java.lang.Math.log and DuckDB ln), so queries that gate on
    * hash-match expose the exact integer register state and keep this
    * estimate spec-validated instead — see [[Stats.columnProfile]].
    */
  def correctedEstimate(p: Int)(nUsed: Column, sFixed: Column): Column = {
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val m = 1 << p
    val raw = lit(hllConstant(p)) / sFixed.cast("double")
    val empty = lit(m.toLong) - nUsed
    when(raw <= lit(2.5 * m) && empty > 0,
        lit(m.toDouble) * log(lit(m.toDouble) / empty.cast("double")))
      .otherwise(raw)
  }

  /** Merge HLL register tables — the property that makes the sketch a
    * distributed-aggregation citizen: registers from independently
    * sketched shards (per partition, per day, per datacenter) combine by
    * per-index MAX into EXACTLY the register table of the union corpus —
    * not an approximation of it — so a 100 TB distinct count composes
    * from per-shard sketches of 2^p rows each without touching raw data
    * twice. Estimate the merged table with [[hllFinalize]].
    */
  /** All tables MUST come from [[hllRegisters]] at the SAME `p`: the
    * schema cannot carry the precision, and registers of different p
    * have incompatible idx spaces and rho scales — the merged table
    * would be valid for neither. `p` is taken here (and rechecked) so
    * the call site states the shared precision it will finalize with.
    */
  def hllMerge(registerTables: Seq[DataFrame], p: Int = 12): DataFrame = {
    require(registerTables.nonEmpty, "need at least one register table")
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val m = 1L << p
    registerTables.reduce(_ unionByName _)
      .groupBy("idx").agg(max(col("mrho")).as("mrho"))
      // idx outside [0, 2^p) means a table sketched at a LARGER p was
      // mixed in — fail the job instead of returning a wrong estimate
      .withColumn("idx",
        when(col("idx") >= 0 && col("idx") < m, col("idx"))
          .otherwise(raise_error(concat(lit(s"hllMerge: register idx out of range for p=$p: "),
            col("idx").cast("string")))))
  }

  /** Pairwise distinct-count OVERLAP between groups from one grouped
    * register table — est(A∩B) = est(A) + est(B) − est(A∪B) by
    * inclusion–exclusion, where est(A∪B) is EXACT at the register level
    * (per-idx max of the two groups' registers IS the union's register
    * table — [[hllMerge]]); only the harmonic estimates carry sketch
    * error, so the overlap inherits ~±2σ of 1.04/√2^p per term and CAN
    * go slightly negative on disjoint sets — returned as-is, not
    * clamped, so callers see the noise floor. The audience-overlap /
    * cross-segment-contamination readout HLL alone is said not to
    * support; here it falls out of the stored registers without KMV's
    * per-item samples.
    *
    * REGIME CAVEAT: the raw harmonic estimates are biased high below
    * 2.5·2^p cardinality, and unlike a single readout the bias does NOT
    * cancel across the three terms — a small-regime raw overlap is
    * meaningless (measured: planted 600 read as ~3200 at p=12 with
    * 1200-item sets). `corrected = true` adds `est_overlap_corrected`
    * from linear-counting-corrected terms — spec-gated only, like every
    * ln-based readout ([[correctedEstimate]]'s last-ulp note), so
    * hash-gated oracles keep to the raw columns and sets ≥ 2.5·2^p.
    *
    * `reg` is (groupCol, idx, mrho) — duplicate (group, idx) rows legal
    * (a store read mid-compaction); folded first. Scale shape: each
    * register row fans out to (G−1) pairs via two broadcast joins
    * against the G²/2-row pair list, so state is G²·2^p registers —
    * a GROUP-pair matrix, not a data joint; G is gated loudly at
    * `maxGroups` because past ~10³ groups the quadratic pair list is
    * the wrong tool (cluster the groups first, or KMV-sample).
    * Output: (group_a, group_b, est_a, est_b, est_union, est_overlap
    * [, est_overlap_corrected]).
    */
  def hllOverlapBy(reg: DataFrame, p: Int, groupCol: String,
      maxGroups: Int = 1024, corrected: Boolean = false): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val folded = CacheRegistry.persist(reg
      .groupBy(col(groupCol), col("idx")).agg(max(col("mrho")).as("mrho")))
    val groups = folded.select(col(groupCol).as("__g")).distinct()
    val gCount = groups.count()
    require(gCount >= 2, s"hllOverlapBy: need >= 2 groups, got $gCount")
    require(gCount <= maxGroups,
      s"hllOverlapBy: $gCount groups — the G² pair matrix stops being " +
        s"an answer shape past $maxGroups; cluster the groups or raise " +
        "maxGroups deliberately")
    val pairs = groups.select(col("__g").as("group_a"))
      .crossJoin(groups.select(col("__g").as("group_b")))
      .filter(col("group_a") < col("group_b"))
    val aSide = folded.join(broadcast(pairs),
      col(groupCol) === col("group_a"))
    val bSide = folded.join(broadcast(pairs),
      col(groupCol) === col("group_b"))
    val unionReg = aSide.select(col("group_a"), col("group_b"),
        col("idx"), col("mrho"))
      .unionByName(bSide.select(col("group_a"), col("group_b"),
        col("idx"), col("mrho")))
      .groupBy("group_a", "group_b", "idx").agg(max(col("mrho")).as("mrho"))
    def corr(nu: Column, sf: Column): Column = correctedEstimate(p)(nu, sf)
    val estU = hllFinalizeBy(unionReg, p, Seq("group_a", "group_b"))
      .select(col("group_a"), col("group_b"),
        col("est_distinct").as("est_union"),
        col("n_registers_used").as("__nu_u"), col("s_fixed").as("__sf_u"))
    val estG = hllFinalizeBy(folded, p, Seq(groupCol))
      .select(col(groupCol).as("__eg"), col("est_distinct").as("__est"),
        col("n_registers_used").as("__nu"), col("s_fixed").as("__sf"))
    val joined = estU
      .join(broadcast(estG.select(col("__eg"), col("__est").as("est_a"),
        col("__nu").as("__nu_a"), col("__sf").as("__sf_a"))),
        col("group_a") === col("__eg")).drop("__eg")
      .join(broadcast(estG.select(col("__eg"), col("__est").as("est_b"),
        col("__nu").as("__nu_b"), col("__sf").as("__sf_b"))),
        col("group_b") === col("__eg")).drop("__eg")
    val base = Seq(col("group_a"), col("group_b"), col("est_a"),
      col("est_b"), col("est_union"),
      (col("est_a") + col("est_b") - col("est_union")).as("est_overlap"))
    val cols =
      if (!corrected) base
      else base :+ (corr(col("__nu_a"), col("__sf_a"))
        + corr(col("__nu_b"), col("__sf_b"))
        - corr(col("__nu_u"), col("__sf_u"))).as("est_overlap_corrected")
    joined.select(cols: _*)
  }

  // ------------------------------------------------------------------- KMV

  /** K-minimum-values distinct sketch (Bar-Yossef et al. RANDOM'02; the
    * "distinct sampling" of Beyer et al. SIGMOD'07): per group keep the k
    * smallest DISTINCT [[Dedup.md5Token60]] hashes of the item column.
    * What HLL can't do and KMV can: the kept hashes are a uniform sample
    * of the distinct universe, so sketches of two groups compose into
    * SET-OPERATION estimates (Jaccard / intersection via
    * [[kmvPairOverlap]]), not just union cardinality.
    *
    * Scale shape (the naive plan is a trap): ranking all distinct hashes
    * of a group in one window partition sorts the group's whole distinct
    * universe on one task. Instead the established two-level cut (the
    * prefix-scan pattern, Packing/Sampling):
    *   1. distinct (group, hv)         — uniform hash shuffle, combines
    *      map-side;
    *   2. rank within (group, hv mod 64) — 64 deterministic bucket cells
    *      per group, keep ≤ k per cell (the true k smallest are always a
    *      subset of the per-bucket k smallest);
    *   3. rank the ≤ 64·k survivors within group — bounded second level.
    * Output: (groupCols…, rank 1-based, hv), ≤ k rows per group, hv
    * ascending — deterministic for any partitioning.
    */
  def kmvSketch(items: DataFrame, itemCol: String,
      groupCols: Seq[String], k: Int = 256): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val hashed = items
      .select(g :+ Dedup.md5Token60(col(itemCol)).as("hv"): _*)
      .distinct()
    val local = Window.partitionBy(g :+ pmod(col("hv"), lit(64)): _*).orderBy(col("hv"))
    val global = Window.partitionBy(g: _*).orderBy(col("hv"))
    hashed
      .withColumn("__lr", row_number().over(local)).filter(col("__lr") <= k)
      .withColumn("rank", row_number().over(global)).filter(col("rank") <= k)
      .select(g ++ Seq(col("rank"), col("hv")): _*)
  }

  /** Distinct-count estimate from a [[kmvSketch]]: below k kept hashes the
    * sketch holds the WHOLE distinct universe (exact regime); at k the
    * estimator is (k−1)·2⁶⁰ / h₍ₖ₎ (the k-th minimum locates the distinct
    * density). Both sides of the division are exact in double ((k−1)·2⁶⁰
    * is an integer times a power of two), so the value replays
    * bit-for-bit in any IEEE engine.
    */
  def kmvDistinctEstimate(sketch: DataFrame, k: Int,
      groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    sketch.groupBy(g: _*)
      .agg(count(lit(1)).as("n_kept"), max(col("hv")).as("kth"))
      .select(g ++ Seq(
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble * math.pow(2, 60)) / col("kth").cast("double"))
          .as("distinct_est")): _*)
  }

  /** Pairwise overlap estimates between every two groups of a
    * [[kmvSketch]] table with a single group column: for pair (a, b) take
    * the k smallest hashes of the UNION of the two sketches and count how
    * many sit in BOTH — that count over the union-k size estimates
    * Jaccard(a, b). Membership flags are sound because union's k-th min
    * never exceeds either sketch's k-th min (the union has at least each
    * side's distinct values), so every union-k hash was retained by any
    * sketch whose underlying set contains it.
    *
    * Everything is integer until the final division; the union-rank
    * window is ≤ 2k rows per pair and the pair universe is
    * (n_groups choose 2) — both trivially bounded. At 100 TB the raw
    * corpus is touched ONCE (by kmvSketch); this composition runs on
    * k-row sketches.
    */
  def kmvPairOverlap(sketch: DataFrame, groupCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the sketch is ≤ k rows per group BY CONSTRUCTION, but its upstream
    // (corpus-wide hash + distinct + two rank levels) is the expensive
    // part — and this composition reads it three times (group names +
    // both pair sides). Persist the tiny table, not the pipeline.
    // Tracked in CacheRegistry — callers release after consuming.
    val cached = CacheRegistry.persist(sketch)
    cached.count() // eager fill: three AQE consumers racing a lazy cache
                   // would each run the upstream pipeline
    val a = cached.select(col(groupCol).as("group_a"), col("hv"))
    val b = cached.select(col(groupCol).as("group_b"), col("hv"))
    // every unordered pair; the join key is hv so each side's sketch rows
    // meet only where hashes coincide — build the union row set instead
    // by cross-pairing group names (tiny) and flagging membership
    val names = cached.select(col(groupCol).as("g")).distinct()
    val pairs = names.select(col("g").as("group_a"))
      .join(names.select(col("g").as("group_b")), col("group_a") < col("group_b"))
    val unionRows = pairs.join(a, Seq("group_a"))
      .select(col("group_a"), col("group_b"), col("hv"), lit(1).as("in_a"), lit(0).as("in_b"))
      .unionByName(pairs.join(b, Seq("group_b"))
        .select(col("group_a"), col("group_b"), col("hv"), lit(0).as("in_a"), lit(1).as("in_b")))
      .groupBy("group_a", "group_b", "hv")
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    val w = Window.partitionBy(col("group_a"), col("group_b")).orderBy(col("hv"))
    unionRows.withColumn("__r", row_number().over(w)).filter(col("__r") <= k)
      .groupBy("group_a", "group_b")
      .agg(count(lit(1)).as("n_union_k"),
        sum(col("in_a") * col("in_b")).cast("long").as("n_both"))
      .select(col("group_a"), col("group_b"), col("n_union_k"), col("n_both"),
        round(col("n_both").cast("double") / col("n_union_k").cast("double"), 4)
          .as("jaccard_est"))
  }

  /** EXACT heavy hitters — every key whose frequency is ≥ ceil(minFrac·n)
    * — without ever shuffling the full key universe. Output:
    * (keyCol, cnt) with exact counts, invariant under repartitioning.
    *
    * Two passes (the Misra–Gries candidate recipe —
    * [[graft.functions.MisraGries]] has the survivor-guarantee math):
    *   1. ONE mergeable k-counter aggregate over `xxhash64(key)` plus a
    *      row count — the shuffle carries ≤ k longs per partition and the
    *      driver collects one ≤ k-element array (bounded, like the
    *      codebook collects);
    *   2. exact recount behind an `InSet` probe on the hashed key: the
    *      `groupBy(key)` only ever sees candidate rows, so its partial
    *      aggregation state is ≤ k keys per task instead of the full
    *      vocabulary.
    * Contrast with the naive `groupBy(key).count().filter(...)`: for an
    * n-gram corpus that shuffles billions of distinct keys to answer a
    * hundred-row question; here the wire carries k·partitions + k rows.
    *
    * Exactness under hashing: a hash collision merges two counters, which
    * only RAISES a heavy key's sketch count — the candidate set stays a
    * superset of the true answer (a collision admits at most one spurious
    * candidate, which the exact recount then filters). The guarantee
    * needs threshold > n/(k+1); with k = ceil(safety/minFrac) and
    * safety > 1: n/(k+1) < n·minFrac/safety < ceil(n·minFrac). Null keys
    * hash to the xxhash64 seed and recount as SQL's null group (matching
    * `GROUP BY ... HAVING`).
    *
    * Deliberately NOT approximate-only ([[cmsTokenTopK]] covers the
    * sketch-estimate regime): training-data curation decisions (drop
    * boilerplate n-grams, cap hot documents) want exact counts and a
    * reproducible cut.
    */
  /** The shared two-pass core: ONE mergeable MG aggregate over the
    * hashed key (plus the row count), returned as (candidates, n). The
    * bounded driver collect is ≤ k longs.
    */
  private def mgPass(df: DataFrame, keyCol: String, k: Int): (Seq[Long], Long) = {
    val first = df.agg(
      GraftFunctions.mg_candidates(xxhash64(col(keyCol)), k).as("cand"),
      count(lit(1)).as("n")).head()
    (first.getSeq[Long](0), first.getLong(1))
  }

  /** Exact recount of the candidate keys behind a compiled `InSet`
    * probe — partial aggregation only ever sees candidate rows. Empty
    * candidates (possible only on empty input) yield the empty frame
    * with the (keyCol, cnt) schema.
    */
  private def recount(df: DataFrame, keyCol: String, cands: Seq[Long]): DataFrame = {
    val counted = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    if (cands.isEmpty) counted.filter(lit(false))
    else df.filter(xxhash64(col(keyCol)).isInCollection(cands))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("cnt"))
  }

  def heavyHitters(
      df: DataFrame, keyCol: String, minFrac: Double,
      safety: Double = 2.0): DataFrame = {
    require(minFrac > 0 && minFrac < 1, s"minFrac must be in (0,1), got $minFrac")
    require(safety > 1, s"safety must be > 1 (the guarantee margin), got $safety")
    val k = math.ceil(safety / minFrac).toInt
    val (cands, n) = mgPass(df, keyCol, k)
    recount(df, keyCol, cands)
      .filter(col("cnt") >= math.ceil(minFrac * n).toLong)
  }

  /** Per-group EXACT heavy hitters — for each group, every key with
    * frequency ≥ ceil(minFrac · group size) — with NO driver collect at
    * all: the grouped shape replaces [[heavyHitters]]'s InSet probe with
    * a candidate JOIN, so it scales to millions of groups.
    *
    *   1. `groupBy(group).agg(mg_candidates(xxhash64(key), k), count)` —
    *      one mergeable pass, ≤ k+1 values per group through the wire;
    *   2. explode the candidate arrays to a (group, hash, n) table —
    *      ≤ k rows per group, distinct by construction (the summary
    *      holds each key once), so the join below is multiplicity-1;
    *   3. inner-join the corpus on (group, xxhash64(key)) — broadcast
    *      when the candidate table is small (the common case: groups ×
    *      k rows), size-gated like [[Quantiles.binnedQuantiles]] so an
    *      id-like group column degrades to a shuffle join instead of
    *      OOMing the driver — then recount exactly and cut at the
    *      group's own ceil(minFrac·n).
    *
    * Per-group guarantee is the global one applied group-wise: the MG
    * summary for group g errs by ≤ n_g/(k+1) < ceil(minFrac·n_g) for
    * safety > 1. Output: (groupCols…, keyCol, cnt), exact and partition-
    * invariant.
    */
  /** The grouped candidate-join core shared by [[heavyHittersBy]] and
    * [[topKFrequentBy]]: per-group MG sketch pass, candidate explode,
    * size-gated broadcast join back, exact recount. Returns
    * (counted, groups) where `counted` = (groupCols…, keyCol, cnt, __gn)
    * over CANDIDATE keys only and `groups` = (groupCols…, __gn) — one
    * row per group straight from the sketch pass, so callers can detect
    * groups whose candidate set vanished entirely.
    */
  private def groupedRecount(
      df: DataFrame, keyCol: String, groupCols: Seq[String], k: Int,
      broadcastCandCap: Long): (DataFrame, DataFrame) = {
    val g = groupCols.map(col)
    // persisted: the sketch feeds the candidate explode, the broadcast
    // size gate, and the per-group row of `groups`
    val sketch = CacheRegistry.persist(df.groupBy(g: _*).agg(
        GraftFunctions.mg_candidates(xxhash64(col(keyCol)), k).as("__cand"),
        count(lit(1)).as("__n")))
    // null-safe group equality (the binnedQuantiles precedent): a null
    // group key must report like any group, as SQL's GROUP BY does
    val candCols = groupCols.indices.map(i => s"__g$i")
    val renamed = groupCols.zip(candCols)
      .foldLeft(sketch.select(
        g ++ Seq(explode(col("__cand")).as("__ch"), col("__n")): _*)) {
        case (d, (c, r)) => d.withColumnRenamed(c, r)
      }
    val nCand = sketch
      .agg(coalesce(sum(size(col("__cand"))), lit(0L))).head().getLong(0)
    val candSide = if (nCand <= broadcastCandCap) broadcast(renamed) else renamed
    val cond = groupCols.zip(candCols)
      .map { case (c, r) => col(c) <=> col(r) }
      .reduce(_ && _) && col("__h") === col("__ch")
    val counted = df.withColumn("__h", xxhash64(col(keyCol)))
      .join(candSide, cond)
      .groupBy(g :+ col(keyCol): _*)
      .agg(count(lit(1)).as("cnt"), max(col("__n")).as("__gn"))
    (counted, sketch.select(g :+ col("__n").as("__gn"): _*))
  }

  def heavyHittersBy(
      df: DataFrame, keyCol: String, groupCols: Seq[String],
      minFrac: Double, safety: Double = 2.0,
      broadcastCandCap: Long = 4L * 1000 * 1000): DataFrame = {
    require(minFrac > 0 && minFrac < 1, s"minFrac must be in (0,1), got $minFrac")
    require(safety > 1, s"safety must be > 1 (the guarantee margin), got $safety")
    val k = math.ceil(safety / minFrac).toInt
    val (counted, _) = groupedRecount(df, keyCol, groupCols, k, broadcastCandCap)
    counted
      .filter(col("cnt") >= ceil(lit(minFrac) * col("__gn")))
      .select(groupCols.map(col) ++ Seq(col(keyCol), col("cnt")): _*)
  }

  /** EXACT top-`topK` most frequent keys — (key, cnt, rank) with exact
    * counts, rank by (cnt desc, key asc) — WITHOUT grouping the key
    * universe, plus a runtime CERTIFICATE that the answer is globally
    * correct.
    *
    * Same two passes as [[heavyHitters]] (MG candidates → exact
    * recount), then the top-k of the ≤ `k` recounted candidates. The
    * certificate is the MG absence bound: a key missing from a k-counter
    * summary has true frequency ≤ n/(k+1) (Mergeable Summaries §3), so
    * when the k-th selected count EXCEEDS n/(k+1), no non-candidate key
    * can outrank any selected key — the candidate top-k IS the global
    * top-k. When the corpus is too flat for the sketch width (k-th count
    * at or under the budget), this fails loudly with the required width
    * instead of silently returning a maybe-top-k; [[cmsTokenTopK]] is
    * the approximate-regime alternative.
    *
    * Ties at the boundary cut deterministically by (cnt desc, key asc) —
    * but a NON-candidate key tied exactly at the k-th count cannot be
    * certified absent, so the certificate demands strict inequality.
    */
  def topKFrequent(
      df: DataFrame, keyCol: String, topK: Int, k: Int = 4096): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(k >= topK, s"sketch width k=$k must be >= topK=$topK")
    val (cands, n) = mgPass(df, keyCol, k)
    // cands can empty out on NON-empty input too: adversarial eviction
    // (e.g. k+1 distinct singletons in one partition) can decrement every
    // counter to zero — n distinguishes the two regimes for the caller.
    require(cands.nonEmpty,
      if (n == 0L) "topKFrequent: empty input"
      else s"topKFrequent: the $k-counter summary emptied under eviction " +
        s"(n=$n rows, no key kept a positive count) — the key universe " +
        s"is too flat for this sketch width; widen k")
    // recount + rank the ≤ k candidates; the window partition is the
    // candidate set (sketch-sized), never the corpus
    val counted = CacheRegistry.persist(recount(df, keyCol, cands))
    val top = counted
      .orderBy(col("cnt").desc, col(keyCol).asc)
      .limit(topK)
    val selected = top.count()
    require(selected == topK,
      s"topKFrequent: only $selected candidate keys survive the sketch — " +
        s"a $topK-row answer cannot be certified complete (either the key " +
        s"universe has < $topK distinct keys — lower topK — or widen k)")
    val kth = top.agg(min(col("cnt"))).head().getLong(0)
    require(kth > n / (k + 1.0),
      s"topKFrequent: cannot certify — the $topK-th count $kth is within " +
        s"the MG error budget n/(k+1)=${n / (k + 1.0)} (n=$n, k=$k); " +
        s"widen the sketch (need k > n/$kth - 1 = " +
        s"${math.ceil(n.toDouble / kth - 1).toLong})")
    import org.apache.spark.sql.expressions.Window
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("cnt").desc, col(keyCol).asc)))
  }

  /** Per-group certified exact top-k frequent — [[topKFrequent]]'s
    * grouped shape on [[heavyHittersBy]]'s no-driver-collect plumbing:
    * per-group MG candidate arrays explode into a (group, hash) table,
    * broadcast-join back for the exact recount, and a ranking window
    * over the CANDIDATE table (≤ groups × k rows — answer-sized by
    * construction, never the corpus) cuts each group's top `topK` by
    * (cnt desc, key asc).
    *
    * The certificate is checked for EVERY group distributedly (no
    * collect), through either of two sufficient proofs:
    *   - COMPLETE: the group's recounted rows sum to its total row
    *     count, i.e. every row matched a candidate hash — the candidate
    *     set covers the group's whole key universe, so the ranking is
    *     exact unconditionally (this is the no-eviction regime, and the
    *     only regime where a group may legitimately return fewer than
    *     `topK` rows: it simply has fewer distinct keys);
    *   - BUDGET: the group selected exactly `topK` keys and its k-th
    *     count strictly exceeds n_g/(k+1) — the per-group MG absence
    *     bound, which rules out any unseen key outranking the cut.
    * Any group proving neither — including a group whose candidate
    * summary emptied entirely under adversarial eviction, which appears
    * in no recount row at all — fails the call loudly with the group
    * count, because silently returning a maybe-top-k for some groups is
    * exactly what this operator exists to rule out.
    */
  def topKFrequentBy(
      df: DataFrame, keyCol: String, groupCols: Seq[String], topK: Int,
      k: Int = 4096, broadcastCandCap: Long = 4L * 1000 * 1000): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(k >= topK, s"sketch width k=$k must be >= topK=$topK")
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val (counted0, groups) =
      groupedRecount(df, keyCol, groupCols, k, broadcastCandCap)
    // persisted: feeds the ranking AND the per-group completeness sum
    val counted = CacheRegistry.persist(counted0)
    // candidate-sized window: ≤ k rows per group by construction
    val ranked = CacheRegistry.persist(counted
      .withColumn("rank", row_number().over(
        Window.partitionBy(g: _*).orderBy(col("cnt").desc, col(keyCol).asc)))
      .filter(col("rank") <= topK))
    // certificate frame: one row per group FROM THE SKETCH PASS (so a
    // group whose summary emptied — and thus recounts nothing — is
    // still judged, and judged uncertifiable), left-joined to the
    // recount totals and the selection stats
    def renameTo(d: DataFrame, prefix: String) = groupCols.zipWithIndex
      .foldLeft(d) { case (dd, (c, i)) => dd.withColumnRenamed(c, s"$prefix$i") }
    def joinCond(prefix: String) = groupCols.indices
      .map(i => col(groupCols(i)) <=> col(s"$prefix$i")).reduce(_ && _)
    val tot = renameTo(
      counted.groupBy(g: _*).agg(sum(col("cnt")).as("__tot")), "__t")
    val sel = renameTo(
      ranked.groupBy(g: _*)
        .agg(count(lit(1)).as("__sel"), min(col("cnt")).as("__kth")), "__s")
    val complete = col("__tot") <=> col("__gn") // null-safe: a vanished
                                               // group has null __tot
    val budget = coalesce(
      col("__sel") === topK &&
        col("__kth").cast("double") > col("__gn").cast("double") / (k + 1),
      lit(false))
    val bad = groups
      .join(tot, joinCond("__t"), "left")
      .join(sel, joinCond("__s"), "left")
      .filter(!(complete || budget))
      .count()
    require(bad == 0L,
      s"topKFrequentBy: $bad group(s) cannot certify an exact top-$topK " +
        s"(candidate set neither complete nor clear of the n_g/(k+1) " +
        s"absence budget) — widen k or lower topK")
    ranked.select(g ++ Seq(col(keyCol), col("cnt"), col("rank")): _*)
  }

  /** [[heavyHitters]] with an ABSOLUTE count threshold and caller-chosen
    * sketch width. Fails loudly (rather than silently under-reporting)
    * when the sketch is too narrow for the guarantee: a k-counter summary
    * only promises survival above n/(k+1), so `minCount` at or below that
    * line would make the candidate pass lossy.
    */
  def heavyHittersAbs(
      df: DataFrame, keyCol: String, minCount: Long, k: Int): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val (cands, n) = mgPass(df, keyCol, k)
    require(minCount > n / (k + 1.0),
      s"heavyHittersAbs: minCount=$minCount is within the MG error budget " +
        s"n/(k+1)=${n / (k + 1.0)} for n=$n, k=$k — widen the sketch " +
        s"(need k > n/minCount - 1 = ${math.ceil(n.toDouble / minCount - 1).toLong})")
    recount(df, keyCol, cands).filter(col("cnt") >= minCount)
  }

  /** Distinct-count heavy hitters ("superspreaders") — the top-k keys
    * by `count(DISTINCT valCol)`: domains contributing the most unique
    * documents, users touching the most unique items, tokens spanning
    * the most unique docs. The F₀ twin of [[topKFrequent]]: frequency
    * heavy hitters bound map-side state with Misra–Gries; distinct
    * heavy hitters can't (exact distinct state per key is unbounded),
    * so the candidate pass rides the grouped HLL instead:
    *
    *   1. [[hllRegistersBy]] per key (in-engine xxhash64 family) —
    *      map-side state caps at keys × 2^p registers whatever the
    *      value cardinality, where the naive exact pass holds every
    *      distinct (key, value) per partition;
    *   2. candidate cut: top `candidates` keys by HLL estimate through
    *      the mergeable bounded top-k aggregate (answer-sized wire);
    *   3. EXACT recount of candidates only: broadcast-semi-joined
    *      `count(DISTINCT value)` — the output never shows an estimate;
    *   4. certificate: every kept count must strictly beat
    *      max(estimate outside the candidate set) · (1 + 3σ), σ =
    *      1.04/√2^p — else fail loudly ("widen candidates") instead of
    *      silently risking a missed key. Probabilistic (HLL's 3σ
    *      envelope per key), the [[topKFrequentBy]] loud-gate
    *      discipline; a flat distribution needs `candidates` wide
    *      enough to clear the near-tie band.
    *
    * Output: (rank, keyCol, n_distinct) — rank window is over ≤ k rows
    * (answer-sized). Ties break to the smaller key. Null keys/values
    * excluded.
    */
  def superSpreaders(df: DataFrame, keyCol: String, valCol: String,
      k: Int, candidates: Int, p: Int = 12): DataFrame = {
    require(k >= 1 && candidates >= k,
      s"need candidates >= k >= 1, got k=$k candidates=$candidates")
    val rows = df.select(col(keyCol), col(valCol))
      .filter(col(keyCol).isNotNull && col(valCol).isNotNull)
    // small-range-CORRECTED estimates ([[correctedEstimate]]): the raw
    // harmonic estimator asymptotes to α·m as registers empty, so every
    // low-cardinality key would read ~α·m and poison both the candidate
    // ranking and the rest_max margin below. ln is fine here — the
    // estimate never reaches the output (the recount is exact) or the
    // oracle (which replays the exact ranking).
    val est = hllFinalizeBy(
        hllRegistersBy(rows, valCol, p, Seq(keyCol), portable = false),
        p, Seq(keyCol))
      .withColumn("est_distinct",
        correctedEstimate(p)(col("n_registers_used"), col("s_fixed")))
    val cand = Similarity.aggTopKBy(est, "est_distinct", candidates,
        Seq.empty, "__er", keyCol)
      .select(col(keyCol))
    val rest = est.join(cand, Seq(keyCol), "left_anti")
      .agg(max(col("est_distinct")).as("__rest_max"))
    val eps = 3.0 * 1.04 / math.sqrt((1 << p).toDouble)
    val exact = rows.join(broadcast(cand), Seq(keyCol))
      .groupBy(col(keyCol))
      .agg(countDistinct(col(valCol)).as("n_distinct"))
    val wr = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_distinct").desc, col(keyCol).asc)
    exact.orderBy(col("n_distinct").desc, col(keyCol).asc).limit(k)
      .crossJoin(broadcast(rest))
      .withColumn("__cert", assert_true(
        col("n_distinct").cast("double") >
          coalesce(col("__rest_max"), lit(-1.0)) * lit(1.0 + eps),
        lit(s"superSpreaders: kept count within the HLL 3-sigma envelope " +
          s"of an excluded key's estimate — top-$k uncertified; widen " +
          s"candidates (>$candidates) or raise p (>$p)")))
      .filter(col("__cert").isNull)
      .select(row_number().over(wr).as("rank"), col(keyCol),
        col("n_distinct"))
  }
}
