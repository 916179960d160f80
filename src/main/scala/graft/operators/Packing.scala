package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing: assign each chunk to a fixed-token-budget
  * training sequence by its GLOBAL token offset ("concatenate the corpus,
  * cut every `budget` tokens" — the GPT-style packing rule). Deterministic
  * and engine-replayable: seq_id = floor(exclusive-prefix-sum / budget)
  * under the total order (doc_id, chunk_id).
  *
  * The prefix sum is DISTRIBUTED — the naive formulation is one
  * `Window.orderBy(doc_id, chunk_id)` over the whole corpus, which
  * serializes every row through a single partition. (`Queries.seek`
  * needs a prefix sum only over one count per file, so it sums on the
  * driver instead.) Here, the classic two-level scan:
  *
  *   1. bucket rows by a RANGE of the order key (`doc_id / docBucket` —
  *      range buckets preserve the global order between buckets);
  *   2. one parallel window per bucket computes the local exclusive sum;
  *   3. per-bucket totals (one row per bucket) get a running sum — a
  *      single-partition window over #buckets rows, not #rows — and
  *      broadcast back as bucket offsets.
  *
  * Same shape as the parser's split-boundary carry scan (LogParser). At
  * 100 TB with docBucket sized for ~10⁵ rows per bucket, step 3's window
  * sees ~10³ rows.
  */
object Packing {

  /** Input: (doc_id, chunk_id, n_chunk_tokens, ...). Output adds
    * global_offset (tokens before this chunk) and seq_id.
    */
  def packSequences(
      chunks: DataFrame,
      budget: Long,
      docBucket: Long = 1024L): DataFrame = {
    require(budget > 0 && docBucket > 0)
    // integer `div`, not floor(double /): doc_ids above 2^53 (64-bit
    // hashed ids) lose exactness through a double round-trip and can land
    // rows in the wrong bucket near boundaries, breaking the range-bucket
    // ordering invariant (doc_ids non-negative per contract, so div ==
    // floor-div) — same fix as seq_id below
    val bucketed = chunks.withColumn("__b",
      expr(s"doc_id div $docBucket"))
    val w = Window.partitionBy("__b").orderBy("doc_id", "chunk_id")
    val local = bucketed.withColumn("__local",
      coalesce(sum(col("n_chunk_tokens"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // one row per bucket; the ordered running sum here is single-partition
    // BY DESIGN over #buckets rows (documented shape — see scaladoc)
    val offsets = bucketed.groupBy("__b")
      .agg(sum(col("n_chunk_tokens")).as("__btot"))
      .withColumn("__off",
        coalesce(sum(col("__btot")).over(
          Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("__b", "__off")
    local.join(broadcast(offsets), "__b")
      .withColumn("global_offset", col("__local") + col("__off"))
      // integer `div`, not floor(double /): a double round-trip loses
      // exactness past 2^53 — reachable global token offsets at corpus
      // scale. Offsets are non-negative, so div == floor-div.
      .withColumn("seq_id", expr(s"global_offset div $budget"))
      .drop("__b", "__local", "__off")
  }

  /** Packing efficiency report over [[packSequences]] output: per
    * training sequence, chunk count, tokens used, and fill rate against
    * the budget — under-filled tails are wasted FLOPs, over-filled rows
    * mark chunks straddling a sequence boundary (seq_id is assigned by
    * START offset, the documented packing contract). One bounded
    * aggregate over the packed table.
    */
  def packStats(packed: DataFrame, budget: Long): DataFrame = {
    require(budget > 0)
    packed.groupBy("seq_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_chunk_tokens")).as("tokens_used"))
      .select(col("seq_id"), col("n_chunks"), col("tokens_used"),
        round(col("tokens_used").cast("double") / budget, 4).as("fill_rate"))
  }
}
