package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's five query operations (list-groups, by-group, tail, seek,
  * info — reference query_cli.go:35-51), re-expressed as lazy
  * DataFrame→DataFrame transforms. Early termination / constant memory fall
  * out of Catalyst limits and parquet pushdown instead of hand-rolled
  * iterators.
  */
object Queries {

  /** Empty group display name (reference query.go:343-346). */
  val NoGroup = "<no group>"

  def normalizedGroup(c: Column): Column =
    when(c.isNull || c === "", NoGroup).otherwise(c)

  /** A1: list-groups — per-group entry/command/progress counts and
    * first/last-seen timestamps, ordered by first seen
    * (reference query_cli.go:55-119).
    *
    * Divergence (SURVEY.md §2.4): the reference folds the epoch-zero
    * sentinel of timestamp-less lines into min(); our null timestamps are
    * naturally ignored by min/max.
    */
  def listGroups(entries: DataFrame): DataFrame =
    entries
      .groupBy(normalizedGroup(col(Schema.Group)).as("name"))
      .agg(
        count(lit(1)).as("entry_count"),
        min(timestamp_millis(col(Schema.Timestamp))).as("first_seen"),
        max(timestamp_millis(col(Schema.Timestamp))).as("last_seen"),
        sum(col(Schema.IsCommand).cast("long")).as("commands"),
        sum(col(Schema.IsProgress).cast("long")).as("progress"))
      // one row per group: sorted in one partition, no range shuffle
      .coalesce(1)
      .sortWithinPartitions(col("first_seen").asc_nulls_last, col("name"))

  /** P6: by-group — case-insensitive substring match on the normalized group
    * name; the empty group normalizes to "<no group>" BEFORE matching, so a
    * pattern like "no group" selects ungrouped rows
    * (reference query.go:333-355).
    */
  def byGroup(entries: DataFrame, pattern: String): DataFrame =
    entries.filter(
      lower(normalizedGroup(col(Schema.Group))).contains(pattern.toLowerCase))

  /** P5: CLI `-filter` type filter (reference cmd/bklog/main.go:390-401). */
  def filterByType(entries: DataFrame, kind: String): DataFrame = kind match {
    case "command"             => entries.filter(col(Schema.IsCommand))
    case "group" | "section"   => entries.filter(col(Schema.IsGroup))
    case "progress"            => entries.filter(col(Schema.IsProgress))
    case _                     => entries
  }

  /** Rows whose GLOBAL index (files in `file` order, then `line_no`) is
    * >= `start`, sorted in that order; empty when `start` is out of range.
    *
    * Assumes `line_no` is dense 0..c-1 per file, as [[LogParser.parse]]
    * and [[Cli.entriesWithLineNo]] make it, so one aggregate of
    * max(line_no)+1 per file (one row per file, collected once) gives
    * every file's row count. A prefix sum on the driver finds the file
    * `f0` holding row `start` and the first wanted `line_no` within it;
    * the rest is two sargable terms the Parquet scan can prune with,
    * whatever the file count.
    */
  private def fromGlobalRow(entries: DataFrame, start: Long): DataFrame = {
    if (start < 0) return entries.limit(0)
    // Spark's string order (UTF-8 bytes, nulls first), not Java's UTF-16 one
    val counts = entries.groupBy(col(Schema.File))
      .agg((max(col(Schema.LineNo)) + 1).as("n")).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1)))
      .sortBy(_._1.map(UTF8String.fromString))
    val ends = counts.map(_._2).scanLeft(0L)(_ + _).tail
    val i = ends.indexWhere(_ > start)
    if (i < 0) return entries.limit(0)
    val f0 = counts(i)._1.orNull
    val lo = start - (ends(i) - counts(i)._2) // first wanted line_no in f0
    val later = if (f0 == null) col(Schema.File).isNotNull else col(Schema.File) > f0
    entries
      .filter(later || (col(Schema.File) <=> lit(f0) && col(Schema.LineNo) >= lo))
      .orderBy(Schema.File, Schema.LineNo)
  }

  /** Above this many rows a limit counts its frame first: Spark's top-n
    * (`orderBy … limit n`) sizes a buffer of 2n rows per partition up
    * front, so a huge `n` on a small table would allocate gigabytes to
    * return a few rows.
    */
  private val TopNMax = 1 << 20

  /** `df.limit(n)` for a Long `n`: negative counts as 0, and no limit is
    * set when `n` is 2^31 or more (no frame that large can be collected)
    * or, past [[TopNMax]], when the frame has no more than `n` rows.
    */
  private def limitRows(df: DataFrame, n: Long): DataFrame =
    if (n >= Int.MaxValue || (n > TopNMax && n >= df.count())) df
    else df.limit(math.max(n, 0L).toInt)

  /** O3: tail — last `n` rows in global (file, line_no) order
    * (reference query_cli.go:311-348): `orderBy(file desc, line_no
    * desc).limit(n)`, which Spark plans as one bounded top-n job, re-sorted
    * ascending. Needs no row counts, so it is right on any frame, filtered
    * ones included; `n <= 0` gives an empty frame.
    */
  def tail(entries: DataFrame, n: Long): DataFrame =
    limitRows(entries.orderBy(col(Schema.File).desc, col(Schema.LineNo).desc), n)
      .orderBy(Schema.File, Schema.LineNo)

  /** O4/S9: seek — stream from global row `k`, optional limit
    * (reference query_cli.go:352-373): one per-file count aggregate, then
    * a two-term predicate; with a limit the sort is one top-n job.
    * Assumes `line_no` is dense per file, as parsed or read. Out-of-range
    * `k` (negative, or at or past the end) yields an empty frame (the
    * reference errors, query.go:429-433; flagging over aborting is the
    * distributed-friendly choice, SURVEY.md §7.4).
    */
  def seek(entries: DataFrame, k: Long, limit: Option[Long] = None): DataFrame = {
    val df = fromGlobalRow(entries, k)
    limit.fold(df)(limitRows(df, _))
  }

  /** A2: whole-file processing summary (reference cmd/bklog/main.go:32-40). */
  def summary(entries: DataFrame): DataFrame =
    entries.agg(
      count(lit(1)).as("total_entries"),
      sum(col(Schema.HasTimestamp).cast("long")).as("entries_with_time"),
      sum(col(Schema.IsCommand).cast("long")).as("commands"),
      sum(col(Schema.IsGroup).cast("long")).as("sections"),
      sum(col(Schema.IsProgress).cast("long")).as("progress"),
      (count(lit(1))
        - sum(col(Schema.IsCommand).cast("long"))
        - sum(col(Schema.IsGroup).cast("long"))
        - sum(col(Schema.IsProgress).cast("long"))).as("regular_output"),
      // the lenient-parse divergence surfaced (SURVEY §7.4): the
      // reference aborts on a malformed OSC timestamp, this engine
      // flags the line and keeps it — so the count of flagged lines
      // is part of the processing contract, not hidden telemetry
      sum(col(Schema.ParseError).cast("long")).as("parse_errors"))
}
