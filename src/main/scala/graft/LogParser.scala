package graft

import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapreduce.InputSplit
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, TextInputFormat}
import org.apache.spark.TaskContext
import org.apache.spark.rdd.{NewHadoopRDD, RDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.Shims
import org.apache.spark.unsafe.types.UTF8String

/** Buildkite log → entries DataFrame.
  *
  * Distributed re-expression of the reference's one-pass scan
  * (reference parser.go:41-56, scanner.go:18-71): each input split is
  * streamed through the byte-level [[LineScanner]] (OSC timestamp split,
  * classification flags), and the order-sensitive group carry-forward runs
  * per split with a prefix patched in.
  *
  * Order is pinned by `(file, line_no)`: `line_no` is the dense 0-based
  * line index within its file, deterministic across partitionings, unlike
  * `monotonically_increasing_id`.
  *
  * The carry-forward is a **parallel prefix scan**: files are read as
  * byte-range splits; a split's prefix — the number of lines before it and
  * the last group header before it, in the same file — comes from the
  * boundary facts (line count + last header) of the earlier splits of that
  * file. A single 1 TB log file therefore parallelizes across all its
  * splits instead of serializing through one partition; the price is one
  * extra pass over every split that another split of its file follows.
  */
object LogParser {

  /** `ESC _bk;t=` — 7 chars, all ASCII (reference scanner.go:74-81). */
  val OscPrefix = "\u001b_bk;t="

  /** Default max input-split size for log files. CI logs are small-ish
    * files; 32 MB keeps task counts sane at fleet scale while still cutting
    * big single files into parallel work.
    */
  val DefaultSplitMaxBytes: Long = 32L * 1024 * 1024

  /** `(byte offset, line)` records of the files at `path`, one partition per
    * byte-range input split of at most `splitMaxBytes`. TextInputFormat
    * assigns every line to exactly one split (a line spanning a boundary
    * belongs to the split containing its start).
    */
  private[graft] def hadoopLines(spark: SparkSession, path: String, splitMaxBytes: Long) = {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("textinputformat.record.delimiter", "\n")
    conf.setLong("mapreduce.input.fileinputformat.split.maxsize", splitMaxBytes)
    spark.sparkContext.newAPIHadoopFile(
      path, classOf[TextInputFormat], classOf[LongWritable], classOf[Text], conf)
      .asInstanceOf[NewHadoopRDD[LongWritable, Text]]
  }

  /** The length of the line in `text`'s reused buffer, less one trailing
    * `\r` (ScanLines semantics).
    */
  @inline private def lineLength(text: Text): Int = {
    val len = text.getLength
    if (len > 0 && text.getBytes()(len - 1) == '\r') len - 1 else len
  }

  /** Full pipeline: log file(s) at `path` (a path, glob, or comma-separated
    * list) → entries DataFrame ([[Schema.parsedSchema]]).
    *
    * Semantics (golden-tested against the reference test tables):
    *   - splits strictly on `\n` (a lone `\r` is NOT a record delimiter,
    *     matching Go's `bufio.ScanLines`; progress lines legitimately embed
    *     `\r`); the single trailing `\r` of CRLF lines is removed;
    *   - a line shorter than 10 bytes, without the OSC prefix, or without a
    *     BEL terminator passes through unchanged with a null timestamp
    *     (reference scanner.go:22-51);
    *   - a malformed timestamp (non-numeric / overflow) sets `parse_error`
    *     and passes the raw line through — the reference hard-errors instead
    *     (scanner.go:55-58); aborting a distributed scan mid-file is not
    *     idiomatic Spark, so we flag and count (SURVEY.md §7.4);
    *   - `group` is the carry-forward of the last group header's clean
    *     content; header lines belong to their own group; lines before any
    *     header get "" (reference parser.go:41-56).
    *
    * Execution: reference-style per-partition byte scanning, made
    * distributed by the split-boundary prefix pass.
    *
    * Pass A streams each split that a later split of the same file follows,
    * collecting (line count, last group header) — a header probe that
    * touches only candidate lines. The last split of each file needs no
    * probe (nothing depends on it), so when every file is one split, i.e.
    * every log is at most `splitMaxBytes`, pass A runs no job at all and
    * each log is read once. The
    * driver folds the facts into per-split prefixes (start line number,
    * initial group), in partition order. Pass B streams every split,
    * emitting finished catalyst rows. No shuffle, no sort, no window:
    * aggregate throughput scales with splits × per-core scanner speed.
    *
    * The frame declares its partitions sorted by `(file ASC, line_no ASC)`.
    * That holds because each partition is one byte-range split of one
    * file, read in line order, and `line_no` counts up by one per line
    * from the split's prefix. The planner therefore drops the
    * `sortWithinPartitions(file, line_no)` of [[ParquetIO.write]] (and any
    * other local sort on a prefix of that order) instead of re-sorting
    * sorted rows.
    */
  def parse(spark: SparkSession, path: String,
      splitMaxBytes: Long = DefaultSplitMaxBytes): DataFrame = {
    val lines = hadoopLines(spark, path, splitMaxBytes)
    val files = lines.partitions.map(Shims.hadoopSplitFile)
    val lastSplitOf = files.zipWithIndex.toMap
    val probed = files.indices.filter(i => lastSplitOf(files(i)) != i)

    // Pass A: boundary facts of the probed splits.
    val facts =
      if (probed.isEmpty) Map.empty[Int, (Long, Array[Byte])]
      else probed.zip(spark.sparkContext.runJob(lines,
        (it: Iterator[(LongWritable, Text)]) => {
          var count = 0L
          var lastHdr: Array[Byte] = null
          it.foreach { case (_, text) =>
            count += 1
            val h = LineScanner.headerCleanOrNull(text.getBytes, lineLength(text))
            // copy: `h` may alias the reader's reused line buffer
            if (h != null) lastHdr = h.copy().getBytes
          }
          (count, lastHdr)
        }, probed)).toMap

    // Driver fold: per-file running (line offset, current group).
    val lineOff = scala.collection.mutable.Map.empty[String, Long]
    val grp = scala.collection.mutable.Map.empty[String, Array[Byte]]
    val prefixes: Array[(Long, Array[Byte])] = files.indices.map { i =>
      val file = files(i)
      val prefix = (lineOff.getOrElse(file, 0L), grp.getOrElse(file, null))
      facts.get(i).foreach { case (count, lastHdr) =>
        lineOff(file) = prefix._1 + count
        if (lastHdr != null) grp(file) = lastHdr
      }
      prefix
    }.toArray
    val bc = spark.sparkContext.broadcast(prefixes)

    // Pass B: emit finished rows with running group state per split.
    val rows = lines
      .mapPartitionsWithInputSplit(
        (split: InputSplit, it: Iterator[(LongWritable, Text)]) => {
          val fileU8 = UTF8String.fromString(
            split.asInstanceOf[FileSplit].getPath.toString)
          val (startLine, initGrp) = bc.value(TaskContext.getPartitionId())
          var lineNo = startLine
          var group: UTF8String =
            if (initGrp == null) UTF8String.EMPTY_UTF8
            else UTF8String.fromBytes(initGrp)
          it.map { case (_, text) =>
            // parse copies the content out of the reader's reused buffer
            val line = LineScanner.parse(text.getBytes, lineLength(text))
            if (line.isGroup) group = line.clean
            val r = new GenericInternalRow(Array[Any](
              line.timestamp, line.content, group,
              line.timestamp != null, line.isCommand, line.isGroup,
              line.isProgress, fileU8, lineNo, line.parseError))
            lineNo += 1
            r
          }
        },
        preservesPartitioning = true)
      .asInstanceOf[RDD[InternalRow]]
    Shims.internalCreateDataFrame(spark, rows, Schema.parsedSchema,
      orderedBy = Seq(Schema.File, Schema.LineNo))
  }
}
