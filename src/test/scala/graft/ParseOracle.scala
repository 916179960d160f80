package graft

import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapreduce.InputSplit
import org.apache.hadoop.mapreduce.lib.input.FileSplit
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.GraftFunctions.strip_ansi

/** The parse oracle: [[LogParser.parse]]'s semantics re-expressed as
  * Catalyst column expressions (codegen'd, no UDFs; the one non-built-in is
  * the [[graft.functions.StripAnsi]] native expression), with the group
  * carry-forward as windows over `(file, offset)` — `offset` being each
  * line's byte position in its file, from TextInputFormat's record key.
  * The specs hold the byte-scanner ingest equal to it row for row.
  */
object ParseOracle {

  private val Bel = "\u0007"

  private val linesSchema = StructType(Seq(
    StructField(Schema.File, StringType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("__split", IntegerType, nullable = false),
  ))

  /** Read text lines with their source file, byte offset, and input-split
    * id.
    *
    * The input splits of [[LogParser.parse]]; the single trailing `\r` of
    * CRLF files is removed in [[parseLines]].
    */
  def readLines(spark: SparkSession, path: String,
      splitMaxBytes: Long = LogParser.DefaultSplitMaxBytes): DataFrame = {
    val rows = LogParser.hadoopLines(spark, path, splitMaxBytes)
      .mapPartitionsWithInputSplit(
        (split: InputSplit, it: Iterator[(LongWritable, Text)]) => {
          // Emit catalyst InternalRows directly: Text's UTF-8 bytes go
          // straight into UTF8String (no String decode/encode round-trip)
          // and ingestion skips the public-API per-row converter pass.
          val file = UTF8String.fromString(
            split.asInstanceOf[FileSplit].getPath.toString)
          val splitId = TaskContext.getPartitionId()
          it.map { case (off, text) =>
            // Text buffers are reused by the reader: copy the bytes now.
            val bytes = java.util.Arrays.copyOf(text.getBytes, text.getLength)
            InternalRow(file, off.get(), UTF8String.fromBytes(bytes), splitId)
          }
        },
        preservesPartitioning = true)
    Shims.internalCreateDataFrame(spark, rows, linesSchema)
  }

  /** Lines DF `(file, offset, value, __split)` → parsed entries DF
    * ([[Schema.parsedSchema]]).
    *
    * Semantics: those of [[LogParser.parse]].
    */
  def parseLines(lines: DataFrame): DataFrame = {
    val raw = when(col("value").endsWith("\r"),
      expr("substring(value, 1, length(value) - 1)")).otherwise(col("value"))

    val parsed = lines
      .withColumn("__raw", raw)
      // First BEL; OSC prefix is 7 ASCII chars so char position == byte position.
      .withColumn("__bel", locate(Bel, col("__raw")))
      .withColumn("__osc",
        col("__raw").startsWith(LogParser.OscPrefix) && col("__bel") > 0 &&
          octet_length(col("__raw")) >= 10)
      .withColumn("__ts_str",
        when(col("__osc"), expr("substring(__raw, 8, __bel - 8)")))
      // try_cast trims whitespace; Go's strconv.ParseInt (and LineScanner)
      // does not — gate on digits-only so ' 123' is a parse_error in both
      // paths (advisor finding, round 1)
      .withColumn(Schema.Timestamp,
        when(col("__ts_str").rlike("^[+-]?[0-9]+$"),
          expr("try_cast(__ts_str as bigint)")))
      .withColumn(Schema.ParseError,
        col("__osc") && col(Schema.Timestamp).isNull)
      .withColumn(Schema.Content,
        when(col("__osc") && !col(Schema.ParseError),
          expr("substring(__raw, __bel + 1)")).otherwise(col("__raw")))
      .withColumn("__clean", strip_ansi(col(Schema.Content)))
      .withColumn(Schema.HasTimestamp, col(Schema.Timestamp).isNotNull)
      .withColumn(Schema.IsCommand, col("__clean").startsWith("$ "))
      .withColumn(Schema.IsGroup,
        col("__clean").startsWith("~~~") || col("__clean").startsWith("---") ||
          col("__clean").startsWith("+++"))
      // [K is checked on the RAW content, the keywords on the clean content
      // (reference parser.go:152-165).
      .withColumn(Schema.IsProgress,
        col(Schema.Content).contains("[K") &&
          (col("__clean").contains("objects") ||
            col("__clean").contains("deltas") ||
            col("__clean").contains("%")))

    // ---- parallel prefix scan over splits ----
    // Pass A: one row per (file, split): line count + the header with the
    // greatest offset (max of a (offset, clean) struct; null when the split
    // has no header).
    val boundary = parsed
      .groupBy(col(Schema.File), col("__split"))
      .agg(
        count(lit(1)).as("__cnt"),
        max(when(col(Schema.IsGroup), struct(col("offset"), col("__clean"))))
          .as("__last_hdr"))
    // Prefix per split: lines before this split, and the most recent header
    // of any earlier split in the same file. Window over #splits rows only.
    val wb = Window.partitionBy(Schema.File).orderBy("__split")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = boundary.select(
      col(Schema.File), col("__split"),
      coalesce(sum(col("__cnt")).over(wb), lit(0L)).as("__line_off"),
      last(col("__last_hdr.__clean"), ignoreNulls = true).over(wb).as("__init_grp"))

    // Pass B: per-split windows (parallelism = #splits), prefix patched in.
    val w = Window.partitionBy(col(Schema.File), col("__split")).orderBy("offset")
    val cumulative = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parsed
      .join(broadcast(prefixes), Seq(Schema.File, "__split"))
      .withColumn(Schema.LineNo,
        col("__line_off") + row_number().over(w).cast(LongType) - 1)
      .withColumn(Schema.Group,
        coalesce(
          last(when(col(Schema.IsGroup), col("__clean")), ignoreNulls = true)
            .over(cumulative),
          col("__init_grp"),
          lit("")))
      .select(Schema.parsedSchema.fieldNames.map(col).toSeq: _*)
  }

  /** Log file(s) at `path` → entries DataFrame, through [[parseLines]]. */
  def parseExpr(spark: SparkSession, path: String,
      splitMaxBytes: Long = LogParser.DefaultSplitMaxBytes): DataFrame =
    parseLines(readLines(spark, path, splitMaxBytes))

  /** Typed view of [[LogParser.parse]] for Dataset-API checks. */
  def parseTyped(spark: SparkSession, path: String): Dataset[LogEntry] = {
    implicit val enc: Encoder[LogEntry] = Encoders.product[LogEntry]
    LogParser.parse(spark, path).as[LogEntry]
  }
}

/** Typed entry row — the Scala analogue of the reference's LogEntry/
  * ParquetLogEntry structs (reference parser.go:12-17, query.go:20-28),
  * with the engine's extra order/provenance columns.
  */
case class LogEntry(
    timestamp: Option[Long],
    content: String,
    group: String,
    has_timestamp: Boolean,
    is_command: Boolean,
    is_group: Boolean,
    is_progress: Boolean,
    file: String,
    line_no: Long,
    parse_error: Boolean) {
  def cleanContent: String = graft.functions.Ansi.strip(content)
}
