package graft

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ColumnPath, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Parquet sink/source for entry tables.
  *
  * Write: Zstd compression everywhere (the reference intends Zstd-3 but its
  * streaming writer silently falls back to defaults — reference
  * parquet.go:121-132 vs 161-164; we do not replicate that bug), rows
  * sorted by `(file, line_no)` within each written file, which is also
  * timestamp order, honoring the reference's sorting-columns metadata
  * intent (parquet.go:124-127) while keeping the exact log line order
  * reconstructible. A frame whose source declares that order, as
  * [[LogParser.parse]]'s does, arrives sorted: the planner elides the sort
  * and the rows are written as they come. `content`, nearly unique per
  * line, is written without a dictionary, which would only fall back to
  * plain encoding after paying for the lookups; the other columns keep
  * theirs, and every column keeps its min/max statistics, which row-group
  * pruning and [[footerLineCounts]] read.
  *
  * Read: fixed schema, mapped by name; extra/unknown columns in the file are
  * ignored and missing optional columns come back null — same tolerance as
  * the reference reader (query.go:203-233), exercised against its committed
  * legacy 8-column fixture.
  */
object ParquetIO {

  /** S5-S7: write parsed entries. Accepts any DF containing at least the
    * reference columns; extras (file, line_no, parse_error) are kept.
    */
  def write(entries: DataFrame, path: String, mode: String = "overwrite"): Unit = {
    val sortCols =
      if (entries.columns.contains(Schema.File))
        Seq(col(Schema.File), col(Schema.LineNo))
      else Seq(col(Schema.Timestamp), col(Schema.Group))
    entries
      .sortWithinPartitions(sortCols: _*)
      .write
      .mode(mode)
      .option("compression", "zstd")
      .option(s"parquet.enable.dictionary#${Schema.Content}", "false")
      .parquet(path)
  }

  /** Compact a directory of (typically many small) parquet files into
    * `numFiles` range-partitioned, internally sorted files — the
    * object-store small-file remedy: a streaming ingest or a
    * fine-partitioned job leaves thousands of KB-scale files whose
    * per-file open/footer overhead dominates scans at 100 TB; compaction
    * pays ONE range shuffle to restore scan-sized files AND global sort
    * order on `sortCols` (so min/max footer stats stay disjoint across
    * files and row-group skipping works after compaction exactly as
    * after a sorted write).
    */
  def compact(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      sortCols: Seq[String],
      numFiles: Int = 32): Unit = {
    require(sortCols.nonEmpty, "compact needs at least one sort column")
    val in = spark.read.parquet(inDir)
    requireNotOverwritingInput(in, outDir)
    in.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").option("compression", "zstd").parquet(outDir)
  }

  /** Overwrite-mode sinks delete the target BEFORE the lazy input scan
    * runs — writing onto a directory the plan reads destroys the input
    * with no error. Planning-time check: no input file of the plan may
    * live under the output path (covers outDir == inDir and outDir
    * nested inside it, across scheme spellings).
    */
  private[graft] def requireNotOverwritingInput(df: DataFrame, outPath: String): Unit = {
    val out = new org.apache.hadoop.fs.Path(outPath).toUri.getPath.stripSuffix("/")
    val clash = df.inputFiles.exists { f =>
      val p = new org.apache.hadoop.fs.Path(f).toUri.getPath
      p == out || p.startsWith(out + "/")
    }
    require(!clash,
      s"output path $outPath overlaps the plan's input files; " +
        "mode=overwrite would delete the input before reading it")
  }

  /** [[compact]] with the output file count derived from the input's
    * on-disk bytes and a target file size — the knob storage layouts are
    * actually specified in (e.g. "512 MB files"), instead of a count that
    * must be re-derived per dataset. The estimate uses the compressed
    * input bytes as a proxy for output bytes (same codec family in and
    * out; recompression drift is bounded), so files land near the target
    * without a pre-pass over the data.
    */
  def compactToSize(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      sortCols: Seq[String],
      targetFileBytes: Long = 512L << 20): Unit = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val p = new org.apache.hadoop.fs.Path(inDir)
    val bytes = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
    val numFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
    compact(spark, inDir, outDir, sortCols, numFiles.toInt)
  }

  /** Hive-style partitioned dataset write (`path/col=value/...`) — the
    * directory-level pruning primitive for corpus storage: a predicate
    * on a partition column (lang, source, ingest date) eliminates whole
    * directories at PLANNING time (`PartitionFilters` in the scan),
    * before any file or footer is touched — the coarsest and cheapest
    * skipping level, above z-order/footer stats. Each output partition
    * is additionally collapsed to `filesPerPartition` files so a
    * high-cardinality partition column doesn't shatter into a small-file
    * swamp (every input task otherwise writes one file into EVERY
    * partition it holds rows for).
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      filesPerPartition: Int = 1,
      mode: String = "overwrite",
      sortCols: Seq[String] = Nil): Unit = {
    require(partitionCols.nonEmpty, "writePartitioned needs partition columns")
    require(filesPerPartition > 0, "filesPerPartition must be positive")
    require(!df.columns.contains("__salt"),
      "writePartitioned reserves the column name __salt; rename it first")
    if (mode == "overwrite") requireNotOverwritingInput(df, path)
    // shuffle on (partition cols + a k-way deterministic salt): each
    // (value, salt) combination lands in one task, so every partition
    // directory gets AT MOST filesPerPartition files — without this,
    // every input task holding rows for a value writes its own file
    // into that value's directory
    val keyed = df.withColumn("__salt",
      pmod(hash(df.columns.map(col): _*), lit(filesPerPartition)))
    val shuffled = keyed
      .repartition(partitionCols.map(col) :+ col("__salt"): _*)
      .drop("__salt")
    // optional within-file sort: keeps parquet row-group min/max stats
    // on sortCols tight inside every partition directory, so point/set
    // predicates on those columns skip row groups after directory
    // pruning has done its part (the [[compact]] footer-stat rationale
    // applied at first write)
    (if (sortCols.nonEmpty)
       shuffled.sortWithinPartitions(
         (partitionCols ++ sortCols).map(col): _*)
     else shuffled)
      .write
      .partitionBy(partitionCols: _*)
      .mode(mode)
      .option("compression", "zstd")
      .parquet(path)
  }

  /** S8: read an entry parquet (ours or the reference's). Column pruning and
    * predicate pushdown are Catalyst-native — the reference always reads all
    * columns (query.go:146); we get pruning for free.
    *
    * Runs no Spark job: the schema comes from the first data file's footer,
    * read on the driver as the reference client does (query.go:56-61) and
    * converted with Spark's own Parquet converter — the file and the types
    * Spark's schema inference would pick without schema merging, minus the
    * inference job.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val first = dataFiles(conf, path).headOption.getOrElse(
      throw new IllegalArgumentException(s"no Parquet data files in $path"))
    val footer = new Footer(first.getPath, readFooter(conf, first))
    val df = spark.read.schema(Shims.parquetFooterSchema(spark, footer)).parquet(path)
    val available = df.schema.fieldNames.toSet
    val wanted = Schema.parsedSchema.fields.filter(f => available.contains(f.name))
    require(available.contains(Schema.Timestamp) && available.contains(Schema.Content),
      s"required columns timestamp/content missing in $path")  // query.go:228-231
    df.select(wanted.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
  }

  /** The data files of a table: each file `path` (a path or a glob, as
    * `spark.read.parquet` takes) matches, and the visible files (names not
    * starting with `_` or `.`, so no `_SUCCESS` or checksum files) of each
    * directory it matches, sorted by path as Spark's schema inference sorts
    * them.
    */
  private def dataFiles(conf: Configuration, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val matched = fs.globStatus(p)
    if (matched == null || matched.isEmpty)
      throw new java.io.FileNotFoundException(s"Path does not exist: $path")
    matched.toSeq.flatMap { st =>
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filter { f =>
        val name = f.getPath.getName
        f.isFile && !name.startsWith("_") && !name.startsWith(".")
      }
    }.sortBy(_.getPath.toString)
  }

  private def readFooter(conf: Configuration, st: FileStatus): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    try reader.getFooter finally reader.close()
  }

  /** The Parquet relation `df` reads as it is: its analyzed plan is only
    * `Project` nodes over one Parquet `LogicalRelation`. Any other node (a
    * filter, limit, sample, join or aggregate) or an RDD-backed frame gives
    * None.
    */
  @tailrec private def parquetRelation(plan: LogicalPlan): Option[HadoopFsRelation] = plan match {
    case Project(_, child) => parquetRelation(child)
    case r: LogicalRelation => r.relation match {
      case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] => Some(h)
      case _ => None
    }
    case _ => None
  }

  /** The relation column that output `a` of `plan` is, passed through every
    * `Project` as an attribute or a widening `Cast` of one.
    */
  private def relationColumn(plan: LogicalPlan, a: Attribute): Option[Attribute] = {
    @tailrec def passed(e: Expression): Option[Attribute] = e match {
      case x: Attribute => Some(x)
      case Alias(c, _) => passed(c)
      case c: Cast if Cast.canUpCast(c.child.dataType, c.dataType) => passed(c.child)
      case _ => None
    }
    plan match {
      case Project(list, child) =>
        list.find(_.exprId == a.exprId).flatMap(passed).flatMap(relationColumn(child, _))
      case r: LogicalRelation => r.output.find(_.exprId == a.exprId)
      case _ => None
    }
  }

  /** The data files of `relation`, from its `FileIndex`'s listing (no I/O). */
  private def relationFiles(relation: HadoopFsRelation): Seq[FileStatus] =
    relation.location.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus))

  /** Whether Spark scans `df` as one partition: `df` reads a Parquet table
    * as it is, and the table is one data file of at most
    * `min(spark.sql.files.maxPartitionBytes, spark.sql.files.openCostInBytes)`
    * bytes, a size that no split size Spark derives can cut.
    */
  private[graft] def isOneSplit(df: DataFrame): Boolean =
    parquetRelation(df.queryExecution.analyzed).exists { h =>
      val conf = Shims.sqlConf(df.sparkSession)
      relationFiles(h) match {
        case Seq(f) => f.getLen <= math.min(conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes)
        case _ => false
      }
    }

  /** `max(line_no) + 1` for each `file` value of `df`, as
    * `groupBy(file).agg(max(line_no) + 1)` gives it, read from the row-group
    * statistics in the footers of the files `df` scans; no Spark job.
    *
    * Applies when `df` reads a Parquet table as it is (see
    * [[parquetRelation]]), with `file` a string column and `line_no` an
    * INT32 or INT64 one of its files, and every row group holds one `file`
    * value (min == max, no nulls) or only nulls, with a `line_no` max.
    * Otherwise (a column or its statistics absent, a row group mixing
    * `file` values), or when a footer cannot be read, None: the caller
    * aggregates.
    */
  private[graft] def footerLineCounts(df: DataFrame): Option[Seq[(Option[String], Long)]] = {
    val plan = df.queryExecution.analyzed
    def column(name: String, types: DataType*): Option[String] =
      plan.output.find(_.name == name).flatMap(relationColumn(plan, _))
        .filter(c => types.contains(c.dataType)).map(_.name)
    for {
      h <- parquetRelation(plan)
      file <- column(Schema.File, StringType)
      lineNo <- column(Schema.LineNo, IntegerType, LongType)
      counts <- {
        val conf = df.sparkSession.sparkContext.hadoopConfiguration
        try statsLineCounts(relationFiles(h).map(readFooter(conf, _)), file, lineNo)
        catch { case e if NonFatal(e) => None }
      }
    } yield counts
  }

  private def statsLineCounts(
      footers: Seq[ParquetMetadata], file: String, lineNo: String): Option[Seq[(Option[String], Long)]] = {
    def chunk(b: BlockMetaData, name: String) =
      b.getColumns.asScala.find(_.getPath == ColumnPath.get(name))
    // Some(None) for an all-null chunk, Some(Some(v)) for one holding only v
    def fileValue(b: BlockMetaData): Option[Option[String]] = chunk(b, file).flatMap { c =>
      val s = c.getStatistics
      if (c.getPrimitiveType.getPrimitiveTypeName != PrimitiveTypeName.BINARY ||
          s == null || !s.isNumNullsSet) None
      else if (!s.hasNonNullValue && s.getNumNulls == b.getRowCount) Some(None)
      else if (s.hasNonNullValue && s.getNumNulls == 0 &&
          java.util.Arrays.equals(s.getMinBytes, s.getMaxBytes))
        Some(Some(UTF8String.fromBytes(s.getMaxBytes).toString))
      else None
    }
    def maxLineNo(b: BlockMetaData): Option[Long] = chunk(b, lineNo).flatMap { c =>
      val t = c.getPrimitiveType
      val signed = t.getLogicalTypeAnnotation match {
        case null => true
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
        case _ => false
      }
      val s = c.getStatistics
      if (!signed || s == null || !s.hasNonNullValue) None
      else t.getPrimitiveTypeName match {
        // a max of Long.MaxValue is left to the aggregate, whose + 1
        // overflows as the session's ANSI setting says
        case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
          Some(s.genericGetMax.asInstanceOf[Number].longValue).filter(_ < Long.MaxValue)
        case _ => None
      }
    }
    val groups = footers.flatMap(_.getBlocks.asScala).filter(_.getRowCount > 0)
      .map(b => fileValue(b).zip(maxLineNo(b)))
    if (groups.contains(None)) None
    else Some(groups.flatten.groupMapReduce(_._1)(_._2)(math.max).toSeq.map { case (v, m) => (v, m + 1) })
  }

  /** Bucketed parquet table write — the storage-side half of co-located
    * joins at scale: two tables bucketed (and sorted) on the same join key
    * with the same bucket count join with NO shuffle and no sort; a
    * repeated large-fact join (e.g. lineitem ⋈ orders on orderkey at
    * 100 TB) pays its exchange once at write time instead of per query.
    * Registers `table` in the session catalog (parquet + zstd; Spark's
    * bucketing metadata lives in the catalog, not the files — reading the
    * bare paths won't see buckets).
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int,
      mode: String = "overwrite"): Unit = {
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    val spark = df.sparkSession
    if (mode == "overwrite") {
      // a managed table's LOCATION outlives an in-memory catalog (the
      // session dies, the warehouse dir doesn't): drop any registered
      // table, then remove an orphaned location a previous session left —
      // saveAsTable refuses to CREATE over an existing directory
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    // shuffle onto the bucket key BEFORE the bucketed write: without it
    // every input task writes one file into EVERY bucket it holds rows
    // for (tasks × buckets small files — the swamp writePartitioned also
    // guards against); with it each bucket is exactly one file. This IS
    // the write-side exchange the bucketing contract pays once.
    df.repartition(numBuckets, bucketCols.map(col): _*)
      .write
      .mode(mode)
      .format("parquet")
      .option("compression", "zstd")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
  }

  /** The read-back half of [[writeBucketed]], driven end to end: register
    * bucketed twins of lineitem and orders on their order keys and return
    * the fact⋈fact join ROWS — the join carries no Exchange and no sort
    * (both sides pre-hashed and pre-sorted at write time; pinned by
    * FixtureSpec's plan assertion), which is the whole point of paying the
    * write-side shuffle once for a join repeated per query at 100 TB.
    * Aggregations on top add only their own (tiny, post-join) exchange.
    */
  def bucketedOrderJoin(
      spark: SparkSession, dir: String, numBuckets: Int = 8): DataFrame = {
    writeBucketed(
      spark.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_quantity", "l_extendedprice"),
      "graft_bkt_lineitem", Seq("l_orderkey"), numBuckets)
    writeBucketed(
      spark.read.parquet(s"$dir/orders.parquet")
        .select("o_orderkey", "o_orderpriority"),
      "graft_bkt_orders", Seq("o_orderkey"), numBuckets)
    spark.table("graft_bkt_lineitem")
      .join(spark.table("graft_bkt_orders"),
        col("l_orderkey") === col("o_orderkey"))
  }

  /** S10: Parquet footer metadata (rows, columns, bytes, row groups) —
    * reference GetFileInfo (query.go:358-396).
    */
  case class FileInfo(rowCount: Long, columnCount: Int, fileSize: Long, numRowGroups: Int)

  def fileInfo(spark: SparkSession, path: String): FileInfo = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = dataFiles(conf, path)
    val footers = files.map(readFooter(conf, _))
    FileInfo(
      rowCount = footers.map(_.getBlocks.asScala.map(_.getRowCount).sum).sum,
      columnCount = footers.lastOption.fold(0)(_.getFileMetaData.getSchema.getFieldCount),
      fileSize = files.map(_.getLen).sum,
      numRowGroups = footers.map(_.getBlocks.size).sum)
  }
}
