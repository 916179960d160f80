package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet sink/source for entry tables.
  *
  * Write: Zstd compression everywhere (the reference intends Zstd-3 but its
  * streaming writer silently falls back to defaults — reference
  * parquet.go:121-132 vs 161-164; we do not replicate that bug), rows
  * pre-sorted by `(file, line_no)` which is also timestamp order, honoring
  * the reference's sorting-columns metadata intent (parquet.go:124-127)
  * while keeping the exact log line order reconstructible.
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
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path) // resolves the path and footer schema once
    val available = df.schema.fieldNames.toSet
    val wanted = Schema.parsedSchema.fields.filter(f => available.contains(f.name))
    require(available.contains(Schema.Timestamp) && available.contains(Schema.Content),
      s"required columns timestamp/content missing in $path")  // query.go:228-231
    df.select(wanted.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
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
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val statuses =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet")).toSeq
      else Seq(fs.getFileStatus(p))
    var rows = 0L
    var groups = 0
    var size = 0L
    var cols = 0
    statuses.foreach { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try {
        val footer = reader.getFooter
        rows += reader.getRecordCount
        groups += footer.getBlocks.size()
        cols = footer.getFileMetaData.getSchema.getFieldCount
        size += st.getLen
      } finally reader.close()
    }
    FileInfo(rows, cols, size, groups)
  }
}
