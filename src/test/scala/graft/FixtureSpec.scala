package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Whole-file integration against the reference's committed fixtures
  * (read-only at /root/reference/testdata). Golden counts are the
  * reference's own published summary (reference README.md:300-308) and were
  * re-verified against the committed bash-example.parquet byte-for-byte.
  */
class FixtureSpec extends AnyFunSuite {
  import TestSpark.spark

  private val logPath = "/root/reference/testdata/bash-example.log"
  private val parquetPath = "/root/reference/testdata/bash-example.parquet"

  private lazy val parsed = LogParser.parse(spark, logPath).cache()

  test("bash-example.log golden summary counts") {
    val r = Queries.summary(parsed).head()
    assert(r.getAs[Long]("total_entries") == 212L)
    assert(r.getAs[Long]("entries_with_time") == 212L)
    assert(r.getAs[Long]("commands") == 15L)
    assert(r.getAs[Long]("sections") == 13L)
    assert(r.getAs[Long]("progress") == 4L)
    assert(r.getAs[Long]("regular_output") == 180L)
  }

  test("parse output matches the committed fixture parquet row-for-row") {
    val ours = parsed.orderBy("line_no")
      .select("timestamp", "content", "group",
        "has_timestamp", "is_command", "is_group", "is_progress")
      .collect()
    // fixture uses the epoch-ms sentinel convention; all 212 rows have
    // real timestamps so the null-vs-sentinel divergence is not exercised
    val fixture = ParquetIO.read(spark, parquetPath)
      .select("timestamp", "content", "group",
        "has_timestamp", "is_command", "is_group", "is_progress")
      .collect()
    assert(ours.length == fixture.length)
    ours.zip(fixture).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"row $i differs")
    }
  }

  test("fast byte-scanner path ≡ Catalyst expression path, even across tiny splits") {
    // 4 KB splits force the prefix scan to stitch many boundaries
    val fast = LogParser.parse(spark, logPath, splitMaxBytes = 4096)
      .orderBy("line_no").collect()
    val exprP = ParseOracle.parseExpr(spark, logPath, splitMaxBytes = 4096)
      .orderBy("line_no").collect()
    assert(fast.length == 212 && exprP.length == 212)
    fast.zip(exprP).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"row $i differs between fast and expression paths")
    }
  }

  test("legacy 8-column fixture reads despite unknown raw_line_size column") {
    val df = ParquetIO.read(spark, parquetPath)
    assert(!df.columns.contains("raw_line_size"))
    assert(df.count() == 212L)
  }

  test("parquet round-trip with zstd preserves entries") {
    val dir = Files.createTempDirectory("graft-rt").toString + "/entries"
    ParquetIO.write(parsed, dir)
    val back = ParquetIO.read(spark, dir)
    assert(back.count() == 212L)
    val a = parsed.orderBy("line_no").select(Schema.referenceColumns.map(col).toSeq: _*).collect()
    val b = back.orderBy("line_no").select(Schema.referenceColumns.map(col).toSeq: _*).collect()
    assert(a.sameElements(b))
  }

  test("bucketed tables join without a shuffle exchange") {
    import spark.implicits._
    val left = (1L to 1000L).map(i => (i, s"l$i")).toDF("k", "lv")
    val right = (1L to 1000L).map(i => (i, i * 2)).toDF("k", "rv")
    ParquetIO.writeBucketed(left, "bk_left", Seq("k"), 4)
    ParquetIO.writeBucketed(right, "bk_right", Seq("k"), 4)
    try {
      val joined = spark.table("bk_left").join(spark.table("bk_right"), "k")
      assert(joined.count() == 1000L)
      // bucketing metadata must eliminate BOTH shuffle exchanges. Disable
      // AQE (final plan string) and broadcast (tiny test tables would
      // broadcast-join, which sidesteps buckets entirely) so the planner
      // must pick the shuffle-join path a 100 TB fact⋈fact join would take.
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = spark.table("bk_left").join(spark.table("bk_right"), "k")
          .queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join:\n$plan")
        assert(plan.contains("Bucketed: true"), s"expected bucketed scan:\n$plan")
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS bk_left")
      spark.sql("DROP TABLE IF EXISTS bk_right")
    }
  }

  test("bucketedOrderJoin: fact-fact join plan is shuffle-free past the scans") {
    val joined = ParquetIO.bucketedOrderJoin(spark, "/root/testdata/sf0.001", 4)
    try {
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        // re-derive the join so the plan is built under the pinned confs
        val plan = spark.table("graft_bkt_lineitem")
          .join(spark.table("graft_bkt_orders"),
            org.apache.spark.sql.functions.col("l_orderkey") ===
              org.apache.spark.sql.functions.col("o_orderkey"))
          .queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join:\n$plan")
        assert(plan.contains("Bucketed: true"), s"expected bucketed scans:\n$plan")
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      }
      // and the rows are the plain join's rows
      val want = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .join(spark.read.parquet("/root/testdata/sf0.001/orders.parquet"),
          org.apache.spark.sql.functions.col("l_orderkey") ===
            org.apache.spark.sql.functions.col("o_orderkey")).count()
      assert(joined.count() == want)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bkt_lineitem")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_orders")
    }
  }

  test("overwrite-onto-input guard: compact and writePartitioned refuse to destroy their source") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-guard").toString
    (1 to 100).map(i => (i.toLong, i % 5)).toDF("id", "g")
      .write.parquet(s"$dir/in")
    intercept[IllegalArgumentException] {
      ParquetIO.compact(spark, s"$dir/in", s"$dir/in", Seq("id"))
    }
    // nested output inside the input dir is just as destructive
    intercept[IllegalArgumentException] {
      ParquetIO.compact(spark, s"$dir/in", s"$dir/in/", Seq("id"))
    }
    val df = spark.read.parquet(s"$dir/in")
    intercept[IllegalArgumentException] {
      ParquetIO.writePartitioned(df, s"$dir/in", Seq("g"))
    }
    intercept[IllegalArgumentException] {
      operators.Layout.writeZOrdered(df, "id", "g", s"$dir/in")
    }
    // and the input survived all four refusals
    assert(spark.read.parquet(s"$dir/in").count() == 100)
    // distinct dir still works
    ParquetIO.compact(spark, s"$dir/in", s"$dir/out", Seq("id"), numFiles = 2)
    assert(spark.read.parquet(s"$dir/out").count() == 100)
  }

  test("compact: many small files -> n sorted files, rows identical, ranges disjoint") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    val base = java.nio.file.Files.createTempDirectory("compact").toString
    try {
      // 64 tiny files (the streaming-ingest small-file shape)
      (1L to 10000L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartition(64).write.parquet(s"$base/small")
      assert(spark.read.parquet(s"$base/small")
        .select(input_file_name()).distinct().count() == 64L)

      ParquetIO.compact(spark, s"$base/small", s"$base/big", Seq("k"), numFiles = 4)
      val back = spark.read.parquet(s"$base/big")
      assert(back.count() == 10000L)
      assert(back.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
        (1L to 10000L))
      // ≤4 files whose key ranges are DISJOINT (global range partitioning):
      // footer min/max then prunes scans exactly like a sorted write
      val spans = back.groupBy(input_file_name().as("f"))
        .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(spans.length <= 4)
      spans.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2, s"overlap: ${spans.toSeq}")
        case _ =>
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("compactToSize derives the file count from input bytes and a target size") {
    import spark.implicits._
    import org.apache.spark.sql.functions.input_file_name
    val base = java.nio.file.Files.createTempDirectory("compact-sz").toString
    try {
      (1L to 20000L).map(i => (i, s"value-$i")).toDF("k", "v")
        .repartition(32).write.parquet(s"$base/small")
      val inBytes = org.apache.commons.io.FileUtils
        .sizeOfDirectory(new java.io.File(s"$base/small"))
      // target = half the input -> exactly 2 output files
      ParquetIO.compactToSize(spark, s"$base/small", s"$base/big", Seq("k"),
        targetFileBytes = (inBytes + 1) / 2)
      val back = spark.read.parquet(s"$base/big")
      assert(back.count() == 20000L)
      assert(back.select(input_file_name()).distinct().count() == 2L)
      // an oversized target always yields one file
      ParquetIO.compactToSize(spark, s"$base/small", s"$base/one", Seq("k"),
        targetFileBytes = Long.MaxValue)
      assert(spark.read.parquet(s"$base/one")
        .select(input_file_name()).distinct().count() == 1L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("partitioned write: directory pruning in the plan, bounded files per partition") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name}
    val base = java.nio.file.Files.createTempDirectory("partwrite").toString
    try {
      val df = (1L to 3000L).map(i => (i, s"lang${i % 4}", s"text $i"))
        .toDF("doc_id", "lang", "text").repartition(16)
      ParquetIO.writePartitioned(df, s"$base/d", Seq("lang"), filesPerPartition = 2)
      val back = spark.read.parquet(s"$base/d")
      assert(back.count() == 3000L)
      // ≤2 files inside each lang= directory (salted single-shuffle write)
      val perDir = back.filter(col("lang") === "lang1")
        .select(input_file_name()).distinct().count()
      assert(perDir <= 2L, s"expected <=2 files for lang1, got $perDir")
      // a partition predicate prunes DIRECTORIES at planning time
      val plan = back.filter(col("lang") === "lang2")
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(lang"),
        s"expected partition pruning in:\n$plan")
      assert(back.filter(col("lang") === "lang2").count() == 750L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("fileInfo reads the parquet footer") {
    val info = ParquetIO.fileInfo(spark, parquetPath)
    assert(info.rowCount == 212L)
    assert(info.columnCount == 8) // legacy fixture carries raw_line_size
    assert(info.numRowGroups == 1)
    assert(info.fileSize > 0)
  }

  test("larger fixture (11k rows, 12 row groups) reads and aggregates") {
    val path = "/root/reference/testdata/bazel-bazel_build_32517_rocky-rocky-linux-8.parquet"
    val info = ParquetIO.fileInfo(spark, path)
    assert(info.rowCount == 11029L)
    assert(info.numRowGroups == 12)
    val df = ParquetIO.read(spark, path)
    val groups = Queries.listGroups(df)
    assert(groups.count() > 0)
    assert(groups.agg(sum("entry_count")).head().getLong(0) == 11029L)
  }
}
