package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Query-operation semantics against the parsed bash-example fixture
  * (reference query_test.go / query_seek_test.go / query_cli.go).
  */
class QueriesSpec extends AnyFunSuite {
  import TestSpark.{spark, linesDF, jobsOf}

  private lazy val parsed =
    LogParser.parse(spark, "/root/reference/testdata/bash-example.log").cache()

  test("list-groups: 13 groups ordered by first_seen, counts sum to total") {
    val groups = Queries.listGroups(parsed).collect()
    assert(groups.length == 13)
    assert(groups.map(_.getAs[Long]("entry_count")).sum == 212L)
    assert(groups.map(_.getAs[Long]("commands")).sum == 15L)
    assert(groups.map(_.getAs[Long]("progress")).sum == 4L)
    val firstSeen = groups.map(_.getAs[java.sql.Timestamp]("first_seen").getTime)
    assert(firstSeen.sameElements(firstSeen.sorted), "ordered by first_seen")
  }

  test("by-group: case-insensitive substring; every match contains pattern") {
    // query_test.go:59-83 invariant
    val matched = Queries.byGroup(parsed, "Environment").collect()
    assert(matched.nonEmpty)
    assert(matched.forall(_.getAs[String]("group").toLowerCase.contains("environment")))
  }

  test("by-group: '<no group>' pattern selects ungrouped rows") {
    // query.go:343-348 — normalization happens BEFORE the match
    val df = ParseOracle.parseLines(linesDF(Seq("pre1", "pre2", "~~~ G", "post")))
    assert(Queries.byGroup(df, "no group").count() == 2L)
  }

  test("filter by type") {
    assert(Queries.filterByType(parsed, "command").count() == 15L)
    assert(Queries.filterByType(parsed, "group").count() == 13L)
    assert(Queries.filterByType(parsed, "section").count() == 13L)
    assert(Queries.filterByType(parsed, "progress").count() == 4L)
    assert(Queries.filterByType(parsed, "anything-else").count() == 212L)
  }

  test("tail returns the last n rows in order") {
    val rows = Queries.tail(parsed, 5).select("line_no").collect().map(_.getLong(0))
    assert(rows.sameElements(Array(207L, 208L, 209L, 210L, 211L)))
    // n larger than file -> whole file (query_cli.go:319-327 clamps to 0)
    assert(Queries.tail(parsed, 1000).count() == 212L)
  }

  test("tail of an empty entries table is empty, not an error") {
    assert(Queries.tail(parsed.filter(col("line_no") < 0), 5).count() == 0L)
  }

  test("tail/seek over multiple files use the global row space, not per-file line_no") {
    // line_no restarts per file (advisor finding, round 1): tail(n) must
    // return the last n rows of the CONCATENATED stream (files in name
    // order), not the tail of each file
    val tmp = java.nio.file.Files.createTempDirectory("multitail")
    java.nio.file.Files.write(tmp.resolve("a.log"), (0 until 10).map(i => s"a$i").mkString("\n").getBytes)
    java.nio.file.Files.write(tmp.resolve("b.log"), (0 until 10).map(i => s"b$i").mkString("\n").getBytes)
    val entries = LogParser.parse(spark, tmp.toString + "/*.log")
    assert(entries.count() == 20L)
    val t3 = Queries.tail(entries, 3).select("content").collect().map(_.getString(0))
    assert(t3.toSeq == Seq("b7", "b8", "b9"), s"got ${t3.toSeq}")
    val t12 = Queries.tail(entries, 12).select("content").collect().map(_.getString(0))
    assert(t12.toSeq == (8 until 10).map(i => s"a$i") ++ (0 until 10).map(i => s"b$i"),
      s"tail crossing the file boundary, got ${t12.toSeq}")
    val s15 = Queries.seek(entries, 15, Some(3)).select("content").collect().map(_.getString(0))
    assert(s15.toSeq == Seq("b5", "b6", "b7"), s"got ${s15.toSeq}")
    val sAll = Queries.seek(entries, 8).select("content").collect().map(_.getString(0))
    assert(sAll.toSeq == Seq("a8", "a9") ++ (0 until 10).map(i => s"b$i"))
  }

  test("seek/tail over many files (>64) keep the few-file semantics") {
    // seek's predicate has two terms whatever the file count; tail never
    // looks at per-file counts
    import spark.implicits._
    val rows = for (f <- 0 until 80; i <- 0 until 5)
      yield (f"file$f%03d", i.toLong, s"f$f-l$i")
    val entries = rows.toDF(Schema.File, Schema.LineNo, "content")
    val t3 = Queries.tail(entries, 3).select("content").collect().map(_.getString(0))
    assert(t3.toSeq == Seq("f79-l2", "f79-l3", "f79-l4"), s"got ${t3.toSeq}")
    // global row 202 = file 40 (offset 200), line 2; crosses into file 41
    val s = Queries.seek(entries, 202, Some(4)).select("content").collect().map(_.getString(0))
    assert(s.toSeq == Seq("f40-l2", "f40-l3", "f40-l4", "f41-l0"), s"got ${s.toSeq}")
    assert(Queries.seek(entries, 400).count() == 0L)
  }

  /** Entries with the parsed schema: `n` rows per file, dense `line_no`,
    * content `<file>-l<i>`, a command every third line, a new group every
    * fourth.
    */
  private def entriesOf(files: (String, Int)*): DataFrame = {
    val rows = for ((f, n) <- files; i <- 0 until n) yield
      Row(1700000000000L + i, s"$f-l$i", s"g${i / 4}", true, i % 3 == 0,
        i % 4 == 0, i % 5 == 0, f, i.toLong, false)
    spark.createDataFrame(rows.asJava, Schema.parsedSchema)
  }

  private def contents(df: DataFrame): Seq[String] =
    df.select("content").collect().map(_.getString(0)).toSeq

  test("tail on a filtered frame returns that frame's last n rows") {
    // commands: a-l0, a-l3, a-l6, b-l0, b-l3; a cutoff taken from
    // max(line_no) + 1 per file would keep only b-l3 for n = 2
    val cmds = entriesOf("a" -> 8, "b" -> 5).filter(col(Schema.IsCommand))
    assert(contents(Queries.tail(cmds, 2)) == Seq("b-l0", "b-l3"))
    assert(contents(Queries.tail(cmds, 4)) == Seq("a-l3", "a-l6", "b-l0", "b-l3"))
    assert(contents(Queries.tail(cmds.filter(col(Schema.File) === "a"), 5)) ==
      Seq("a-l0", "a-l3", "a-l6"))
  }

  test("tail/seek limits of 2^31 and more do not wrap to an Int") {
    val df = entriesOf("a" -> 2, "b" -> 1)
    val all = Seq("a-l0", "a-l1", "b-l0")
    // 2^31 wraps to Int.MinValue, 2^32 + 1 to 1
    for (n <- Seq(1L << 31, (1L << 32) + 1, Long.MaxValue)) {
      assert(contents(Queries.tail(df, n)) == all, s"tail $n")
      assert(contents(Queries.seek(df, 0, Some(n))) == all, s"seek limit $n")
      assert(contents(Queries.seek(df, 1, Some(n))) == all.drop(1), s"seek 1 limit $n")
    }
    assert(contents(Queries.tail(df, 2)) == all.drop(1))
    assert(contents(Queries.tail(df, 0)).isEmpty)
    assert(contents(Queries.tail(df, -3)).isEmpty)
    assert(contents(Queries.seek(df, 0, Some(0))).isEmpty)
    assert(contents(Queries.seek(df, 0, Some(-1))).isEmpty)
  }

  test("tail/seek limits far above the row count return the whole frame") {
    // read from Parquet, so the planner knows no row bound and keeps the
    // limit: a top-n of 3*10^8 sizes a buffer of 6*10^8 rows per task
    val dir = Files.createTempDirectory("graft-bigtail").toString + "/e"
    ParquetIO.write(entriesOf("a" -> 2, "b" -> 1), dir)
    val e = ParquetIO.read(spark, dir)
    assert(contents(Queries.tail(e, 300000000L)) == Seq("a-l0", "a-l1", "b-l0"))
    assert(contents(Queries.seek(e, 1, Some(300000000L))) == Seq("a-l1", "b-l0"))
  }

  test("seek at row 0, a file boundary, the end, past it, and before row 0") {
    val df = entriesOf("a" -> 3, "b" -> 2)
    assert(contents(Queries.seek(df, 0)) == Seq("a-l0", "a-l1", "a-l2", "b-l0", "b-l1"))
    assert(contents(Queries.seek(df, 2, Some(2))) == Seq("a-l2", "b-l0"))
    assert(contents(Queries.seek(df, 3)) == Seq("b-l0", "b-l1"))
    assert(contents(Queries.seek(df, 4)) == Seq("b-l1"))
    assert(Queries.seek(df, 5).count() == 0L)
    assert(Queries.seek(df, 6).count() == 0L)
    assert(Queries.seek(df, -1).count() == 0L)
    assert(Queries.seek(df.limit(0), 0).count() == 0L)
  }

  test("seek/tail on an empty-string file, a null file, and non-ASCII file names") {
    // a foreign Parquet file gets file = "" and line_no from its row order
    val foreign = entriesOf("x" -> 4).drop(Schema.File, Schema.LineNo)
    val numbered = Cli.entriesWithLineNo(foreign)
    assert(contents(Queries.seek(numbered, 2)) == Seq("x-l2", "x-l3"))
    assert(contents(Queries.tail(numbered, 1)) == Seq("x-l3"))
    // null sorts first, as in orderBy(file, line_no), then "" and "a"
    val nulls = entriesOf("a" -> 2, "" -> 2, "n" -> 2)
      .withColumn(Schema.File, when(col(Schema.File) =!= "n", col(Schema.File)))
    assert(contents(Queries.seek(nulls, 1)) == Seq("n-l1", "-l0", "-l1", "a-l0", "a-l1"))
    assert(contents(Queries.seek(nulls, 2, Some(3))) == Seq("-l0", "-l1", "a-l0"))
    assert(contents(Queries.seek(nulls, 4)) == Seq("a-l0", "a-l1"))
    assert(contents(Queries.tail(nulls, 3)) == Seq("-l1", "a-l0", "a-l1"))
    assert(contents(Queries.tail(nulls, 5)) == Seq("n-l1", "-l0", "-l1", "a-l0", "a-l1"))
    // Spark orders strings by UTF-8 bytes: U+FFFD (EF BF BD) before U+1F600
    // (F0 9F 98 80), the reverse of Java's UTF-16 order
    val (bmp, astral) = ("\uFFFD", "\uD83D\uDE00")
    val wide = entriesOf(astral -> 2, bmp -> 2)
    assert(contents(Queries.seek(wide, 2)) == Seq(s"$astral-l0", s"$astral-l1"))
    assert(contents(Queries.seek(wide, 1, Some(2))) == Seq(s"$bmp-l1", s"$astral-l0"))
  }

  test("ParquetIO.read ignores extra columns and requires timestamp and content") {
    val base = Files.createTempDirectory("graft-read").toString
    entriesOf("a" -> 3).withColumn("raw_line_size", lit(7))
      .write.parquet(s"$base/extra")
    val back = ParquetIO.read(spark, s"$base/extra")
    assert(back.columns.toSeq == Schema.parsedSchema.fieldNames.toSeq)
    assert(contents(back.orderBy(Schema.LineNo)) == Seq("a-l0", "a-l1", "a-l2"))
    entriesOf("a" -> 3).drop(Schema.Timestamp).write.parquet(s"$base/nots")
    val e = intercept[IllegalArgumentException](ParquetIO.read(spark, s"$base/nots"))
    assert(e.getMessage.contains("timestamp/content missing"), e.getMessage)
  }

  test("ParquetIO.read from one footer: single file, _SUCCESS and .crc, empty dir, legacy types") {
    val base = Files.createTempDirectory("graft-footer").toString
    // the schema Spark's own inference gives, projected as read projects it
    def inferred(path: String) = {
      val df = spark.read.parquet(path)
      val wanted = Schema.parsedSchema.fields.filter(f => df.columns.contains(f.name))
      df.select(wanted.map(f => col(f.name).cast(f.dataType)).toSeq: _*).schema
    }
    ParquetIO.write(entriesOf("a" -> 3, "b" -> 2), s"$base/t")
    val names = new java.io.File(s"$base/t").list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(n => n.startsWith(".") && n.endsWith(".crc")),
      names)
    val dir = ParquetIO.read(spark, s"$base/t")
    assert(dir.schema == inferred(s"$base/t"))
    assert(contents(dir.orderBy(Schema.File, Schema.LineNo)) ==
      Seq("a-l0", "a-l1", "a-l2", "b-l0", "b-l1"))
    val part = s"$base/t/" + names.filter(_.endsWith(".parquet")).sorted.head
    val file = ParquetIO.read(spark, part)
    assert(file.schema == inferred(part))
    assert(contents(file) == contents(spark.read.parquet(part)))
    val glob = ParquetIO.read(spark, s"$base/t/part-*")
    assert(glob.schema == inferred(s"$base/t/part-*"))
    assert(glob.count() == 5L)

    val empty = Files.createDirectory(java.nio.file.Paths.get(base, "empty"))
    Files.createFile(empty.resolve("_SUCCESS"))
    val e = intercept[IllegalArgumentException](ParquetIO.read(spark, empty.toString))
    assert(e.getMessage.contains("no Parquet data files"), e.getMessage)
    intercept[java.io.FileNotFoundException](ParquetIO.read(spark, s"$base/absent"))

    entriesOf("a" -> 3)
      .withColumn(Schema.Timestamp, (col(Schema.Timestamp) % 1000).cast("int"))
      .withColumn(Schema.LineNo, col(Schema.LineNo).cast("int"))
      .write.parquet(s"$base/legacy")
    val legacy = ParquetIO.read(spark, s"$base/legacy")
    assert(legacy.schema == inferred(s"$base/legacy"))
    assert(legacy.schema(Schema.Timestamp).dataType == LongType)
    assert(legacy.orderBy(Schema.LineNo).select(Schema.Timestamp, Schema.LineNo).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 0L), (1L, 1L), (2L, 2L)))
  }

  test("job counts: ParquetIO.read 0, then summary, listGroups, tail and a limited seek 1 each on a one-file table") {
    val base = Files.createTempDirectory("graft-jobs").toString
    // one file of one log: every row group holds one `file` value
    ParquetIO.write(entriesOf("a" -> 70).coalesce(1), s"$base/one")
    val (e, readJobs) = jobsOf(ParquetIO.read(spark, s"$base/one"))
    assert(readJobs == 0, s"ParquetIO.read ran $readJobs jobs")
    val (sum, summaryJobs) = jobsOf(Queries.summary(e).head())
    assert(sum.getAs[Long]("total_entries") == 70L && sum.getAs[Long]("commands") == 24L)
    assert(summaryJobs == 1, s"summary ran $summaryJobs jobs")
    val (g, groupJobs) = jobsOf(Queries.listGroups(e).collect())
    assert(g.length == 18 && g.map(_.getAs[Long]("entry_count")).sum == 70L)
    assert(groupJobs == 1, s"listGroups ran $groupJobs jobs")
    val (t, tailJobs) = jobsOf(contents(Queries.tail(e, 5)))
    assert(t == (65 until 70).map(i => s"a-l$i"))
    assert(tailJobs == 1, s"tail ran $tailJobs jobs")
    val (s, seekJobs) = jobsOf(contents(Queries.seek(e, 38, Some(4))))
    assert(s == (38 until 42).map(i => s"a-l$i"))
    assert(seekJobs == 1, s"seek ran $seekJobs jobs")

    // two logs parsed into two files: the footers still give seek its counts
    val logs = Files.createTempDirectory("graft-jobs-logs")
    for (f <- Seq("a", "b"))
      Files.write(logs.resolve(s"$f.log"), (0 until 10).map(i => s"$f$i\n").mkString.getBytes)
    ParquetIO.write(LogParser.parse(spark, logs.toString + "/*.log"), s"$base/two")
    assert(new java.io.File(s"$base/two").list().count(_.endsWith(".parquet")) == 2)
    val two = ParquetIO.read(spark, s"$base/two")
    val (s2, seek2Jobs) = jobsOf(contents(Queries.seek(two, 15, Some(3))))
    assert(s2 == Seq("b5", "b6", "b7"), s"got $s2")
    assert(seek2Jobs == 1, s"seek on two files ran $seek2Jobs jobs")
    val (t2, tail2Jobs) = jobsOf(contents(Queries.tail(two, 3)))
    assert(t2 == Seq("b7", "b8", "b9") && tail2Jobs == 1, s"tail on two files: $t2, $tail2Jobs jobs")
    val (g2, group2Jobs) = jobsOf(Queries.listGroups(two).collect())
    assert(g2.map(_.getAs[Long]("entry_count")).sum == 20L)
    assert(group2Jobs <= 2, s"listGroups on two files ran $group2Jobs jobs")

    // one row group mixing two `file` values: seek falls back to the
    // aggregate and returns the same rows
    ParquetIO.write(entriesOf("a" -> 40, "b" -> 30).coalesce(1), s"$base/mixed")
    val mixed = ParquetIO.read(spark, s"$base/mixed")
    assert(ParquetIO.footerLineCounts(mixed).isEmpty)
    val (s3, seek3Jobs) = jobsOf(contents(Queries.seek(mixed, 38, Some(4))))
    assert(s3 == Seq("a-l38", "a-l39", "b-l0", "b-l1"))
    assert(seek3Jobs <= 3, s"seek on a mixed row group ran $seek3Jobs jobs")
  }

  test("seek: footer counts equal the aggregate's at row 0, a file boundary, the end, past it and -1") {
    val base = Files.createTempDirectory("graft-footer-counts").toString
    // one file per `file` value, appended to one table
    def table(name: String, parts: DataFrame*): String = {
      val dir = s"$base/$name"
      parts.zipWithIndex.foreach { case (p, i) =>
        ParquetIO.write(p.coalesce(1), dir, if (i == 0) "overwrite" else "append")
      }
      dir
    }
    val one = ParquetIO.read(spark, table("one", entriesOf("a" -> 7)))
    val many = ParquetIO.read(spark,
      table("many", entriesOf("b" -> 4), entriesOf("a" -> 3), entriesOf("c" -> 5)))
    val nulls = ParquetIO.read(spark, table("nulls", entriesOf("a" -> 3),
      entriesOf("n" -> 2).withColumn(Schema.File, lit(null).cast("string"))))
    val legacyDir = s"$base/legacy"
    entriesOf("a" -> 6).withColumn(Schema.LineNo, col(Schema.LineNo).cast("int"))
      .coalesce(1).write.parquet(legacyDir)
    entriesOf("b" -> 2).withColumn(Schema.LineNo, col(Schema.LineNo).cast("int"))
      .coalesce(1).write.mode("append").parquet(legacyDir)
    val legacy = ParquetIO.read(spark, legacyDir)
    val mixed = ParquetIO.read(spark, table("mixed", entriesOf("a" -> 3, "b" -> 4)))
    val footerFrames = Seq("one" -> one, "many" -> many, "nulls" -> nulls, "legacy" -> legacy)
    val otherFrames = Seq(
      "filter(is_command)" -> many.filter(col(Schema.IsCommand)),
      "line_no + 1" -> many.withColumn(Schema.LineNo, col(Schema.LineNo) + 1),
      "entriesWithLineNo" -> Cli.entriesWithLineNo(many.drop(Schema.File, Schema.LineNo)),
      "mixed row group" -> mixed)
    // a Filter the optimizer drops keeps the frame on the aggregate path
    def viaAggregate(df: DataFrame) = df.filter(lit(true))
    for ((name, df) <- footerFrames ++ otherFrames) {
      val footer = ParquetIO.footerLineCounts(df)
      assert(footer.isDefined == footerFrames.exists(_._1 == name), s"$name: $footer")
      assert(ParquetIO.footerLineCounts(viaAggregate(df)).isEmpty, name)
      val counts = Queries.aggregateLineCounts(df).sortBy(_._1.getOrElse(""))
      footer.foreach(c => assert(c.sortBy(_._1.getOrElse("")) == counts, name))
      val total = counts.map(_._2).sum
      val boundary = counts.sortBy(_._1.map(UTF8String.fromString)).head._2
      for (k <- Seq(0L, boundary, total - 1, total, total + 1, -1L)) {
        assert(contents(Queries.seek(df, k)) == contents(Queries.seek(viaAggregate(df), k)),
          s"$name seek $k")
      }
    }
    assert(contents(Queries.seek(nulls, 1)) == Seq("n-l1", "a-l0", "a-l1", "a-l2"))
    assert(contents(Queries.seek(legacy, 5, Some(2))) == Seq("a-l5", "b-l0"))
  }

  test("ParquetIO.write: no dictionary on content, a dictionary on group, min/max on file, line_no and content") {
    val dir = Files.createTempDirectory("graft-encodings")
    val log = dir.resolve("job.log")
    // a generated job log: a timestamp on every line, a section header every
    // 50 lines, a command every 7th, the rest distinct output lines
    Files.write(log, (0 until 2000).map { i =>
      val body =
        if (i % 50 == 0) s"~~~ Section ${i / 50}"
        else if (i % 7 == 0) s"$$ make step-$i"
        else s"output line $i: ${(i * 7919) % 10007} bytes written"
      s"\u001b_bk;t=${1700000000000L + 13L * i}\u0007$body\n"
    }.mkString.getBytes("UTF-8"))
    val table = dir.resolve("entries").toString
    ParquetIO.write(LogParser.parse(spark, log.toString), table)
    val conf = spark.sparkContext.hadoopConfiguration
    val blocks = new java.io.File(table).listFiles().map(_.getPath).filter(_.endsWith(".parquet"))
      .toSeq.flatMap { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
        try reader.getFooter.getBlocks.asScala.toSeq finally reader.close()
      }
    assert(blocks.map(_.getRowCount).sum == 2000L)
    for (b <- blocks) {
      val chunks = b.getColumns.asScala.map(c => c.getPath.toDotString -> c).toMap
      def dictionary(name: String) = chunks(name).getEncodings.asScala.exists(_.usesDictionary)
      assert(!dictionary(Schema.Content), chunks(Schema.Content).getEncodings)
      assert(dictionary(Schema.Group), chunks(Schema.Group).getEncodings)
      for (name <- Seq(Schema.File, Schema.LineNo, Schema.Content)) {
        val st = chunks(name).getStatistics
        assert(st != null && st.hasNonNullValue && st.isNumNullsSet, s"$name: $st")
      }
    }
  }

  test("seek streams from row k with optional limit") {
    val rows = Queries.seek(parsed, 100, Some(10)).select("line_no").collect().map(_.getLong(0))
    assert(rows.toSeq == (100L to 109L).toSeq)
    assert(Queries.seek(parsed, 200).count() == 12L)
    // beyond EOF -> empty (the reference errors; we return empty, which is
    // the idiomatic lazy-DataFrame shape of the same condition)
    assert(Queries.seek(parsed, 5000).count() == 0L)
  }

  test("summary equals the reference A2 counters") {
    val r = Queries.summary(parsed).head()
    assert(r.getAs[Long]("total_entries") == 212L)
    assert(r.getAs[Long]("regular_output") ==
      212L - r.getAs[Long]("commands") - r.getAs[Long]("sections") - r.getAs[Long]("progress"))
  }

  test("group filter pushes down to the parquet scan") {
    // P6 over a persisted entries table: predicate must reach the scan.
    val dir = java.nio.file.Files.createTempDirectory("graft-pd").toString + "/e"
    ParquetIO.write(parsed, dir)
    val back = ParquetIO.read(spark, dir).filter(col(Schema.IsCommand))
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(is_command), EqualTo(is_command,true)]")
      || plan.contains("EqualTo(is_command,true)"), plan)
  }
}
