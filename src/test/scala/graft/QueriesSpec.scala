package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Query-operation semantics against the parsed bash-example fixture
  * (reference query_test.go / query_seek_test.go / query_cli.go).
  */
class QueriesSpec extends AnyFunSuite {
  import TestSpark.{spark, linesDF}

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
    val df = LogParser.parseLines(linesDF(Seq("pre1", "pre2", "~~~ G", "post")))
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

  /** Spark jobs `body` starts, counted through a job-local property. A
    * sentinel job with another tag runs after `body`; listener events
    * arrive in order, so once it is seen every job of `body` has been.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val prop = "graft.test.jobs"
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(prop))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(prop, tag)
      val out = body
      sc.setLocalProperty(prop, tag + "-end")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10000000000L
      while (!seen.contains(tag + "-end") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(tag + "-end"), "listener never saw the sentinel job")
      (out, seen.asScala.count(_ == tag))
    } finally {
      sc.setLocalProperty(prop, null)
      sc.removeSparkListener(listener)
    }
  }

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

  test("job counts: tail 1, seek with a limit <= 3, listGroups <= 2, ParquetIO.read <= 1") {
    val dir = Files.createTempDirectory("graft-jobs").toString + "/e"
    ParquetIO.write(entriesOf("a" -> 40, "b" -> 30), dir)
    val (e, readJobs) = jobsOf(ParquetIO.read(spark, dir))
    assert(readJobs <= 1, s"ParquetIO.read ran $readJobs jobs")
    val (t, tailJobs) = jobsOf(contents(Queries.tail(e, 5)))
    assert(t == (25 until 30).map(i => s"b-l$i"))
    assert(tailJobs == 1, s"tail ran $tailJobs jobs")
    val (s, seekJobs) = jobsOf(contents(Queries.seek(e, 38, Some(4))))
    assert(s == Seq("a-l38", "a-l39", "b-l0", "b-l1"))
    assert(seekJobs <= 3, s"seek ran $seekJobs jobs")
    val (g, groupJobs) = jobsOf(Queries.listGroups(e).collect())
    assert(g.length == 10 && g.map(_.getAs[Long]("entry_count")).sum == 70L)
    assert(groupJobs <= 2, s"listGroups ran $groupJobs jobs")
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
