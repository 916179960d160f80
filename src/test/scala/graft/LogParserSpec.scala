package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parse-pipeline goldens ported from the reference test tables:
  * parser_test.go:9-76 (OSC parse), parser_test.go:118-192 (classification),
  * group_test.go:8-41 (carry-forward), scanner_test.go:137-167 (edge cases).
  */
class LogParserSpec extends AnyFunSuite {
  import TestSpark.{spark, linesDF, jobTasksOf}

  private val Esc = ""
  private val Bel = ""
  private def osc(ts: String, content: String) = s"${Esc}_bk;t=$ts$Bel$content"

  private def parseOne(line: String): Row =
    ParseOracle.parseLines(linesDF(Seq(line))).head()

  private def field(r: Row, name: String): Any = r.get(r.fieldIndex(name))

  test("OSC sequence with timestamp") {
    val r = parseOne(osc("1745322209921", "~~~ Running global environment hook"))
    assert(field(r, "timestamp") == 1745322209921L)
    assert(field(r, "content") == "~~~ Running global environment hook")
    assert(field(r, "has_timestamp") == true)
    assert(field(r, "is_group") == true)
  }

  test("OSC sequence with ANSI codes (lenient, no ESC)") {
    val r = parseOne(osc("1745322209921", "[90m$[0m /buildkite/agent/hooks/environment"))
    assert(field(r, "timestamp") == 1745322209921L)
    assert(field(r, "content") == "[90m$[0m /buildkite/agent/hooks/environment")
    assert(field(r, "is_command") == true)
  }

  test("regular line without OSC") {
    val r = parseOne("regular log line")
    assert(field(r, "timestamp") == null)
    assert(field(r, "content") == "regular log line")
    assert(field(r, "has_timestamp") == false)
    assert(field(r, "parse_error") == false)
  }

  test("empty OSC content") {
    val r = parseOne(osc("1745322209921", ""))
    assert(field(r, "timestamp") == 1745322209921L)
    assert(field(r, "content") == "")
    assert(field(r, "has_timestamp") == true)
  }

  test("invalid OSC timestamp flags parse_error and passes line through") {
    // The reference hard-errors here (scanner_test.go:46-52); we flag+pass
    // through — deliberate divergence, SURVEY.md §7.4.
    val line = osc("invalid", "content")
    val r = parseOne(line)
    assert(field(r, "parse_error") == true)
    assert(field(r, "timestamp") == null)
    assert(field(r, "has_timestamp") == false)
    assert(field(r, "content") == line)
  }

  test("timestamp overflow flags parse_error") {
    val r = parseOne(osc("99999999999999999999", "x"))
    assert(field(r, "parse_error") == true)
  }

  test("edge cases parse without error") {
    // scanner_test.go:140-149
    val lines = Seq(
      "",
      "a",
      s"${Esc}_bk;t=123456",          // OSC start without BEL -> passthrough
      osc("123", s"content${Bel}more"), // multiple BEL: content keeps the rest
      osc("9999999999999", "content"), // 13-digit timestamp
    )
    val rows = ParseOracle.parseLines(linesDF(lines)).orderBy("line_no").collect()
    assert(rows.length == 5)
    assert(field(rows(0), "content") == "")
    assert(field(rows(1), "content") == "a")
    assert(field(rows(2), "content") == s"${Esc}_bk;t=123456")
    assert(field(rows(2), "timestamp") == null)
    assert(field(rows(3), "timestamp") == 123L)
    assert(field(rows(3), "content") == s"content${Bel}more")
    assert(field(rows(4), "timestamp") == 9999999999999L)
  }

  test("line shorter than 10 bytes passes through even with OSC prefix+BEL") {
    // len("_bk;t=") = 8 < 10 -> passthrough (scanner.go:22-29),
    // NOT a parse error, even though the timestamp digits are empty.
    val r = parseOne(s"${Esc}_bk;t=$Bel")
    assert(field(r, "parse_error") == false)
    assert(field(r, "timestamp") == null)
    assert(field(r, "content") == s"${Esc}_bk;t=$Bel")
  }

  test("classification matrix") {
    // parser_test.go:121-170
    val cases = Seq(
      (osc("1745322209921", "[90m$[0m /buildkite/agent/hooks/environment"), (true, false, false)),
      (osc("1745322209921", "~~~ Running global environment hook"), (false, true, false)),
      (osc("1745322210213", "remote: Counting objects:  50% (27/54)[K"), (false, false, true)),
      (osc("1745322210701", "+++ :frame_with_picture: Inline image uploaded"), (false, true, false)),
      (osc("1745322210701", "Cloning into '.'..."), (false, false, false)),
      // [K present but no progress keyword -> not progress
      (osc("1", "some line[K"), (false, false, false)),
      // keyword but no [K -> not progress
      (osc("1", "Counting objects: 50%"), (false, false, false)),
    )
    val rows = ParseOracle.parseLines(linesDF(cases.map(_._1))).orderBy("line_no").collect()
    rows.zip(cases).foreach { case (r, (line, (cmd, grp, prog))) =>
      assert(field(r, "is_command") == cmd, s"is_command for $line")
      assert(field(r, "is_group") == grp, s"is_group for $line")
      assert(field(r, "is_progress") == prog, s"is_progress for $line")
    }
  }

  test("group carry-forward goldens") {
    // group_test.go:8-41
    val lines = Seq(
      osc("1745322209921", "~~~ Running global environment hook"),
      osc("1745322209922", "[90m$[0m /buildkite/agent/hooks/environment"),
      osc("1745322209923", "Some regular output"),
      osc("1745322209924", "--- :package: Build job checkout directory"),
      osc("1745322209925", "Another line of output"),
      osc("1745322209926", "+++ :hammer: Example tests"),
      osc("1745322209927", "Test output line"),
    )
    val expected = Seq(
      "~~~ Running global environment hook",
      "~~~ Running global environment hook",
      "~~~ Running global environment hook",
      "--- :package: Build job checkout directory",
      "--- :package: Build job checkout directory",
      "+++ :hammer: Example tests",
      "+++ :hammer: Example tests",
    )
    val got = ParseOracle.parseLines(linesDF(lines))
      .orderBy("line_no").select("group").collect().map(_.getString(0)).toSeq
    assert(got == expected)
  }

  test("lines before any header get empty group") {
    val lines = Seq("preamble one", "preamble two", osc("5", "~~~ Start"), "in group")
    val got = ParseOracle.parseLines(linesDF(lines))
      .orderBy("line_no").select("group").collect().map(_.getString(0)).toSeq
    assert(got == Seq("", "", "~~~ Start", "~~~ Start"))
  }

  test("carry-forward and line_no are per-file") {
    val f1 = linesDF(Seq(osc("1", "~~~ A"), "a-line"), file = "f1")
    val f2 = linesDF(Seq("b-line", osc("2", "~~~ B")), file = "f2")
    val got = ParseOracle.parseLines(f1.union(f2))
      .orderBy("file", "line_no")
      .select("file", "line_no", "group").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq(
      ("f1", 0L, "~~~ A"), ("f1", 1L, "~~~ A"),
      ("f2", 0L, ""), ("f2", 1L, "~~~ B")))
  }

  test("CRLF: single trailing \\r is stripped, embedded \\r preserved") {
    val rows = ParseOracle.parseLines(linesDF(Seq(
      "plain line\r",
      osc("7", "content with\rcarriage") + "\r",
    ))).orderBy("line_no").collect()
    assert(field(rows(0), "content") == "plain line")
    assert(field(rows(1), "content") == "content with\rcarriage")
  }

  test("typed Dataset API round-trips the same entries") {
    val ds = ParseOracle.parseTyped(spark, "/root/reference/testdata/bash-example.log")
    val entries = ds.orderBy("line_no").collect()
    assert(entries.length == 212)
    assert(entries.count(_.is_command) == 15)
    assert(entries.forall(_.timestamp.nonEmpty))
    val cmd = entries.find(_.is_command).get
    assert(cmd.cleanContent.startsWith("$ "))
  }

  test("strip_ansi is codegen-friendly (no fallback in plan)") {
    // On a real file scan (not a constant-foldable LocalRelation) the parse
    // expressions — including the custom StripAnsi — must sit inside a
    // WholeStageCodegen span, and classification+parse must run end-to-end.
    val df = LogParser.parse(spark, "/root/reference/testdata/bash-example.log")
      .select("is_command")
    // "*(n)" is the simple-mode marker for a WholeStageCodegen span; with
    // AQE the final plan only materializes after an action
    assert(df.filter(col("is_command")).count() == 15L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan)
  }

  /** A temp log file holding `lines`, each ended by `\n`. */
  private def logFile(lines: Seq[String]): String = {
    val f = Files.createTempDirectory("graft-split").resolve("t.log")
    Files.write(f, lines.map(_ + "\n").mkString.getBytes("UTF-8"))
    f.toString
  }

  /** 30 lines of 10 bytes: cut at 100 bytes, 3 splits of lines 0-10,
    * 11-20 (no header) and 21-29 (a header at 25).
    */
  private val threeSplits = (0 until 30).map {
    case 2 => "~~~ A...."
    case 25 => "--- B...."
    case i => f"line-$i%04d"
  }

  /** Parse `path` cut into `splits` splits of `splitMaxBytes` and require
    * the single-split parse row for row, plus, per file, a dense `line_no`
    * and the sequential carry-forward of `logs(file)`'s headers.
    */
  private def assertSplitInvariant(path: String, splitMaxBytes: Long, splits: Int,
      logs: Map[String, Seq[String]]): Unit = {
    val multi = LogParser.parse(spark, path, splitMaxBytes)
    assert(multi.rdd.getNumPartitions == splits)
    val single = LogParser.parse(spark, path)
    assert(single.rdd.getNumPartitions == logs.size)
    val got = multi.orderBy("file", "line_no").collect().toSeq
    assert(got == single.orderBy("file", "line_no").collect().toSeq)
    for ((file, lines) <- logs) {
      val rows = got.filter(r => field(r, "file").toString.endsWith(file))
      val groups = lines.scanLeft("") { (g, l) =>
        if (Seq("~~~", "---", "+++").exists(l.startsWith)) l else g
      }.tail
      assert(rows.map(field(_, "line_no")) == lines.indices.map(_.toLong), file)
      assert(rows.map(field(_, "content")) == lines, file)
      assert(rows.map(field(_, "group")) == groups, file)
    }
  }

  test("multi-split parse: header in the last split, a middle split without one") {
    val path = logFile(threeSplits)
    assertSplitInvariant(path, 100, 3, Map(path -> threeSplits))
  }

  test("multi-split parse: a line longer than a split leaves an empty split") {
    val lines = Seq("~~~ A", "x" * 250, "l2", "--- B") ++
      (4 until 30).map(i => f"line-$i%04d")
    val path = logFile(lines)
    // 526 bytes: splits start at 0, 100, ..., 500; the one at 100 lies
    // inside the long line and holds no line start
    assertSplitInvariant(path, 100, 6, Map(path -> lines))
  }

  test("multi-file parse of comma-separated paths: 1 split and 3 splits") {
    val a = Seq("~~~ a....", "a-1", "+++ a-last")
    val (pa, pb) = (logFile(a), logFile(threeSplits))
    assertSplitInvariant(s"$pa,$pb", 100, 4, Map(pa -> a, pb -> threeSplits))
  }

  test("job counts: a one-split log parses and writes in 1 job; pass A skips last splits") {
    val path = logFile(threeSplits)
    val out = Files.createTempDirectory("graft-parse-jobs").resolve("e").toString
    val (_, oneSplit) = jobTasksOf(ParquetIO.write(LogParser.parse(spark, path), out))
    assert(oneSplit.length == 1, s"parse + write ran jobs of $oneSplit tasks")
    assert(ParquetIO.read(spark, out).count() == 30L)
    // 3 splits: pass A probes the first two only, in one job
    val (_, passA) = jobTasksOf(LogParser.parse(spark, path, 100))
    assert(passA == Seq(2), s"pass A ran jobs of $passA tasks")
  }
}
