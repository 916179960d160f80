package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Seeded fuzz: the fast byte-scanner path and the Catalyst expression path
  * must agree row-for-row on adversarial line mixes — OSC prefixes with
  * valid/garbage/signed/overflowing timestamps, missing BELs, embedded BELs
  * and CRs, ESC'd and lenient ANSI runs, group markers, multibyte UTF-8 —
  * across pathological split sizes.
  */
class FuzzEquivalenceSpec extends AnyFunSuite {
  import TestSpark.spark

  private val Esc = "\u001b"
  private val Bel = "\u0007"

  private def randomLines(seed: Long, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val words = Seq("objects", "deltas", "done", "50%", "remote:", "compiling",
      "日本語", "naïve", "x")
    val ansi = Seq(s"$Esc[31m", s"$Esc[0m", "[90m", "[0m", "[K", s"$Esc[12;34H", "[", Esc)
    val markers = Seq("~~~ ", "--- ", "+++ ", "$ ", "")
    def content(): String = {
      val parts = (0 to rnd.nextInt(6)).map { _ =>
        if (rnd.nextBoolean()) words(rnd.nextInt(words.length))
        else ansi(rnd.nextInt(ansi.length))
      }
      markers(rnd.nextInt(markers.length)) + parts.mkString(" ")
    }
    (1 to n).map { _ =>
      rnd.nextInt(12) match {
        case 0 => content() // plain line
        case 1 => "" // empty
        case 2 => s"$Esc" + "_bk;t=" // prefix, no BEL
        case 3 => s"$Esc" + "_bk;t=abc$Bel" + content() // bad ts
        case 4 => s"$Esc" + s"_bk;t=${rnd.nextLong()}$Bel" + content() // signed ts
        case 5 => s"$Esc" + "_bk;t=99999999999999999999" + Bel + content() // overflow
        case 6 => s"$Esc" + s"_bk;t=${math.abs(rnd.nextInt())}$Bel" + content() + Bel + "trail"
        case 7 => s"$Esc" + s"_bk;t=${1700000000000L + rnd.nextInt(100000)}$Bel" + content() + "\r"
        // whitespace-padded ts: SQL casts trim, strconv.ParseInt doesn't —
        // both paths must flag parse_error (advisor finding, round 1)
        case 8 => s"$Esc" + s"_bk;t= ${1700000000000L + rnd.nextInt(1000)}$Bel" + content()
        case 9 => s"$Esc" + s"_bk;t=${1700000000000L + rnd.nextInt(1000)}\t$Bel" + content()
        case _ => s"$Esc" + s"_bk;t=${1700000000000L + rnd.nextInt(100000)}$Bel" + content()
      }
    }
  }

  test("fast path ≡ expression path on 3000 fuzzed lines across split sizes") {
    val lines = randomLines(seed = 20260812L, n = 3000)
    val tmp = Files.createTempDirectory("fuzz")
    Files.write(tmp.resolve("fuzz.log"),
      lines.mkString("\n").getBytes("UTF-8"))
    val path = tmp.resolve("fuzz.log").toString
    for (split <- Seq(512L, 8192L, LogParser.DefaultSplitMaxBytes)) {
      val fast = LogParser.parse(spark, path, split).orderBy("line_no").collect()
      val exprP = ParseOracle.parseExpr(spark, path, split).orderBy("line_no").collect()
      assert(fast.length == exprP.length, s"split=$split row count")
      fast.zip(exprP).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a == b, s"split=$split row $i:\n fast=$a\n expr=$b")
      }
    }
  }

  test("SQL extensions register the native functions") {
    // extensions apply only when a NEW SparkSession is built; clear the
    // default so the builder constructs one (reusing the SparkContext)
    val prev = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // `.config("spark.sql.extensions", ...)` is a STATIC conf — it only
      // takes effect on a fresh SparkContext; with a shared test context the
      // programmatic hook is the way in (same class either way)
      val s2 = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val r = s2.sql(
        "SELECT strip_ansi('[31mred[0m'), rolling_hash('ab'), " +
          "vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
          "        array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))), " +
          "sign_lsh_buckets(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT)), 4, 8), " +
          "vec_hamming(array(CAST(5 AS BIGINT)), array(CAST(3 AS BIGINT))), " +
          "jaro_winkler('MARTHA', 'MARHTA')").head()
      assert(r.getString(0) == "red")
      assert(r.getLong(1) == ('a'.toLong * 257 + 'b'.toLong))
      assert(r.getDouble(2) == 11.0)
      assert(r.getSeq[Long](3).length == 4)
      assert(r.getLong(4) == 2L) // popcount(5 ^ 3) = popcount(0b110)
      assert(math.abs(r.getDouble(5) - 0.9611111111111111) < 1e-12)
      val agg = s2.sql(
        "SELECT min_hash_sketch(h, 4) FROM VALUES (CAST(7 AS BIGINT)), (CAST(9 AS BIGINT)) AS t(h)")
        .head().getSeq[Long](0)
      assert(agg.length == 4)
      val tk = s2.sql(
        "SELECT top_k_by(s, i, 2) FROM VALUES (CAST(1.5 AS DOUBLE), CAST(7 AS BIGINT)), " +
          "(CAST(2.5 AS DOUBLE), CAST(3 AS BIGINT)), (CAST(0.5 AS DOUBLE), CAST(9 AS BIGINT)) AS t(s, i)")
        .head().getSeq[org.apache.spark.sql.Row](0)
      assert(tk.map(r => (r.getDouble(0), r.getLong(1))) == Seq((2.5, 3L), (1.5, 7L)))
      val mg = s2.sql(
        "SELECT mg_candidates(h, 2) FROM VALUES (CAST(7 AS BIGINT)), " +
          "(CAST(7 AS BIGINT)), (CAST(9 AS BIGINT)) AS t(h)")
        .head().getSeq[Long](0)
      assert(mg.contains(7L) && mg.length <= 2)
      // do not stop s2: it shares the local SparkContext with the suite
    } finally {
      prev.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }
}
