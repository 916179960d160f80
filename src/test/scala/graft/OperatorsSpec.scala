package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RollingHash
import graft.operators._

/** Oracles-in-ScalaTest for the operators the DuckDB gate can't express
  * (custom 64-bit hashing, LSH, IVF, the multimodal stub).
  */
class OperatorsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val docsPath = "/root/testdata/sf0.001/documents.parquet"
  private lazy val docs = spark.read.parquet(docsPath).cache()

  test("exact dedup keeps min doc_id per normalized text") {
    val df = Seq(
      (1L, "Hello  World"),
      (2L, "hello world"),
      (3L, "  HELLO WORLD  "),
      (4L, "something else"),
    ).toDF("doc_id", "text")
    val got = Dedup.exactDedup(df).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 3L), (4L, 1L)))
  }

  test("ngram jaccard is exact: agrees with a hand-computed pair") {
    val df = Seq(
      (1L, "a b c d e f"),   // shingles: {a b c, b c d, c d e, d e f}
      (2L, "a b c d e g"),   // shingles: {a b c, b c d, c d e, d e g}
      (3L, "x y z w q r"),
    ).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(df, shingleSize = 3, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // intersection 3, union 5 -> 0.6
    assert(got.toSeq == Seq((1L, 2L, 0.6)))
  }

  test("ngram jaccard: inline and join-based pair generation agree") {
    // pairListCutoff=1 forces every shingle id-list through the distributed
    // self-join path; the default routes them through inline expansion —
    // identical output either way (advisor finding, round 1: a hot shingle
    // must not materialize its n²/2 pairs inside one row)
    val hot = (1L to 40L).map(i => (i, s"common shingle text unique$i"))
    val df = (hot :+ ((99L, "completely different content here"))).toDF("doc_id", "text")
    val viaJoin = Dedup.ngramJaccardPairs(df, threshold = 0.3, pairListCutoff = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaInline = Dedup.ngramJaccardPairs(df, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaJoin == viaInline)
    // every doc pair shares {common shingle text, shingle text unique*}:
    // jaccard = 1/3 — all C(40,2) pairs qualify at 0.3
    assert(viaInline.size == 40 * 39 / 2)
  }

  test("prefix-filtered jaccard == scala brute force on random corpora") {
    val rnd = new scala.util.Random(42)
    def bruteShingles(s: String): Set[String] = {
      val toks = s.trim.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
      else Set(toks.mkString(" "))
    }
    for (trial <- 1 to 3) {
      val vocab = Seq("a", "b", "c", "d", "e", "f", "g", "h")
      val docsSeq = (1L to 30L).map { i =>
        val n = 1 + rnd.nextInt(12)
        (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val df = docsSeq.toDF("doc_id", "text")
      val sets = docsSeq.map { case (id, s) => id -> bruteShingles(s) }.toMap
      for (t <- Seq(0.35, 0.8)) {
        val got = Dedup.ngramJaccardPairs(df, threshold = t).collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
        val want = (for {
          a <- docsSeq.map(_._1); b <- docsSeq.map(_._1) if a < b
          inter = (sets(a) intersect sets(b)).size
          j = inter.toDouble / (sets(a).size + sets(b).size - inter)
          jr = BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          if jr >= t
        } yield ((a, b), jr)).toMap
        assert(got == want,
          s"trial $trial t=$t missing=${want.keySet.diff(got.keySet)} extra=${got.keySet.diff(want.keySet)}")
      }
    }
  }

  test("ngram jaccard: hash-order prefix equals rare-first ordering") {
    // the AllPairs prefix filter is lossless under any consistent global
    // shingle order — both orders must yield identical verified pairs
    def pairs(hashOrder: Boolean) =
      Dedup.ngramJaccardPairs(docs, threshold = 0.6, hashOrderPrefix = hashOrder)
        .orderBy("doc_id_a", "doc_id_b").collect().toSeq
    assert(pairs(hashOrder = false) == pairs(hashOrder = true))
  }

  test("ngram jaccard prefix filter loses nothing vs threshold-0 exhaustive") {
    // exhaustive ground truth at threshold 0 has an empty prefix-filter
    // effect (prefix = whole set); re-running at 0.6 must return exactly
    // the >=0.6 subset — the prefix-filter lemma in practice
    val all = Dedup.ngramJaccardPairs(docs, threshold = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val filtered = Dedup.ngramJaccardPairs(docs, threshold = 0.6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(filtered == all.filter(_._2 >= 0.6))
  }

  test("dedup clusters: transitive chains collapse to the min doc_id (both paths)") {
    val docsDf = (1L to 7L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // chain 1~2~3 (1 and 3 never directly paired), pair 5~6, singletons 4,7
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_id_a", "doc_id_b")
    val expect = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L)
    // driver-side union-find path (default threshold)
    val viaDriver = Dedup.dedupClusters(docsDf, pairs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(viaDriver.toSeq == expect)
    // distributed min-label propagation path (threshold forced to 0)
    val viaLoop = Dedup.dedupClusters(docsDf, pairs, driverThreshold = 0)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(viaLoop.toSeq == expect)
  }

  test("dedup clusters: long chain survives checkpointed multi-round propagation") {
    // a 16-node path graph needs ~15 min-label rounds — well past the
    // checkpointEvery=3 cut points, so the loop crosses several lineage
    // truncations (localCheckpoint) and must still converge exactly
    val n = 16L
    val docsDf = (0L until n).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_id_a", "doc_id_b")
    val got = Dedup.dedupClusters(docsDf, chain,
        driverThreshold = 0, checkpointEvery = 3)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == (0L until n).map(i => (i, 0L)))
  }

  test("column profile: exact counts/min/max, HLL ndv within bounds") {
    val df = (1L to 5000L).map(i =>
        (i, if (i % 10 == 0) None else Some(s"cat${i % 7}"), i % 100))
      .toDF("id", "cat", "bucket")
    val got = operators.Stats.columnProfile(df, Seq("id", "cat", "bucket"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4), r.getDouble(6)))).toMap
    // the linear-counting branch makes small/mid cardinalities tight
    // (the raw harmonic estimator alone was ~20% high at n ≈ 1.2·m)
    val (idTot, idNN, idMin, idMax, idEst) = got("id")
    assert((idTot, idNN, idMin, idMax) == ((5000L, 5000L, "1", "5000")))
    assert(math.abs(idEst - 5000.0) / 5000.0 < 0.05, s"id ndv $idEst")
    val (catTot, catNN, catMin, catMax, catEst) = got("cat")
    assert((catTot, catNN, catMin, catMax) == ((5000L, 4500L, "cat0", "cat6")))
    assert(catEst > 6 && catEst < 8, s"cat ndv $catEst") // 7 true
    val (_, _, bMin, bMax, bEst) = got("bucket")
    assert(bMin == "0" && bMax == "99" && math.abs(bEst - 100.0) < 5.0)
  }

  test("fixed-size sample: exact counts, partitioning-independent, seed-sensitive") {
    val df = (1L to 300L).map(i => (i, s"s${i % 3}", s"doc $i"))
      .toDF("doc_id", "src", "text")
    val got = Sampling.fixedSizeSample(df, "doc_id", "src", n = 20, seed = 1L)
    val counts = got.groupBy("src").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts == Map("s0" -> 20L, "s1" -> 20L, "s2" -> 20L))
    // short stratum: take all of it
    val tiny = Sampling.fixedSizeSample(
      df.filter($"doc_id" <= 5), "doc_id", "src", n = 20, seed = 1L)
    assert(tiny.count() == 5L)
    // same rows whatever the physical partitioning
    val a = got.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = Sampling.fixedSizeSample(df.repartition(13), "doc_id", "src", 20, 1L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b)
    // a different seed draws a different set
    val c = Sampling.fixedSizeSample(df, "doc_id", "src", 20, 2L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a != c)
  }

  test("lm score: hand-computed bigram conditionals; short docs report 0") {
    val df = Seq((1L, "a b"), (2L, "a c"), (3L, "a b"), (4L, "x"))
      .toDF("doc_id", "text")
    // B(a,b)=2, B(a,c)=1, U(a)=3 -> p(a,b)=0.666667, p(a,c)=0.333333
    val got = TextAnalysis.lmScore(df).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 1L, 0.6667), (2L, 1L, 0.3333),
      (3L, 1L, 0.6667), (4L, 0L, 0.0)))
  }

  test("lm score: repeated fluent bigrams outrank a shuffled doc") {
    val fluent = "the cat sat on the mat"
    val shuffled = "mat the on sat cat the"
    val df = (1L to 9L).map(i => (i, fluent)).toDF("doc_id", "text")
      .union(Seq((10L, shuffled)).toDF("doc_id", "text"))
    val scores = TextAnalysis.lmScore(df).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(scores(1L) > scores(10L),
      s"fluent ${scores(1L)} should outrank shuffled ${scores(10L)}")
  }

  test("positional postings and phrase search: hand-computed fixture") {
    val df = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat the cat sat"),
      (3L, "cat sat elsewhere entirely today"),
      (4L, "sat cat")).toDF("doc_id", "text")
    val postings = Index.positionalPostings(df)
    val catRows = postings.filter($"term" === "cat").orderBy("doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getSeq[Int](3)))
    assert(catRows.toSeq == Seq((1L, 1L, Seq(1)), (2L, 2L, Seq(1, 3)),
      (3L, 1L, Seq(0)), (4L, 1L, Seq(1))))

    val stats = Index.termStats(df).filter($"term" === "the")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // "the": doc1 ×2, doc2 ×2 -> df=2, total=4, span [1,2]
    assert(stats.toSeq == Seq((2L, 4L, 1L, 2L)))

    val hits = Index.phraseSearch(df, Seq("cat", "sat"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // "cat sat": doc1 once (1,2), doc2 once (3,4), doc3 once (0,1); doc4
    // has the words only in the wrong order
    assert(hits.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L)))

    // three-word phrase crosses two position joins
    val three = Index.phraseSearch(df, Seq("the", "cat", "sat"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(three.toSeq == Seq((1L, 1L), (2L, 1L)))
  }

  test("z-order key: hand-computed Morton codes and per-axis monotonicity") {
    import graft.functions.BitInterleave
    // a=3 (bits 0,1 -> odd positions 1,3), b=5 (bits 0,2 -> even 0,4):
    // 0b11011 = 27
    assert(BitInterleave.zorder(3L, 5L) == 27L)
    assert(BitInterleave.zorder(0L, 0L) == 0L)
    assert(BitInterleave.zorder(1L, 0L) == 2L)
    assert(BitInterleave.zorder(0L, 1L) == 1L)
    // interleave is monotone per axis with the other fixed
    for (v <- Seq(0L, 1L, 7L, 100L, 65535L, 0x7FFFFFFEL))
      assert(BitInterleave.zorder(v, 9L) < BitInterleave.zorder(v + 1, 9L))
    // 31-bit inputs produce strictly positive 62-bit keys (no sign wrap)
    assert(BitInterleave.zorder(0x7FFFFFFFL, 0x7FFFFFFFL) > 0L)
    // engine expression == the scala bit math, through codegen
    val df = Seq((3L, 5L), (123456L, 654321L), (0x7FFFFFFFL, 0L))
      .toDF("a", "b")
    val got = df.select(graft.functions.GraftFunctions.z_order_key($"a", $"b"))
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(BitInterleave.zorder(3L, 5L),
      BitInterleave.zorder(123456L, 654321L), BitInterleave.zorder(0x7FFFFFFFL, 0L)))
  }

  test("z-ordered layout: per-file spans tighten in BOTH dimensions") {
    val rnd = new scala.util.Random(7)
    val n = 20000
    val grid = (1 to n).map(_ => (rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong))
      .toDF("x", "y")
    val base = java.nio.file.Files.createTempDirectory("zorder").toString
    try {
      val files = 16
      Layout.writeZOrdered(grid, "x", "y", s"$base/z", numFiles = files)
      grid.repartition(files).write.parquet(s"$base/plain")
      def meanSpanFrac(path: String): (Double, Double) = {
        val rows = Layout.fileSpans(spark, path, "x", "y").collect()
        val fx = rows.map(r => (r.getLong(3) - r.getLong(2)).toDouble / 1000.0)
        val fy = rows.map(r => (r.getLong(5) - r.getLong(4)).toDouble / 1000.0)
        (fx.sum / fx.length, fy.sum / fy.length)
      }
      val (zx, zy) = meanSpanFrac(s"$base/z")
      val (px, py) = meanSpanFrac(s"$base/plain")
      // round-robin files span ~the full domain on both axes; z-order
      // must cut the mean span substantially in BOTH
      assert(zx < px * 0.6, s"x span: z=$zx plain=$px")
      assert(zy < py * 0.6, s"y span: z=$zy plain=$py")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("publish shards: token balance, partition-invariance, manifest survives the write round-trip") {
    val rnd = new scala.util.Random(11)
    val docs = (0 until 500).map { i =>
      (i.toLong, (1 to (1 + rnd.nextInt(40))).map(j => s"w$i-$j").mkString(" "))
    }.toDF("doc_id", "text")
    val n = 8
    val assigned = Layout.publishShards(docs, nShards = n)
    val total = assigned.agg(sum("n_tokens")).head().getLong(0)
    val budget = (total + n - 1) / n
    val perShard = assigned.groupBy("shard_id")
      .agg(sum("n_tokens").as("tok"), max("n_tokens").as("mx"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    // contiguity bound: a shard's token mass can overshoot the budget by
    // at most one document (the doc straddling its boundary)
    perShard.foreach { case (sid, (tok, mx)) =>
      assert(tok <= budget + mx, s"shard $sid: $tok > $budget + $mx") }
    assert(perShard.keySet.max <= n - 1 && perShard.keySet.min >= 0)
    // shards partition the corpus exactly
    assert(assigned.count() == 500L)
    // assignment is a pure function of the corpus, not its partitioning
    val re = Layout.publishShards(docs.repartition(17), nShards = n)
    assert(re.select("doc_id", "shard_id").except(
      assigned.select("doc_id", "shard_id")).count() == 0L)
    // the written shards serve back the exact manifest of the plan
    val base = java.nio.file.Files.createTempDirectory("publish").toString
    try {
      val fromDisk = Layout.writeShards(spark, assigned, s"$base/shards")
        .orderBy("shard_id").collect().map(_.toSeq).toSeq
      val planned = Layout.shardManifest(assigned)
        .orderBy("shard_id").collect().map(_.toSeq).toSeq
      assert(fromDisk == planned, "read-back manifest drifted from the plan")
      // digest is order-invariant: reversing row order inside the shard
      // frame must not move it
      val reversed = Layout.shardManifest(assigned.orderBy(col("doc_id").desc))
        .orderBy("shard_id").collect().map(_.toSeq).toSeq
      assert(reversed == planned)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("bm25: hand-computed scores on a four-doc corpus, both idf variants, partition-invariant") {
    val docs = Seq(
      (0L, "apple banana banana"),
      (1L, "apple cherry"),
      (2L, "banana banana banana durian"),
      (3L, "cherry durian apple")).toDF("doc_id", "text")
    // N = 4 token-bearing docs, avgdl = 12/4 = 3.0
    // query = doc 0, terms {apple, banana}; df(apple)=3, df(banana)=2
    def sat(tf: Double, dlen: Double): Double =
      (tf * 2.25) / (tf + (0.3125 + 0.9375 * (dlen / 3.0)))
    def contrib(idf: Double, tf: Double, dlen: Double): Double =
      BigDecimal(idf * sat(tf, dlen))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def score(terms: Seq[(Double, Double, Double)]): Double = // (idf, tf, dl)
      BigDecimal(terms.map { case (i, t, d) => contrib(i, t, d) }.sum)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def idfLog(df: Double) = math.log(1.0 + ((4.0 - df) + 0.5) / (df + 0.5))
    def idfRat(df: Double) = ((4.0 - df) + 0.5) / (df + 0.5)
    for ((variant, idf) <- Seq(
        (true, idfLog _), (false, idfRat _))) {
      val got = Retrieval.bm25TopK(docs, queryMaxId = 1, k = 10,
          logIdf = variant)
        .orderBy("rank").collect()
        .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
      val exp = Seq(
        1L -> score(Seq((idf(3.0), 1.0, 2.0))),              // apple
        2L -> score(Seq((idf(2.0), 3.0, 4.0))),              // banana x3
        3L -> score(Seq((idf(3.0), 1.0, 3.0))))              // apple
        .sortBy { case (id, s) => (-s, id) }
        .zipWithIndex.map { case ((id, s), i) => (id, s, i + 1) }
      assert(got.toSeq == exp, s"logIdf=$variant: ${got.toSeq} vs $exp")
    }
    // partitioning must not move scores (order-free decimal sums)
    val a = Retrieval.bm25TopK(docs.repartition(7), queryMaxId = 1, k = 10)
      .collect().map(_.toSeq).toSet
    val c = Retrieval.bm25TopK(docs.coalesce(1), queryMaxId = 1, k = 10)
      .collect().map(_.toSeq).toSet
    assert(a == c)
    // df-capped generation: a cap covering every term changes nothing
    val capped = Retrieval.bm25TopK(docs, queryMaxId = 1, k = 10,
      genDfCap = Some(100L)).collect().map(_.toSeq).toSet
    assert(capped == a, "cap above max df must be a no-op")
    // corpus where "common" appears everywhere and "rare" in one doc:
    // under cap=1 only the rare term generates, yet the admitted doc's
    // score still includes its common-term contribution — while the
    // docs sharing ONLY the common term drop out of the candidate set
    val sw = Seq(
      (0L, "rare common common"),
      (1L, "rare common filler1"),
      (2L, "common filler2 filler3"),
      (3L, "common filler4 filler5")).toDF("doc_id", "text")
    val full = Retrieval.bm25TopK(sw, queryMaxId = 1, k = 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    val pruned = Retrieval.bm25TopK(sw, queryMaxId = 1, k = 10,
        genDfCap = Some(2L)) // df(rare)=2 <= 2, df(common)=4 > 2
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(pruned.keySet == Set(1L), pruned)
    assert(pruned(1L) == full(1L),
      "admitted candidate must carry its EXACT full score incl. common terms")
  }

  test("bm25 RM3 feedback: expansion reaches docs sharing NO original query term") {
    // query doc 0 = {alpha, beta}; doc 1 shares both and carries gamma;
    // doc 2 shares ONLY gamma (invisible to single-pass BM25); doc 3 is
    // unrelated filler. fbDocs=1 → feedback set = {doc 1}; its new
    // terms rank gamma first → pass 2 scores doc 2 via gamma·0.5.
    val docs = Seq(
      (0L, "alpha beta"),
      (1L, "alpha beta gamma"),
      (2L, "gamma delta epsilon"),
      (3L, "zeta eta theta")).toDF("doc_id", "text")
    val pass1 = Retrieval.bm25TopK(docs, queryMaxId = 1, k = 10)
      .collect().map(_.getLong(1)).toSet
    assert(pass1 == Set(1L), s"single-pass reach should be doc 1 only: $pass1")
    val prf = Retrieval.bm25PrfTopK(docs, queryMaxId = 1, k = 10,
        fbDocs = 1, fbTerms = 2)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(prf.map(_._1).toSet == Set(1L, 2L),
      s"expansion must admit doc 2 (shares only the feedback term): ${prf.toSeq}")
    // the original-term doc still outranks the expansion-only doc
    // (original weight 1.0 over two matched terms vs one 0.5 term)
    assert(prf.head._1 == 1L && prf.head._3 == 1)
    // expansion-only score = 0.5 · gamma's plain BM25 contribution for
    // doc 2 (idf over N=4, df(gamma)=2; tf=1, dl=3, avgdl = 11/4)
    val idf = math.log(1.0 + ((4.0 - 2.0) + 0.5) / (2.0 + 0.5))
    val sat = (1.0 * 2.25) / (1.0 + (0.3125 + 0.9375 * (3.0 / 2.75)))
    val want = BigDecimal(BigDecimal(idf * sat * 0.5)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(prf.find(_._1 == 2L).map(_._2).contains(want),
      s"doc 2 score ${prf.find(_._1 == 2L)} != hand-computed $want")
    // partition invariance (order-free sums survive the second pass)
    val a = Retrieval.bm25PrfTopK(docs.repartition(7), queryMaxId = 1,
      k = 10, fbDocs = 1, fbTerms = 2).collect().map(_.toSeq).toSet
    assert(a == prf.map(p => Seq[Any](0L, p._1, p._2, p._3)).toSet)
  }

  test("tokenizer fertility: hand-computed ratios per stratum") {
    val docs = Seq(
      (1L, "en", "hello world"), // bpe "hello"," world" = 2; 11 chars; 2 words
      (2L, "en", "a b"),         // bpe 2; 3 chars; 2 words
      (3L, "de", "übermäßig gut")) // \p{L} spans umlauts: bpe 2; 13 chars; 2 words
      .toDF("doc_id", "lang", "text")
    val got = TextAnalysis.tokenizerFertility(docs, "lang")
      .orderBy("stratum").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toSeq
    assert(got == Seq(
      ("de", 1L, 2L, 13L, 2L, 0.1538, 1.0),
      ("en", 2L, 4L, 14L, 4L, 0.2857, 1.0)), got)
  }

  test("tfidf: hand-computed weights on a three-doc corpus") {
    val df = Seq((1L, "a a b"), (2L, "a c"), (3L, "c c c")).toDF("doc_id", "text")
    val got = Tfidf.tfidfVectors(df).orderBy("doc_id", "term")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // N=3; df(a)=2, df(b)=1, df(c)=2; idf = (N+1)/(df+1)
    assert(got.toSeq == Seq(
      (1L, "a", 2.0 * 4.0 / 3.0), (1L, "b", 2.0),
      (2L, "a", 4.0 / 3.0), (2L, "c", 4.0 / 3.0),
      (3L, "c", 4.0)).map(t => (t._1, t._2, math.rint(t._3 * 1e4) / 1e4)))
  }

  test("sparse cosine: identical docs hit 1.0, disjoint docs never pair") {
    val df = Seq((1L, "x y z"), (2L, "x y z"), (3L, "p q r")).toDF("doc_id", "text")
    val got = Tfidf.sparseCosinePairs(Tfidf.tfidfVectors(df), threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("sparse cosine: df cap drops stop-term pair-gen but keeps exact dots") {
    // "the" is in every doc (df=4 > cap); docs 1,2 also share rare "alpha"
    // so they still pair — and their dot must INCLUDE the "the" component
    val df = Seq((1L, "the alpha"), (2L, "the alpha"),
      (3L, "the beta"), (4L, "the gamma")).toDF("doc_id", "text")
    val capped = Tfidf.sparseCosinePairs(Tfidf.tfidfVectors(df),
        threshold = 0.0, maxDfFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(capped.toSeq == Seq((1L, 2L, 1.0)),
      s"expected only the rare-term pair at cos 1.0, got ${capped.toSeq}")
  }

  test("sparse cosine: absolute maxDf caps pair-gen even when the frac cap admits") {
    // "zeta" has df=3: a 100% frac cap admits it (3 pairs), but the
    // absolute maxDf=2 blocks it from generation — only the rare "alpha"
    // pair survives, and its dot still INCLUDES the zeta component
    val df = Seq((1L, "zeta alpha"), (2L, "zeta alpha"),
      (3L, "zeta beta"), (4L, "delta gamma")).toDF("doc_id", "text")
    val uncapped = Tfidf.sparseCosinePairs(Tfidf.tfidfVectors(df), threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(uncapped.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val capped = Tfidf.sparseCosinePairs(Tfidf.tfidfVectors(df),
        threshold = 0.0, maxDfFrac = 1.0, maxDf = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(capped.toSeq == Seq((1L, 2L, 1.0)),
      s"expected only the rare-term pair at cos 1.0, got ${capped.toSeq}")
  }

  test("binned quantiles: within one bucket width of the exact quantile") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 2000).map(_ => ("g1", rnd.nextDouble() * 100.0)) ++
      (1 to 500).map(_ => ("g2", 50.0 + rnd.nextGaussian() * 5.0))
    val df = rows.toDF("g", "v")
    val got = Quantiles.binnedQuantiles(df, "v", "g", bins = 1024)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    for ((g, vals) <- rows.groupBy(_._1)) {
      val sorted = vals.map(_._2).sorted
      val width = (sorted.last - sorted.head) / 1024.0
      val (n, p50, p95) = got(g)
      assert(n == vals.size)
      def exact(p: Double) = sorted(math.ceil(p * sorted.size).toInt - 1)
      assert(math.abs(p50 - exact(0.5)) <= width + 1e-9, s"$g p50 $p50 vs ${exact(0.5)}")
      assert(math.abs(p95 - exact(0.95)) <= width + 1e-9, s"$g p95 $p95 vs ${exact(0.95)}")
    }
  }

  test("binned quantiles: constant-valued group reports the constant") {
    val df = Seq(("a", 7.5), ("a", 7.5), ("a", 7.5), ("b", 1.0), ("b", 2.0))
      .toDF("g", "v")
    val got = Quantiles.binnedQuantiles(df, "v", "g", bins = 4)
      .orderBy("g").collect()
    assert(got(0).getDouble(2) == 7.5 && got(0).getDouble(3) == 7.5)
    assert(got(0).getLong(1) == 3L)
  }

  test("binned quantiles: null GROUP keys report like any group") {
    val df = Seq((Some("a"), 1.0), (Some("a"), 3.0), (None, 5.0), (None, 7.0))
      .toDF("g", "v")
    val got = Quantiles.binnedQuantiles(df, "v", "g", bins = 4)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toMap
    assert(got == Map(Some("a") -> 2L, None -> 2L),
      s"null group must not vanish: $got")
  }

  test("binned quantiles: above the broadcast cap the shuffle-join path is identical") {
    // 50 groups of 20 values each; cap 10 forces the sort-merge fallback
    val rows = for (g <- 0 until 50; i <- 0 until 20) yield (s"g$g", i.toDouble)
    val df = rows.toDF("g", "v")
    val bc = Quantiles.binnedQuantiles(df, "v", "g", bins = 16)
      .orderBy("g").collect().toSeq
    val sm = Quantiles.binnedQuantiles(df, "v", "g", bins = 16,
        broadcastGroupCap = 10)
      .orderBy("g").collect().toSeq
    assert(bc == sm, "broadcast and shuffle-join paths must agree exactly")
    assert(bc.length == 50)
  }

  test("binned quantiles: null values are excluded, not binned") {
    val df = Seq(("a", Some(1.0)), ("a", Some(3.0)), ("a", None), ("a", None))
      .toDF("g", "v")
    val got = Quantiles.binnedQuantiles(df, "v", "g", bins = 4).collect()
    assert(got.length == 1 && got(0).getLong(1) == 2L) // n counts non-null only
  }

  test("log-histogram quantiles: relative-error bound on signed heavy-tailed input") {
    val rnd = new scala.util.Random(11)
    // log-skew magnitudes over ~6 decades, both signs, plus zeros — the
    // shape equal-width bins cannot bound
    val rows = (1 to 4000).map { _ =>
      val sign = if (rnd.nextBoolean()) 1 else -1
      ("g1", sign * math.exp(rnd.nextGaussian() * 4))
    } ++ (1 to 500).map(_ => ("g2", 0.0)) ++
      (1 to 500).map(_ => ("g2", rnd.nextDouble() * 10.0))
    val df = rows.toDF("g", "v")
    val mBits = 6
    val scale = 100.0
    val got = Quantiles.logHistQuantiles(df, "v", Seq("g"), mBits = mBits,
        ps = Seq(0.05, 0.5, 0.95), quantScale = scale)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    for ((g, vals) <- rows.groupBy(_._1)) {
      val sorted = vals.map(_._2).sorted
      val (n, e5, e50, e95) = got(g)
      assert(n == vals.size)
      for ((p, est) <- Seq(0.05 -> e5, 0.5 -> e50, 0.95 -> e95)) {
        val exact = sorted(math.ceil(p * sorted.size).toInt - 1)
        // est is the lower edge of the exact value's magnitude bucket:
        // never above it, and within one bucket width + one quantization
        // step below it (width ≤ max(1, 2^(1-mBits)·|quantized|))
        val slack = (1.0 +
          math.max(1.0, math.pow(2, 1 - mBits) * (math.abs(exact) * scale + 1))) / scale
        assert(est <= exact + 1e-9, s"$g p$p est $est above exact $exact")
        assert(exact - est <= slack + 1e-9,
          s"$g p$p est $est more than $slack below exact $exact")
      }
    }
  }

  test("log-histogram sketch: partials merge by addition under any split") {
    val rnd = new scala.util.Random(23)
    val rows = (1 to 3000).map(i =>
      (s"g${i % 3}", (rnd.nextGaussian() * math.pow(10, i % 5)): Double))
    val df = rows.toDF("g", "v")
    val whole = Quantiles.logHistBuckets(df, "v", "g")
      .orderBy("g", "bucket_lo").collect().toSeq
    // split on an arbitrary predicate, sketch each side independently,
    // merge by count addition — the mergeable-summaries contract that
    // makes the sketch micro-batch- and shard-safe
    val h1 = Quantiles.logHistBuckets(df.filter(col("v") >= 0.5), "v", "g")
    val h2 = Quantiles.logHistBuckets(df.filter(col("v") < 0.5), "v", "g")
    val merged = h1.unionByName(h2)
      .groupBy("g", "bucket_lo")
      .agg(sum(col("c")).as("c"), max(col("mx")).as("mx"))
      .orderBy("g", "bucket_lo").collect().toSeq
    assert(merged == whole && whole.nonEmpty)
    // partitioning invariance of the full estimate
    val a = Quantiles.logHistQuantiles(df, "v", "g").orderBy("g").collect().toSeq
    val b = Quantiles.logHistQuantiles(df.repartition(7), "v", "g")
      .orderBy("g").collect().toSeq
    assert(a == b)
  }

  test("log-histogram quantiles: weight w means the row repeated w times") {
    val rnd = new scala.util.Random(31)
    val rows = (1 to 300).map(i =>
      (s"g${i % 2}", rnd.nextDouble() * 1000.0, 1L + rnd.nextInt(5)))
    val df = rows.toDF("g", "v", "wt")
    val weighted = Quantiles.logHistQuantiles(df, "v", Seq("g"),
        weightCol = Some("wt"))
      .orderBy("g").collect().toSeq
    // the semantic ground truth: physically replicate each row wt times
    // and sketch unweighted
    val exploded = rows.flatMap { case (g, v, w) =>
      Seq.fill(w.toInt)((g, v)) }.toDF("g", "v")
    val replicated = Quantiles.logHistQuantiles(exploded, "v", "g")
      .orderBy("g").collect().toSeq
    assert(weighted == replicated && weighted.nonEmpty)
    // a negative weight must fail loudly, not walk a non-monotone cum
    val bad = Seq(("g", 1.0, -2L)).toDF("g", "v", "wt")
    val ex = intercept[Exception] {
      Quantiles.logHistQuantiles(bad, "v", Seq("g"), weightCol = Some("wt"))
        .collect()
    }
    assert(ex.getMessage != null)
  }

  test("log-histogram quantiles: zeros own a bucket, nulls excluded, null group kept") {
    val df = Seq((Some("a"), Some(-5.0)), (Some("a"), Some(0.0)),
      (Some("a"), Some(0.0)), (Some("a"), Some(3.0)), (Some("a"), None),
      (None, Some(2.0)), (None, Some(4.0)))
      .toDF("g", "v")
    val rows = Quantiles.logHistQuantiles(df, "v", Seq("g"), ps = Seq(0.5, 1.0))
      .collect()
      .map(r => (Option(r.getString(0)), (r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    // group "a": 4 non-null values (-5, 0, 0, 3); p50 rank 2 → 0 (its own
    // bucket, exact); p100 rank 4 → 3.0's bucket lower edge (= 3.0, since
    // |nq|=300 < 2^mBits... no: 300 ≥ 2^6, edge = floor(300/8)*8 = 296 → 2.96)
    val (nA, a50, a100) = rows(Some("a"))
    assert(nA == 4 && a50 == 0.0 && a100 == 2.96)
    // null group key reports like any group: values 2.0, 4.0 → n = 2
    val (nN, _, n100) = rows(None)
    assert(nN == 2 && n100 <= 4.0 && n100 > 3.8)
  }

  test("log-histogram cdf: width recovery partitions the signed line; bracket certifies") {
    // quantScale = 1 makes nq = floor(v): every integer in [-4100, 4100]
    // hits its own quantized point across ~12 exponents on both signs —
    // the edge-only width recovery (positive: bitlength(lo); negative:
    // bitlength(|lo|-1), the 2^e corner fold) must place EVERY value
    // inside its own bucket's recovered [first, last], at mBits = 2
    // where widths vary fastest
    val vals = (-4100 to 4100).map(_.toDouble)
    val df = vals.map(("g", _)).toDF("g", "v")
    val mBits = 2
    val buckets = Quantiles.logHistBuckets(df, "v", Seq("g"),
      mBits = mBits, quantScale = 1.0)
    for (x <- Seq(-4100.0, -257.0, -1.0, 0.0, 1.0, 63.0, 64.0, 255.0,
        256.0, 2049.0, 4100.0)) {
      val r = Quantiles.logHistCdf(buckets, Seq("g"), Seq(x),
        mBits = mBits, quantScale = 1.0).head()
      val exact = vals.count(_ <= x).toDouble / vals.size
      val (lo, hi) = (r.getDouble(2), r.getDouble(3))
      assert(lo <= exact + 1e-12 && exact <= hi + 1e-12,
        s"x=$x: exact $exact outside [$lo, $hi]")
      // the bracket is exactly the straddling bucket's mass — at
      // mBits=2 that is < 2^(1-mBits) = 50% of |x|'s neighborhood,
      // which on this uniform line is a vanishing fraction
      assert(hi - lo <= (math.max(math.abs(x), 4.0) * 0.5 + 2) / vals.size,
        s"x=$x: bracket ${hi - lo} wider than the straddler bound")
    }
    // thresholds beyond both ends pin the degenerate brackets
    val ends = Quantiles.logHistCdf(buckets, Seq("g"),
      Seq(-999999.0, 999999.0), mBits = mBits, quantScale = 1.0).head()
    assert(ends.getDouble(2) == 0.0 && ends.getDouble(3) == 0.0)
    assert(ends.getDouble(4) == 1.0 && ends.getDouble(5) == 1.0)
  }

  test("exact quantile: matches the sorted order statistic across distributions") {
    val rnd = new scala.util.Random(7)
    val shapes: Seq[(String, Seq[Double])] = Seq(
      "uniform" -> (1 to 5000).map(_ => rnd.nextDouble() * 1000.0),
      "heavy-dup" -> ((1 to 3000).map(_ => 42.0) ++
        (1 to 2000).map(_ => rnd.nextDouble() * 10.0)),
      "two-valued" -> ((1 to 2500).map(_ => -1.0) ++ (1 to 2500).map(_ => 1.0)),
      "log-skew" -> (1 to 4000).map(_ => math.exp(rnd.nextGaussian() * 3)))
    for ((name, vals) <- shapes; p <- Seq(0.001, 0.25, 0.5, 0.95, 1.0)) {
      val sorted = vals.sorted
      val want = sorted(math.max(math.ceil(p * vals.size).toInt, 1) - 1)
      // bins=16/cutoff=64 force several real refinement rounds
      val got = Quantiles.exactQuantile(vals.toDF("v"), "v", p,
        bins = 16, cutoff = 64)
      assert(got == want, s"$name p=$p: got $got want $want")
    }
  }

  test("exact quantile: all-equal input and the sub-ulp heavy-duplicate regime") {
    // all equal: converges immediately to lo == hi
    assert(Quantiles.exactQuantile(
      Seq.fill(500)(3.25).toDF("v"), "v", 0.5, bins = 8, cutoff = 16) == 3.25)
    // two subnormal-adjacent values: (hi-lo)/bins underflows to 0.0, so
    // the equal-width histogram can't split — the distinct-value walk
    // must finish exactly. 2000 low rows, 2000 high: p=0.4 lands in the
    // low value, p=0.9 in the high one.
    val lo = 0.0
    val hi = java.lang.Double.MIN_VALUE * 100
    val df = (Seq.fill(2000)(lo) ++ Seq.fill(2000)(hi)).toDF("v")
    assert(Quantiles.exactQuantile(df, "v", 0.4, bins = 4096, cutoff = 16) == lo)
    assert(Quantiles.exactQuantile(df, "v", 0.9, bins = 4096, cutoff = 16) == hi)
  }

  test("exact quantile: non-finite values resolve by rank, huge ranges don't stall") {
    // 10 x -Inf, 30 finite (1..30), 5 x +Inf, 5 x NaN; order is
    // -Inf < finite < +Inf < NaN in both engines. n = 50.
    val vals = Seq.fill(10)(Double.NegativeInfinity) ++
      (1 to 30).map(_.toDouble) ++ Seq.fill(5)(Double.PositiveInfinity) ++
      Seq.fill(5)(Double.NaN)
    val df = scala.util.Random.shuffle(vals).toDF("v")
    def q(p: Double) = Quantiles.exactQuantile(df, "v", p, bins = 4, cutoff = 8)
    assert(q(0.1) == Double.NegativeInfinity) // rank 5
    assert(q(0.5) == 15.0)                    // rank 25 -> finite 15th
    assert(q(0.85) == Double.PositiveInfinity) // rank 43
    assert(q(0.99).isNaN)                     // rank 50
    // a range spanning most of the double line: hi - lo overflows to
    // Inf; the hi/bins - lo/bins width must keep the descent moving
    val wide = (Seq(-1.6e308, 1.6e308) ++ (1 to 500).map(_.toDouble)).toDF("v")
    // n = 502, p = 0.5 -> rank 251 -> 250.0
    assert(Quantiles.exactQuantile(wide, "v", 0.5, bins = 16, cutoff = 32) == 250.0)
  }

  test("exact quantiles: the shared multi-p descent equals per-p runs") {
    val rnd = new scala.util.Random(23)
    val vals = (1 to 4000).map(_ => rnd.nextGaussian() * 100) ++
      Seq.fill(800)(42.0) ++ Seq(Double.PositiveInfinity, Double.NaN)
    val df = vals.toDF("v")
    val ps = Seq(0.01, 0.4, 0.5, 0.9, 0.999, 1.0)
    val together = Quantiles.exactQuantiles(df, "v", ps, bins = 16, cutoff = 64)
    val separate = ps.map(p =>
      Quantiles.exactQuantile(df, "v", p, bins = 16, cutoff = 64))
    assert(together.length == ps.length)
    together.zip(separate).zipWithIndex.foreach { case ((t, s), i) =>
      assert(t == s || (t.isNaN && s.isNaN), s"p=${ps(i)}: $t != $s")
    }
  }

  test("grouped exact quantile: every group matches its sorted order statistic in parallel") {
    val rnd = new scala.util.Random(11)
    // group shapes chosen to diverge: size, duplication, skew, sign,
    // plus a null GROUP KEY (must report like any group) and a group
    // with non-finite values (rank arithmetic per group)
    val groups: Seq[(Option[String], Seq[Double])] = Seq(
      Some("uniform") -> (1 to 4000).map(_ => rnd.nextDouble() * 1000.0),
      Some("heavy-dup") -> ((1 to 2500).map(_ => 42.0) ++
        (1 to 1500).map(_ => rnd.nextDouble() * 10.0)),
      Some("tiny") -> Seq(5.0),
      Some("negatives") -> (1 to 800).map(_ => -rnd.nextDouble() * 50),
      None -> (1 to 1200).map(_ => math.exp(rnd.nextGaussian() * 2)),
      Some("nonfinite") -> (Seq.fill(100)(Double.NegativeInfinity) ++
        (1 to 300).map(_.toDouble) ++ Seq.fill(40)(Double.PositiveInfinity) ++
        Seq.fill(20)(Double.NaN)))
    val rows = groups.flatMap { case (g, vs) => vs.map(v => (g, Some(v))) } ++
      Seq((Some("uniform"), Option.empty[Double])) // null value: excluded from n
    val df = scala.util.Random.shuffle(rows).toDF("g", "v")
    for (p <- Seq(0.05, 0.5, 0.95, 1.0)) {
      // bins=16/cutoff=64: the big groups run several real rounds while
      // "tiny" exits in pass 0 — mixed progress must coexist in state
      val got = Quantiles.exactQuantileBy(df, Seq("g"), "v", p,
          bins = 16, cutoff = 64)
        .collect()
        .map(r => Option(r.getString(0)) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      assert(got.size == groups.size)
      for ((g, vs) <- groups) {
        // expected: k-th smallest under -Inf < finite < +Inf < NaN
        val sorted = vs.sortWith((a, b) =>
          if (a.isNaN) false else if (b.isNaN) true else a < b)
        val want = sorted(math.max(math.ceil(p * vs.size).toInt, 1) - 1)
        val (n, q) = got(g)
        assert(n == vs.size, s"group $g n")
        assert(q == want || (q.isNaN && want.isNaN),
          s"group $g p=$p: got $q want $want")
      }
    }
  }

  test("grouped exact quantile: sub-ulp duplicate regime per group, no corpus-sized window") {
    // one group stuck in a sub-ulp range (equal-width bucketing cannot
    // split), one normal — the finisher must resolve both from the
    // distinct-value walk
    val lo = 0.0
    val hi = java.lang.Double.MIN_VALUE * 100
    val rows = (Seq.fill(2000)(("subulp", lo)) ++ Seq.fill(2000)(("subulp", hi)) ++
      (1 to 1000).map(i => ("plain", i.toDouble)))
    val df = rows.toDF("g", "v")
    val got = Quantiles.exactQuantileBy(df, Seq("g"), "v", 0.9,
        bins = 4096, cutoff = 16)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got("subulp") == hi)
    assert(got("plain") == 900.0)
    // plan sanity on a parquet-backed input: no window may partition by
    // anything other than the group columns (i.e. never corpus-rows)
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val out = Quantiles.exactQuantileBy(li, Seq("l_returnflag"),
      "l_extendedprice", 0.95, bins = 16, cutoff = 64)
    // correctness at a realistic table
    val want = li.filter($"l_extendedprice".isNotNull)
      .select($"l_returnflag", $"l_extendedprice")
      .collect().groupBy(_.getString(0))
      .map { case (g, rs) =>
        val vs = rs.map(_.getDouble(1)).sorted
        g -> vs(math.max(math.ceil(0.95 * vs.length).toInt, 1) - 1)
      }
    val gotLi = out.collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(gotLi == want)
  }

  test("exact quantile: nulls excluded, empty input fails loudly") {
    val df = Seq(Some(1.0), None, Some(2.0), Some(3.0), None).toDF("v")
    // n = 3 non-null, ceil(0.5*3) = 2 -> 2.0
    assert(Quantiles.exactQuantile(df, "v", 0.5) == 2.0)
    val ex = intercept[IllegalArgumentException] {
      Quantiles.exactQuantile(Seq(Option.empty[Double]).toDF("v"), "v", 0.5)
    }
    assert(ex.getMessage.contains("no non-null"))
  }

  test("sqrt-temperature mix keeps the rarest stratum whole, sizes others by sqrt") {
    val df = (Seq.fill(100)("big") ++ Seq.fill(25)("mid") ++ Seq.fill(4)("rare"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "lang")
    val got = Sampling.sqrtTemperatureMix(df, "lang")
      .orderBy("stratum").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("big", 100L, 0.2, 20L),    // sqrt(4/100) = 0.2 -> 20 docs = sqrt(4*100)
      ("mid", 25L, 0.4, 10L),     // sqrt(4/25)  = 0.4 -> 10 docs = sqrt(4*25)
      ("rare", 4L, 1.0, 4L)))     // rarest kept whole
  }

  test("funnel: stages count only when strictly ordered per user") {
    val ev = Seq(
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"), // full funnel
      (2L, 10L, "click"), (2L, 20L, "view"),                        // click BEFORE view: view only
      (3L, 10L, "view"), (3L, 20L, "purchase"),                     // purchase without click: view only
      (4L, 10L, "view"), (4L, 20L, "click"),                        // view+click
    ).toDF("user_id", "ts", "event_type")
    val got = Events.funnel(ev, Seq("view", "click", "purchase"))
      .orderBy("stage_idx").collect()
    assert(got.map(_.getLong(2)).toSeq == Seq(4L, 2L, 1L))
    assert(got.map(_.getDouble(3)).toSeq == Seq(1.0, 0.5, 0.5))   // conv_from_prev
    assert(got.map(_.getDouble(4)).toSeq == Seq(1.0, 0.5, 0.25))  // conv_from_first
  }

  test("dedupRepresentatives keeps the cleanest cluster member, not the lowest id") {
    // doc 1 is the NOISY copy (digits drop alpha_ratio), doc 2 the clean
    // one; near-dup pair (1,2) => cluster canonical_id 1, rep must be 2.
    // doc 9 is a singleton: its own rep.
    val df = Seq(
      (1L, "quick brown foxes jump over lazy dogs 111 222 333"),
      (2L, "quick brown foxes jump over lazy dogs again today"),
      (9L, "entirely unrelated content lives here"),
    ).toDF("doc_id", "text")
    val pairsDf = Seq((1L, 2L)).toDF("doc_id_a", "doc_id_b")
    val got = Dedup.dedupRepresentatives(df, pairsDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(got == Set(
      (1L, 1L, 2L, false),
      (2L, 1L, 2L, true),
      (9L, 9L, 9L, true)), s"got $got")
  }

  test("lshRecall: perfect banding on exact duplicates; vacuous 1.0 on a clean corpus") {
    // 3 exact-dup pairs: jaccard 1.0, every band collides -> recall 1.0,
    // and nothing else shares a shingle -> precision 1.0
    val dups = Seq(
      (1L, "alpha beta gamma delta epsilon"), (2L, "alpha beta gamma delta epsilon"),
      (3L, "one two three four five six"), (4L, "one two three four five six"),
      (5L, "red green blue cyan magenta"), (6L, "red green blue cyan magenta"),
    ).toDF("doc_id", "text")
    val r = Dedup.lshRecall(dups, threshold = 0.5).head()
    assert(r.getLong(0) == 3L && r.getLong(2) == 3L)
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 1.0)
    // disjoint docs: zero exact pairs, zero flagged -> vacuous 1.0, not NaN
    val clean = Seq(
      (1L, "aa bb cc dd ee"), (2L, "ff gg hh ii jj"), (3L, "kk ll mm nn oo"),
    ).toDF("doc_id", "text")
    val c = Dedup.lshRecall(clean, threshold = 0.5).head()
    assert(c.getLong(0) == 0L && c.getDouble(3) == 1.0 && c.getDouble(4) == 1.0)
  }

  test("dedupClusters auto-switches to star contraction on deep components") {
    // a 64-node chain needs 63 min-label rounds (one hop per round);
    // maxIter = 12 would leave a pure min-label run with WRONG partial
    // labels — the default starSwitchAfter must hand off to star
    // contraction, which converges in O(log^2 n) rounds
    val n = 64L
    val docsDf = (1L to n).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairsDf = (1L until n).map(i => (i, i + 1)).toDF("doc_id_a", "doc_id_b")
    val got = Dedup.dedupClusters(docsDf, pairsDf, maxIter = 12, driverThreshold = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to n).forall(i => got(i) == 1L),
      s"chain must collapse to root 1 inside 12 rounds: $got")
  }

  test("star contraction == union-find labels on chain, star, and merged shapes") {
    val docsDf = (1L to 12L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // chain 1-2-3-4 (depth the large-star hook must collapse), star around
    // 6, two components merged through a bridge (9-10, 11-12, 10-11),
    // singletons 5
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L), (6L, 8L),
      (9L, 10L), (11L, 12L), (10L, 11L)).toDF("doc_id_a", "doc_id_b")
    val expect = Dedup.dedupClusters(docsDf, pairs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = Dedup.dedupClustersStar(docsDf, pairs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect)
    assert(expect.take(4).map(_._2) == Seq(1L, 1L, 1L, 1L))
    assert(expect.drop(8).map(_._2) == Seq(9L, 9L, 9L, 9L))
  }

  test("star contraction: deep chain converges in far fewer rounds than diameter") {
    // a 24-node path needs 23 min-label rounds; star contraction must
    // finish inside 10 alternations (O(log² n)) — maxIter enforces it
    val n = 24L
    val docsDf = (0L until n).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_id_a", "doc_id_b")
    val got = Dedup.dedupClustersStar(docsDf, chain, maxIter = 10, checkpointEvery = 2)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == (0L until n).map(i => (i, 0L)))
  }

  test("star contraction: maxIter exit keeps one row per doc (consistent partial labels)") {
    val n = 32L
    val docsDf = (0L until n).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_id_a", "doc_id_b")
    // 1 round cannot converge a 32-node chain — the safety net must still
    // return exactly one labeling row per doc, not a fanned-out join
    val got = Dedup.dedupClustersStar(docsDf, chain, maxIter = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == n.toInt)
    assert(got.map(_._1).distinct.length == n.toInt)
    // labels point DOWNHILL (never above the doc itself) even mid-way
    assert(got.forall { case (d, c) => c <= d })
  }

  test("star contraction: empty pair set labels every doc by itself") {
    val docsDf = (1L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val none = Seq.empty[(Long, Long)].toDF("doc_id_a", "doc_id_b")
    val got = Dedup.dedupClustersStar(docsDf, none)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == (1L to 5L).map(i => (i, i)))
  }

  test("vec_dot: float and double arrays accepted, int/mixed rejected at analysis time") {
    // array<double> is a first-class input since the residual-IVFADC
    // path (subtractions in double); the typed accessor dispatches
    val dd = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
      .select(graft.functions.GraftFunctions.vec_dot($"a", $"b"))
      .head().getDouble(0)
    assert(dd == 11.0)
    // int arrays: still an analysis-time failure, never silent garbage
    val ints = Seq((Array(1, 2), Array(3, 4))).toDF("a", "b")
    val e = intercept[Exception] {
      ints.select(graft.functions.GraftFunctions.vec_dot($"a", $"b")).collect()
    }
    assert(e.getMessage.contains("vec_dot") || e.getMessage.contains("DATATYPE"),
      s"expected analysis-time type failure, got: ${e.getMessage}")
    // mixed float/double: rejected — the element accessor must agree
    val mixed = Seq((Array(1.0f, 2.0f), Array(3.0, 4.0))).toDF("a", "b")
    val e2 = intercept[Exception] {
      mixed.select(graft.functions.GraftFunctions.vec_dot($"a", $"b")).collect()
    }
    assert(e2.getMessage.contains("vec_dot") || e2.getMessage.contains("DATATYPE"))
    // vec_hamming: packed sign words are bigint arrays, nothing else —
    // a float array would popcount garbage bits
    val fl = Seq((Array(1.0f), Array(2.0f))).toDF("a", "b")
    val e3 = intercept[Exception] {
      fl.select(graft.functions.GraftFunctions.vec_hamming($"a", $"b")).collect()
    }
    assert(e3.getMessage.contains("vec_hamming") || e3.getMessage.contains("DATATYPE"))
  }

  test("fused min_hash_sketch aggregate == declarative per-permutation mins") {
    for (n <- Seq(16, 128)) {
      val declarative = Dedup.minHashSignatures(docs, n, 3).orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
      val fused = Dedup.minHashSignatures(docs, n, 3, fused = true).orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
      assert(declarative.toSeq == fused.toSeq, s"numHashes=$n")
    }
  }

  test("minhash LSH recalls the planted near-dups found by exact jaccard") {
    val exact = Dedup.ngramJaccardPairs(docs, threshold = 0.9)
      .select("doc_id_a", "doc_id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    val lsh = Dedup.minHashNearDup(docs, threshold = 0.5)
      .select("doc_id_a", "doc_id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // jaccard ≈ 0.99 pairs collide in some band with near-certainty
    assert(exact.subsetOf(lsh),
      s"missing pairs: ${exact.diff(lsh)}")
    // and LSH estimates stay honest: no wildly-false positives at est>=0.5
    val falsePos = lsh.diff(exact)
    assert(falsePos.size <= lsh.size / 2, s"too many false positives: $falsePos")
  }

  test("portable minhash LSH recalls the planted near-dups too") {
    // same contract as the xxhash64 family: the md5 a+p*b banding must not
    // lose the jaccard≈0.99 planted pairs
    val exact = Dedup.ngramJaccardPairs(docs, threshold = 0.9)
      .select("doc_id_a", "doc_id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    val lsh = Dedup.minHashNearDupPortable(docs, threshold = 0.5)
      .select("doc_id_a", "doc_id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(lsh), s"missing pairs: ${exact.diff(lsh)}")
  }

  test("pipeline curate: keyed chunks, valid splits, survivors only") {
    val out = Pipeline.curate(docs).cache()
    val rows = out.collect()
    assert(rows.nonEmpty)
    // (doc_id, chunk_id) is a key, chunk ids start at 0 per doc
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (d, rs) =>
      val ids = rs.map(_.getInt(2)).sorted
      assert(ids.toSeq == (0 until rs.length), s"doc $d chunk ids: ${ids.toSeq}")
    }
    assert(rows.map(_.getString(1)).toSet.subsetOf(Set("train", "val", "test")))
    // near-dup survivors only: every emitted doc is its own cluster canonical
    val keepers = Dedup.dedupClusters(docs,
        Dedup.ngramJaccardPairs(docs, threshold = 0.8))
      .filter(col("doc_id") === col("canonical_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(byDoc.keySet.subsetOf(keepers))
    out.unpersist()
  }

  test("repetition stats: hand-computed fractions, empty doc zeros") {
    val df = Seq(
      (1L, "a a a b"),  // 4 tokens, 2 distinct; bigrams: "a a"x2, "a b" -> 2/3
      (2L, ""),
      (3L, "x"),        // one token: no bigrams
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(df).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 4L, 0.5, 0.6667),
      (2L, 0L, 0.0, 0.0),
      (3L, 1L, 0.0, 0.0)))
  }

  test("pii redaction: emails, phones, ips replaced and counted") {
    val df = Seq(
      (1L, "mail a.b@x.io or call 555-123-4567 from 10.0.0.1 now"),
      (2L, "clean text without identifiers"),
    ).toDF("doc_id", "text")
    val got = Pii.redact(df).orderBy("doc_id").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got(0) == ("mail <EMAIL> or call <PHONE> from <IP> now", 1L, 1L, 1L))
    assert(got(1) == ("clean text without identifiers", 0L, 0L, 0L))
  }

  test("stratified sample: per-stratum fractions, keep-all and drop-all") {
    val df = docs // has lang column
    val all = Sampling.stratifiedSample(df, "doc_id", "lang", Seq(), default = 1.0)
    assert(all.count() == df.count())
    val none = Sampling.stratifiedSample(df, "doc_id", "lang", Seq(), default = 0.0)
    assert(none.count() == 0)
    // a stratum's members are exactly the plain deterministic sample of it
    val en = Sampling.stratifiedSample(df, "doc_id", "lang",
        Seq("en" -> 0.5), default = 0.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val direct = Sampling.deterministicSample(
        df.filter(col("lang") === "en"), "doc_id", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(en == direct)
  }

  test("sequence packing: two-level scan == naive global cumsum") {
    import org.apache.spark.sql.expressions.Window
    val chunks = TextAnalysis.chunkDocuments(docs, 16, 4)
    val got = Packing.packSequences(chunks, budget = 64, docBucket = 8)
      .select("doc_id", "chunk_id", "global_offset", "seq_id")
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val w = Window.orderBy("doc_id", "chunk_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val naive = chunks.withColumn("global_offset",
        coalesce(sum(col("n_chunk_tokens")).over(w), lit(0L)))
      .withColumn("seq_id", floor(col("global_offset") / 64).cast("long"))
      .select("doc_id", "chunk_id", "global_offset", "seq_id")
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == naive.toSeq)
  }

  test("k-means training: deterministic, total assignment, pluggable codebook") {
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val run1 = Similarity.trainCodebook(emb, k = 4, iters = 2)
      .orderBy("centroid_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2)))
    CacheRegistry.release(TestSpark.spark)
    val run2 = Similarity.trainCodebook(emb, k = 4, iters = 2)
      .orderBy("centroid_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2)))
    // bit-deterministic across runs (fixed-point means, no float-sum order)
    assert(run1.toSeq == run2.toSeq)
    // every vector assigned exactly once
    assert(run1.map(_._2).sum == emb.count())
    // training moved the centroids off their init vectors
    val init = emb.filter(col("vec_id") < 4).orderBy("vec_id").collect()
      .map(_.getSeq[Float](1))
    assert(run1.map(_._3).zip(init).exists { case (a, b) => a != b })
    // the trained codebook drops into the IVF probe path
    val cb = Similarity.trainCodebook(emb, k = 4, iters = 1)
      .select(col("centroid_id").as("vec_id"), col("embedding"))
    val topk = Similarity.ivfTopKWith(emb, emb.filter(col("vec_id") < 2), 3, cb)
    assert(topk.groupBy("query_id").count().collect().forall(_.getLong(1) == 3))
    emb.unpersist()
    CacheRegistry.release(TestSpark.spark)
  }

  test("semantic dedup: planted near-identical vector dropped, originals kept") {
    val rnd = new scala.util.Random(23)
    val base = (0 until 24).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    // vec 100 ≈ vec 3 (tiny perturbation → cosine ~1); vec 101 ≈ vec 7
    def near(src: Int, id: Long) =
      (id, base(src)._2.map(x => x + 0.001f * rnd.nextGaussian().toFloat))
    val df = (base ++ Seq(near(3, 100L), near(7, 101L)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(df, k = 4, iters = 2, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.size == 26)
    // the planted copies have a smaller-id near-dup (their source) → dropped
    assert(!out(100L)._2 && !out(101L)._2)
    assert(out(3L)._2 && out(7L)._2)
    // a copy lands in its source's cluster (cosine ~1 → same argmax)
    assert(out(100L)._1 == out(3L)._1)
    assert(out(101L)._1 == out(7L)._1)
    // random gaussians in 16-d are near-orthogonal — nothing else drops
    assert(out.count(!_._2._2) == 2)
  }

  test("int8 quantization: round-trip error bounded by half a step") {
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val got = Similarity.quantizeInt8(emb).orderBy("vec_id").collect()
    val raw = emb.orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    got.foreach { r =>
      val (id, scale) = (r.getLong(0), r.getDouble(1))
      val xs = raw(id).map(_.toDouble)
      assert(scale > 0)
      // re-derive the codes and check (a) the emitted summary matches and
      // (b) every code reconstructs within half a quantization step
      val codes = xs.map(x => math.max(-127L, math.min(127L,
        math.floor(x / scale + 0.5).toLong)))
      assert(r.getLong(2) == codes.sum, s"q_sum vec $id")
      assert(r.getLong(3) == codes(0) && r.getLong(4) == codes(1))
      codes.zip(xs).foreach { case (q, x) =>
        assert(math.abs(x - q * scale) <= scale * 0.5 + 1e-12,
          s"vec $id reconstruction error")
      }
    }
    emb.unpersist()
  }

  test("edit-distance neardup: small edits found, distance exact") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (1L, base),
      (2L, base.replace("tok7", "tokX")),   // 1 char substitution
      (3L, "entirely different content with no shared trigrams at all ok"),
    ).toDF("doc_id", "text")
    val got = Dedup.editDistanceNearDup(df, maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 1L)))
  }

  test("duplicate spans: shared window found, unique text silent") {
    val shared = (1 to 8).map(i => s"common$i").mkString(" ") // 8-token run
    val df = Seq(
      (1L, s"alpha $shared beta"),
      (2L, s"gamma delta $shared"),
      (3L, "totally unrelated words here making up a sentence of its own"),
    ).toDF("doc_id", "text")
    // span 4, stride 1: the shared run yields identical 4-token windows in
    // docs 1 and 2 (at different offsets); doc 3 must not appear
    val got = Dedup.duplicateSpans(df, spanTokens = 4, stride = 1)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L))
    // all-unique corpus -> empty report
    assert(Dedup.duplicateSpans(
      df.filter(col("doc_id") === 3L), 4, 1).count() == 0)
    // fraction signal: every doc reports (short docs 0.0), dup docs > 0
    val frac = Dedup.spanDupFraction(df, 4, 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(frac.keySet == Set(1L, 2L, 3L))
    assert(frac(1L) > 0.0 && frac(2L) > 0.0 && frac(3L) == 0.0)
  }

  test("exact duplicate spans: planted boundaries recovered, islands merge, unique silent") {
    // doc 1: 5 unique + 10 shared + 5 unique; doc 2 carries the same
    // 10-token run at a different offset; doc 3 is all-unique
    val shared = (1 to 10).map(i => s"common$i").mkString(" ")
    val df = Seq(
      (1L, s"u11 u12 u13 u14 u15 $shared v11 v12 v13 v14 v15"),
      (2L, s"w21 w22 $shared x21 x22 x23"),
      (3L, "totally unrelated words making a sentence of their own here now"),
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateSpansExact(df, minTokens = 4)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // exact boundaries: doc 1 tokens [5, 15), doc 2 tokens [2, 12) — one
    // merged span each (7 stride-1 windows of 4 tokens), doc 3 absent
    assert(got.toSeq == Seq((1L, 5L, 15L, 10L), (2L, 2L, 12L, 10L)), got.toSeq)
    // two disjoint shared runs in one doc must stay two islands
    val two = Seq(
      (1L, s"$shared a1 a2 a3 a4 a5 $shared"),
      (2L, s"b1 $shared b2"), (3L, s"c1 c2 c3 $shared")).toDF("doc_id", "text")
    val spans1 = Dedup.duplicateSpansExact(two, minTokens = 4)
      .filter(col("doc_id") === 1L).orderBy("span_start").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(spans1.toSeq == Seq((0L, 10L), (15L, 25L)), spans1.toSeq)
    // all-unique corpus -> empty
    assert(Dedup.duplicateSpansExact(
      df.filter(col("doc_id") === 3L), 4).count() == 0)
    // intra-doc-only repetition is NOT reported (cross-doc contract)
    val self = Seq((1L, s"$shared and then $shared"),
      (2L, "nothing shared with the first document at all in any way"))
      .toDF("doc_id", "text")
    assert(Dedup.duplicateSpansExact(self, 4).count() == 0)
  }

  test("self-repetition spans: intra-doc repeats found exactly, cross-doc ignored") {
    val run = (1 to 6).map(i => s"rep$i").mkString(" ")
    val df = Seq(
      // doc 1: 6-token run at positions [2, 8) and again at [11, 17)
      (1L, s"a1 a2 $run b1 b2 b3 $run c1"),
      // doc 2 shares the run CROSS-doc but only once internally -> silent
      (2L, s"d1 $run d2 d3 d4 d5 d6 d7"),
      (3L, "no repeats in this document at all just unique words here"),
    ).toDF("doc_id", "text")
    val got = Dedup.selfRepetitionSpans(df, minTokens = 4)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    // doc 1: both occurrences covered — [2, 8) and [11, 17), each window
    // repeated exactly twice; docs 2 and 3 silent
    assert(got.toSeq == Seq((1L, 2L, 8L, 2L), (1L, 11L, 17L, 2L)), got.toSeq)
    // adjacent self-repeat (x x) merges into one island
    val adj = Seq((1L, s"$run $run tail1 tail2 tail3 tail4"),
      (2L, "entirely different words making up this second document"))
      .toDF("doc_id", "text")
    val spans = Dedup.selfRepetitionSpans(adj, minTokens = 4)
      .filter(col("doc_id") === 1L).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(spans.toSeq == Seq((0L, 12L)), spans.toSeq)
  }

  test("decontaminate drops exactly the flagged docs and keeps the audit trail") {
    val leak = (1 to 6).map(i => s"bench$i").mkString(" ")
    val df = Seq(
      (1L, s"probe text holding the $leak sequence"),        // the probe
      (2L, s"training doc that copied $leak verbatim"),      // contaminated
      (3L, "a clean training document with its own words"),
      (4L, s"another copier of $leak right here")).toDF("doc_id", "text")
    val out = operators.Contamination.decontaminate(df,
        df.filter(col("doc_id") === 1L), minShared = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("dropped"),
        r.getAs[Long]("n_probes_hit")))
    assert(out.toSeq == Seq((1L, false, 0L), (2L, true, 1L),
      (3L, false, 0L), (4L, true, 1L)), out.toSeq)
    // the clean corpus is one filter away, and the report is the same frame
    assert(operators.Contamination.decontaminate(df,
      df.filter(col("doc_id") === 1L), minShared = 2)
      .filter(!col("dropped")).count() == 2L)
  }

  test("SpanStore: seed+append == cold rebuild, replay invisible, pruned probe, compaction invariant") {
    val shared = (1 to 10).map(i => s"common$i").mkString(" ")
    def doc(id: Long, pre: String): (Long, String) =
      id -> s"$pre${(1 to 8).map(i => s"u$id$i").mkString(" ")} $shared"
    val all = (Seq(doc(1L, ""), doc(2L, ""), doc(3L, ""), doc(4L, "")) :+
      (9L -> "entirely unique words with no shared run anywhere at all ok here"))
      .toDF("doc_id", "text")
    val probeDocs = all.filter(col("doc_id") <= 2L)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "p").collect().map(_.toSeq).toSeq

    val t1 = java.nio.file.Files.createTempDirectory("spanstore").toString
    SpanStore.write(all.filter(col("doc_id") % 2 === 0), t1 + "/s", minTokens = 4)
    SpanStore.append(spark, all.filter(col("doc_id") % 2 === 1), t1 + "/s")
    val incr = SpanStore.probe(spark, probeDocs, t1 + "/s")
    // cold rebuild over everything at once
    SpanStore.write(all, t1 + "/cold", minTokens = 4)
    val cold = SpanStore.probe(spark, probeDocs, t1 + "/cold")
    assert(sorted(incr) == sorted(cold), "seed+append must equal cold")
    assert(sorted(incr).nonEmpty, "shared run must hit")
    // replayed append repeats rows but cannot move answers
    SpanStore.append(spark, all.filter(col("doc_id") % 2 === 1), t1 + "/s")
    assert(sorted(SpanStore.probe(spark, probeDocs, t1 + "/s")) == sorted(cold))
    // probe scan must carry a static shard IN-list (PartitionFilters)
    val plan = SpanStore.probe(spark, probeDocs, t1 + "/s")
      .queryExecution.executedPlan.toString
    // Spark prints small IN-lists as "IN (…)" and larger ones as "INSET …"
    assert(plan.contains("PartitionFilters: [shard#") &&
      (plan.contains(" IN (") || plan.contains(" INSET ")),
      plan.split("\n").filter(_.contains("PartitionFilters")).mkString("\n"))
    // …and the batch print set must SEMI-JOIN into the store scan as a
    // broadcast BEFORE any aggregate (r16 task 1): a SortMergeJoin here
    // means store rows shuffle — the store-proportional probe regression
    assert(plan.contains("LeftSemi") &&
      plan.toLowerCase.contains("broadcast"),
      s"probe must broadcast-semi-join the batch prints into the store scan:\n$plan")
    // compaction folds the replayed rows back and keeps answers
    SpanStore.compactStore(spark, t1 + "/s", t1 + "/c")
    assert(spark.read.parquet(t1 + "/c").count() <
      spark.read.parquet(t1 + "/s").count(), "compaction must drop rows")
    assert(sorted(SpanStore.probe(spark, probeDocs, t1 + "/c")) == sorted(cold))
  }

  test("SpanStore bloom sidecar: no false negatives, probe unchanged, appends ride along, compaction carries it") {
    val shared = (1 to 10).map(i => s"common$i").mkString(" ")
    def doc(id: Long, pre: String): (Long, String) =
      id -> s"$pre${(1 to 8).map(i => s"u$id$i").mkString(" ")} $shared"
    val all = (Seq(doc(1L, ""), doc(2L, ""), doc(3L, ""), doc(4L, "")) :+
      (9L -> "entirely unique words with no shared run anywhere at all ok here"))
      .toDF("doc_id", "text")
    val probeDocs = all.filter(col("doc_id") <= 2L)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "p").collect().map(_.toSeq).toSeq

    val t = java.nio.file.Files.createTempDirectory("spanbloom").toString
    SpanStore.write(all.filter(col("doc_id") % 2 === 0), t + "/s", minTokens = 4)
    assert(!SpanStore.hasBloom(t + "/s"))
    SpanStore.writeBloom(spark, t + "/s")
    assert(SpanStore.hasBloom(t + "/s"))
    // append updates the sidecar by default (frozen bit geometry)
    SpanStore.append(spark, all.filter(col("doc_id") % 2 === 1), t + "/s")
    // bloom-path probe ≡ bloomless probe ≡ cold rebuild
    SpanStore.write(all, t + "/cold", minTokens = 4)
    val cold = sorted(SpanStore.probe(spark, probeDocs, t + "/cold"))
    assert(sorted(SpanStore.probe(spark, probeDocs, t + "/s")) == cold,
      "bloom-path probe must equal the cold answer")
    assert(sorted(SpanStore.probe(spark, probeDocs, t + "/s",
      useBloom = false)) == cold, "bloomless probe must equal too")
    // no false negatives: every exact store hit survives the bloom
    val pr = SpanStore.printsOf(spark, probeDocs, t + "/s")
      .select("shard", "span_md5").distinct()
    val maybe = SpanStore.bloomMaybe(spark, pr, t + "/s")
    val exactHits = SpanStore.probe(spark, probeDocs, t + "/s", useBloom = false)
      .select("span_md5").distinct()
    assert(exactHits.join(maybe.select("span_md5"), Seq("span_md5"),
      "left_anti").count() == 0L,
      "a store print the bloom rejects is a false negative")
    // a fully-novel batch is cleared without any store hit
    val novel = Seq(7L -> "totally fresh words nowhere else xq1 xq2 xq3 xq4 xq5")
      .toDF("doc_id", "text")
    assert(SpanStore.probe(spark, novel, t + "/s").count() == 0L)
    assert(SpanStore.bloomMaybe(spark,
      SpanStore.printsOf(spark, novel, t + "/s")
        .select("shard", "span_md5").distinct(), t + "/s").count() == 0L,
      "novel prints must be cleared sidecar-side (no store planning at all)")
    // replayed append repeats sidecar generations; OR folding hides it
    SpanStore.append(spark, all.filter(col("doc_id") % 2 === 1), t + "/s")
    assert(sorted(SpanStore.probe(spark, probeDocs, t + "/s")) == cold)
    // compaction rewrites the sidecar alongside the store
    SpanStore.compactStore(spark, t + "/s", t + "/c")
    assert(SpanStore.hasBloom(t + "/c"), "compaction must carry the sidecar")
    assert(spark.read.parquet(t + "/c_bloom").count() <
      spark.read.parquet(t + "/s_bloom").count(),
      "compaction must OR-fold sidecar generations")
    assert(sorted(SpanStore.probe(spark, probeDocs, t + "/c")) == cold)
    // fused build (write withBloom) == write-then-writeBloom: identical
    // frozen geometry and identical word rows
    SpanStore.write(all.filter(col("doc_id") % 2 === 0), t + "/f",
      minTokens = 4, withBloom = true)
    assert(SpanStore.hasBloom(t + "/f"))
    def bloomRowsOf(dir: String) = spark.read
      .schema("w BIGINT, word BIGINT, shard STRING").parquet(dir + "_bloom")
      .collect().map(_.toSeq).toSet
    SpanStore.write(all.filter(col("doc_id") % 2 === 0), t + "/f2", minTokens = 4)
    SpanStore.writeBloom(spark, t + "/f2")
    assert(bloomRowsOf(t + "/f") == bloomRowsOf(t + "/f2"),
      "fused sidecar build must equal the standalone build")
  }

  test("SpanStore.ingestCurate: trims corpus spans, drops mostly-dup docs, appends only survivors") {
    val shared = (1 to 10).map(i => s"common$i").mkString(" ")
    val seed = Seq(
      1L -> s"seed one unique words here $shared",
      2L -> s"seed two other unique words $shared").toDF("doc_id", "text")
    val batch = Seq(
      // mostly corpus text -> kept frac < 0.5 -> dropped
      10L -> s"tiny bit $shared",
      // half fresh -> trimmed but kept
      11L -> s"fresh alpha beta gamma delta epsilon zeta eta theta iota $shared",
      // no overlap -> untouched
      12L -> "wholly novel content with no shared run anywhere in it at all")
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("curate").toString + "/s"
    SpanStore.write(seed, dir, minTokens = 4)
    val audit = SpanStore.ingestCurate(spark, batch, dir, minKeptFrac = 0.5)
      .orderBy("doc_id").collect()
    val byId = audit.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(10L).getAs[Boolean]("dropped"),
      "mostly-duplicate doc must drop")
    assert(!byId(11L).getAs[Boolean]("dropped"))
    assert(byId(11L).getAs[Long]("n_tokens_kept") == 10L,
      s"doc 11 must keep its 10 fresh tokens: ${byId(11L)}")
    assert(!byId(11L).getAs[String]("text").contains("common1"),
      "the shared run must be trimmed out of the kept text")
    assert(byId(12L).getAs[Long]("n_tokens_kept")
      == byId(12L).getAs[Long]("n_tokens_before"), "clean doc untouched")
    // survivors' prints entered the store; the dropped doc's did not
    val storeIds = spark.read.parquet(dir).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(storeIds == Set(1L, 2L, 11L, 12L), storeIds)
    // anchorsToSpans merges overlapping anchors into one maximal span
    val spans = SpanStore.anchorsToSpans(
      Seq((7L, 0L, 1L), (7L, 1L, 1L), (7L, 2L, 2L), (7L, 20L, 1L))
        .toDF("doc_id", "p", "n_store_docs"), 4)
      .orderBy("span_start").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)))
    assert(spans.toSeq == Seq((0L, 6L, 3L, 2L), (20L, 24L, 1L, 1L)), spans.toSeq)
  }

  test("kCenterSample equals the naive farthest-point greedy; radius non-increasing") {
    val vecs: Seq[(Long, Array[Float])] = Seq(
      0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(0.99f, 0.14f, 0f, 0f),
      10L -> Array(0f, 1f, 0f, 0f), 11L -> Array(0.14f, 0.99f, 0f, 0f),
      20L -> Array(0f, 0f, 1f, 0f), 21L -> Array(0f, 0.14f, 0.99f, 0f),
      30L -> Array(0.5f, 0.5f, 0.5f, 0.5f))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      d / (na * nb)
    }
    def dist(a: Array[Float], b: Array[Float]): Double =
      1.0 - math.round(cos(a, b) * 1e6) / 1e6
    // naive greedy, replicating the operator's exact arithmetic
    val byId = vecs.toMap
    var sel = List(vecs.map(_._1).min)
    var expect = List[(Long, Option[Double])]((sel.head, None))
    (2 to 4).foreach { _ =>
      val cand = vecs.map(_._1).filterNot(sel.contains).map { id =>
        id -> sel.map(s => dist(byId(id), byId(s))).min
      }
      val best = cand.minBy { case (id, d) => (-d, id) }
      sel = best._1 :: sel
      expect = (best._1, Some(best._2)) :: expect
    }
    val got = Similarity.kCenterSample(
        vecs.toDF("vec_id", "embedding"), k = 4)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
    assert(got.toSeq == expect.reverse, s"${got.toSeq} vs ${expect.reverse}")
    // picks must hit all three clusters plus the diagonal outlier: one
    // of {0,1}, one of {10,11}, one of {20,21}, and 30
    val ids = got.map(_._1).toSet
    assert(ids.contains(30L) && Seq(Set(0L, 1L), Set(10L, 11L), Set(20L, 21L))
      .forall(c => ids.intersect(c).size == 1), ids.toString)
    // selection distances never increase
    val ds = got.flatMap(_._2)
    assert(ds.zip(ds.tail).forall { case (a, b) => b <= a }, ds.toSeq)
  }

  test("neighborhoodFunction registers equal the exact h-hop closure's registers") {
    // path 1-2-3-4-5 plus triangle 10-11-12: reach sets are known; the
    // HLL register STATE after h hops must bit-equal the registers of
    // the exact closure (the estimate is approximate, the algebra is
    // not — max-merge over propagated single-item registers IS the
    // union's register table)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L)).toDF("src", "dst")
    val adj = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L,
      10L -> 11L, 11L -> 12L, 12L -> 10L)
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keySet
    def reach(n: Long, h: Int): Set[Long] = {
      var s = Set(n)
      (1 to h).foreach(_ => s = s ++ s.flatMap(adj.getOrElse(_, Set.empty)))
      s
    }
    val got = Graph.neighborhoodFunction(edges, maxHops = 3, p = 8)
      .orderBy("h", "node").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    for (h <- 1 to 3) {
      val pairs = nodes.toSeq.flatMap(n => reach(n, h).map(m => (n, m.toString)))
      val want = Sketches.hllFinalizeBy(
          Sketches.hllRegistersBy(pairs.toDF("node", "__item"),
            "__item", 8, Seq("node")), 8, Seq("node"))
        .collect().map(r =>
          (h, r.getLong(0)) -> (r.getLong(1), r.getLong(2))).toMap
      want.foreach { case (k, v) =>
        assert(got(k) == v, s"register state at $k: got ${got(k)}, want $v")
      }
    }
    // est includes the node itself and saturates once the component is
    // fully reached: path end node 1 reaches all 5 at h >= 4 == h = 3+1
    assert(got((3, 10L))._1 == got((2, 10L))._1,
      "triangle saturates by h=2; h=3 must be a no-op on its registers")
  }

  test("trimSpans cuts exactly the covered ranges; no-span docs pass whole") {
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7"),
      (2L, "u0 u1 u2 u3"),
    ).toDF("doc_id", "text")
    val spans = Seq((1L, 2L, 4L), (1L, 6L, 8L))
      .toDF("doc_id", "span_start", "span_end")
    val got = Dedup.trimSpans(docs, spans).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, "t0 t1 t4 t5", 8L, 4L),
      (2L, "u0 u1 u2 u3", 4L, 4L)), got.toSeq)
    // full coverage -> empty text, zero kept
    val all = Dedup.trimSpans(docs.filter(col("doc_id") === 2L),
        Seq((2L, 0L, 4L)).toDF("doc_id", "span_start", "span_end"))
      .head()
    assert(all.getString(1) == "" && all.getLong(3) == 0L)
    // round-trip: trimming duplicateSpansExact's own report leaves no
    // cross-doc duplicated window behind
    val shared = (1 to 10).map(i => s"common$i").mkString(" ")
    val dup = Seq((1L, s"a1 a2 $shared a3"), (2L, s"b1 $shared"),
      (3L, "untouched unique words in every position here")).toDF("doc_id", "text")
    val trimmed = Dedup.trimSpans(dup, Dedup.duplicateSpansExact(dup, 4))
    assert(Dedup.duplicateSpansExact(trimmed, 4).count() == 0L)
  }

  test("weighted sample: prob 0 drops, prob 1 keeps, column prob == literal cut") {
    assert(Sampling.weightedSample(docs, "doc_id", lit(0.0)).count() == 0)
    assert(Sampling.weightedSample(docs, "doc_id", lit(1.0)).count() == docs.count())
    // a constant column probability must equal the plain sample at the
    // same fraction (same id-hash membership)
    val viaW = Sampling.weightedSample(docs, "doc_id", lit(0.37))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaS = Sampling.deterministicSample(docs, "doc_id", 0.37)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaW == viaS)
  }

  test("mixture plan: binding stratum keeps all, mix ratios hold") {
    val plan = Sampling.mixturePlan(docs, "lang",
        Seq("en" -> 0.5, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // exactly one listed stratum is binding (keep_frac 1.0); zh unlisted -> 0
    assert(plan.count { case (_, (_, w, f)) => w > 0 && f == 1.0 } == 1)
    assert(plan("zh")._3 == 0.0)
    // achieved mix matches target: kept_s / total_kept == w_s (±rounding)
    val kept = plan.collect { case (s, (n, w, f)) if w > 0 => s -> (n * f, w) }
    val total = kept.values.map(_._1).sum
    kept.foreach { case (s, (k, w)) =>
      assert(math.abs(k / total - w) < 1e-4, s"stratum $s off-target")
    }
  }

  test("keyword scores: absent term zero, more occurrences score higher") {
    val df = Seq(
      (1L, "spark spark spark on a cluster"),
      (2L, "spark appears once here today"),
      (3L, "no relevant words at all present"),
    ).toDF("doc_id", "text")
    val got = TextAnalysis.keywordScores(df, Seq("spark"))
      .orderBy("doc_id").collect().map(_.getDouble(1))
    assert(got(0) > got(1), "tf saturation should still rank 3x above 1x")
    assert(got(1) > 0.0 && got(2) == 0.0)
  }

  test("corpus stats: totals agree with tokenCount") {
    val viaStats = TextAnalysis.corpusStats(docs, "lang")
      .agg(sum(col("total_tokens"))).head.getLong(0)
    val direct = TextAnalysis.tokenCount(docs)
      .agg(sum(col("n_tokens"))).head.getLong(0)
    assert(viaStats == direct)
  }

  test("sequence packing: randomized corpora match the naive cumsum") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      // sparse doc ids (bucket-boundary stress), ragged chunk counts,
      // zero-token chunks included
      val rows = (0 until 200).flatMap { _ =>
        val d = rnd.nextInt(100000).toLong
        (0 until (1 + rnd.nextInt(4))).map(c => (d, c, rnd.nextInt(80).toLong))
      }.distinctBy(r => (r._1, r._2)) // (doc, chunk) must be a key: order
                                      // ties would make prefix sums ambiguous
      val chunks = rows.toDF("doc_id", "chunk_id", "n_chunk_tokens")
      val budget = 1 + rnd.nextInt(300)
      val got = Packing.packSequences(chunks, budget, docBucket = 1 + rnd.nextInt(5000))
        .select("doc_id", "chunk_id", "global_offset", "seq_id")
        .orderBy("doc_id", "chunk_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      val w = Window.orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val naive = chunks.withColumn("global_offset",
          coalesce(sum(col("n_chunk_tokens")).over(w), lit(0L)))
        .withColumn("seq_id", floor(col("global_offset") / budget).cast("long"))
        .select("doc_id", "chunk_id", "global_offset", "seq_id")
        .orderBy("doc_id", "chunk_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      assert(got.toSeq == naive.toSeq, s"trial $trial budget $budget")
    }
  }

  test("contamination: shared-shingle counts on a hand case") {
    val corpus = Seq(
      (10L, "a b c d e"),       // shingles: {abc, bcd, cde}
      (11L, "a b c d x"),       // shares {abc, bcd} with 10
      (12L, "p q r s t"),
    ).toDF("doc_id", "text")
    val probes = Seq((1L, "a b c d q")).toDF("doc_id", "text") // {abc, bcd, cdq}
    val got = Contamination.overlapReport(corpus, probes, minShared = 2)
      .orderBy("probe_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 10L, 2L), (1L, 11L, 2L)))
  }

  test("simhash: identical texts equal, near-identical close, distinct far") {
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy cat again and again"),
      (4L, "completely different words nothing shared whatsoever here at all"),
    ).toDF("doc_id", "text")
    val h = Dedup.simHashTable(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L))
    assert(hamming(h(1L), h(3L)) < 16, s"near-dup hamming ${hamming(h(1L), h(3L))}")
    assert(hamming(h(1L), h(4L)) > hamming(h(1L), h(3L)))
  }

  test("rolling-hash fingerprint matches direct computation; normalization collapses whitespace/case") {
    val df = Seq((1L, "Spark  Query Engine"), (2L, "spark query engine")).toDF("doc_id", "text")
    val rows = TextAnalysis.fingerprint(df).orderBy("doc_id").collect()
    val direct = RollingHash.hashBytes("Spark  Query Engine".getBytes("UTF-8"))
    assert(rows(0).getLong(1) == direct)
    assert(rows(0).getLong(2) == rows(1).getLong(2), "normalized fingerprints must collapse")
    assert(rows(0).getLong(1) != rows(1).getLong(1), "raw fingerprints must differ")
  }

  test("cosine similarity computes the exact value") {
    val df = Seq(
      (1L, Array(1f, 0f, 0f), 0),
      (2L, Array(0f, 1f, 0f), 0),
      (3L, Array(3f, 4f, 0f), 0),
    ).toDF("vec_id", "embedding", "label")
    val sim = df.filter($"vec_id" === 1).as("a")
      .crossJoin(df.filter($"vec_id" === 3).as("b"))
      .select(Similarity.cosine($"a.embedding", $"b.embedding").as("c"))
      .head().getDouble(0)
    assert(math.abs(sim - 0.6) < 1e-12)
  }

  test("brute-force top-k: correct neighbors, ranked, k per query") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val res = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 3), k = 5)
      .collect()
    assert(res.length == 15)
    val byQuery = res.groupBy(_.getAs[Long]("query_id"))
    byQuery.foreach { case (_, rows) =>
      val sims = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos_sim"))
      assert(sims.toSeq == sims.sortBy(-_).toSeq, "ranked descending")
    }
    // spot-check rank-1 of query 0 against a driver-side exact scan
    val all = emb.collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Seq[Float]]("embedding").toArray))
    val q = all.find(_._1 == 0L).get._2
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val expectTop = all.filter(_._1 != 0L)
      .map { case (id, v) => (id, BigDecimal(cos(q, v)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .sortBy { case (id, s) => (-s, id) }.head
    val gotTop = res.filter(r => r.getAs[Long]("query_id") == 0L && r.getAs[Int]("rank") == 1)
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).head
    assert(gotTop == expectTop)
  }

  test("sign_lsh_buckets native expression matches the HOF formulation bit-for-bit") {
    val rnd = new scala.util.Random(11)
    val df = (0 until 50).map(i => (i.toLong, Array.fill(48)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val tables = 8; val bits = 8
    // the original Column-HOF formulation, kept here as the executable spec
    // of the native expression's hash/sign/projection semantics
    def hofBucket(emb: org.apache.spark.sql.Column, table: Int): org.apache.spark.sql.Column =
      aggregate(sequence(lit(0), lit(bits - 1)), lit(0L), (acc, k) => {
        val proj = aggregate(
          zip_with(emb, sequence(lit(0), size(emb) - 1), (x, d) =>
            when(pmod(xxhash64(lit(table), k, d), lit(2)) === 0, x.cast("double"))
              .otherwise(-x.cast("double"))),
          lit(0.0), (a, v) => a + v)
        acc + when(proj > 0, call_function("shiftleft", lit(1L), k)).otherwise(lit(0L))
      })
    val got = df.select($"vec_id",
      graft.functions.GraftFunctions.sign_lsh_buckets($"embedding", tables, bits).as("nb"),
      array((0 until tables).map(t => hofBucket($"embedding", t)): _*).as("hb")).collect()
    got.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"vec ${r.getLong(0)}")
    }
  }

  test("sign-LSH finds planted high-similarity vector pairs") {
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(32)(rnd.nextGaussian().toFloat)
    def jitter(v: Array[Float]): Array[Float] = v.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    val base = (0 until 20).map(_ => vec())
    // ids 0..19 random, ids 100..119 near-duplicates of them
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      base.zipWithIndex.map { case (v, i) => (100L + i, jitter(v)) }
    val df = rows.toDF("vec_id", "embedding")
    val found = Similarity.lshNearDup(df, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 20).map(i => (i.toLong, 100L + i)).toSet
    // sign-LSH at 8 tables x 8 bits: cos≈0.999 pairs collide with
    // overwhelming probability; require near-total recall
    assert(expected.diff(found).size <= 1, s"missed: ${expected.diff(found)}")
  }

  test("IVF top-k returns k hits per query from the probed cluster") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val res = Similarity.ivfTopK(emb, emb.filter($"vec_id" < 3), k = 3)
    val n = res.groupBy("query_id").count().collect()
    assert(n.length == 3 && n.forall(_.getLong(1) == 3L))
  }

  test("IVF with all clusters probed == exact brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 3)
    val nCentroids = 32
    val ivf = Similarity.ivfTopK(emb, queries, k = 3,
        numCentroids = nCentroids, nprobe = nCentroids)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2))).toSet
    val brute = Similarity.bruteForceTopK(emb, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2))).toSet
    assert(ivf == brute)
  }

  test("IVF recall telemetry: monotone in nprobe, 1.0 at full probe depth") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 3)
    val rep = Similarity.ivfRecall(emb, queries, k = 3,
        numCentroids = 32, nprobes = Seq(1, 4, 32))
      .orderBy("nprobe").collect()
    assert(rep.map(_.getInt(0)).toSeq == Seq(1, 4, 32))
    assert(rep.forall(_.getLong(1) == 9L), "exact_pairs = k * |queries|")
    val recalls = rep.map(_.getDouble(4))
    assert(recalls.sliding(2).forall(p => p(0) <= p(1)), "recall monotone in nprobe")
    // nprobe = numCentroids degenerates to brute force -> recall exactly 1.0
    assert(recalls.last == 1.0)
  }

  test("quantized IVF with a full rerank pool == full-precision IVF") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 3)
    // rerank pool covers every probed candidate -> the exact-cosine final
    // ranking must coincide with the full-precision operator's output
    val qz = Similarity.ivfTopKQuantized(emb, queries, k = 3,
        numCentroids = 32, nprobe = 2, rerankFactor = 100000)
      .select("query_id", "vec_id", "cos_sim", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val fp = Similarity.ivfTopK(emb, queries, k = 3, numCentroids = 32, nprobe = 2)
      .select("query_id", "vec_id", "cos_sim", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(qz == fp)
  }

  test("IVF centroid count is fixed, independent of corpus size") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert(Similarity.pseudoCentroids(emb, 8).count() == 8)
    // 2x the corpus, same codebook size — assignment work scales O(n·k), not O(n²)
    assert(Similarity.pseudoCentroids(emb.union(emb.withColumn("vec_id", $"vec_id" + 1000)), 8)
      .count() == 8)
  }

  test("IVF accepts an offline codebook (ivfTopKWith)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 3)
    // a hand-picked codebook: every 100th vector
    val codebook = emb.filter($"vec_id" % 100 === 0).select("vec_id", "embedding")
    val res = Similarity.ivfTopKWith(emb, queries, k = 3, codebook)
    val n = res.groupBy("query_id").count().collect()
    assert(n.length == 3 && n.forall(_.getLong(1) == 3L))
  }

  test("deterministic shuffle: total 0-based rank, partition-independent, seed-sensitive") {
    val base = docs.select("doc_id")
    val r1 = Sampling.deterministicShuffle(base, seed = 7L)
    val ranks = r1.select("shuffle_rank").as[Long].collect().sorted
    assert(ranks.toSeq == (0L until 500L))   // a permutation, contiguous
    // the two-level rank equals a flat global row_number over the key order
    val flat = r1.withColumn("__flat",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("shuffle_key"), col("doc_id"))).cast("long") - 1)
      .filter(col("shuffle_rank") =!= col("__flat")).count()
    assert(flat == 0)
    // partitioning must not change the order
    val r8 = Sampling.deterministicShuffle(base.repartition(8), seed = 7L)
      .select("doc_id", "shuffle_rank").as[(Long, Long)].collect().toMap
    val r1m = r1.select("doc_id", "shuffle_rank").as[(Long, Long)].collect().toMap
    assert(r8 == r1m)
    // a different seed is a different epoch order
    val r2 = Sampling.deterministicShuffle(base, seed = 8L)
      .select("doc_id", "shuffle_rank").as[(Long, Long)].collect().toMap
    assert(r2 != r1m)
  }

  test("token budget sample: equals a driver-side greedy walk of the shuffle order") {
    val budget = 5000L
    val got = Sampling.tokenBudgetSample(docs, budget, seed = 5L)
      .select("doc_id", "token_offset", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)
    // independent replay: shuffle order from the operator's own key, greedy cumsum
    val order = Sampling.deterministicShuffle(docs.select("doc_id", "text"), seed = 5L)
      .withColumn("__nt", size(TextAnalysis.tokens(col("text"))).cast("long"))
      .select("doc_id", "shuffle_rank", "__nt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)
    var cum = 0L
    val want = order.flatMap { case (id, _, nt) =>
      val keep = if (cum < budget) Some((id, cum, nt)) else None
      cum += nt
      keep
    }
    assert(got.toSeq == want.toSeq)
    assert(got.nonEmpty && got.length < 500) // strict non-trivial subset
  }

  test("deterministic split: stable, partition-independent, ~fractional") {
    val split = Sampling.deterministicSplit(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count().toDouble
    assert(math.abs(counts("train") / n - 0.8) < 0.05, counts.toString)
    // same ids -> same assignment, regardless of partitioning
    val again = Sampling.deterministicSplit(docs.repartition(7), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    split.select("doc_id", "split").collect()
      .foreach(r => assert(again(r.getLong(0)) == r.getString(1)))
    // sample(f) is exactly the bucket-prefix subset
    val s = Sampling.deterministicSample(docs, "doc_id", 0.3)
    assert(math.abs(s.count() / n - 0.3) < 0.05)
  }

  test("ngram jaccard: loose frequency cap equals the exact branch") {
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = key(Dedup.ngramJaccardPairs(docs, threshold = 0.8).collect())
    // a cap no shingle reaches must not change anything (pins the
    // capped branch's recomputed per-doc counts after the r4 rework)
    val capped = key(Dedup.ngramJaccardPairs(docs, threshold = 0.8,
      maxShingleFreq = Some(1 << 20)).collect())
    assert(exact == capped)
    assert(exact.nonEmpty)
  }

  test("chunking: sliding windows cover every token, short docs intact") {
    val df = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "one two"),
      (3L, "")
    ).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkDocuments(df, chunkTokens = 4, overlap = 1)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(3)))
    // stride 3: starts 0,3,6 cover tokens 1..10 with 1-token overlap
    assert(chunks.toSeq == Seq(
      (1L, 0, "t1 t2 t3 t4"),
      (1L, 1, "t4 t5 t6 t7"),
      (1L, 2, "t7 t8 t9 t10"),
      (2L, 0, "one two"),
      (3L, 0, "")))
  }

  test("vocabTopK: frequency-ordered with deterministic tie cut") {
    val v = TextAnalysis.vocabTopK(docs, 20).collect()
    assert(v.length == 20)
    val occ = v.map(_.getLong(1))
    assert(occ.sameElements(occ.sortBy(-_)), "descending by occurrences")
    v.foreach(r => assert(r.getLong(2) <= r.getLong(1),
      "doc_freq cannot exceed occurrences"))
  }

  test("as-of join: inclusive latest-at-or-before per key, null when none") {
    val left = Seq(
      (1L, 10L, 100L), // k=10: before any right row -> no match
      (2L, 10L, 200L), // matches right ts=200 (inclusive tie)
      (3L, 10L, 350L), // matches right ts=300 (carry-forward past 200)
      (4L, 20L, 500L)  // other key: only k=20 rights considered
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (90L, 10L, 200L, 2.0),
      (91L, 10L, 300L, 3.0),
      (92L, 20L, 400L, 4.0),
      (93L, 30L, 100L, 9.9) // unrelated key
    ).toDF("event_id", "user_id", "ts", "value")
    val res = AsOf.asOfJoin(left, right, "user_id", "ts", Seq("event_id", "value"))
      .orderBy("event_id")
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1.0 else r.getDouble(4)))
    assert(res.toSeq == Seq(
      (1L, -1L, -1.0), (2L, 90L, 2.0), (3L, 91L, 3.0), (4L, 92L, 4.0)))
  }

  test("range join: bucketed equi-join equals direct containment") {
    val points = Seq(
      (1L, 10L, 150L), (2L, 10L, 100L), (3L, 10L, 301L), (4L, 20L, 150L)
    ).toDF("event_id", "user_id", "ts")
    val intervals = Seq(
      (90L, 10L, 100L, 300L), // matches 1 (inside), 2 (start-inclusive); not 3
      (91L, 20L, 140L, 160L), // other key; crosses no bucket boundary
      (92L, 10L, 250L, 500L)  // spans buckets; matches 3 and 1? 150<250 no; 301 yes
    ).toDF("err_id", "user_id", "win_start", "win_end")
    val res = RangeJoin.pointInInterval(points, intervals,
        "user_id", "ts", "win_start", "win_end", bucketWidth = 100L)
      .select("event_id", "err_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(res == Set((1L, 90L), (2L, 90L), (3L, 92L), (4L, 91L)))
    // brute-force equivalence on the same data
    val brute = points.as("l").join(intervals.as("r"),
        col("l.user_id") === col("r.user_id") &&
          col("l.ts") >= col("r.win_start") && col("l.ts") <= col("r.win_end"))
      .select(col("l.event_id"), col("r.err_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(res == brute)
  }

  test("interval overlap join: exactly-once pairs equal to brute force") {
    val left = Seq(
      (1L, 10L, 100L, 350L),  // spans buckets 1-3 at width 100
      (2L, 10L, 400L, 420L),
      (3L, 20L, 100L, 350L),  // other key
      (4L, 10L, 500L, 900L)   // long interval, many shared buckets
    ).toDF("left_id", "user_id", "l_start", "l_end")
    val right = Seq(
      (90L, 10L, 300L, 600L), // overlaps 1 (multi-bucket overlap), 2, 4
      (91L, 10L, 840L, 1000L),// overlaps 4 only
      (92L, 20L, 351L, 400L), // adjacent but NOT overlapping 3 (351 > 350)
      (93L, 20L, 350L, 400L)  // touches 3 at a point — inclusive ends match
    ).toDF("right_id", "user_id", "r_start", "r_end")
    val res = RangeJoin.intervalOverlap(left, right, "user_id",
        "l_start", "l_end", "r_start", "r_end", bucketWidth = 100L)
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // exactly-once: no pair appears twice even when overlap spans buckets
    assert(res.length == res.toSet.size, s"duplicated pairs in ${res.toSeq}")
    val brute = left.as("l").join(right.as("r"),
        col("l.user_id") === col("r.user_id") &&
          col("l.l_start") <= col("r.r_end") && col("r.r_start") <= col("l.l_end"))
      .select(col("l.left_id"), col("r.right_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(res.toSet == brute)
    assert(brute == Set((1L, 90L), (2L, 90L), (4L, 90L), (4L, 91L), (3L, 93L)))
  }

  test("operator explodes stay free of InferFiltersFromGenerate blowup") {
    // plain explode(computedArray) would re-inline the array pipeline into
    // a pushed-down size()>0 filter (measured 8.5s vs 0.6s at sf0.1); the
    // operators use explode_outer + isNotNull so no such filter may appear
    for (df <- Seq(
        Dedup.minHashSignatures(docs, 4, 3),
        Dedup.minHashSignaturesPortable(docs, 4, 3),
        Dedup.simHashTable(docs))) {
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("size(array_distinct") && !plan.contains("size(transform(")
        && !plan.contains("size(filter(split"),
        s"inferred generate filter re-evaluates the array pipeline:\n${plan.take(2000)}")
    }
  }

  test("sequence packing plan: bucketed window + broadcast offsets, no global sort of rows") {
    val plan = Packing.packSequences(
        TextAnalysis.chunkDocuments(docs, 64, 16), budget = 256, docBucket = 64)
      .queryExecution.executedPlan.toString
    // the row-scale window must be partitioned by the bucket key
    assert(plan.contains("windowspecdefinition(__b#"),
      s"expected a bucket-partitioned window:\n${plan.take(2000)}")
    // bucket offsets come back via broadcast, not a row-scale shuffle join
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast offsets join:\n${plan.take(2000)}")
    // the only SinglePartition exchange feeds the per-bucket offsets
    // aggregate (one row per bucket), never the chunk rows: it must sit
    // above a HashAggregate on __b in the plan tree's offsets branch
    val single = plan.linesIterator.filter(_.contains("Exchange SinglePartition")).size
    assert(single == 1, s"expected exactly one tiny SinglePartition exchange, got $single")
  }

  test("portable md5 simhash: token hash matches the cross-engine value") {
    // 0x5d41402abc4b2a7 = first 15 hex chars of md5("hello"); pinned
    // against DuckDB's CAST(concat('0x', substr(md5(tok),1,15)) AS BIGINT)
    val v = Seq("hello").toDF("t")
      .select(Dedup.md5Token60($"t")).head.getLong(0)
    assert(v == 419982666956583591L)
    val sh = Dedup.simHashTablePortable(docs)
    assert(sh.count() == docs.count())
    // 60-bit signatures are always non-negative
    assert(sh.filter($"simhash" < 0L).count() == 0)
  }

  test("CacheRegistry.release drops operator-persisted intermediates") {
    // earlier tests in this suite run the same operators; drop their
    // tracked caches first so the same-plan persist below isn't a no-op
    CacheRegistry.release(spark)
    docs.count() // materialize the fixture's own cache before measuring
    // Identity-based check, not cardinality: the ContextCleaner can
    // concurrently reclaim UNTRACKED caches left by earlier tests, so a
    // global size before/after comparison is racy (round-9 verdict). We
    // instead assert that NEW rdd ids appear and that exactly those ids
    // vanish on release.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.minHashNearDup(docs, threshold = 0.5).count()
    val fresh = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(fresh.nonEmpty, "operator should have persisted new intermediates")
    CacheRegistry.release(spark)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(fresh.forall(id => !after.contains(id)),
      s"release should unpersist every tracked intermediate; still cached: ${fresh & after}")
    // idempotent and safe when nothing is tracked
    CacheRegistry.release(spark)
  }

  test("CacheRegistry.free frees a localCheckpoint cut's storage blocks") {
    // the test session has a reliable checkpoint dir (TestSpark), so
    // CacheRegistry.cut would take the reliable path here; build the
    // localCheckpoint-backed shape (what cut returns when no dir is
    // set — plain library sessions) directly
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val cutDf = spark.range(100).toDF("n").withColumn("sq", $"n" * $"n")
      .localCheckpoint(true)
    assert(cutDf.count() == 100)
    val fresh = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(fresh.nonEmpty, "cut should persist a checkpointed RDD")
    CacheRegistry.free(cutDf)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(fresh.forall(id => !after.contains(id)),
      s"release should drop the checkpoint blocks; still cached: ${fresh & after}")
    // a derived (non-cut) frame is a safe no-op: top-level match only
    CacheRegistry.free(spark.range(5).toDF("n"))
  }

  test("CacheRegistry.free(deleteFiles) deletes a dead reliable cut's checkpoint files") {
    // the reliable path stores a cut as FILES under the checkpoint dir;
    // rdd.unpersist frees nothing there (advisor r10) — deleteFiles must
    // remove the directory itself
    val df = spark.range(50).toDF("n").withColumn("sq", $"n" * $"n")
    df.persist()
    val cp = df.checkpoint(true)
    df.unpersist()
    val lr = cp.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    val dir = lr.rdd.getCheckpointFile
    assert(dir.isDefined, "reliable checkpoint should record its file dir")
    val p = new org.apache.hadoop.fs.Path(dir.get)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(p))
    CacheRegistry.free(cp, deleteFiles = true)
    assert(!fs.exists(p), "release(deleteFiles) should remove the dead cut's files")
  }

  test("star-contraction loop releases dead per-round cut storage") {
    // a 24-node chain forces several contraction rounds, each cutting
    // lineage; the loop must free every dead round's blocks as it goes
    // (r10 verdict #1). Upper-bound identity check (anti-flake: the
    // ContextCleaner can only REMOVE persisted ids, never add): of the
    // RDD ids the call leaves behind, at most the final tracked edges
    // cut should remain — a broken release leaks one id per round.
    CacheRegistry.release(spark)
    val n = 24L
    val docsDf = (0L until n).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_id_a", "doc_id_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val labels = Dedup.dedupClustersStar(docsDf, chain, maxIter = 10, checkpointEvery = 3)
    assert(labels.count() == n)
    val fresh = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(fresh.size <= 2,
      s"star loop should free dead round cuts as it goes; leaked ids: $fresh")
    CacheRegistry.release(spark)
  }

  test("multimodal: PPM decoder parses a hand-built fixture with header comments") {
    // 2x2 image, comment between tokens, known pixel bytes
    val header = "P6 # a comment\n# another\n2\n2\n255\n"
    val px = Array[Byte](
      10, 20, 30,  40, 50, 60,     // row 0: (10,20,30) (40,50,60)
      70, 80, 90,  100, 110, 120)  // row 1
    val img = Multimodal.decodePpm(header.getBytes("US-ASCII") ++ px)
    assert(img.width == 2 && img.height == 2)
    assert(img.rgb.toSeq == px.toSeq)
  }

  test("multimodal: BMP decoder handles row padding, bottom-up order, BGR") {
    // hand-build a 3x2 24bpp BMP: rowSize = 12 (9 data + 3 pad), bottom-up
    import java.nio.{ByteBuffer, ByteOrder}
    val rowSize = 12
    val buf = ByteBuffer.allocate(54 + rowSize * 2).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + rowSize * 2).putInt(0).putInt(54)
    buf.putInt(40).putInt(3).putInt(2).putShort(1).putShort(24)
    buf.putInt(0).putInt(rowSize * 2).putInt(2835).putInt(2835).putInt(0).putInt(0)
    // file row 0 = image BOTTOM row (y=1), stored BGR
    buf.put(Array[Byte](3, 2, 1,  6, 5, 4,  9, 8, 7,  0, 0, 0))       // y=1: RGB (1,2,3)(4,5,6)(7,8,9)
    buf.put(Array[Byte](13, 12, 11,  16, 15, 14,  19, 18, 17,  0, 0, 0)) // y=0: RGB (11,12,13)...
    val img = Multimodal.decodeBmp(buf.array())
    assert(img.width == 3 && img.height == 2)
    assert(img.rgb.toSeq == Seq[Byte](
      11, 12, 13, 14, 15, 16, 17, 18, 19, // top row y=0
      1, 2, 3, 4, 5, 6, 7, 8, 9))         // bottom row y=1
  }

  test("multimodal: BMP decoder honors top-down row order (negative height)") {
    import java.nio.{ByteBuffer, ByteOrder}
    val rowSize = 12 // 3px * 3B + 3 pad
    val buf = ByteBuffer.allocate(54 + rowSize * 2).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + rowSize * 2).putInt(0).putInt(54)
    buf.putInt(40).putInt(3).putInt(-2).putShort(1).putShort(24) // height -2 => top-down
    buf.putInt(0).putInt(rowSize * 2).putInt(2835).putInt(2835).putInt(0).putInt(0)
    // file row 0 IS image row y=0 in top-down order
    buf.put(Array[Byte](13, 12, 11,  16, 15, 14,  19, 18, 17,  0, 0, 0)) // y=0
    buf.put(Array[Byte](3, 2, 1,  6, 5, 4,  9, 8, 7,  0, 0, 0))          // y=1
    val img = Multimodal.decodeBmp(buf.array())
    assert(img.width == 3 && img.height == 2)
    assert(img.rgb.toSeq == Seq[Byte](
      11, 12, 13, 14, 15, 16, 17, 18, 19,
      1, 2, 3, 4, 5, 6, 7, 8, 9))
  }

  test("multimodal: WAV decoder walks chunks, skipping unknown ones") {
    import java.nio.{ByteBuffer, ByteOrder}
    val samples = Array[Short](100, -200, 300)
    // RIFF with a LIST chunk of odd size (tests the RIFF pad byte) before data
    val listBody = Array[Byte](1, 2, 3) // odd size -> 1 pad byte
    val dataSize = samples.length * 2
    val buf = ByteBuffer.allocate(12 + 24 + (8 + 4) + 8 + dataSize)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes); buf.putInt(buf.capacity - 8); buf.put("WAVE".getBytes)
    buf.put("fmt ".getBytes); buf.putInt(16)
    buf.putShort(1).putShort(2).putInt(44100).putInt(44100 * 4).putShort(4).putShort(16)
    buf.put("LIST".getBytes); buf.putInt(3); buf.put(listBody); buf.put(0.toByte)
    buf.put("data".getBytes); buf.putInt(dataSize)
    samples.foreach(buf.putShort)
    val a = Multimodal.decodeWav(buf.array())
    assert(a.sampleRate == 44100 && a.channels == 2)
    assert(a.samples.toSeq == samples.toSeq)
  }

  test("multimodal: codecs round-trip exactly at awkward sizes") {
    for (w <- Seq(1, 3, 5, 17); h <- Seq(1, 2, 7)) {
      val rgb = Array.tabulate(w * h * 3)(i => ((i * 37 + w + h) % 256).toByte)
      val img = Multimodal.ImageData(w, h, rgb)
      assert(Multimodal.decodePpm(Multimodal.encodePpm(img)).rgb.toSeq == rgb.toSeq,
        s"ppm $w x $h")
      val back = Multimodal.decodeBmp(Multimodal.encodeBmp(img))
      assert(back.width == w && back.height == h && back.rgb.toSeq == rgb.toSeq,
        s"bmp $w x $h")
    }
    for (n <- Seq(0, 1, 2, 255)) {
      val s = Array.tabulate(n)(i => ((i * 991) % 65536 - 32768).toShort)
      val a = Multimodal.decodeWav(Multimodal.encodeWav(Multimodal.AudioData(8000, 1, s)))
      assert(a.samples.toSeq == s.toSeq && a.sampleRate == 8000, s"wav n=$n")
    }
  }

  test("multimodal: aHash hand case, format independence, audio skipped") {
    // 2×2 image, row 0 dark / row 1 bright: the 8×8 thumbnail maps rows
    // 0-3 to source row 0 and 4-7 to row 1, so the above-mean test sets
    // exactly the bottom 32 bits
    val rgb = Array[Byte](10, 10, 10, 10, 10, 10, 100, 100, 100, 100, 100, 100)
    val img = Multimodal.ImageData(2, 2, rgb)
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(0L, Multimodal.encodePpm(img)),
        org.apache.spark.sql.Row(1L, Multimodal.encodeBmp(img)),
        org.apache.spark.sql.Row(2L, Multimodal.encodeWav(
          Multimodal.AudioData(8000, 1, Array.tabulate(16)(_.toShort)))))),
      Multimodal.mediaSchema)
    val hashes = Multimodal.imageAHash(spark, media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // audio row drops; ppm and bmp of the SAME pixels hash identically
    assert(hashes.keySet == Set(0L, 1L))
    assert(hashes(0L) == 0x00000000FFFFFFFFL && hashes(1L) == hashes(0L))
  }

  test("multimodal: aHash banded pairs — pigeonhole, band miss, bucket cap") {
    def hdf(rows: (Long, Long)*) = rows.toDF("doc_id", "phash")
    // hamming 3 inside one band: pigeonhole guarantees the pair
    val close = Multimodal.aHashPairs(hdf(1L -> 0L, 2L -> 7L)).collect()
    assert(close.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq ==
      Seq((1L, 2L, 3)))
    // hamming 4 spread over all four bands: no band collides AND the
    // verify threshold excludes it — absent either way
    val spread = 0x0001000100010001L
    assert(Multimodal.aHashPairs(hdf(1L -> 0L, 2L -> spread)).count() == 0)
    // 70 identical hashes: cap 64 drops the bucket entirely, cap 128
    // yields all C(70,2) pairs at hamming 0
    val many = hdf((1L to 70L).map(i => i -> 42L): _*)
    assert(Multimodal.aHashPairs(many, maxBucket = 64).count() == 0)
    assert(Multimodal.aHashPairs(many, maxBucket = 128).count() == 70L * 69 / 2)
    // exactness guard: maxHamming >= bands is refused, not silently lossy
    intercept[IllegalArgumentException] {
      Multimodal.aHashPairs(hdf(1L -> 0L), maxHamming = 4, bands = 4)
    }
  }

  test("multimodal: audio energy hash hand cases") {
    def wav(id: Long, samples: Array[Short]) =
      org.apache.spark.sql.Row(id,
        Multimodal.encodeWav(Multimodal.AudioData(8000, 1, samples)))
    val quietLoud = Array.tabulate[Short](128)(i => if (i < 64) 0 else 100)
    val flat = Array.fill[Short](256)(7)
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        wav(0L, quietLoud),           // bottom 32 windows carry all energy
        wav(1L, flat),                // every window at the mean → all bits
        wav(2L, Array.fill[Short](63)(5)), // < 64 samples: skipped
        org.apache.spark.sql.Row(3L, Multimodal.encodePpm(
          Multimodal.ImageData(1, 1, Array[Byte](1, 2, 3)))))), // image: skipped
      Multimodal.mediaSchema)
    val h = Multimodal.audioEnergyHash(spark, media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h.keySet == Set(0L, 1L))
    assert(h(0L) == 0x00000000FFFFFFFFL, f"got ${h(0L)}%016x")
    assert(h(1L) == -1L)
    // the audio hashes ride the SAME banding operator
    val hashes = Multimodal.audioEnergyHash(spark, media)
    assert(Multimodal.aHashPairs(hashes, hashCol = "ehash").count() == 0)
  }

  test("multimodal: synthesize -> sniff -> decode matches the closed form end to end") {
    val df = Seq(
      (0L, "x", "en", "s", 100L),  // ppm
      (1L, "x", "en", "s", 101L),  // bmp
      (2L, "x", "en", "s", 102L),  // wav mono (even n_chars)
      (3L, "x", "en", "s", 0L),    // ppm at the minimum size
      (5L, "x", "en", "s", 103L),  // wav stereo (odd n_chars)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val feats = Multimodal.decodeFeatures(spark, Multimodal.synthesizeMedia(spark, df))
      .orderBy("doc_id").collect()
    assert(feats.map(_.getString(1)).toSeq == Seq("ppm", "bmp", "wav", "ppm", "wav"))
    // replay the generation closed form in plain Scala
    val nCharsOf = Map(0L -> 100L, 1L -> 101L, 2L -> 102L, 3L -> 0L, 5L -> 103L)
    for (r <- feats) {
      val (id, nChars) = (r.getLong(0), nCharsOf(r.getLong(0)))
      if (id % 3 < 2) {
        val w = (16 + nChars % 48).toInt; val h = (16 + 7 * nChars % 48).toInt
        assert(r.getInt(2) == w && r.getInt(3) == h && r.getInt(4) == 3)
        assert(r.getLong(6) == w.toLong * h)
        for (c <- 0 until 3)
          assert(r.getLong(7 + c) ==
            w.toLong * (0 until h).map(y => (id + y + 85 * c) % 256).sum, s"doc $id chan $c")
      } else {
        val ch = (1 + nChars % 2).toInt
        val total = (256 + nChars % 512).toInt * ch
        assert(r.getInt(5) == 8000 && r.getInt(4) == ch && r.getLong(6) == total / ch)
        for (c <- 0 until 2)
          assert(r.getLong(7 + c) ==
            (0 until total).filter(_ % ch == math.min(c, ch - 1) && ch > c)
              .map(i => (7 * id + 13 * i) % 2048 - 1024).sum, s"doc $id chan $c")
      }
    }
  }

  test("multimodal: concatenated-P6 stream decodes frame-at-a-time, mixed sizes") {
    val f0 = Multimodal.ImageData(2, 1, Array[Byte](1, 2, 3, 4, 5, 6))
    val f1 = Multimodal.ImageData(1, 2, Array[Byte](7, 8, 9, 10, 11, 12))
    val f2 = Multimodal.ImageData(1, 1, Array[Byte](13, 14, 15))
    val back = Multimodal.decodePpmStream(Multimodal.encodePpmStream(Seq(f0, f1, f2)))
    assert(back.length == 3)
    assert(back(0).width == 2 && back(0).height == 1 && back(0).rgb.toSeq == f0.rgb.toSeq)
    assert(back(1).width == 1 && back(1).height == 2 && back(1).rgb.toSeq == f1.rgb.toSeq)
    assert(back(2).rgb.toSeq == f2.rgb.toSeq)
    // empty stream is zero frames, not an error
    assert(Multimodal.decodePpmStream(Array.empty[Byte]).isEmpty)
    // a truncated second frame must fail loudly, not return garbage
    val bytes = Multimodal.encodePpmStream(Seq(f0, f1))
    intercept[IllegalArgumentException] {
      Multimodal.decodePpmStream(bytes.dropRight(1))
    }
  }

  test("multimodal: nearest-neighbor resize samples floor(out*src/dst) exactly") {
    // 4x2 source with distinct pixels; downscale to 2x1 keeps (0,0) and (2,0)
    val rgb = Array.tabulate(4 * 2 * 3)(i => i.toByte)
    val img = Multimodal.ImageData(4, 2, rgb)
    val down = Multimodal.resizeNearest(img, 2, 1)
    assert(down.rgb.toSeq == Seq[Byte](0, 1, 2, 6, 7, 8))
    // upscale 2x replicates pixels: src x of out x' in 0..7 is x'//2
    val up = Multimodal.resizeNearest(img, 8, 2)
    for (y <- 0 until 2; x <- 0 until 8; c <- 0 until 3)
      assert(up.rgb((y * 8 + x) * 3 + c) == rgb((y * 4 + x / 2) * 3 + c), s"($x,$y,$c)")
    // identity resize is a no-op
    assert(Multimodal.resizeNearest(img, 4, 2).rgb.toSeq == rgb.toSeq)
  }

  test("multimodal: frame sampling and thumbnail paths match their closed forms") {
    val docs = Seq(
      (0L, "x", "en", "s", 40L),  // ppm image; 2 frames
      (1L, "x", "en", "s", 41L),  // bmp image; 3 frames
      (2L, "x", "en", "s", 42L),  // wav — skipped by resize
      (7L, "x", "en", "s", 43L),  // bmp image; 2+7%6=3 frames
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val nCharsOf = Map(0L -> 40L, 1L -> 41L, 2L -> 42L, 7L -> 43L)

    val frames = Multimodal.frameFeatures(
      spark, Multimodal.synthesizeFrameStreams(spark, docs), stride = 2)
      .orderBy("doc_id").collect()
    assert(frames.length == 4)
    for (r <- frames) {
      val id = r.getLong(0); val n = nCharsOf(id)
      val nf = (2 + id % 6).toInt
      val w = (16 + n % 32).toInt; val h = (16 + 3 * n % 32).toInt
      assert(r.getInt(1) == nf && r.getInt(2) == (nf + 1) / 2)
      assert(r.getInt(3) == w && r.getInt(4) == h)
      for (c <- 0 until 3) {
        val want = w.toLong * (0 until nf by 2).map { f =>
          (0 until h).map(y => (id + 31 * f + y + 85 * c) % 256).sum
        }.sum
        assert(r.getLong(5 + c) == want, s"doc $id chan $c")
      }
    }

    // empty and non-P6 payloads are SKIPPED by the frame pass (the
    // zero-frame guard), not a task-aborting NoSuchElementException /
    // decode failure — mixed corpora are the normal case
    val mixed = Seq(
      (100L, Array.emptyByteArray),
      (101L, "RIFFjunk".getBytes("ISO-8859-1")),
    ).toDF("doc_id", "payload")
    assert(Multimodal.frameFeatures(spark, mixed, stride = 2).count() == 0)

    val thumbs = Multimodal.resizeFeatures(
      spark, Multimodal.synthesizeMedia(spark, docs), outW = 8, outH = 8)
      .orderBy("doc_id").collect()
    assert(thumbs.map(_.getLong(0)).toSeq == Seq(0L, 1L, 7L), "audio doc skipped")
    for (r <- thumbs) {
      val id = r.getLong(0); val n = nCharsOf(id)
      val h = (16 + 7 * n % 48).toInt
      assert(r.getString(1) == (if (id % 3 == 0) "ppm" else "bmp"))
      assert(r.getInt(2) == 8 && r.getInt(3) == 8)
      for (c <- 0 until 3) {
        val want = 8L * (0 until 8).map(y => (id + y * h / 8 + 85 * c) % 256).sum
        assert(r.getLong(4 + c) == want, s"doc $id chan $c")
      }
    }
  }

  test("text analysis goldens on inline docs") {
    val df = Seq(
      (1L, "the cat and the dog", "en", "s", 19L),
      (2L, "der hund und das haus", "de", "s", 21L),
      (3L, "", "en", "s", 0L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tok = TextAnalysis.tokenCount(df).orderBy("doc_id").collect()
    assert(tok.map(_.getLong(2)).toSeq == Seq(5L, 5L, 0L))
    // BPE-ish pre-tokenizer: " cat"/" and" etc. are single matches here
    assert(tok.map(_.getAs[Long]("n_bpe_tokens")).toSeq == Seq(5L, 5L, 0L))
    val bpe = df.sparkSession.range(1)
      .select(TextAnalysis.bpeTokenCount(lit("it's 42 degrees, ok?")).as("n"))
      .head().getLong(0)
    // it | 's | " 42" | " degrees" | "," | " ok" | "?" = 7
    assert(bpe == 7L)
    val lid = TextAnalysis.langId(df).orderBy("doc_id").collect()
    assert(lid(0).getAs[String]("lang_pred") == "en")
    assert(lid(1).getAs[String]("lang_pred") == "de")
    assert(lid(2).getAs[String]("lang_pred") == "und")
    val q = TextAnalysis.qualityScore(df).orderBy("doc_id").collect()
    assert(q(0).getAs[Double]("stopword_ratio") == 0.6) // the, and, the of 5
    assert(q(2).getAs[Double]("avg_token_len") == 0.0)
  }

  test("bpe: hand-computed merge sequence and greedy segmentation") {
    // vocab: aaab ×2, aab ×1. Round-by-round by hand:
    //   r0 (a,a)=5 → aa; r1 (b,</w>)=3 → b</w>;
    //   r2 tie (aa,a)=2 vs (a,b</w>)=2 → 'a' < 'aa' → ab</w>;
    //   r3 (aa,ab</w>)=2 → aaab</w>
    val docs = Seq((1L, "aaab aaab aab")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, rounds = 4).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(merges.toSeq == Seq(
      (0, "a", "a", 5L), (1, "b", "</w>", 3L),
      (2, "a", "b</w>", 2L), (3, "aa", "ab</w>", 2L)))

    val seg = Bpe.segmentVocab(docs, Bpe.trainMerges(docs, rounds = 4))
      .orderBy("word").collect()
      .map(r => (r.getString(0), r.getInt(2), r.getString(3)))
    assert(seg.toSeq == Seq(("aaab", 1, "aaab</w>"), ("aab", 2, "aa b</w>")))

    // early stop: all-distinct single-char words have every pair count 1
    // < minPairCount 2 → zero merges, not a crash
    val sparse = Seq((1L, "x y z")).toDF("doc_id", "text")
    assert(Bpe.trainMerges(sparse, rounds = 3).count() == 0)

    // fully-merged word: "ab"×3 collapses to the single symbol ab</w>
    // after 2 rounds; round 3's pair pass over a size-1 symbol array
    // must yield NO pairs (the ANSI sequence(1,0) guard) and stop —
    // not throw INVALID_ARRAY_INDEX or emit null-interpolated merges
    val tiny = Seq((1L, "ab ab ab")).toDF("doc_id", "text")
    val tinyMerges = Bpe.trainMerges(tiny, rounds = 5).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(tinyMerges.toSeq == Seq((0, "a", "b", 3L), (1, "ab", "</w>", 3L)))

    // corpus tokenization under the trained vocab: aaab→1 subword,
    // aab→2 → doc = 3 words, 4 subwords; empty doc reports 0/0
    val docs2 = Seq((1L, "aaab aaab aab"), (2L, "   ")).toDF("doc_id", "text")
    val tok = Bpe.tokenizeCorpus(docs2, Bpe.trainMerges(docs, rounds = 4))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(tok.toSeq == Seq((1L, 3L, 4L), (2L, 0L, 0L)))
  }

  test("dsir resampling: disjoint-vocabulary domains separate sharply") {
    // domain A (ids 0-9) and domain B (ids 10-19) share NO tokens; with
    // target = A, every B bigram is unseen in the target LM → lm_target
    // 0 → weight 0 → dropped; every A doc weights ≥ 1 → kept
    val rows = (0 until 10).map(i => (i.toLong, s"alpha beta gamma delta e$i alpha beta")) ++
      (10 until 20).map(i => (i.toLong, s"uno dos tres cuatro x$i uno dos"))
    val df = rows.toDF("doc_id", "text")
    val kept = Sampling.dsirResample(df, col("doc_id") < 10, scale = 1.0)
      .orderBy("doc_id").collect()
    assert(kept.map(_.getLong(0)).toSet == (0L until 10L).toSet)
    kept.foreach(r => assert(r.getAs[Double]("weight") >= 1.0))
  }

  test("cdc apply: latest row-image wins, deletes drop, untouched keys pass through") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "bal")
    val changes = Seq(
      (1L, "a1", 11.0, "U", 5L),  // stale update…
      (1L, "a2", 12.0, "U", 9L),  // …latest wins
      (2L, "b-gone", 0.0, "D", 7L), // delete key 2
      (4L, "d", 40.0, "I", 3L),   // insert new key
      (4L, "d-del", 0.0, "D", 1L) // stale delete loses to the later insert
    ).toDF("id", "name", "bal", "op", "seq")
    val got = Cdc.applyChangelog(base, changes, "id", "seq")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, "a2", 12.0), (3L, "c", 30.0), (4L, "d", 40.0)))
    // non-row-image changelog must fail loudly
    intercept[IllegalArgumentException] {
      Cdc.applyChangelog(base, changes.drop("bal"), "id", "seq")
    }
  }

  test("snapshot diff: I/U/D capture and the apply∘diff round trip") {
    val oldS = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "bal")
    val newS = Seq((1L, "a", 10.0), (2L, "b2", 20.0), (4L, "d", 40.0))
      .toDF("id", "name", "bal")
    val diff = Cdc.snapshotDiff(oldS, newS, "id")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(3)))
    assert(diff.toSeq == Seq((2L, "b2", "U"), (3L, "c", "D"), (4L, "d", "I")))

    // round trip: applying the captured changelog reproduces newS
    val ch = Cdc.snapshotDiff(oldS, newS, "id")
      .withColumn("seq", col("id")) // any unique seq works: one op per key
    val replayed = Cdc.applyChangelog(oldS, ch, "id", "seq")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val want = newS.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(replayed.toSeq == want.toSeq)
  }

  test("scd2: validity intervals per key, deletes close but emit nothing") {
    val changes = Seq(
      (1L, "a1", "U", 5L), (1L, "a2", "U", 9L), (1L, "gone", "D", 12L),
      (4L, "d", "I", 3L)
    ).toDF("id", "name", "op", "seq")
    val got = Cdc.scd2History(changes, "id", "seq")
      .orderBy("id", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getLong(4), Option(r.get(5)).map(_.asInstanceOf[Long]),
        r.getBoolean(6)))
    assert(got.toSeq == Seq(
      (1L, "a1", 5L, Some(9L), false),
      (1L, "a2", 9L, Some(12L), false), // closed by the delete
      (4L, "d", 3L, None, true)))
  }

  test("vocab growth: new-token accounting sums to the full vocabulary") {
    val docs = (0L until 40L)
      .map(i => (i, s"shared tok$i extra${i % 7}")).toDF("doc_id", "text")
    val g = TextAnalysis.vocabGrowth(docs, slices = 4).orderBy("slice").collect()
    assert(g.map(_.getLong(1)).sum == 40L) // every doc in exactly one slice
    // cumulative vocab ends at the true distinct-token count
    val trueVocab = 1 + 40 + 7 // shared + tok0..39 + extra0..6
    assert(g.last.getLong(4) == trueVocab.toLong)
    // cum_vocab is non-decreasing and equals the running sum of new_tokens
    val cums = g.map(_.getLong(4)).toSeq
    assert(cums == g.map(_.getLong(3)).scanLeft(0L)(_ + _).tail.toSeq)
  }

  test("session stats: per-session counts and durations from the sessionize assignment") {
    val ev = Seq(
      (1L, 0L, 7L, "a", 1.0), (2L, 1000L, 7L, "b", 2.0),      // session 1
      (3L, 10000000L, 7L, "a", 3.0),                          // session 2 (gap)
      (4L, 500L, 9L, "a", 4.0)                                // other user
    ).toDF("event_id", "ts_ms", "user_id", "event_type", "value")
    val s = Events.sessionStats(ev).orderBy("user_id", "session_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4), r.getDouble(5)))
    assert(s.toSeq == Seq(
      (7L, 1L, 2L, 1000L, 3.0), (7L, 2L, 1L, 0L, 3.0), (9L, 1L, 1L, 0L, 4.0)))
  }

  test("collocations, gini diversity, transitions: hand-computed values") {
    // lift: "x y" always adjacent → 30·10/(10·10) = 3.0
    val docs = (1L to 5L).map(i => (i, "x y p x y q")).toDF("doc_id", "text")
    val top = TextAnalysis.collocations(docs, minCount = 5, topK = 3)
      .orderBy("rank").collect()
    val xy = top.find(r => r.getString(1) == "x" && r.getString(2) == "y").get
    assert(xy.getLong(3) == 10L && xy.getAs[Double]("lift") == 3.0)

    // gini: "a a b b" → 1 − (0.25 + 0.25) = 0.5; uniform repeat → 0; empty → 0
    val g = TextAnalysis.tokenDiversity(
        Seq((1L, "a a b b"), (2L, "a a a a"), (3L, " ")).toDF("doc_id", "text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(g.toSeq == Seq((1L, 4L, 0.5), (2L, 4L, 0.0), (3L, 0L, 0.0)))

    // transitions: one user a→b→b → (a,b) p=1.0 and (b,b) p=1.0
    val ev = Seq((1L, 100L, 7L, "a"), (2L, 200L, 7L, "b"), (3L, 300L, 7L, "b"))
      .toDF("event_id", "ts_ms", "user_id", "event_type")
    val tr = Events.transitionMatrix(ev)
      .orderBy("from_type", "to_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(tr.toSeq == Seq(("a", "b", 1L, 1.0), ("b", "b", 1L, 1.0)))
  }

  test("kfold: total partition into k folds, invariant to data partitioning") {
    val df = (0L until 300L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val folds = Sampling.kfoldAssign(df, "doc_id", k = 5)
      .groupBy("fold").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(folds.keySet == Set(0, 1, 2, 3, 4))
    assert(folds.values.sum == 300L)
    folds.values.foreach(n => assert(n > 30, s"fold badly unbalanced: $folds"))
    val repart = Sampling.kfoldAssign(df.repartition(7), "doc_id", k = 5)
      .select("doc_id", "fold").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val orig = Sampling.kfoldAssign(df, "doc_id", k = 5)
      .select("doc_id", "fold").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(repart == orig)
  }

  test("cluster purity: separated label-aligned clusters score 1.0") {
    val vecs = (0 until 20).map { i =>
      val label = i % 2
      val base = Array.fill(8)(0.01f * (i % 3))
      base(label) = 1.0f
      (i.toLong, base, label)
    }.toDF("vec_id", "embedding", "label")
    val rows = Similarity.clusterPurity(vecs, "label", k = 2, iters = 2)
      .orderBy("cluster_id").collect()
    assert(rows.map(_.getLong(1)).sum == 20L)
    rows.foreach { r =>
      assert(r.getAs[Double]("purity") == 1.0, s"impure cluster: $r")
    }
  }

  test("histogram drift: zero on identical corpora, total 1.0 on disjoint ranges") {
    val a = (1 to 100).map(_.toDouble).toDF("x")
    val zero = Stats.histogramDrift(a, a, "x", bins = 10).collect()
    assert(zero.nonEmpty && zero.forall(_.getAs[Double]("tvd_term") == 0.0))

    val lo = (1 to 50).map(_.toDouble).toDF("x")
    val hi = (1001 to 1050).map(_.toDouble).toDF("x")
    val total = Stats.histogramDrift(lo, hi, "x", bins = 4)
      .agg(sum(col("tvd_term"))).collect()(0).getDouble(0)
    assert(math.abs(total - 1.0) < 1e-9, s"disjoint TVD $total")
  }

  test("c-tf-idf: group-exclusive terms outrank shared ones") {
    val df = Seq(
      (1L, "g1", "alpha alpha shared"),
      (2L, "g1", "alpha shared"),
      (3L, "g2", "beta shared shared")
    ).toDF("doc_id", "grp", "text")
    val top = Tfidf.clusterTopTerms(df, "grp", topK = 2)
      .orderBy("grp", "rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(5)))
    // g1: alpha tf=3 gdf=1 w=3·(3/2)=4.5 beats shared tf=2 gdf=2 w=2·(3/3)=2
    // g2: shared tf=2 w=2 beats beta tf=1 gdf=1 w=1.5
    assert(top.toSeq == Seq(
      ("g1", "alpha", 1), ("g1", "shared", 2),
      ("g2", "shared", 1), ("g2", "beta", 2)))
  }

  test("c-tf-idf: a null group key is a first-class cluster, not dropped") {
    val df = Seq(
      (1L, Some("g1"), "alpha alpha shared"),
      (2L, None, "gamma gamma shared"),
      (3L, None, "gamma shared")
    ).toDF("doc_id", "grp", "text")
    val top = Tfidf.clusterTopTerms(df, "grp", topK = 2)
      .orderBy("grp", "rank").collect()
      .map(r => (Option(r.getString(0)), r.getString(1), r.getInt(5)))
    // orderBy: nulls first under asc — the null cluster ranks gamma
    // (tf=3, gdf=1) over shared (tf=2, gdf=2); g1 ranks alpha first
    assert(top.toSeq == Seq(
      (None, "gamma", 1), (None, "shared", 2),
      (Some("g1"), "alpha", 1), (Some("g1"), "shared", 2)),
      s"null-group cluster must survive the join-back: ${top.toSeq}")
  }

}
