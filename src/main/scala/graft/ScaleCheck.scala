package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Ad-hoc scale sanity: 1.25 GB single-file parse + heavy-operator
  * volumetrics over `sfDir`, whose `require` gates are sized at sf0.1.
  * Run as `graft.Bench scale`; not part of the driver contract.
  */
object ScaleCheck {
  def run(spark: SparkSession, sfDir: String): Unit = {
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    // 1.25 GB log = 50k fixture copies = 10.6M lines
    val fixture = java.nio.file.Paths.get("/root/reference/testdata/bash-example.log")
    val tmp = java.nio.file.Files.createTempDirectory("scale")
    val src = java.nio.file.Files.readAllBytes(fixture)
    val out = new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(tmp.resolve("big.log")), 1 << 20)
    (1 to 50000).foreach(_ => out.write(src))
    out.close()
    println("[scale] log GB: " + java.nio.file.Files.size(tmp.resolve("big.log")) / 1e9)

    val parsed = time("parse 10.6M lines (32MB splits)") {
      val df = LogParser.parse(spark, tmp.resolve("big.log").toString)
      df.write.format("noop").mode("overwrite").save()
      df
    }
    time("summary agg over 10.6M entries") {
      Queries.summary(parsed).show()
    }
    time("write zstd parquet") {
      ParquetIO.write(parsed, tmp.resolve("entries").toString)
    }
    val back = ParquetIO.read(spark, tmp.resolve("entries").toString)
    time("list-groups over persisted 10.6M") {
      Queries.listGroups(back).show(3)
    }
    time("seek(10_000_000, 5) via line_no pushdown") {
      Queries.seek(Cli.entriesWithLineNo(back), 10000000L, Some(5)).show(5, 40)
    }
    java.nio.file.Files.delete(tmp.resolve("big.log"))

    // ngram join volumetrics at sf0.1
    val docs = Tables.load(spark, sfDir, "documents")
    val ex = operators.Dedup.withShingles(docs, 3)
      .select(col("doc_id"), explode_outer(col("__shingles")).as("sh"))
      .filter(col("sh").isNotNull) // Dedup.safeExplodeNote
    val freq = ex.groupBy("sh").count()
    println("[scale] distinct shingles: " + freq.count())
    freq.agg(sum(col("count") * (col("count") - 1) / 2).as("pairs")).show()

    // dedup operators at 10× corpus (50k docs), built as 10 shifted copies:
    // a worst-case-ish shape — every shingle's doc-frequency is 10× hotter
    // and every doc has 9 exact duplicates, so candidate lists fatten and
    // the output itself is ~C(10,2) pairs per original doc. Exercises the
    // prefix filter + bounded pair-gen under deliberate skew.
    val docs10 = (0 until 10)
      .map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionAll _)
    time("ngram jaccard 50k docs (10x all-dup corpus)") {
      println("[scale] ngram pairs out: " +
        operators.Dedup.ngramJaccardPairs(docs10, threshold = 0.8).count())
    }
    // winnowing under 10x duplication: every selected fingerprint's df
    // is ~10x hotter, so the winnowPairs hash-df cap (64) is what keeps
    // the candidate join C(cap,2)-bounded per hash — census the selected
    // hashes the way the operator blocks on them and require the bound,
    // and that the cap visibly bites on this all-dup corpus
    time("winnow pairs 50k docs (10x all-dup corpus, df cap bound)") {
      val sel = operators.Dedup.winnowFingerprints(docs10)
        .select(col("doc_id"), col("fp_hash")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val census = sel.groupBy("fp_hash").agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * (n - 1) DIV 2")).as("uncapped"),
          sum(when(col("n") > 1 && col("n") <= 64, expr("n * (n - 1) DIV 2"))
            .otherwise(lit(0L))).as("capped"),
          count(lit(1)).as("hashes"), max(col("n")).as("widest")).head()
      println(s"[scale] winnow hashes: ${census.getLong(2)} (widest " +
        s"${census.getLong(3)}), pairs uncapped ${census.getLong(0)} vs " +
        s"capped ${census.getLong(1)}")
      require(census.getLong(1) <= census.getLong(2) * (64L * 63 / 2),
        "capped winnow candidates must respect hashes * C(cap,2)")
      require(census.getLong(3) >= 10L,
        "10x duplication must produce >=10-doc fingerprint buckets")
      // measured 39.3M uncapped vs 7.5M capped (5.2×) at 10×: winnowed
      // prints are position-diverse, so duplication fattens buckets less
      // brutally than the degenerate phash case — gate at 4×
      require(census.getLong(0) >= 4 * math.max(census.getLong(1), 1L),
        "the df cap must visibly bite on the all-dup corpus")
      sel.unpersist(blocking = false)
      println("[scale] winnow pairs out (cap 64): " +
        operators.Dedup.winnowPairs(docs10).count())
    }
    operators.CacheRegistry.release(spark)
    time("minhash neardup 50k docs (10x all-dup corpus)") {
      println("[scale] minhash pairs out: " +
        operators.Dedup.minHashNearDup(docs10, threshold = 0.5).count())
    }
    operators.CacheRegistry.release(spark)
    // persisted LSH store at 10×: APPEND LOCALITY (a trickle batch must
    // add files only under the shards its own buckets hash to — the
    // structural fact that makes maintenance cheap against a 100 TB
    // store) and probe recall on planted duplicates. 64 shards + a
    // 5-doc batch: ≤ 20 batch buckets, so an append that touched every
    // shard would prove the layout is store-sized, not batch-sized.
    time("lsh store 50k docs: append locality + trickle probe") {
      val storeDir = tmp.resolve("lsh-store").toString + "/store"
      operators.LshIndex.write(docs10, storeDir, nShards = 64)
      def shardFiles(): Map[String, Long] = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(java.nio.file.Paths.get(storeDir))
          .iterator().asScala
          .filter(_.getFileName.toString.startsWith("shard="))
          .map { d =>
            d.getFileName.toString ->
              java.nio.file.Files.list(d).iterator().asScala
                .count(_.toString.endsWith(".parquet")).toLong
          }.toMap
      }
      val before = shardFiles()
      // fresh ids, text copied from the corpus: every batch doc has ≥10
      // exact near-dups in the store (est 1.0 at the banding level)
      val batch = docs.limit(5).withColumn("doc_id",
        col("doc_id") + lit(20000000L))
      val trickleProbe = operators.LshIndex.probe(
        spark, batch, storeDir, threshold = 0.5).count()
      operators.CacheRegistry.release(spark)
      operators.LshIndex.append(spark, batch, storeDir)
      operators.CacheRegistry.release(spark)
      val after = shardFiles()
      val touched = after.count { case (s, n) => n != before.getOrElse(s, 0L) }
      println(s"[scale] lsh store shards touched by 5-doc append: " +
        s"$touched of ${after.size}; trickle probe pairs: $trickleProbe")
      require(before.forall { case (s, n) => after.getOrElse(s, 0L) >= n },
        "append must only ADD files, never rewrite existing shards")
      // 5 docs × 4 bands = ≤ 20 distinct buckets → ≤ 20 shards touched
      require(touched <= 20 && touched < after.size,
        s"a 5-doc append touched $touched shards — appends must be " +
          "batch-local, not store-wide")
      require(trickleProbe >= 5L * 10,
        s"probe found $trickleProbe pairs — each planted doc has >=10 " +
          "exact copies in the store and must collide with all of them")
    }
    operators.CacheRegistry.release(spark)
    // trained quality probe at 10× (50k docs, dim 256): training cost is
    // iterations × (presence scan + two integer-sum shuffles); the
    // overflow require inside the trainer is the loud divergence gate,
    // and the trained probe must genuinely LEARN a text-derived label
    // (docs mentioning 'vector'; the synthetic lang column is
    // independent of the text, so a metadata label gates nothing —
    // measured AUC 0.50 vs 0.82 here). Gate at sep > 0.1 (measured
    // 0.206 at these dials — 2× headroom).
    time("linear probe train+score 50k docs (dim 256, 3 iters)") {
      val label = col("text").contains("vector")
      val w = operators.Classifier.trainLinearProbe(
        docs10, label, dim = 256, iters = 3, lr2 = 1.0)
      val scored = operators.Classifier.scoreWith(docs10, label, w, dim = 256)
      val m = scored.groupBy("y").agg(avg(col("score")).as("m"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      println(s"[scale] probe mean score by label: $m")
      require(m(1L) - m(0L) > 0.1,
        s"three gradient steps must separate a learnable label's means " +
          s"by > 0.1, got ${m(1L) - m(0L)}")
      // the probe graded by its own evaluation operator: exact ROC-AUC
      // over the 50k scored docs through the two-level prefix scan —
      // score histogram is data-derived (thousands of distinct fixed-
      // point z's), exactly the input a single-reducer rank would choke
      // on at 100×. Gate ranking power directly (measured 0.82; 0.65
      // leaves headroom) and the scan's shape (the only unpartitioned
      // window runs over per-partition offset rows, never the histogram)
      val aucDf = operators.Eval.rocAuc(scored, "score", col("y") === 1L)
      val dataWindows = aucDf.queryExecution.sparkPlan.collect {
        case wx: org.apache.spark.sql.execution.window.WindowExec
          if wx.partitionSpec.isEmpty => wx
      }
      require(dataWindows.forall(_.child.toString.contains("__pid")),
        "rocAuc planned an unpartitioned window over the score histogram")
      val auc = aucDf.head().getAs[Double]("auc")
      println(s"[scale] probe ROC-AUC at 10x: $auc")
      require(auc > 0.65,
        s"trained probe AUC $auc — a learnable label must rank above 0.65")
      operators.CacheRegistry.release(spark)
    }
    // duplicate spans under total span collision: every span exists in ≥10
    // docs, so the fingerprint aggregate and join-back both fatten 10×
    time("duplicate spans 50k docs (10x all-dup corpus)") {
      println("[scale] dup span rows: " +
        operators.Dedup.duplicateSpans(docs10, 32, 16).count())
    }
    operators.CacheRegistry.release(spark)
    // sequence packing at 50k docs: two-level scan, bucket count ~50
    time("sequence packing 50k docs") {
      println("[scale] packed chunks: " +
        operators.Packing.packSequences(
          operators.TextAnalysis.chunkDocuments(docs10, 64, 16),
          budget = 2048, docBucket = 1024).count())
    }
    // BM25 candidate generation under a planted UNIVERSAL stopword:
    // every doc (and every query) carries "common", so uncapped
    // generation touches all 50k postings per query. genDfCap must (a)
    // shrink the scoring shuffle to rare-term-posting scale and (b)
    // keep every admitted doc's score EXACTLY equal to its uncapped
    // score — the champion-list contract at corpus scale.
    time("bm25 genDfCap: stopword query vs 50k docs, candidates ∝ rare postings") {
      val corpus = spark.range(50000L).select(
        col("id").as("doc_id"),
        concat_ws(" ", lit("common"),
          concat(lit("rare"), col("id") % 5000L), // df = 10 per rare term
          concat_ws(" ", transform(sequence(lit(0), lit(9)),
            j => concat(lit("u"), col("id"), lit("x"), j)))).as("text"))
      // k = corpus so the output IS the scored candidate set — the
      // semantic bound, independent of cache-population plumbing (the
      // shuffle-metric walk double-counts racing cache builds)
      def run(cap: Option[Long]): Map[(Long, Long), Double] = {
        val m = operators.Retrieval.bm25TopK(corpus, queryMaxId = 4,
            k = 50000, logIdf = false, genDfCap = cap)
          .collect().map(r =>
            (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        operators.CacheRegistry.release(spark)
        m
      }
      val full = run(None)
      val capped = run(Some(100L)) // df(common)=50k excluded
      println(s"[scale] bm25 scored candidates: uncapped=${full.size} " +
        s"capped=${capped.size}")
      capped.foreach { case (k, v) =>
        require(full.get(k).contains(v),
          s"admitted candidate $k must keep its exact uncapped score") }
      require(capped.nonEmpty, "rare-term sharers must be admitted")
      // uncapped scores ~4 queries x 50k stopword-sharers; capped must
      // be bounded by the rare postings (9 sharers + self-terms each)
      require(full.size > 100000L,
        s"planted stopword must make uncapped corpus-wide (${full.size})")
      require(capped.size * 1000 < full.size,
        s"capped candidates (${capped.size}) not rare-posting-" +
          s"proportional (uncapped ${full.size})")
    }
    // publish shards at 1M docs: the two-level scan assigns 64
    // token-balanced contiguous shards; imbalance is bounded by one
    // document, never a corpus-fraction
    time("publish shards 1M docs x 64: single-doc balance bound") {
      val docs = spark.range(1000000L).select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), (col("id") % 7L + 3L).cast("int")),
          j => concat(lit("w"), col("id"), lit("x"), j))).as("text"))
      val m = operators.Layout.shardManifest(
          operators.Layout.publishShards(docs, nShards = 64, docBucket = 8192))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val toks = m.map(_._3)
      println(s"[scale] publish 1M: shards=${m.length} " +
        s"tok min=${toks.min} max=${toks.max}")
      require(m.length == 64, s"expected 64 shards, got ${m.length}")
      // max doc = 11 tokens; contiguous assignment overshoots a shard
      // by at most one straddling doc and undershoots symmetrically
      require(toks.max - toks.min <= 2L * 11L,
        s"imbalance ${toks.max - toks.min} exceeds the one-doc bound")
      operators.CacheRegistry.release(spark)
    }
    // contamination with probes drawn from the duplicated corpus: every
    // probe shingle is 10x hot on the corpus side
    time("contamination 100 probes vs 50k docs") {
      println("[scale] contaminated pairs: " +
        operators.Contamination.overlapReport(docs10,
          docs10.filter(col("doc_id") < 100), minShared = 2).count())
    }
    operators.CacheRegistry.release(spark)
    // edit-distance dedup under total duplication: every original doc has
    // 9 exact copies, so bucket collisions (and the DP verify) fatten ~45
    // pairs per original — the banded DP + explicit repartition must hold
    time("edit-distance neardup 50k docs (10x all-dup corpus)") {
      println("[scale] edit pairs out: " +
        operators.Dedup.editDistanceNearDup(docs10).count())
    }
    operators.CacheRegistry.release(spark)
    time("span-dup fraction 50k docs") {
      println("[scale] docs w/ dup spans: " +
        operators.Dedup.spanDupFraction(docs10)
          .filter(col("dup_span_frac") > 0).count())
    }
    operators.CacheRegistry.release(spark)
    // embedding ops at 10× (20k vectors): k-means assignment crossJoin and
    // the quantization projection must stay parallel
    val emb = Tables.load(spark, sfDir, "embeddings")
    val emb10 = (0 until 10)
      .map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionAll _)
    time("k-means train 20k vectors (k=16, 2 iters)") {
      println("[scale] kmeans assigned: " +
        operators.Similarity.trainCodebook(emb10, k = 16, iters = 2)
          .agg(sum(col("n_assigned"))).head().getLong(0))
    }
    operators.CacheRegistry.release(spark)
    time("int8 quantize 20k vectors") {
      println("[scale] quantized: " +
        operators.Similarity.quantizeInt8(emb10).count())
    }
    // semantic dedup at 10×: every original has 9 exact embedding copies
    // in its cluster, so the within-cluster pair join runs at full dup
    // density — 45 drops per original family; train+assign+prune must
    // stay cluster-local
    time("semantic dedup 20k vectors (10x all-dup corpus)") {
      println("[scale] semdedup dropped: " +
        operators.Similarity.semanticDedup(emb10, k = 16, iters = 2)
          .filter(!col("keep")).count())
    }
    operators.CacheRegistry.release(spark)
    // sketches at 10×: the Bloom bitset build and per-row probes must stay
    // fixed-size however big the corpus — history = every 10th original
    // text, so ~90% of the 50k incoming rows are Bloom-negative and take
    // the no-join fast path while the hot 10% exercise the verify join;
    // HLL register table stays 2^12 rows
    time("bloom incremental dedup 50k incoming vs 500-doc history") {
      println("[scale] new rows: " +
        operators.Sketches.incrementalDedupDocs(
            docs10, docs.filter(col("doc_id") % 10 === 0))
          .filter(col("is_new")).count())
    }
    time("hll distinct (doc,token) pairs 50k docs (p=12)") {
      operators.Sketches.hllTokenIncidence(docs10, p = 12).show()
    }
    // star-contraction CC at 10× dup density: the pair graph is ~45 edges
    // per original family (every copy pairs with every copy), a worst case
    // for hook fan-out; rounds must stay O(log) and the edge table must
    // SHRINK toward one star per family
    time("star-contraction clusters 50k docs (10x all-dup corpus)") {
      println("[scale] star clusters kept: " +
        operators.Dedup.dedupClustersStar(docs10,
            operators.Dedup.ngramJaccardPairs(docs10, threshold = 0.8))
          .filter(col("doc_id") === col("canonical_id")).count())
    }
    // the distributed CC path exercised ABOVE the driver-union-find
    // threshold, end to end (advisor r8: the min-label/star loop was
    // property-tested but never driven past 2^20 edges). A 1.3M-edge
    // chain graph is the min-label worst case (diameter = chain length,
    // forcing the star-contraction delegation at round 3) and has a
    // closed-form canonical map to check every row against.
    time("distributed CC: 1.3M-edge chain graph (driverThreshold=0)") {
      val chainLen = 25000L
      val nNodes = 52L * chainLen // 1,299,948 edges > 2^20
      val nodes = spark.range(nNodes).select(col("id").as("doc_id"))
      val chainPairs = spark.range(nNodes - 1)
        .filter((col("id") + 1) % chainLen =!= 0)
        .select(col("id").as("doc_id_a"), (col("id") + 1).as("doc_id_b"))
      val labeled = operators.Dedup.dedupClusters(nodes, chainPairs,
        driverThreshold = 0)
      val wrong = labeled.filter(
        col("canonical_id") =!= col("doc_id") - (col("doc_id") % chainLen))
        .count()
      println(s"[scale] chain CC wrong labels: $wrong of $nNodes")
      require(wrong == 0, "distributed CC diverged from the closed form")
    }
    // and the SAME real near-dup pair graph solved by BOTH paths must
    // produce the identical canonical map (driverThreshold=0 forces the
    // distributed loop; the default solves it driver-side)
    time("distributed CC equals driver union-find on real near-dup pairs") {
      import org.apache.spark.storage.StorageLevel
      val pairs = operators.Dedup.ngramJaccardPairs(docs10, threshold = 0.8)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val dist = operators.Dedup.dedupClusters(docs10, pairs,
        driverThreshold = 0)
      val drv = operators.Dedup.dedupClusters(docs10, pairs)
        .withColumnRenamed("canonical_id", "__drv")
      val diff = dist.join(drv, "doc_id")
        .filter(col("canonical_id") =!= col("__drv")).count()
      pairs.unpersist(blocking = false)
      println(s"[scale] path disagreement rows: $diff")
      require(diff == 0, "distributed CC path != driver union-find path")
    }
    operators.CacheRegistry.release(spark)
    // IVFADC at sf0.1: the at-rest code index must be a fraction of the
    // raw vectors (the 100-TB claim is storage + pruned IO, not just
    // CPU), and a 2-of-32-probe scan must stay partition-pruned
    time("ivfadc sf0.1: build code index + 2-probe topk") {
      val embBig = Tables.load(spark, sfDir, "embeddings")
      val idx = tmp.resolve("ivfpq-scale").toString + "/ix"
      operators.Similarity.writeIvfPqIndex(embBig, idx, numCentroids = 32)
      val topk = operators.Similarity.ivfPqTopK(spark, idx,
        embBig.filter(col("vec_id") < 8), embBig, k = 5, nprobe = 2)
      println("[scale] ivfadc topk rows: " + topk.count())
      def dirBytes(p: java.nio.file.Path): Long = {
        val s = java.nio.file.Files.walk(p)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      }
      val codeBytes = dirBytes(java.nio.file.Paths.get(idx))
      val rawBytes = dirBytes(java.nio.file.Paths.get(
        s"$sfDir/embeddings.parquet"))
      println(f"[scale] ivfadc code index MB: ${codeBytes / 1e6}%.1f " +
        f"vs raw embeddings MB: ${rawBytes / 1e6}%.1f " +
        f"(${codeBytes.toDouble / rawBytes * 100}%.0f%%)")
      require(codeBytes < rawBytes,
        "code index must be smaller than the raw vectors it replaces")
    }
    // incremental IVFADC maintenance at 20k vectors: seed with HALF the
    // corpus — emb10's ids are 10 shifted copies at i*1e6 + 0..1999, so
    // copies 0-4 (vec_id < 5e6) are 10000 vectors — then append copies
    // 5-6 and 7-9 as two frozen-codebook batches and compact the
    // accumulated small files: the streaming-ingest lifecycle end to
    // end. The probe over the maintained+compacted index must equal the
    // cold rebuild's (codes are a pure per-row function of the frozen
    // codebooks; the seed carries ids 0..31, so seed and cold draw
    // identical codebooks).
    time("ivfadc incremental maintenance 20k vectors (seed + 2 appends + compact)") {
      val maintIdx = tmp.resolve("ivfpq-maint").toString + "/ix"
      val seed = emb10.filter(col("vec_id") < 5000000L)
      operators.Similarity.writeIvfPqIndex(seed, maintIdx, numCentroids = 32)
      operators.Similarity.appendIvfPq(spark,
        emb10.filter(col("vec_id") >= 5000000L && col("vec_id") < 7000000L), maintIdx)
      operators.Similarity.appendIvfPq(spark,
        emb10.filter(col("vec_id") >= 7000000L), maintIdx)
      val compactIdx = tmp.resolve("ivfpq-maint-c").toString + "/ix"
      operators.Similarity.compactIvfPq(spark, maintIdx, compactIdx)
      val coldIdx = tmp.resolve("ivfpq-cold20k").toString + "/ix"
      operators.Similarity.writeIvfPqIndex(emb10, coldIdx, numCentroids = 32)
      val qs20 = emb10.filter(col("vec_id") < 8)
      def probeRows(dir: String) = operators.Similarity
        .ivfPqTopK(spark, dir, qs20, emb10, k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
        .collect().map(_.toString).toSeq
      val pMaint = probeRows(compactIdx)
      require(pMaint.nonEmpty && pMaint == probeRows(coldIdx),
        "maintained+compacted index must probe identically to a cold rebuild")
      println(s"[scale] maintained-index probe rows: ${pMaint.size} (≡ cold rebuild)")
    }
    // drift monitor's store side must be FOOTER-ONLY (r17 verdict task
    // 4): per-centroid mass comes from the hive partitions' parquet
    // footers on the driver, so the report's Spark plan may scan the
    // batch and the codebook sidecar — NEVER the code table. Gate (a)
    // no code-table file scan appears anywhere in the executed plan,
    // and (b) the footer-derived masses equal a real count.
    time("ivf drift report: footer-only store mass (zero code-table scans)") {
      val embBig = Tables.load(spark, sfDir, "embeddings")
      val idx = tmp.resolve("ivfpq-scale").toString + "/ix" // written above
      val rep = operators.Similarity.ivfDriftReport(spark, idx,
        embBig.filter(col("vec_id") % 3 === 1))
      val got = rep.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def codeScans(p: org.apache.spark.sql.execution.SparkPlan): Long = {
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        val here = p match {
          case f: org.apache.spark.sql.execution.FileSourceScanLike
            if f.relation.location.rootPaths.exists(_.toString.endsWith("/ix")) => 1L
          case _ => 0L
        }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        here + kids.map(codeScans).sum
      }
      val nScans = codeScans(rep.queryExecution.executedPlan)
      println(s"[scale] ivf drift: code-table scans in plan = $nScans")
      require(nScans == 0L,
        "drift report plan still scans the code table — the footer-only " +
          "store side is broken")
      val want = spark.read.parquet(idx)
        .groupBy(col("centroid_id").cast("long").as("cid"))
        .agg((count(lit(1)) / 4).cast("long").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      require(want.forall { case (cid, n) => got.get(cid).contains(n) },
        s"footer-derived store masses diverge from the real count: " +
          s"footers=$got count=$want")
      println(s"[scale] ivf drift: footer masses match real counts for " +
        s"${want.size} centroids")
    }
    operators.CacheRegistry.release(spark)
    // ANN recall FLOORS: sized by an sf0.1 probe on this exact build
    // shape (32-centroid IVF, m=4/ksub=16 PQ, k=5, 8 queries) — measured
    // ivf 0.975/1.0/1.0 per nprobe {1,2,4}, ivfadc 0.725/0.65/0.60,
    // pq rerank_factor=4 at 0.425 (pseudo AND 2-iter trained), trained
    // rf=2 at 0.30 — floors are measurement minus margin. A quality
    // regression (codebook corruption, probe-ordering bug, ADC table
    // mix-up) now FAILS the scale check instead of printing an unread
    // telemetry table.
    time("ann recall floors sf0.1 (ivf / ivfadc / pq pseudo+trained)") {
      val embBig = Tables.load(spark, sfDir, "embeddings")
      val qs = embBig.filter(col("vec_id") < 8)
      def recallBy(df: org.apache.spark.sql.DataFrame, keyCol: String): Map[Int, Double] =
        df.select(col(keyCol).cast("int"), col("recall_at_k").cast("double"))
          .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val ivf = recallBy(operators.Similarity.ivfRecall(embBig, qs, k = 5), "nprobe")
      println(s"[scale] ivf recall per nprobe: $ivf")
      require(ivf(1) >= 0.80 && ivf(2) >= 0.90 && ivf(4) >= 0.90,
        s"ivf recall under floor (measured 0.975/1.0/1.0): $ivf")
      val idx = tmp.resolve("ivfpq-scale").toString + "/ix" // written above
      val ipq = recallBy(
        operators.Similarity.ivfPqRecall(spark, idx, qs, embBig, k = 5), "nprobe")
      println(s"[scale] ivfadc recall per nprobe: $ipq")
      require(ipq.values.min >= 0.50,
        s"ivfadc recall under floor 0.50 (measured 0.725/0.65/0.60): $ipq")
      val pq = recallBy(operators.Pq.pqRecall(embBig, qs, k = 5), "rerank_factor")
      println(s"[scale] pq pseudo recall per rf: $pq")
      require(pq(4) >= 0.30,
        s"pq pseudo recall@rf4 under floor 0.30 (measured 0.425): $pq")
      val cb = operators.Pq.pqCodebooksTrained(embBig, m = 4, ksub = 16, dim = 64, iters = 2)
      val pqt = recallBy(
        operators.Pq.pqRecall(embBig, qs, k = 5, codebooks = Some(cb)), "rerank_factor")
      println(s"[scale] pq trained recall per rf: $pqt")
      require(pqt(4) >= 0.30 && pqt(2) >= 0.20,
        s"pq trained recall under floor (measured rf2=0.30, rf4=0.425): $pqt")
      // binary (1-bit) quantization: this corpus is near-random (true
      // neighbors at cos ~0.4), so 64 sign bits are a NOISY ranker and
      // absolute recall is inherently low — the gates are therefore
      // (a) ~10x the random-pick baseline (rf4 selects 20 of 1999:
      // random recall ~0.01; a sign/popcount bug collapses to that),
      // (b) monotone in rf, (c) EXACT at full width (Hamming can drop
      // no candidate when every candidate survives — the correctness
      // floor that doesn't depend on corpus geometry at all).
      val bq = operators.Similarity.binaryRecall(embBig, qs, k = 5,
          rerankFactors = Seq(1, 4, 400))
        .select(col("rf").cast("int"), col("recall_at_k").cast("double"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      println(s"[scale] binary recall per rf: $bq")
      require(bq(4) >= 0.06,
        s"binary rf4 recall under 10x-random floor 0.06 (measured 0.125): $bq")
      require(bq(1) <= bq(4) && bq(4) <= bq(400),
        s"binary recall must be monotone in rf: $bq")
      require(bq(400) == 1.0,
        s"full-width binary rerank must recover the exact top-k: $bq")
      operators.CacheRegistry.release(spark)
    }
    // approximate mutual-NN vs the exact truth twin: IVF-blocked
    // candidates at the default (32 centroids, nprobe 4) must find most
    // reciprocal-top-1 pairs even on this near-random corpus (measured
    // 0.8125 — real clustered corpora do better), and the exhaustive
    // probe (nprobe = numCentroids, every pair shares a block) must
    // reproduce the exact operator EXACTLY — the geometry-free
    // correctness law, the binaryRecall rf=full-width analogue.
    time("mutual-NN approx recall floor + exhaustive-probe law (2k vectors)") {
      val embBig = Tables.load(spark, sfDir, "embeddings")
      def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select(col("vec_id_a"), col("vec_id_b")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = pairs(operators.Similarity.mutualNeighbors(embBig))
      operators.CacheRegistry.release(spark)
      val approx = pairs(operators.Similarity.mutualNeighborsApprox(embBig))
      operators.CacheRegistry.release(spark)
      val recall = approx.intersect(exact).size.toDouble / exact.size
      println(s"[scale] mutual-NN exact ${exact.size} approx ${approx.size} " +
        f"recall $recall%.4f")
      require(recall >= 0.70,
        f"mutual-NN approx recall under floor 0.70 (measured 0.8125): $recall%.4f")
      val full = pairs(
        operators.Similarity.mutualNeighborsApprox(embBig, 8, 8))
      operators.CacheRegistry.release(spark)
      require(full == exact,
        s"exhaustive-probe mutual-NN must equal the exact twin: " +
          s"missing ${(exact -- full).take(3)}, extra ${(full -- exact).take(3)}")
    }
    // sparse tf-idf cosine at 10×: df of every term is 10× hotter. The
    // FRACTIONAL cap scales with D (a skew guard, not a scale guard), so
    // the absolute maxDf cap is what bounds generation blocks at corpus
    // scale: with maxDf frozen at the 1× fractional cap value, block
    // width — and so per-term candidate pairs, C(maxDf,2) — is the same
    // at 1× and 10×, while frac-only blocks fatten 10× (≈100× pairs).
    time("sparse bigram cosine 50k docs (df cap 1% + absolute maxDf)") {
      def candPairs(vecs: org.apache.spark.sql.DataFrame, frac: Double,
          cap: Long): (Long, Long) = {
        val d = vecs.agg(countDistinct(col("doc_id"))).head().getLong(0)
        val eff = math.min(math.floor(d * frac).toLong, cap)
        // sum the (even) df·(df−1) product in LONG and halve driver-side:
        // a `/ 2` in the agg promotes to double and loses exactness
        val r = vecs.groupBy("term").agg(count(lit(1)).as("df"))
          .filter(col("df") <= eff)
          .agg(coalesce(sum(col("df") * (col("df") - 1)), lit(0L)).as("p2"),
            coalesce(max(col("df")), lit(0L)).as("w")).head()
        (r.getLong(0) / 2, r.getLong(1))
      }
      val v1 = operators.Tfidf.tfidfVectors(docs, ngram = 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val v10 = operators.Tfidf.tfidfVectors(docs10, ngram = 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val d1 = v1.agg(countDistinct(col("doc_id"))).head().getLong(0)
      val cap1 = math.floor(d1 * 0.01).toLong // 1× fractional cap, frozen
      val (p1, w1) = candPairs(v1, 0.01, Long.MaxValue)
      val (pFrac10, wFrac10) = candPairs(v10, 0.01, Long.MaxValue)
      val (pAbs10, wAbs10) = candPairs(v10, 0.01, cap1)
      println(s"[scale] cand pairs 1x frac-only: $p1 (max block $w1), " +
        s"10x frac-only: $pFrac10 (max block $wFrac10), " +
        s"10x abs-capped@$cap1: $pAbs10 (max block $wAbs10)")
      require(wAbs10 <= cap1,
        "absolute cap must bound generation block width at any scale")
      require(pAbs10 < pFrac10,
        "absolute cap must cut candidates vs the scale-tracking frac cap")
      println("[scale] cosine pairs out (abs-capped): " +
        operators.Tfidf.sparseCosinePairs(v10,
          threshold = 0.05, maxDfFrac = 0.01, maxDf = cap1).count())
      v1.unpersist(blocking = false); v10.unpersist(blocking = false)
    }
    operators.CacheRegistry.release(spark)
    // containment at 10× (r12 verdict task 4 — the sparse-cosine stanza's
    // twin): duplication inflates every shingle's df 10×, so the UNSCALED
    // absolute cap silently stops linking exactly the shingles that
    // carried 1× matches (the documented caller-scaling burden), while a
    // cap scaled with duplication — or derived from the df distribution
    // via suggestedShingleDfCap — keeps every 1× linking shingle linking
    // AND bounds per-shingle pair fan-out at C(cap, 2) absolutely.
    time("containment 50k docs (10x dup: unscaled vs scaled vs derived cap)") {
      // (linking shingles, max block width, candidate pairs) under a cap
      def linkStats(d: org.apache.spark.sql.DataFrame, cap: Long): (Long, Long, Long) = {
        val sh = operators.Dedup.withShingles(d, 3)
          .select(col("doc_id"), explode_outer(col("__shingles")).as("sh"))
          .filter(col("sh").isNotNull) // Dedup.safeExplodeNote
        val r = sh.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > 1 && col("df") <= cap)
          .agg(count(lit(1)).as("n"),
            coalesce(max(col("df")), lit(0L)).as("w"),
            coalesce(sum(col("df") * (col("df") - 1)), lit(0L)).as("p2")).head()
        (r.getLong(0), r.getLong(1), r.getLong(2) / 2)
      }
      val cap1 = 64L
      val (n1, _, p1) = linkStats(docs, cap1)
      val (nDef10, wDef10, pDef10) = linkStats(docs10, cap1)
      val (nSc10, wSc10, pSc10) = linkStats(docs10, cap1 * 10)
      println(s"[scale] containment linking shingles 1x@$cap1: $n1 (pairs $p1), " +
        s"10x@$cap1: $nDef10 (w $wDef10, pairs $pDef10), " +
        s"10x@${cap1 * 10}: $nSc10 (w $wSc10, pairs $pSc10)")
      // the absolute cap bounds generation block width — and so per-
      // shingle pair fan-out at C(cap, 2) — at ANY corpus size
      require(wDef10 <= cap1 && wSc10 <= cap1 * 10,
        "containment cap must bound block width absolutely")
      require(pSc10 <= nSc10 * (cap1 * 10) * (cap1 * 10 - 1) / 2,
        "candidate pairs must stay within n * C(cap, 2)")
      // a shingle linking at 1× (1 < df ≤ cap) has df' = 10·df ≤ 10·cap
      // at 10× — the caller-scaled cap loses NOTHING the 1× run matched
      // (it gains the 1×-unique shingles whose copies now co-occur),
      // while the unscaled cap keeps only the 1× df ≤ cap/10 tail
      require(nSc10 >= n1,
        s"scaled cap must keep every 1x linking shingle: $nSc10 < $n1")
      require(nDef10 < nSc10,
        "unscaled cap at 10x must visibly lose linking shingles")
      // derived cap tracks the distribution shift: the df quantile of the
      // 10×-replicated corpus sits ~10× the 1× quantile, so deriving the
      // cap from the data removes the caller's scaling burden entirely
      val capD1 = operators.Dedup.suggestedShingleDfCap(docs, 3)
      val capD10 = operators.Dedup.suggestedShingleDfCap(docs10, 3)
      println(s"[scale] derived df cap 1x: $capD1, 10x: $capD10")
      require(capD10 >= 5 * capD1 && capD10 <= 20L * capD1,
        s"derived cap must track the 10x df shift: $capD1 -> $capD10")
      println("[scale] containment pairs out (derived cap): " +
        operators.Dedup.containmentPairs(docs10, k = 3, threshold = 0.5,
          maxShingleDf = capD10).count())
    }
    operators.CacheRegistry.release(spark)
    // triangle counting under hub skew: a degree-20k hub fused to a
    // 40-clique. The naive wedge join fans C(20000, 2) ≈ 2·10⁸ rows at
    // the hub alone; (deg, id) orientation points every star edge AT the
    // hub (out-degree 0 there), so oriented wedge rows collapse to the
    // clique's Σ C(outdeg, 2) = C(40, 3) — the m^1.5 bound with four
    // orders of magnitude to spare. Counts must still be exact.
    time("triangles: 20k-star hub + 40-clique (oriented wedge bound)") {
      import spark.implicits._
      val star = (1L to 20000L).map(l => (0L, l))
      val clique = for (a <- 30000L until 30040L; b <- a + 1 until 30040L)
        yield (a, b)
      val edges = (star ++ clique).toDF("src", "dst")
        .repartition(32).cache()
      val counts = operators.Graph.triangleCounts(edges)
        .agg(sum(col("triangles")).as("s"),
          sum(when(col("node") >= 30000L, col("triangles"))).as("cl"),
          sum(when(col("node") < 30000L, col("triangles"))).as("st")).head()
      // participation sum = 3·C(40,3); every star node has zero
      require(counts.getLong(0) == 3L * 9880L && counts.getLong(2) == 0L,
        s"triangle counts wrong under skew: $counts")
      // independent wedge-row census with the engine's orientation rule:
      // Σ C(outdeg, 2) must match the clique-only closed-form and sit
      // far under both the naive Σ C(deg, 2) and the m^1.5 guarantee
      val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
      val deg = und.select(col("a").as("node"))
        .union(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val aLow = col("__da") < col("__db") ||
        (col("__da") === col("__db") && col("a") < col("b"))
      val outdeg = und
        .join(deg.select(col("node").as("a"), col("deg").as("__da")), "a")
        .join(deg.select(col("node").as("b"), col("deg").as("__db")), "b")
        .select(when(aLow, col("a")).otherwise(col("b")).as("u"))
        .groupBy("u").agg(count(lit(1)).as("od"))
      val stats = outdeg
        .agg(sum(expr("od * (od - 1L) DIV 2L")).as("wedges"),
          max(col("od")).as("maxOut")).head()
      val naive = deg.agg(sum(expr("deg * (deg - 1L) DIV 2L")).as("w"))
        .head().getLong(0)
      val m = und.count()
      println(s"[scale] oriented wedges: ${stats.getLong(0)} (max outdeg " +
        s"${stats.getLong(1)}), naive wedges: $naive, m^1.5: " +
        math.pow(m.toDouble, 1.5).toLong)
      require(stats.getLong(0) == 9880L,
        s"oriented wedges must collapse to the clique: ${stats.getLong(0)}")
      require(naive >= 199000000L, "hub must dominate the naive wedge count")
      require(stats.getLong(0) <= math.pow(m.toDouble, 1.5).toLong,
        "oriented wedges must respect the m^1.5 bound")
      edges.unpersist(blocking = false)
    }
    // triangleDelta under a planted hub: old graph = a 10⁴-degree star
    // whose hub is the MIN-ID endpoint of every batch edge that touches
    // it — exactly the shape where expanding the min-id endpoint fans
    // deg(hub) rows per edge (10⁶ total here), while the (deg, id)
    // lower-degree orientation expands min(deg(a), deg(b)) = 2. Census
    // the expansion the way the operator does (union degrees, lower
    // endpoint), require the bounded count, the ≥1000× naive blow-up it
    // replaces, and the exact delta counts.
    time("triangleDelta: 10k-star hub batch (lower-degree expansion bound)") {
      import spark.implicits._
      val nLeaves = 10000L
      val old = (1L to nLeaves).map(l => (0L, l)).toDF("src", "dst")
        .repartition(32).cache()
      // batch: hub → 100 fresh nodes, plus fresh node i ↔ leaf i — each
      // fresh node closes exactly one triangle (0, i, 10000+i)
      val batch = ((1L to 100L).map(i => (0L, nLeaves + i)) ++
        (1L to 100L).map(i => (nLeaves + i, i))).toDF("src", "dst")
      val delta = operators.Graph.triangleDelta(old, batch)
      val got = delta.agg(sum(col("new_triangles")).as("s"),
        max(when(col("node") === 0L, col("new_triangles"))).as("hub")).head()
      require(got.getLong(0) == 300L && got.getLong(1) == 100L,
        s"delta counts wrong under hub: $got")
      // expansion census: union degrees, per-new-edge min(da, db) vs the
      // min-id endpoint's degree the old formulation expanded
      val unionE = old.unionByName(batch)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct()
      val deg = unionE.select(col("a").as("node"))
        .union(unionE.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val newC = batch
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct()
      val census = newC
        .join(deg.select(col("node").as("a"), col("deg").as("__da")), "a")
        .join(deg.select(col("node").as("b"), col("deg").as("__db")), "b")
        .agg(sum(least(col("__da"), col("__db"))).as("bounded"),
          sum(col("__da")).as("minId")).head()
      println(s"[scale] delta expansion rows: bounded ${census.getLong(0)} " +
        s"vs min-id ${census.getLong(1)} (batch ${200L})")
      require(census.getLong(0) <= 4 * 200L,
        s"lower-degree expansion must stay batch-bounded: ${census.getLong(0)}")
      require(census.getLong(1) >= 1000L * census.getLong(0),
        "the hub must dominate the min-id expansion this stanza guards against")
      old.unpersist(blocking = false)
    }
    operators.CacheRegistry.release(spark)
    // phash banding at sf0.1: the synthetic thumbnails are aHash-coarse
    // (few distinct hashes over thousands of images — the all-dup worst
    // case for any banded join), so the bucket cap is what separates a
    // bounded candidate join from Σ C(bucket, 2) blow-up. Census the band
    // buckets the way the operator does and require the cap's absolute
    // bound — and that it actually bites here (≥10× fewer candidates).
    time("phash banding: bucket census, cap 64 vs uncapped (3.3k images)") {
      val hashes = operators.Multimodal.imageAHash(spark,
        operators.Multimodal.synthesizeMedia(spark, docs))
      val bands = 4
      val bk = hashes.select(col("doc_id"),
        posexplode(array((0 until bands).map(i =>
          shiftrightunsigned(col("phash"), i * 16)
            .bitwiseAND(lit(0xFFFFL))): _*)).as(Seq("band", "key")))
      val census = bk.groupBy("band", "key").agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * (n - 1) DIV 2")).as("uncapped"),
          sum(when(col("n") <= 64, expr("n * (n - 1) DIV 2"))
            .otherwise(lit(0L))).as("capped"),
          count(lit(1)).as("buckets"), max(col("n")).as("widest")).head()
      println(s"[scale] phash buckets: ${census.getLong(2)} (widest " +
        s"${census.getLong(3)}), candidate pairs uncapped ${census.getLong(0)} " +
        s"vs capped ${census.getLong(1)}")
      require(census.getLong(1) <= census.getLong(2) * (64L * 63 / 2),
        "capped candidates must respect the buckets * C(cap,2) bound")
      require(census.getLong(0) >= 10 * math.max(census.getLong(1), 1L),
        "the cap must visibly bite on the degenerate-thumbnail corpus")
      val pairs = operators.Multimodal.aHashPairs(hashes).count()
      println(s"[scale] phash pairs out (hamming<=3, cap 64): $pairs")
      // pigeonhole recall gate (r13 verdict task 6): with the bucket cap
      // OFF, banding must find EXACTLY the ≤r-Hamming pairs — maxHamming
      // < bands guarantees a qualifying pair matches in some band, so
      // banded ⊇ exact; the final bit_count filter gives banded ⊆ exact.
      // Run for BOTH perceptual hash families (the banding contract is
      // hash-agnostic) and report how much the default cap drops.
      def recallGate(hdf: org.apache.spark.sql.DataFrame, hc: String,
          label: String): Unit = {
        val ha = hdf.select(col("doc_id").as("id_a"), col(hc).as("__pa"))
        val hb = hdf.select(col("doc_id").as("id_b"), col(hc).as("__pb"))
        val exactP = ha.crossJoin(hb)
          .filter(col("id_a") < col("id_b") &&
            bit_count(col("__pa").bitwiseXOR(col("__pb"))) <= 3)
          .select("id_a", "id_b")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nExact = exactP.count()
        val uncapped = operators.Multimodal.aHashPairs(hdf,
            maxHamming = 3, bands = 4, maxBucket = Int.MaxValue, hashCol = hc)
          .select("id_a", "id_b")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nUncapped = uncapped.count()
        val missed = exactP.join(uncapped, Seq("id_a", "id_b"), "left_anti").count()
        val nCapped = operators.Multimodal.aHashPairs(hdf, hashCol = hc).count()
        println(s"[scale] $label banding: exact $nExact uncapped $nUncapped " +
          s"missed $missed capped $nCapped")
        require(missed == 0 && nUncapped == nExact,
          s"$label uncapped banding must equal the exact ≤3-Hamming pairs: " +
            s"exact $nExact banded $nUncapped missed $missed")
        require(nCapped <= nExact,
          s"$label cap may only drop pairs, never invent: $nCapped > $nExact")
        exactP.unpersist(blocking = false)
        uncapped.unpersist(blocking = false)
      }
      recallGate(hashes, "phash", "phash")
      val media = operators.Multimodal.synthesizeMedia(spark, docs)
      recallGate(operators.Multimodal.audioEnergyHash(spark, media),
        "ehash", "audiohash")
    }
    operators.CacheRegistry.release(spark)
    // z-order rewrite of the 10× corpus: the layout shuffle is the only
    // shuffle; per-file spans must tighten in both dimensions
    time("z-order rewrite 50k docs -> 32 files") {
      val zdir = java.nio.file.Files.createTempDirectory("scale-z").toString
      operators.Layout.writeZOrdered(docs10, "doc_id", "n_chars", s"$zdir/z")
      operators.Layout.fileSpans(spark, s"$zdir/z", "doc_id", "n_chars")
        .agg(count(lit(1)).as("files"), sum(col("rows")).as("rows")).show()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(zdir))
    }
    // the composed pipeline end-to-end on the skewed corpus
    time("pipeline curate 50k docs (10x all-dup corpus)") {
      println("[scale] pipeline chunks out: " +
        operators.Pipeline.curate(docs10).count())
    }
    operators.CacheRegistry.release(spark)
    // binned quantiles over a 6M-row fact: shuffled bytes stay
    // groups x bins rows, the cumulative walk stays <=1024 rows/group
    val li = Tables.load(spark, sfDir, "lineitem")
    val li10 = (0 until 10)
      .map(i => li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L)))
      .reduce(_ unionAll _)
    time("binned quantiles 6M lineitem rows (3 groups, 1024 bins)") {
      operators.Quantiles.binnedQuantiles(li10, "l_extendedprice", "l_returnflag")
        .show(5)
    }
    operators.CacheRegistry.release(spark)
    // exact heavy hitters over a WIDE key universe (~400k distinct
    // composite keys, every one far below the cut) with one planted
    // ~1% key: the k=400-counter sketch must nominate it through heavy
    // eviction, and the recount must equal the full-groupBy truth —
    // while the candidate pass shuffles <= k rows per partition instead
    // of 400k distinct keys
    time("exact heavy hitters 6M rows (~400k distinct, planted 1% key)") {
      val wide = li10.select(concat_ws(":", col("l_partkey"),
        col("l_suppkey"), col("l_orderkey") % 7).as("key"))
      val hot = spark.range(60000).select(lit("HOT-KEY").as("key"))
      val df = wide.unionByName(hot)
      val got = operators.Sketches.heavyHitters(df, "key", minFrac = 0.005)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      require(got.contains("HOT-KEY"),
        s"planted hot key must survive eviction, got ${got.keySet}")
      val n = df.count()
      val truth = df.groupBy("key").agg(count(lit(1)).as("c"))
        .filter(col("c") >= math.ceil(0.005 * n).toLong)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      require(got == truth,
        s"heavy hitters must equal groupBy truth: got ${got.size} want ${truth.size}")
      println(s"[scale] heavy hitters: ${got.size} over wide universe (n=$n)")
    }
    operators.CacheRegistry.release(spark)
    // sorted-neighborhood linkage at 10x: the candidate budget is
    // EXACTLY n*(w-1) by construction whatever the value distribution —
    // the anti-mega-block guarantee the method exists for — and the
    // global rank comes from range partitions, never a one-partition
    // window
    time("sorted-neighborhood 200k parts (window 8)") {
      val part = Tables.load(spark, sfDir, "part")
      val part10 = (0 until 10)
        .map(i => part.withColumn("p_partkey", col("p_partkey") + lit(i * 10000000L)))
        .reduce(_ unionAll _)
      val n = part10.count()
      val prs = operators.Linkage.sortedNeighborhoodPairs(part10,
        "p_partkey", "p_name", "p_name", window = 8, threshold = 0.9)
      val kept = prs.count()
      require(kept <= n * 7,
        s"SNM pair budget exceeded: $kept > ${n * 7}")
      println(s"[scale] snm kept pairs: $kept of budget ${n * 7} (n=$n)")
    }
    operators.CacheRegistry.release(spark)
    // exact quantile on the 6M-row fact: a handful of ever-narrowing
    // range scans (no global sort); must equal the window-rank truth
    time("exact quantile p95 over 6M rows (bins=512)") {
      val got = operators.Quantiles.exactQuantile(li10, "l_extendedprice",
        0.95, bins = 512, cutoff = 1 << 14)
      val vs = li10.filter(col("l_extendedprice").isNotNull)
        .select(col("l_extendedprice").cast("double").as("v"))
      val nn = vs.count()
      // truth by distributed range sort + index (the formulation the
      // operator exists to avoid; fine as a one-off gate)
      val want = vs.orderBy(col("v")).rdd.zipWithIndex()
        .filter(_._2 == math.ceil(0.95 * nn).toLong - 1)
        .map(_._1.getDouble(0)).first()
      require(got == want, s"exact quantile $got != sort truth $want")
      println(s"[scale] exact quantile p95: $got (n=$nn)")
    }
    operators.CacheRegistry.release(spark)
    // grouped exact quantile over the same 6M-row fact, 3 groups
    // descending IN PARALLEL: state is one 3-row DataFrame per round,
    // histograms shuffle <= groups x bins rows, and the answer must
    // equal each group's independent global descent (itself sort-truth
    // gated above)
    time("grouped exact quantile p95 over 6M rows x 3 groups (bins=512)") {
      val got = operators.Quantiles.exactQuantileBy(li10,
          Seq("l_returnflag"), "l_extendedprice", 0.95,
          bins = 512, cutoff = 1 << 14)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      val flags = got.keySet.toSeq.sorted
      require(flags.size == 3, s"expected 3 groups, got $flags")
      flags.foreach { f =>
        val slice = li10.filter(col("l_returnflag") === f)
        val want = operators.Quantiles.exactQuantile(slice,
          "l_extendedprice", 0.95, bins = 512, cutoff = 1 << 14)
        require(got(f)._2 == want,
          s"group $f: grouped descent ${got(f)._2} != global descent $want")
      }
      println(s"[scale] grouped exact quantile p95: $got")
    }
    operators.CacheRegistry.release(spark)
    // one-pass log-histogram sketch over the same 6M-row fact: the
    // bucket table must stay at its GEOMETRY bound (groups x signed
    // magnitude buckets), never follow the corpus, and every estimate
    // must sit within the sketch's relative-error contract of the
    // sort-truth-gated exact descent
    time("log-hist quantile sketch over 6M rows x 3 groups (mBits=6)") {
      val mBits = 6
      val buckets = operators.Quantiles.logHistBuckets(
        li10, "l_extendedprice", Seq("l_returnflag"), mBits = mBits)
      val nBuckets = buckets.count()
      val bound = 3L * (2 * 53 * (1L << (mBits - 1)) + 1)
      require(nBuckets <= bound,
        s"bucket table $nBuckets rows exceeds geometry bound $bound")
      val est = operators.Quantiles.logHistFinish(buckets, Seq("l_returnflag"),
          ps = Seq(0.95))
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      est.keySet.toSeq.sorted.foreach { f =>
        val slice = li10.filter(col("l_returnflag") === f)
        val want = operators.Quantiles.exactQuantile(slice,
          "l_extendedprice", 0.95, bins = 512, cutoff = 1 << 14)
        val rel = (want - est(f)) / math.abs(want)
        require(est(f) <= want + 1e-9 && rel <= math.pow(2, 1 - mBits) + 0.02,
          s"group $f: est ${est(f)} misses exact $want (rel $rel)")
      }
      println(s"[scale] log-hist sketch p95: $est ($nBuckets bucket rows)")
    }
    operators.CacheRegistry.release(spark)
    // persisted sketch store over 10× HISTORY (10 month-shifted copies of
    // the sf0.1 events ⇒ ~7.4k hourly window partitions): the three
    // structural facts that make a metrics layer serve against 100 TB —
    // (1) the store is answer-sized (windows × groups × sketch geometry,
    // never event-count-sized), (2) SERVING a range reads only the
    // range's window partitions (file count follows the week asked for,
    // not the store's age), (3) APPENDS are batch-local (a one-hour
    // trickle touches one window directory of thousands)
    time("sketch store 10x history: answer-sized, range-pruned serving, local appends") {
      val ev01 = Tables.loadEvents(spark, sfDir)
      val monthNs = 31L * 24 * 3600 * 1000L * 1000000L
      val ev10 = (0 until 10).map(i =>
        ev01.withColumn("ts", col("ts") + lit(i * monthNs))
          .withColumn("event_id", col("event_id") + lit(i * 1000000000L)))
        .reduce(_ unionAll _)
      val storeDir = tmp.resolve("sketch-store").toString + "/store"
      operators.SketchStore.write(ev10, storeDir)
      val store = spark.read.parquet(storeDir)
      val nWindows = store.select("window_start_ms").distinct().count()
      val nGroups = ev01.select("event_type").distinct().count()
      val nRows = store.count()
      // per-(window, group) sketch bound: signed magnitude buckets over
      // ≤64 binary exponents at mBits=6 (the loghist geometry gate's
      // formula, 64 exponents since quantScale=100 longs span 2^63)
      val bound = nWindows * nGroups * (2L * 64 * (1L << 5) + 1)
      println(s"[scale] sketch store: $nRows rows, $nWindows windows x " +
        s"$nGroups groups (bound $bound)")
      require(nWindows >= 7000, s"10 shifted months must yield ~7.4k " +
        s"hourly windows, got $nWindows")
      require(nRows <= bound,
        s"store rows $nRows exceed the geometry bound $bound — the " +
          "layer must be answer-sized, not event-sized")
      // serve ONE week out of ten months; the scan must read only that
      // week's partitions (168 hourly windows -> 168 files at 1 file
      // per partition), not the store's ~7.4k
      val from = 1704672000000L; val to = 1705276800000L
      val served = operators.SketchStore.quantiles(spark, storeDir, from, to)
      require(served.collect().nonEmpty, "served week must be non-empty")
      // planning-time pruning, read off the scan's selected partitions
      // (sparkPlan, not the AQE-wrapped executedPlan, exposes the leaf)
      val scans = served.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      val filesRead = scans.map(_.selectedPartitions.totalNumberOfFiles).sum
      println(s"[scale] serving scan read $filesRead files of ~$nWindows")
      require(scans.nonEmpty && filesRead > 0 && filesRead <= 200,
        s"a one-week serve read $filesRead files — partition pruning " +
          "must bound serving by the RANGE, not the store's history")
      // a one-hour trickle batch appends into exactly its own window
      val batch = ev01.filter(
        expr("((ts div 1000000) div 3600000) * 3600000") === from)
        .withColumn("event_id", col("event_id") + lit(20000000000L))
      val touched = operators.SketchStore.append(spark, batch, storeDir)
      println(s"[scale] 1-hour append touched windows: $touched")
      require(touched == Seq(from),
        s"a one-hour batch must touch exactly its window, got $touched")
      // the HLL register store rides the IDENTICAL layout (pruning and
      // append locality gated above apply verbatim); its own scale facts
      // are the register bound — ≤ 2^p rows per (window, group) cell
      // whatever the event volume — and replay INVISIBILITY: re-append
      // a full month of already-ingested events and no served answer
      // may move (the max-merge algebra; the quantile store above would
      // double its counts without the ingest fence)
      val hllDir = tmp.resolve("hll-store").toString + "/store"
      operators.HllStore.write(ev10, hllDir, p = 12)
      val hllRows = spark.read.parquet(hllDir).count()
      val hllCells = spark.read.parquet(hllDir)
        .select("window_start_ms", "event_type").distinct().count()
      println(s"[scale] hll store: $hllRows register rows in $hllCells cells")
      require(hllRows <= hllCells * 4096,
        s"register rows $hllRows exceed cells x 2^12 — the layer must " +
          "be register-bounded, not event-sized")
      val servedBefore = operators.HllStore.distinct(spark, hllDir, from, to)
        .orderBy("event_type").collect().toSeq
      val overlapBefore = operators.HllStore.overlap(spark, hllDir, from, to)
        .orderBy("group_a", "group_b").collect().toSeq
      operators.HllStore.append(spark, ev01, hllDir) // replay month 0
      val servedAfter = operators.HllStore.distinct(spark, hllDir, from, to)
        .orderBy("event_type").collect().toSeq
      require(servedBefore == servedAfter && servedBefore.nonEmpty,
        "a replayed month must be invisible to served distinct counts")
      // overlap rides the same registers — replay-invisible too, and the
      // pair fan-out is exactly G·(G−1)/2 rows (the G² matrix shape)
      val overlapAfter = operators.HllStore.overlap(spark, hllDir, from, to)
        .orderBy("group_a", "group_b").collect().toSeq
      val gN = servedBefore.size
      require(overlapBefore == overlapAfter &&
        overlapBefore.size == gN * (gN - 1) / 2,
        "overlap serve must be replay-invisible and pair-matrix-sized")
      // CDF brackets from the quantile store: certified [lo, hi] per
      // threshold, pure aggregation on the same pruned read
      val cdfRows = operators.SketchStore.cdf(spark, storeDir, from, to,
        Seq(50.0, 450.0)).collect()
      require(cdfRows.nonEmpty && cdfRows.forall { r =>
        (2 until 6 by 2).forall { i =>
          val (lo, hi) = (r.getDouble(i), r.getDouble(i + 1))
          lo >= 0.0 && lo <= hi && hi <= 1.0
        }
      }, "cdf serve must return ordered [lo, hi] brackets inside [0, 1]")
    }
    operators.CacheRegistry.release(spark)
    // column profile at 10x: one stacked agg row per column + grouped HLL
    // registers (2^12 per column) — state never follows the corpus
    time("column profile 50k docs (4 cols, p=12)") {
      operators.Stats.columnProfile(docs10,
        Seq("doc_id", "text", "lang", "source")).show()
    }
    operators.CacheRegistry.release(spark)
    // positional index + phrase search at 10x: postings fatten 10x per
    // term; the scan-pushed term filter must keep the join bounded
    time("phrase search 50k docs") {
      println("[scale] phrase hits: " +
        operators.Index.phraseSearch(docs10, Seq("order", "fast")).count())
    }
    operators.CacheRegistry.release(spark)
    // compaction: 512 shattered files -> 8 range-sorted files, one range
    // shuffle; row count must survive and the output must stay pruned
    time("compact 512 small files -> 8 sorted (50k docs)") {
      val cdir = java.nio.file.Files.createTempDirectory("scale-c").toString
      docs10.repartition(512).write.parquet(s"$cdir/small")
      ParquetIO.compact(spark, s"$cdir/small", s"$cdir/big", Seq("doc_id"), numFiles = 8)
      val n = spark.read.parquet(s"$cdir/big").count()
      val files = new java.io.File(s"$cdir/big").listFiles()
        .count(_.getName.endsWith(".parquet"))
      println(s"[scale] compacted rows: $n files: $files")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(cdir))
    }
    // r8 newcomers at 10x --------------------------------------------------
    // LSH banding recall on the all-dup corpus: both pair pipelines at
    // full duplication density, report joins two pair-bounded tables
    time("lsh banding recall 50k docs (10x all-dup corpus)") {
      operators.Dedup.lshRecall(docs10, threshold = 0.8).show()
    }
    operators.CacheRegistry.release(spark)
    // quality-aware canonical selection: cluster labeling + a ranking
    // window partitioned by dup family (~10 members each)
    time("best-member dedup 50k docs (10x all-dup corpus)") {
      println("[scale] best-dedup kept: " +
        operators.Dedup.dedupRepresentatives(docs10,
            operators.Dedup.ngramJaccardPairs(docs10, threshold = 0.8))
          .filter(col("keep")).count())
    }
    operators.CacheRegistry.release(spark)
    // cross-source span matrix: every span 10x hotter; fan-out per span
    // stays bounded by the source count
    time("cross-source span matrix 50k docs") {
      println("[scale] source pairs overlapping: " +
        operators.Dedup.crossSourceDuplication(docs10).count())
    }
    operators.CacheRegistry.release(spark)
    // quantized IVF at 20k vectors: int8 probe scan + survivors-only
    // full-precision fetch
    time("quantized IVF top-k 20k vectors (nprobe=2)") {
      println("[scale] ivfq rows: " +
        operators.Similarity.ivfTopKQuantized(emb10,
          emb10.filter(col("vec_id") < 20), k = 5, nprobe = 2).count())
    }
    operators.CacheRegistry.release(spark)
    // events at 10x: funnel stage joins and the retention triangle
    val ev = Tables.loadEvents(spark, sfDir)
    val ev10 = (0 until 10)
      .map(i => ev.withColumn("user_id", col("user_id") + lit(i * 1000000L))
        .withColumn("event_id", col("event_id") + lit(i * 100000000L)))
      .reduce(_ unionAll _)
    time("funnel 100k events (10x users)") {
      operators.Events.funnel(ev10, Seq("view", "click", "purchase")).show()
    }
    time("retention triangle 100k events (10x users)") {
      println("[scale] retention cells: " +
        operators.Events.retentionCohorts(ev10).count())
    }
    operators.CacheRegistry.release(spark)

    // CDC at 10x: a 150k-row changelog (10 copies of orders, distinct
    // seq) applied over a 150k-key base snapshot
    val cust = Tables.load(spark, sfDir, "customer")
    val cust10 = (0 until 10)
      .map(i => cust.withColumn("c_custkey", col("c_custkey") + lit(i * 1000000L)))
      .reduce(_ unionAll _)
    val orders = Tables.load(spark, sfDir, "orders")
    val ch10 = (0 until 10)
      .map(i => orders
        .withColumn("o_custkey", col("o_custkey") + lit(i * 1000000L))
        .withColumn("o_orderkey", col("o_orderkey") + lit(i * 100000000L)))
      .reduce(_ unionAll _)
      .select(col("o_custkey").as("c_custkey"),
        concat(lit("upd-"), col("o_orderkey")).as("c_name"),
        (col("o_orderkey") % 25).cast("int").as("c_nationkey"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderpriority").as("c_mktsegment"),
        when(col("o_orderkey") % 10 <= 5, "U")
          .when(col("o_orderkey") % 10 <= 7, "I").otherwise("D").as("op"),
        col("o_orderkey").as("seq"))
    time("cdc apply 150k-row changelog onto 150k-key base") {
      println("[scale] cdc snapshot rows: " +
        operators.Cdc.applyChangelog(cust10, ch10, "c_custkey", "seq").count())
    }

    // linkage at 10x: sub-blocked (nation, custkey%64) keys keep the
    // within-block quadratic bounded as the corpus grows
    time("record linkage 150k customers (1600 blocks)") {
      import operators.Linkage.LinkRule
      val rules = Seq(
        LinkRule("same_segment", 2.0, (a, b) => a("c_mktsegment") === b("c_mktsegment")),
        LinkRule("close_balance", 2.5, (a, b) => abs(a("c_acctbal") - b("c_acctbal")) < lit(50.0)))
      val blocked = cust10.withColumn("blk",
        col("c_nationkey") * 64 + pmod(col("c_custkey"), lit(64)))
      println("[scale] linkage pairs >= possible: " +
        operators.Linkage.linkPairs(blocked, "c_custkey", "blk", rules,
          matchAt = 4.5, possibleAt = 2.0).count())
    }

    // PQ ANN at 20k vectors: codes + broadcast ADC table + survivor re-rank
    time("pq top-k 20k vectors (m=4, ksub=16)") {
      println("[scale] pq rows: " +
        operators.Pq.pqTopK(emb10, emb10.filter(col("vec_id") < 20),
          k = 5, m = 4, ksub = 16, dim = 64).count())
    }
    operators.CacheRegistry.release(spark)

    // PageRank on the 10x all-dup corpus: the span cap bounds pair-gen
    // under extreme sharing (every span sits in ≥10 docs)
    time("pagerank over span-link graph, 50k all-dup docs") {
      val edges = operators.Graph.spanLinkEdges(docs10)
      println("[scale] pagerank nodes: " +
        operators.Graph.pageRank(edges, iters = 3).count())
    }
    operators.CacheRegistry.release(spark)

    // SCD2 + incremental agg on the 10x changelog
    time("scd2 history 150k-row changelog") {
      println("[scale] scd2 versions: " +
        operators.Cdc.scd2History(ch10, "c_custkey", "seq").count())
    }
    time("incremental agg maintenance 150k changelog onto 150k base") {
      println("[scale] incr agg groups: " +
        operators.Cdc.incrementalAgg(cust10, ch10, "c_custkey", "seq",
          "c_mktsegment", "c_acctbal").count())
    }

    // BPE at sf0.1 corpus vocabulary (6 rounds, vocabulary-sized state)
    val docsSf = Tables.load(spark, sfDir, "documents")
    time("bpe 6 merge rounds over sf0.1 vocabulary") {
      println("[scale] bpe merges: " +
        operators.Bpe.trainMerges(docsSf, rounds = 6).count())
    }
    time("bpe corpus tokenization sf0.1") {
      println("[scale] bpe tokenized docs: " +
        operators.Bpe.tokenizeCorpus(docsSf,
          operators.Bpe.trainMerges(docsSf, rounds = 6)).count())
    }
    operators.CacheRegistry.release(spark)

    // DSIR two-LM resampling at sf0.1
    time("dsir importance resampling sf0.1 (target lang=de)") {
      println("[scale] dsir kept: " +
        operators.Sampling.dsirResample(docsSf, col("lang") === "de").count())
    }
    operators.CacheRegistry.release(spark)

    // IVF storage index at 20k vectors: write + pruned probe
    time("ivf index write + pruned probe 20k vectors") {
      val ivfDir = java.nio.file.Files
        .createTempDirectory("scale-ivfidx").toString + "/ix"
      operators.Similarity.writeIvfIndex(emb10, ivfDir, numCentroids = 32)
      println("[scale] indexed probe rows: " +
        operators.Similarity.ivfTopKIndexed(spark, ivfDir,
          emb10.filter(col("vec_id") < 20), k = 5, nprobe = 2).count())
    }

    // containment at 10x all-dup corpus: the df cap must scale with the
    // duplication factor (every df is 10x hotter here — at the default
    // 64 nearly all shingles are capped out and containment, measured
    // against FULL per-doc sizes, can't reach any threshold)
    time("containment pairs 50k all-dup docs (df cap 640)") {
      println("[scale] containment pairs: " +
        operators.Dedup.containmentPairs(docs10, threshold = 0.5,
          maxShingleDf = 640).count())
    }
    operators.CacheRegistry.release(spark)

    // salted join at 10x: 150k facts x replicated dim
    time("salted join 150k orders x 150k customers (8 salts)") {
      println("[scale] salted join rows: " +
        operators.Skew.saltedJoin(
          (0 until 10).map(i => orders
            .withColumn("o_custkey", col("o_custkey") + lit(i * 1000000L))
            .withColumn("o_orderkey", col("o_orderkey") + lit(i * 100000000L)))
            .reduce(_ unionAll _)
            .withColumnRenamed("o_custkey", "c_custkey"),
          cust10.select("c_custkey", "c_mktsegment"),
          "c_custkey", "o_orderkey", saltBuckets = 8).count())
    }

    // text/eval telemetry at sf0.1: vocabulary-bounded aggregates
    time("collocations + cluster terms + gini + vocab growth, sf0.1") {
      println("[scale] collocations: " +
        operators.TextAnalysis.collocations(docsSf, minCount = 20, topK = 20).count())
      println("[scale] cluster terms: " +
        operators.Tfidf.clusterTopTerms(docsSf, "lang", topK = 10).count())
      println("[scale] gini docs: " +
        operators.TextAnalysis.tokenDiversity(docsSf).count())
      println("[scale] vocab growth slices: " +
        operators.TextAnalysis.vocabGrowth(docsSf, slices = 10).count())
    }
    // events telemetry at 10x users
    time("transitions + session stats 100k events (10x users)") {
      println("[scale] transitions: " +
        operators.Events.transitionMatrix(ev10).count())
      println("[scale] sessions: " +
        operators.Events.sessionStats(ev10).count())
    }

    // KMV per-source sketches on 50k docs: k-bounded state per group
    time("kmv overlap matrix 50k docs (k=64)") {
      val items = docs10
        .select(col("source"), operators.TextAnalysis.tokens(col("text")).as("__toks"))
        .select(col("source"), operators.Dedup.shinglesFromTokens(col("__toks"), 3).as("__sh"))
        .select(col("source"), explode_outer(col("__sh")).as("item"))
        .filter(col("item").isNotNull)
      val sk = operators.Sketches.kmvSketch(items, "item", Seq("source"), k = 64)
      println("[scale] kmv pairs: " +
        operators.Sketches.kmvPairOverlap(sk, "source", k = 64).count())
    }

    // superspreaders at 6.3M rows / 10k keys: the HLL candidate pass must
    // find two planted distinct-count spreaders under a 64-key candidate
    // budget (0.64% of the key space) and the exact recount must return
    // their true counts — certificate held or the query throws.
    time("superspreaders 6.3M rows, 10k keys, candidates=64") {
      // value stride 37 mod the prime 6007: each key's 600 ids hit 600
      // DISTINCT residues (37·10000 ≢ 0 mod 6007), so the background is
      // a genuine ~600-distinct floor, not a degenerate few-value cycle
      val bg = spark.range(6000000L).select(
        (col("id") % 10000L).as("key"),
        (col("id") * 37L % 6007L).cast("string").as("value"))
      val hot = spark.range(300000L).select(
        when(col("id") < 200000L, lit(20001L)).otherwise(lit(20002L)).as("key"),
        concat(lit("h"), col("id")).as("value")) // 200k + 100k distinct
      val got = operators.Sketches.superSpreaders(
        bg.unionByName(hot), "key", "value", k = 2, candidates = 64)
        .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("key"),
          r.getAs[Long]("n_distinct"))).toSeq
      println(s"[scale] superspreaders: $got")
      require(got == Seq((1, 20001L, 200000L), (2, 20002L, 100000L)),
        s"planted spreaders must surface exactly: $got")
    }

    // pareto frontier at 6M points: dominance audit without O(n²) — the
    // frontier must be an antichain, every sampled point must be covered
    // (equal-or-dominated) by a frontier point, and planting one apex
    // point must collapse the frontier to exactly it.
    time("pareto frontier 6M points: antichain + coverage + apex") {
      val pts = spark.range(6000000L).select(col("id"),
        (col("id") * 2654435761L % 100000L).as("x"),
        (col("id") * 40503L % 99991L).as("y"))
      val front = operators.Sampling.paretoFrontier(pts, "x", "y")
        .select(col("x").as("fx"), col("y").as("fy"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nF = front.count()
      val dominated = front.as("a").crossJoin(front.as("b"))
        .filter(col("b.fx") >= col("a.fx") && col("b.fy") >= col("a.fy") &&
          (col("b.fx") > col("a.fx") || col("b.fy") > col("a.fy")))
        .count()
      val sample = pts.filter(col("id") % 6007L === 0)
      val uncovered = sample.join(front,
          col("fx") >= col("x") && col("fy") >= col("y"), "left_anti")
        .count()
      println(s"[scale] pareto: frontier $nF, dominated-in-frontier " +
        s"$dominated, uncovered-of-${sample.count()} $uncovered")
      require(nF > 0 && dominated == 0L,
        "frontier must be a non-empty antichain")
      require(uncovered == 0L,
        "every sampled point must be equal-or-dominated by a frontier row")
      front.unpersist(blocking = false)
      val apex = operators.Sampling.paretoFrontier(
        pts.unionByName(spark.range(1).select(lit(-1L).as("id"),
          lit(100001L).as("x"), lit(100001L).as("y"))), "x", "y")
        .select("id").collect().map(_.getLong(0)).toSeq
      require(apex == Seq(-1L), s"planted apex must own the frontier: $apex")
    }

    // PCA at 200k x 64: the Gram pass streams 200k·2080 component pairs
    // through ≤ d² hash-agg cells per task (nothing corpus-sized
    // shuffles), and the fixed-8-round power spec must still recover a
    // PLANTED dominant direction from 64-dim wobble.
    time("pca: 200k x 64 planted anisotropy, gram + power + scores") {
      val d = 64
      val uRaw = Array.tabulate(d)(i => math.sin(i + 1.0) + 0.3)
      val uN = math.sqrt(uRaw.map(x => x * x).sum)
      val u = uRaw.map(_ / uN)
      val uCol = array(u.map(lit): _*)
      val emb = transform(sequence(lit(0), lit(d - 1)), i =>
        (element_at(uCol, i + 1) * sin(col("id") * 0.0012345) * 2.0
          + sin(col("id") * 1.23 + i.cast("double") * 3.7) * 0.05)
          .cast("float"))
      val big = spark.range(200000L)
        .select(col("id").as("vec_id"), emb.as("embedding"))
      val comp = operators.Pca.dominantComponent(big)
        .orderBy("pos").collect()
      val v = comp.map(_.getDouble(1))
      val cos = math.abs(v.zip(u).map { case (a, b) => a * b }.sum) /
        math.sqrt(v.map(x => x * x).sum)
      val lam = comp.head.getDouble(2)
      val nScores = operators.Pca.pc1Scores(big).count()
      println(f"[scale] pca: |cos(pc1,planted)| $cos%.6f eigval $lam%.4f " +
        s"scores $nScores")
      require(cos > 0.99, s"power spec must recover the planted axis: $cos")
      require(lam > 1.5 && lam < 2.5, s"eigval off the planted variance: $lam")
      require(nScores == 200000L, s"every vector must score: $nScores")
    }

    // exact KS at 12M values with an analytically known answer: B is A
    // shifted by N/10, so D = 0.1 exactly, attained first at shift-1 —
    // the two-level prefix scan must reproduce it bit-for-bit.
    time("ksDrift 2 x 6M values, planted 0.1 shift") {
      val n = 6000000L
      val a = spark.range(n).select(col("id").cast("double").as("v"))
      val b = spark.range(n).select((col("id") + n / 10L).cast("double").as("v"))
      val r = operators.Stats.ksDrift(a, b, "v").head()
      println(s"[scale] ks: d_stat ${r.getAs[Double]("d_stat")} at " +
        s"${r.getAs[Double]("at_value")}")
      require(r.getAs[Double]("d_stat") == 0.1 &&
        r.getAs[Double]("at_value") == (n / 10L - 1L).toDouble &&
        r.getAs[Double]("d_num") == (n / 10L * n).toDouble,
        s"planted-shift KS must be exact: $r")
    }

    // water-filling at 1.2M strata (the per-DOMAIN cardinality regime):
    // the ranking must ride the two-level scan — no unpartitioned
    // data-sized window — and the exact-integer invariants must hold at
    // that width: Σ allocation = budget, allocation ≤ n everywhere, the
    // tail kept whole, and the planted mega-strata capped at the level.
    time("waterfill 1.2M strata: exact spend, whole tail, capped head") {
      val k = 1200000L
      // strata 0..k-1 with n_docs = 1 + id % 7 (small tail), plus 10
      // planted giants of 1e6 docs each; rows are (stratum, n) pairs
      // pre-aggregated — feed waterfillBudget a row per doc via explode
      // would be 5M rows; instead synthesize the doc table directly
      val docs = spark.range(k)
        .select(concat(lit("s"), col("id")).as("stratum"),
          (lit(1L) + col("id") % 7L).as("__n"))
        .unionByName(spark.range(10L)
          .select(concat(lit("G"), col("id")).as("stratum"),
            lit(1000000L).as("__n")))
        .select(col("stratum"),
          explode(sequence(lit(1L), col("__n"))).as("__i"))
      val budget = 6000000L
      val out = operators.Sampling.waterfillBudget(docs, "stratum", budget)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the only unpartitioned window allowed is the offsets prefix over
      // the partition-count-sized __pid aggregate (the rocAuc contract)
      out.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }.foreach { w =>
        require(w.child.toString.contains("__pid"),
          s"waterfill runs an unpartitioned data-sized window:\n$w")
      }
      val agg = out.agg(sum("allocation"), count(lit(1)),
        sum(when(col("allocation") > col("n_docs"), 1L).otherwise(0L)),
        sum(when(col("capped"), 1L).otherwise(0L))).head()
      val (spent, nStrata, over, capped) = (agg.getLong(0), agg.getLong(1),
        agg.getLong(2), agg.getLong(3))
      println(s"[scale] waterfill: $nStrata strata, spent $spent/" +
        s"$budget, capped $capped, over-alloc $over")
      require(nStrata == k + 10, s"every stratum must be allocated: $nStrata")
      require(spent == budget, s"exact spend violated: $spent != $budget")
      require(over == 0L, "allocation must never exceed n_docs")
      require(capped == 10L,
        s"exactly the 10 planted giants must be capped: $capped")
      out.unpersist(blocking = false)
    }

    // HyperANF at 1M edges: three hops over a ring-of-cliques graph
    // (1000 cliques of 32, ring-linked) — register state must stay ≤
    // nodes × 2^p, and the known topology pins the estimates: inside a
    // clique h=1 reaches all 32, the ring spreads ~2 cliques per hop.
    time("hyperanf 1M-edge ring-of-cliques: bounded state, sane reach") {
      val cliques = 1000L
      val sz = 32L
      val intra = spark.range(cliques).select(col("id").as("c"))
        .select(col("c"), explode(sequence(lit(0L), lit(sz - 1))).as("i"))
        .select(col("c"), col("i"),
          explode(sequence(lit(0L), lit(sz - 1))).as("j"))
        .filter(col("i") < col("j"))
        .select((col("c") * sz + col("i")).as("src"),
          (col("c") * sz + col("j")).as("dst"))
      val ring = spark.range(cliques).select(
        (col("id") * sz).as("src"),
        (((col("id") + 1) % cliques) * sz).as("dst"))
      val nf = operators.Graph.neighborhoodFunction(
        intra.unionByName(ring), maxHops = 2, p = 8, corrected = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = cliques * sz
      val rows = nf.count()
      require(rows == 2L * n, s"every node must report per hop: $rows")
      // a clique member (not the bridge) reaches its 31 peers at h=1.
      // True reach ~32 << 2.5·256 is squarely the small-range regime —
      // the RAW estimate reads ~200 here (α·m bias; first run of this
      // stanza measured 199.7) — so the sanity gates grade the
      // linear-counting corrected column, which is what a user reads at
      // these cardinalities
      val mean = nf.groupBy("h").agg(avg("est_corrected").as("m"))
        .orderBy("h").collect().map(_.getDouble(1))
      println(f"[scale] hyperanf: corrected mean reach h1 ${mean(0)}%.1f h2 ${mean(1)}%.1f")
      require(mean(0) > 24 && mean(0) < 42,
        s"h=1 corrected mean must sit near clique size 32: ${mean(0)}")
      require(mean(1) > mean(0),
        "h=2 must extend reach through the ring bridges")
      nf.unpersist(blocking = false)
      operators.CacheRegistry.release(spark)
    }

    // k-center over 200k x 64 embeddings with planted far-flung probes:
    // 8 rounds must each be one corpus pass (wall linear in k), and the
    // three planted orthogonal outliers must be picked before any
    // in-cluster point.
    time("kcenter 200k x 64: planted outliers picked first") {
      val d = 64
      // dense blob near axis 0 + three planted pure-axis outliers
      val blob = spark.range(3L, 200000L).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(d - 1)), i =>
          (when(i === 0, lit(10.0)).otherwise(lit(0.0))
            + sin(col("id") * 0.37 + i.cast("double")) * 0.2).cast("float"))
          .as("embedding"))
      val outliers = spark.range(3L).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(d - 1)), i =>
          when(i === col("id") + 1, lit(5.0)).otherwise(lit(0.0))
            .cast("float")).as("embedding"))
      val picks = operators.Similarity.kCenterSample(
          blob.unionByName(outliers), k = 5)
        .orderBy("rank").collect().map(_.getLong(1))
      println(s"[scale] kcenter picks: ${picks.mkString(", ")}")
      require(Set(0L, 1L, 2L).subsetOf(picks.take(4).toSet),
        s"the three orthogonal outliers must be picked within the " +
          s"first four rounds: ${picks.toSeq}")
      operators.CacheRegistry.release(spark)
    }

    // exact duplicate spans at 200k docs / 12M stride-1 windows: the
    // candidate set (and so the verify join and island merge) must be
    // bounded by the DUPLICATED text volume — planting 10× the
    // boilerplate docs into the SAME corpus must grow the reported
    // window mass exactly 10×, with exact [5, 35) boundaries on every
    // planted doc and no unpartitioned window anywhere in the plan.
    time("duplicateSpansExact 200k docs: 10x duplication stays bucket-bounded") {
      val bp = (1 to 30).map(i => s"bp$i").mkString(" ")
      def corpus(plantEvery: Long) = spark.range(200000L).select(
        col("id").as("doc_id"),
        concat_ws(" ",
          concat_ws(" ", transform(sequence(lit(0), lit(4)),
            j => concat(lit("u"), col("id"), lit("x"), j))),
          when(col("id") % plantEvery === 0L, lit(bp))
            .otherwise(concat_ws(" ", transform(sequence(lit(0), lit(29)),
              j => concat(lit("w"), col("id"), lit("y"), j)))),
          concat_ws(" ", transform(sequence(lit(0), lit(24)),
            j => concat(lit("v"), col("id"), lit("z"), j)))).as("text"))
      def spanStats(plantEvery: Long): (Long, Long, Long) = {
        val out = operators.Dedup.duplicateSpansExact(corpus(plantEvery), 16)
        out.queryExecution.sparkPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
        }.foreach { w => require(false,
          s"duplicateSpansExact runs an unpartitioned window:\n$w") }
        val r = out.agg(count(lit(1)), sum("n_windows"),
          sum(when(col("span_start") === 5L && col("span_end") === 35L, 1L)
            .otherwise(0L))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      val (s1, w1, e1) = spanStats(100L)   // 2k planted docs
      val (s10, w10, e10) = spanStats(10L) // 20k planted docs, same corpus size
      println(s"[scale] dupspans-exact: 1x -> $s1 spans/$w1 windows, " +
        s"10x -> $s10 spans/$w10 windows")
      require(s1 == 2000L && e1 == 2000L && w1 == 2000L * 15,
        s"1x planting must report exactly its spans: $s1/$w1/$e1")
      require(s10 == 20000L && e10 == 20000L && w10 == 20000L * 15,
        s"10x planting must scale the report exactly 10x: $s10/$w10/$e10")
      operators.CacheRegistry.release(spark)
    }

    // SpanStore probe at a 10× store / fixed tiny batch (r16 verdict
    // task 1): the probe's SHUFFLE volume must track the batch and its
    // duplication, never the store. Both stores carry the SAME 250
    // boilerplate docs (so the batch's matching rows are identical);
    // the 10× store only adds non-matching content — if the probe
    // aggregated whole shards before joining, its shuffle records
    // would grow ~10×; with the semi-join-before-aggregate shape they
    // must stay flat.
    time("SpanStore probe: 10x store, fixed batch, flat shuffle volume") {
      // sum shuffle records written across the executed (adaptive)
      // plan, crossing AQE stage boundaries
      def shuffleRecords(p: org.apache.spark.sql.execution.SparkPlan): Long = {
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        val here = p.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        here + kids.map(shuffleRecords).sum
      }
      val bp = (1 to 20).map(i => s"bp$i").mkString(" ")
      def corpus(n: Long) = spark.range(n).select(
        col("id").as("doc_id"),
        concat_ws(" ",
          concat_ws(" ", transform(sequence(lit(0), lit(29)),
            j => concat(lit("u"), col("id"), lit("x"), j))),
          when(col("id") < 250L, lit(bp))
            .otherwise(concat_ws(" ", transform(sequence(lit(0), lit(19)),
              j => concat(lit("v"), col("id"), lit("y"), j))))).as("text"))
      val batch = spark.range(10000000L, 10000200L).select(
        col("id").as("doc_id"),
        concat_ws(" ",
          concat_ws(" ", transform(sequence(lit(0), lit(29)),
            j => concat(lit("b"), col("id"), lit("x"), j))),
          when(col("id") % 4 === 0L, lit(bp))
            .otherwise(concat_ws(" ", transform(sequence(lit(0), lit(19)),
              j => concat(lit("c"), col("id"), lit("y"), j))))).as("text"))
      val sdir = java.nio.file.Files.createTempDirectory("spanscale").toString
      operators.SpanStore.write(corpus(50000L), s"$sdir/s1", minTokens = 16)
      operators.SpanStore.write(corpus(500000L), s"$sdir/s10", minTokens = 16)
      def probeShuffle(store: String): (Long, Long) = {
        val out = operators.SpanStore.probe(spark, batch, store)
        // execute the frame's OWN QueryExecution (count()/noop-save
        // would plan a fresh one and leave these metrics untouched)
        val hits = out.queryExecution.toRdd.count()
        val rec = shuffleRecords(out.queryExecution.executedPlan)
        operators.CacheRegistry.release(spark)
        (hits, rec)
      }
      val (h1, r1) = probeShuffle(s"$sdir/s1")
      val (h10, r10) = probeShuffle(s"$sdir/s10")
      val storeRows10 = spark.read.parquet(s"$sdir/s10").count()
      println(s"[scale] spanstore probe: 1x hits=$h1 shuffled=$r1, " +
        s"10x hits=$h10 shuffled=$r10, 10x store rows=$storeRows10")
      require(h1 == h10 && h1 > 0,
        s"identical matching content must hit identically: $h1 vs $h10")
      require(r10 <= r1 * 3 / 2 + 1000,
        s"probe shuffle volume grew with STORE size ($r1 -> $r10): the " +
          "semi-join-before-aggregate shape is broken")
      require(r1 < storeRows10 / 10 / 5,
        s"probe shuffle volume ($r1) is store-proportional " +
          s"(1x store has ~${storeRows10 / 10} rows)")
      // the FULL curate lineage (probe -> trim -> drop -> append
      // survivors) on the same stores: wall must track the batch, not
      // the store — the decontaminate-at-ingest 100 TB claim. Identical
      // batch + identical matching content => identical audits; the
      // 10x run may cost more IO (bigger dirs to list) but bounded.
      def curate(store: String): (Long, Long, Double) = {
        val t0 = System.nanoTime()
        val audit = operators.SpanStore.ingestCurate(spark, batch, store)
        val trimmed = audit.filter(col("n_tokens_kept") < col("n_tokens_before")).count()
        val dropped = audit.filter(col("dropped")).count()
        (trimmed, dropped, (System.nanoTime() - t0) / 1e9)
      }
      val (t1, d1, w1c) = curate(s"$sdir/s1")
      val (t10, d10, w10c) = curate(s"$sdir/s10")
      println(f"[scale] ingest-curate: 1x trimmed=$t1 dropped=$d1 ($w1c%.1f s), " +
        f"10x trimmed=$t10 dropped=$d10 ($w10c%.1f s)")
      require(t1 == t10 && d1 == d10 && t1 > 0,
        s"same batch vs same matching content must curate identically: " +
          s"($t1,$d1) vs ($t10,$d10)")
      require(w10c < w1c * 3 + 5,
        f"curate wall grew with STORE size ($w1c%.1f -> $w10c%.1f s)")
      // Bloom sidecar on the 10x store: (a) the candidate set the probe
      // plans the store scan around must be duplication-proportional —
      // true dup prints plus the sized-in FP share — not batch-print-
      // proportional; (b) a fully-novel batch must be cleared WITHOUT
      // opening a single store file (the scan's partition IN-list goes
      // empty), the zero-I/O admission path a 100 TB trickle lives on.
      operators.SpanStore.writeBloom(spark, s"$sdir/s10")
      val bPrints = operators.SpanStore.printsOf(spark, batch, s"$sdir/s10")
        .select("shard", "span_md5").distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nPrints = bPrints.count()
      val nMaybe = operators.SpanStore.bloomMaybe(spark, bPrints, s"$sdir/s10").count()
      val nDup = operators.SpanStore.probe(spark, batch, s"$sdir/s10",
        useBloom = false).select("span_md5").distinct().count()
      bPrints.unpersist(false)
      operators.CacheRegistry.release(spark)
      println(s"[scale] spanstore bloom: batch prints=$nPrints, " +
        s"bloom candidates=$nMaybe, true dup prints=$nDup")
      require(nMaybe >= nDup, "bloom false negative: exact dups were cleared")
      require(nMaybe <= nDup + nPrints / 20 + 10,
        s"bloom candidates ($nMaybe) not duplication-proportional " +
          s"(dups=$nDup, prints=$nPrints): FP rate beyond the sized-in budget")
      def storeScanRows(p: org.apache.spark.sql.execution.SparkPlan): Long = {
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        val here = p match {
          case f: org.apache.spark.sql.execution.FileSourceScanLike
            if f.relation.location.rootPaths.exists(_.toString.endsWith("/s10")) =>
            f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          case _ => 0L
        }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        here + kids.map(storeScanRows).sum
      }
      val novel = spark.range(20000000L, 20000200L).select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(29)),
          j => concat(lit("z"), col("id"), lit("q"), j))).as("text"))
      val novelOut = operators.SpanStore.probe(spark, novel, s"$sdir/s10")
      require(novelOut.queryExecution.toRdd.count() == 0L,
        "novel batch must produce no hits")
      val scanned = storeScanRows(novelOut.queryExecution.executedPlan)
      operators.CacheRegistry.release(spark)
      println(s"[scale] spanstore bloom: novel batch scanned $scanned store rows")
      require(scanned == 0L,
        s"bloom-cleared batch still read $scanned store rows — the " +
          "zero-I/O admission path is broken")
      // takedown at the 10x store (r18): forget 50 of the 250
      // boilerplate docs, re-probe. Gates: (a) serving answers account
      // for EXACTLY the forgotten docs (max n_store_docs drops by 50),
      // (b) probe shuffle volume stays in the duplication-proportional
      // class (the tombstone anti-join rides already-bounded rows),
      // (c) the anti-join plans as a BROADCAST hash join — a shuffled
      // anti-join would re-key store rows on every probe at takedown
      // cadence, the exact cost class the whole probe path avoids.
      def probeMeasured(): (Long, Long, Long, String) = {
        val out = operators.SpanStore.probe(spark, batch, s"$sdir/s10",
          useBloom = false)
        val hits = out.queryExecution.toRdd.count()
        val mx = out.agg(coalesce(max("n_store_docs"), lit(0L)))
          .head().getLong(0)
        val rec = shuffleRecords(out.queryExecution.executedPlan)
        val plan = out.queryExecution.executedPlan.toString
        operators.CacheRegistry.release(spark)
        (hits, mx, rec, plan)
      }
      // baseline on the store AS IT NOW STANDS (the curate stage above
      // appended the batch's survivors, so the batch self-reports ~6k
      // print hits) — the takedown comparison must be same-store
      val (hPre, mxPre, recPre, _) = probeMeasured()
      operators.SpanStore.forget(spark,
        spark.range(0L, 250L, 5L).select(col("id").as("doc_id")),
        s"$sdir/s10")
      val (hPost, mxPost, recPost, planPost) = probeMeasured()
      println(s"[scale] spanstore forget: hits $hPre -> $hPost, " +
        s"max n_store_docs $mxPre -> $mxPost, " +
        s"shuffled $recPre -> $recPost")
      require(mxPre - mxPost == 50L,
        s"takedown not reflected in serving: max n_store_docs " +
          s"$mxPre -> $mxPost (expected a drop of exactly 50)")
      require(hPost == hPre,
        s"print hit set changed ($hPre -> $hPost): shared prints must " +
          "stay hits while their doc counts shed the forgotten docs")
      require(recPost <= recPre * 3 / 2 + 1000,
        s"tombstoned probe shuffle volume left the duplication class " +
          s"($recPre -> $recPost)")
      require(planPost.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
        "tombstone filter did not plan as a broadcast anti-join")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(sdir))
    }
    // StoreUpkeep under a LONG ingest loop (r18 verdict task 6): the
    // policy exists to claim "N appends with maybeCompact keep the
    // store's small-file health bounded while serving stays correct
    // across every mid-loop swap" — this drives 250 appends through an
    // LSH store at the DOCUMENTED 64-file trigger (both the widest
    // bucket partition and the sigs sidecar grow ~1 file per append, so
    // the loop crosses the trigger ≥3 times), asserting after every
    // step that post-upkeep health is within the documented bound, and
    // at every FIRED compaction that the full pair-serving answer is
    // unchanged across the in-place swap.
    time("storeupkeep 250-append ingest loop (64-file trigger)") {
      val sdir = java.nio.file.Files.createTempDirectory("scale-upkeep")
        .toString
      val idx = s"$sdir/lsh"
      // synthetic corpus with planted near-dup structure: pairs exist at
      // every loop point, so "serving unchanged" gates real answers.
      // 500 docs, 250 batches of 2, ids dense from 0
      val corpus = spark.range(500L).select(col("id").as("doc_id"),
        concat_ws(" ",
          transform(sequence(lit(0), lit(24)),
            j => concat(lit("w"), pmod(col("id"), lit(50L)), lit("x"), j)))
          .as("text"))
      operators.LshIndex.write(corpus.filter(col("doc_id") < 2), idx,
        nShards = 2)
      def pairCount(): Long = {
        val n = operators.LshIndex.lshPairs(spark, idx)
          .queryExecution.toRdd.count()
        operators.CacheRegistry.release(spark)
        n
      }
      var fired = 0
      var worstPart = 0
      var worstSidecar = 0
      for (b <- 1 until 250) {
        operators.LshIndex.append(spark,
          corpus.filter(col("doc_id") >= 2L * b && col("doc_id") < 2L * (b + 1)),
          idx)
        val h = operators.StoreUpkeep.health(spark, idx,
          operators.StoreUpkeep.LshKind)
        worstPart = math.max(worstPart, h.maxPartitionFiles)
        worstSidecar = math.max(worstSidecar, h.sidecarFiles)
        if (operators.StoreUpkeep.needsCompaction(h)) {
          val before = pairCount()
          operators.StoreUpkeep.compactInPlace(spark, idx,
            operators.StoreUpkeep.LshKind)
          val after = pairCount()
          require(after == before && before > 0L,
            s"serving changed across the mid-loop swap at append $b: " +
              s"$before -> $after pairs")
          fired += 1
        }
        val hPost = operators.StoreUpkeep.health(spark, idx,
          operators.StoreUpkeep.LshKind)
        require(hPost.maxPartitionFiles <= 64 && hPost.sidecarFiles <= 64,
          s"post-upkeep health out of bounds at append $b: $hPost")
      }
      println(s"[scale] storeupkeep loop: $fired compactions fired, " +
        s"worst pre-upkeep health: partitions $worstPart files, " +
        s"sidecar $worstSidecar files")
      require(fired >= 3,
        s"loop must cross the 64-file trigger >= 3 times, fired $fired")
      // pre-upkeep worst stays within one append of the trigger: an
      // append may land a few sidecar files (the sigs write's task
      // count), never a backlog (measured: partitions 36, sidecar 66)
      require(worstPart <= 64 + 8 && worstSidecar <= 64 + 8,
        s"health ran away before upkeep reacted: partitions $worstPart, " +
          s"sidecar $worstSidecar")
      // end-to-end: the loop-built store serves the cold-build answer
      val cold = s"$sdir/cold"
      operators.LshIndex.write(corpus, cold, nShards = 2)
      val want = operators.LshIndex.lshPairs(spark, cold)
        .queryExecution.toRdd.count()
      val got = pairCount()
      require(got == want,
        s"loop-built store serves $got pairs, cold build serves $want")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(sdir))
    }
    // The GENERATIONAL twin of the loop above (r19 verdict task 5): the
    // always-on protocol had only unit-level laws — this drives the same
    // 250-append ingest through `maybeCompact(generational = true)`, so
    // every fired compaction is a pointer FLIP instead of an in-place
    // rename. Gates, at every append: post-upkeep health within the
    // documented bound, AND at most two generations on disk (serving +
    // the grace window — the retention contract that bounds storage at
    // 2× instead of leaking a generation per compaction); at every FIRED
    // flip: full pair-serving equality across it; at the end: the
    // loop-built store serves the cold-build answer.
    time("storeupkeep generational 250-append ingest loop (64-file trigger)") {
      val sdir = java.nio.file.Files.createTempDirectory("scale-upkeep-gen")
        .toString
      val idx = s"$sdir/lsh"
      val corpus = spark.range(500L).select(col("id").as("doc_id"),
        concat_ws(" ",
          transform(sequence(lit(0), lit(24)),
            j => concat(lit("w"), pmod(col("id"), lit(50L)), lit("x"), j)))
          .as("text"))
      operators.LshIndex.write(corpus.filter(col("doc_id") < 2), idx,
        nShards = 2)
      def pairCount(): Long = {
        val n = operators.LshIndex.lshPairs(spark, idx)
          .queryExecution.toRdd.count()
        operators.CacheRegistry.release(spark)
        n
      }
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val baseName = new org.apache.hadoop.fs.Path(idx).getName
      def generationsOnDisk(): Seq[String] =
        fs.listStatus(new org.apache.hadoop.fs.Path(sdir)).toSeq
          .map(_.getPath.getName)
          .filter(n => n == baseName || (n.startsWith(baseName + "_g") &&
            n.stripPrefix(baseName + "_g").forall(_.isDigit)))
      var fired = 0
      for (b <- 1 until 250) {
        operators.LshIndex.append(spark,
          corpus.filter(col("doc_id") >= 2L * b && col("doc_id") < 2L * (b + 1)),
          idx)
        val h = operators.StoreUpkeep.health(spark, idx,
          operators.StoreUpkeep.LshKind)
        if (operators.StoreUpkeep.needsCompaction(h)) {
          val before = pairCount()
          require(operators.StoreUpkeep.maybeCompact(spark, idx,
            operators.StoreUpkeep.LshKind, generational = true),
            s"policy measured over-threshold but did not fire at append $b")
          val after = pairCount()
          require(after == before && before > 0L,
            s"serving changed across the generation flip at append $b: " +
              s"$before -> $after pairs")
          fired += 1
        }
        val hPost = operators.StoreUpkeep.health(spark, idx,
          operators.StoreUpkeep.LshKind)
        require(hPost.maxPartitionFiles <= 64 && hPost.sidecarFiles <= 64,
          s"post-upkeep health out of bounds at append $b: $hPost")
        val gens = generationsOnDisk()
        require(gens.size <= 2,
          s"generation retention leaked at append $b: ${gens.sorted}")
      }
      val genNow = operators.StoreGen.generation(idx)
      println(s"[scale] generational upkeep loop: $fired flips fired, " +
        s"serving generation $genNow, on disk: " +
        generationsOnDisk().sorted.mkString(", "))
      require(fired >= 3,
        s"loop must cross the 64-file trigger >= 3 times, fired $fired")
      require(genNow == fired.toLong,
        s"each fired compaction must be exactly one flip: gen $genNow " +
          s"after $fired")
      // end-to-end: the loop-built generational store serves the
      // cold-build answer
      val cold = s"$sdir/cold"
      operators.LshIndex.write(corpus, cold, nShards = 2)
      val want = operators.LshIndex.lshPairs(spark, cold)
        .queryExecution.toRdd.count()
      val got = pairCount()
      require(got == want,
        s"loop-built store serves $got pairs, cold build serves $want")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(sdir))
    }
    operators.CacheRegistry.release(spark)
  }
}
