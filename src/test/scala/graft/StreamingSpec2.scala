package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streaming

/** Second half of the streaming specs (split out of StreamingSpec so the
  * two classes run as concurrent forked suites; purely mechanical, no
  * test changed).
  */
class StreamingSpec2 extends AnyFunSuite {
  import TestSpark.spark

  private def tmpDir(prefix: String): Path = Files.createTempDirectory(prefix)

  test("streaming gauntlet-ingest equals the driver loop incl. both stores' serving; replay fence holds") {
    val docsDir = tmpDir("stream-gauntlet")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val scratch = tmpDir("stream-gauntlet-scratch")
      df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = Files.list(scratch).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, docsDir.resolve(name))
    }
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)
    addFile(b0, "f0.parquet"); addFile(b1, "f1.parquet"); addFile(b2, "f2.parquet")
    val lsh = tmpDir("stream-gauntlet-lsh").toString + "/lsh"
    val span = tmpDir("stream-gauntlet-span").toString + "/span"
    val audit = tmpDir("stream-gauntlet-audit").toString + "/audit"
    val ckpt = tmpDir("stream-gauntlet-ckpt").toString
    Streaming.streamingGauntletIngest(spark, docsDir.toString, lsh, span,
      audit, maxFilesPerTrigger = Some(1), checkpointDir = Some(ckpt))
    // driver-loop twin: seed both stores with b0, gauntlet b1 then b2
    // exactly as the micro-batches did
    val tLsh = tmpDir("stream-gauntlet-tlsh").toString + "/lsh"
    val tSpan = tmpDir("stream-gauntlet-tspan").toString + "/span"
    graft.operators.LshIndex.write(b0, tLsh)
    graft.operators.SpanStore.write(b0, tSpan, minTokens = 16)
    def gauntlet(b: org.apache.spark.sql.DataFrame) = {
      val d = graft.operators.LshIndex.ingestDedup(spark, b, tLsh,
        threshold = 0.8)
      val c = graft.operators.SpanStore.ingestCurate(spark,
        d.filter(!col("dropped")).select("doc_id", "text"), tSpan)
      d.select(col("doc_id"), col("text").as("__orig"),
          col("n_store_dups"), col("n_batch_dups"),
          col("dropped").as("dedup_dropped"))
        .join(c.select(col("doc_id"), col("text").as("__cur"),
            col("n_tokens_before"), col("n_tokens_kept"),
            col("dropped").as("curate_dropped")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("__cur"), col("__orig")).as("text"),
          col("n_store_dups"), col("n_batch_dups"), col("dedup_dropped"),
          coalesce(col("n_tokens_before"), lit(-1L)).as("n_tokens_before"),
          coalesce(col("n_tokens_kept"), lit(-1L)).as("n_tokens_kept"),
          coalesce(col("curate_dropped"), lit(false)).as("curate_dropped"))
    }
    val a1 = gauntlet(b1); val a2 = gauntlet(b2)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "text", "n_store_dups", "n_batch_dups",
        "dedup_dropped", "n_tokens_before", "n_tokens_kept",
        "curate_dropped")
      .collect().map(_.toSeq).toSet
    val streamed = rows(spark.read.parquet(audit)
      .filter(col("doc_id") % 3 =!= 0))
    assert(streamed == rows(a1.unionByName(a2)) && streamed.nonEmpty,
      "streamed gauntlet audit must equal the driver loop's")
    // and some doc actually exercised each verdict kind on this corpus
    val auditAll = spark.read.parquet(audit)
    assert(auditAll.filter(col("dedup_dropped")).count() > 0,
      "law vacuous: no stage-1 drop in the draw")
    // post-ingest serving of BOTH stores must match the driver loop's
    def pairs(dir: String) = graft.operators.LshIndex.lshPairs(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(pairs(lsh) == pairs(tLsh), "LSH serving diverged")
    val probeDocs = docs.filter(col("doc_id") < 5)
    def probed(dir: String) = graft.operators.SpanStore
      .probe(spark, probeDocs, dir).collect().map(_.toSeq).toSet
    assert(probed(span) == probed(tSpan), "span serving diverged")
    graft.operators.CacheRegistry.release(spark)
    // replay fence: same stream, same checkpoint — no growth in either
    // store or the audit (a replayed batch would otherwise drop
    // everything against its own survivors, twice over)
    val counts = Seq(audit, lsh, lsh + "_sigs", span)
      .map(p => spark.read.parquet(p).count())
    Streaming.streamingGauntletIngest(spark, docsDir.toString, lsh, span,
      audit, maxFilesPerTrigger = Some(1), checkpointDir = Some(ckpt))
    assert(Seq(audit, lsh, lsh + "_sigs", span)
      .map(p => spark.read.parquet(p).count()) == counts,
      "replayed gauntlet stream moved a store or the audit")
  }

  test("streaming publish-ingest equals the driver loop; published shards immutable; replay fence holds") {
    val docsDir = tmpDir("stream-publish")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val scratch = tmpDir("stream-publish-scratch")
      df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = Files.list(scratch).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, docsDir.resolve(name))
    }
    // CONTIGUOUS id batches (the appendShards contract: ascending ids)
    val b0 = docs.filter(col("doc_id") < 167)
    val b1 = docs.filter(col("doc_id") >= 167 && col("doc_id") < 333)
    val b2 = docs.filter(col("doc_id") >= 333)
    addFile(b0, "f0.parquet"); addFile(b1, "f1.parquet"); addFile(b2, "f2.parquet")
    val shards = tmpDir("stream-publish-shards").toString + "/shards"
    val manifests = tmpDir("stream-publish-man").toString + "/m"
    val ckpt = tmpDir("stream-publish-ckpt").toString
    Streaming.streamingPublishIngest(spark, docsDir.toString, shards,
      manifests, nShards = 4, maxFilesPerTrigger = Some(1),
      checkpointDir = Some(ckpt))
    // driver-loop twin over the same contiguous batches
    val tShards = tmpDir("stream-publish-twin").toString + "/shards"
    graft.operators.Layout.publishInit(spark, b0, tShards, nShards = 4)
    graft.operators.Layout.appendShards(spark, b1, tShards)
    val twinFinal = graft.operators.Layout.appendShards(spark, b2, tShards)
      .collect().map(_.toSeq).toSet
    def manifestOf(dir: String) = graft.operators.Layout.shardManifest(
        spark.read
          .schema("doc_id BIGINT, text STRING, n_tokens BIGINT, shard_id INT")
          .parquet(dir))
      .collect().map(_.toSeq).toSet
    val streamedFinal = manifestOf(shards)
    assert(streamedFinal == twinFinal && streamedFinal.nonEmpty,
      "streamed export must equal the driver loop's")
    // the manifest audit log proves immutability batch over batch:
    // every shard row of an earlier batch's manifest reappears verbatim
    // in the final manifest (published bytes never moved)
    val logged = spark.read.parquet(manifests).collect().map(_.toSeq).toSet
    assert(logged.nonEmpty && logged.forall(streamedFinal.contains),
      "a published shard's manifest row changed across later batches")
    // replay fence: same stream, same checkpoint — nothing republishes
    val nRows = spark.read.parquet(shards).count()
    val nMan = spark.read.parquet(manifests).count()
    Streaming.streamingPublishIngest(spark, docsDir.toString, shards,
      manifests, nShards = 4, maxFilesPerTrigger = Some(1),
      checkpointDir = Some(ckpt))
    assert(spark.read.parquet(shards).count() == nRows &&
      spark.read.parquet(manifests).count() == nMan,
      "replayed publish stream moved the export")
  }

  test("LSH in-place compaction: widest shard shrinks, pair set unchanged") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val store = tmpDir("lsh-compact-inplace").toString + "/store"
    graft.operators.LshIndex.write(docs.filter(col("doc_id") % 3 === 0), store)
    graft.operators.LshIndex.append(
      spark, docs.filter(col("doc_id") % 3 === 1), store)
    graft.operators.LshIndex.append(
      spark, docs.filter(col("doc_id") % 3 === 2), store)
    val fs = new org.apache.hadoop.fs.Path(store).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val before = Streaming.maxFilesPerShard(fs, store)
    assert(before >= 2, s"two appends must grow a shard past 1 file: $before")
    val pairsBefore = graft.operators.LshIndex.lshPairs(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    graft.operators.CacheRegistry.release(spark)
    Streaming.compactLshInPlace(spark, fs, store)
    assert(Streaming.maxFilesPerShard(fs, store) == 1,
      "compaction must leave one file per shard")
    val pairsAfter = graft.operators.LshIndex.lshPairs(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    graft.operators.CacheRegistry.release(spark)
    assert(pairsAfter == pairsBefore && pairsAfter.nonEmpty,
      "in-place compaction must preserve the store's pair set")
    // a further append still works against the compacted store (the
    // frozen geometry sidecar survived the three-directory swap)
    graft.operators.LshIndex.append(
      spark, docs.filter(col("doc_id") % 3 === 0), store, dedupeIds = true)
    assert(graft.operators.LshIndex.lshPairs(spark, store)
      .collect().length == pairsBefore.size)
    graft.operators.CacheRegistry.release(spark)
  }

  test("streaming sketch ingest equals a cold store build, and replays are no-ops") {
    import graft.operators.SketchStore
    val evDir = tmpDir("stream-sketch")
    val raw = Tables.loadEvents(spark, "/root/testdata/sf0.001")
    // two ordered files + maxFilesPerTrigger=1: file 1 cold-builds the
    // store (frozen geometry sidecar), file 2 goes through the append
    // path — both halves of the ingest exercised in one run
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val scratch = tmpDir("stream-sketch-scratch")
      df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = Files.list(scratch).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, evDir.resolve(name))
    }
    addFile(raw.filter(col("event_id") % 2 === 0), "f1.parquet")
    addFile(raw.filter(col("event_id") % 2 === 1), "f2.parquet")
    val store = tmpDir("stream-sketch-store").toString + "/store"
    val ckpt = tmpDir("stream-sketch-ckpt").toString
    Streaming.streamingSketchIngest(spark, evDir.toString, store,
      maxFilesPerTrigger = Some(1), checkpointDir = Some(ckpt))
    val jan1 = 1704067200000L
    val feb1 = 1706745600000L
    val got = SketchStore.quantiles(spark, store, jan1, feb1)
      .orderBy("event_type").collect().toSeq
    // partials merge by addition in any split, so the streamed store
    // must serve exactly what a one-shot cold build over ALL events does
    val coldStore = tmpDir("stream-sketch-cold").toString + "/store"
    SketchStore.write(raw, coldStore)
    val cold = SketchStore.quantiles(spark, coldStore, jan1, feb1)
      .orderBy("event_type").collect().toSeq
    assert(got == cold && got.nonEmpty,
      s"streamed store must serve the cold-build answers: $got vs $cold")
    // re-running the same AvailableNow stream from the same checkpoint
    // sees no new files — counts must NOT double (the fencing matters
    // more here than elsewhere: sketch counts have no dedupe identity)
    val rowsBefore = spark.read.parquet(store).count()
    Streaming.streamingSketchIngest(spark, evDir.toString, store,
      maxFilesPerTrigger = Some(1), checkpointDir = Some(ckpt))
    assert(spark.read.parquet(store).count() == rowsBefore)
  }

  test("streaming score histogram + batch finishers equal batch AUC/AP") {
    import graft.operators.Eval
    val dir = tmpDir("stream-eval")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // two files so the Complete-mode aggregate accumulates across
    // micro-batches (maxFilesPerTrigger = 1)
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(dir.toString + "/f1")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.parquet(dir.toString + "/f2")
    val merged = tmpDir("stream-eval-in")
    for (f <- Seq("f1", "f2")) {
      val part = Files.list(java.nio.file.Paths.get(dir.toString, f))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, merged.resolve(f + ".parquet"))
    }
    val streamed = Streaming.runAvailableNow(
      Streaming.streamingScoreHistogram(spark, merged.toString,
        "n_chars", "lang = 'en'", maxFilesPerTrigger = Some(1)),
      "score_hist")
    val aucS = Eval.rocAucFromHistogram(streamed).head()
    val aucB = Eval.rocAuc(docs, "n_chars", col("lang") === "en").head()
    assert(aucS == aucB, s"streamed AUC $aucS vs batch $aucB")
    val apS = Eval.averagePrecisionFromHistogram(streamed).head()
    val apB = Eval.averagePrecision(docs, "n_chars",
      col("lang") === "en").head()
    assert(apS == apB, s"streamed AP $apS vs batch $apB")
  }

  test("streaming KS histogram + batch finisher equals batch ksDrift") {
    import graft.operators.Stats
    val dir = tmpDir("stream-ks")
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    // two files so the Complete-mode aggregate accumulates across
    // micro-batches; side membership is l_orderkey parity, the q_drift
    // convention
    li.filter(col("l_partkey") % 2 === 0).coalesce(1)
      .write.parquet(dir.toString + "/f1")
    li.filter(col("l_partkey") % 2 === 1).coalesce(1)
      .write.parquet(dir.toString + "/f2")
    val merged = tmpDir("stream-ks-in")
    for (f <- Seq("f1", "f2")) {
      val part = Files.list(java.nio.file.Paths.get(dir.toString, f))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, merged.resolve(f + ".parquet"))
    }
    val streamed = Streaming.runAvailableNow(
      Streaming.streamingKsHistogram(spark, merged.toString,
        "l_extendedprice", "l_orderkey % 2 = 0", maxFilesPerTrigger = Some(1)),
      "ks_hist")
    val ksS = Stats.ksDriftFromHistogram(streamed).head()
    val ksB = Stats.ksDrift(
      li.filter(col("l_orderkey") % 2 === 0),
      li.filter(col("l_orderkey") % 2 === 1), "l_extendedprice").head()
    assert(ksS == ksB, s"streamed KS $ksS vs batch $ksB")
    assert(ksB.getAs[Double]("d_num") >= 0.0)
  }

  test("streaming HLL-store ingest equals a cold build; replayed batches cannot move answers") {
    import graft.operators.HllStore
    val evDir = tmpDir("stream-hll")
    val raw = Tables.loadEvents(spark, "/root/testdata/sf0.001")
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val scratch = tmpDir("stream-hll-scratch")
      df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = Files.list(scratch).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, evDir.resolve(name))
    }
    // file 2 OVERLAPS file 1 (evens ∪ all) — a producer-side redelivery
    // the source checkpoint cannot see; register max-merge must absorb
    // it without any dedupe machinery (the contrast with the quantile
    // twin, where only the batchId fence stands between a replay and
    // doubled counts)
    addFile(raw.filter(col("event_id") % 2 === 0), "f1.parquet")
    addFile(raw, "f2.parquet")
    val store = tmpDir("stream-hll-store").toString + "/store"
    val ckpt = tmpDir("stream-hll-ckpt").toString
    Streaming.streamingHllIngest(spark, evDir.toString, store,
      maxFilesPerTrigger = Some(1), checkpointDir = Some(ckpt))
    val jan1 = 1704067200000L
    val feb1 = 1706745600000L
    val got = HllStore.distinct(spark, store, jan1, feb1)
      .orderBy("event_type").collect().toSeq
    val coldStore = tmpDir("stream-hll-cold").toString + "/store"
    HllStore.write(raw, coldStore)
    val cold = HllStore.distinct(spark, coldStore, jan1, feb1)
      .orderBy("event_type").collect().toSeq
    assert(got == cold && got.nonEmpty,
      s"streamed store must serve the cold-build answers: $got vs $cold")
    // checkpoint replay: no new files -> no new rows
    val rowsBefore = spark.read.parquet(store).count()
    Streaming.streamingHllIngest(spark, evDir.toString, store,
      maxFilesPerTrigger = Some(1), checkpointDir = Some(ckpt))
    assert(spark.read.parquet(store).count() == rowsBefore)
    // in-place compaction folds the overlap's duplicate registers
    val fs = new org.apache.hadoop.fs.Path(store).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    Streaming.compactHllInPlace(spark, fs, store)
    assert(spark.read.parquet(store).count() < rowsBefore)
    val after = HllStore.distinct(spark, store, jan1, feb1)
      .orderBy("event_type").collect().toSeq
    assert(after == cold)
  }

  test("sketch in-place compaction: touched-window files shrink, answers unchanged") {
    import graft.operators.SketchStore
    val ev = Tables.loadEvents(spark, "/root/testdata/sf0.001")
    val store = tmpDir("sketch-compact-inplace").toString + "/store"
    SketchStore.write(ev.filter(col("event_id") % 3 === 0), store)
    SketchStore.append(spark, ev.filter(col("event_id") % 3 === 1), store)
    val touched =
      SketchStore.append(spark, ev.filter(col("event_id") % 3 === 2), store)
    val fs = new org.apache.hadoop.fs.Path(store).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // the health metric is bounded to the batch-touched windows and
    // sees the append growth
    val before = Streaming.maxFilesInWindows(fs, store, touched)
    assert(touched.nonEmpty && before >= 2,
      s"two appends must grow a touched window past 1 file: $before")
    val jan1 = 1704067200000L
    val feb1 = 1706745600000L
    val answersBefore = SketchStore.quantiles(spark, store, jan1, feb1)
      .orderBy("event_type").collect().toSeq
    Streaming.compactSketchInPlace(spark, fs, store)
    assert(Streaming.maxFilesInWindows(fs, store, touched) == 1,
      "compaction must leave one file per window partition")
    val answersAfter = SketchStore.quantiles(spark, store, jan1, feb1)
      .orderBy("event_type").collect().toSeq
    assert(answersAfter == answersBefore && answersAfter.nonEmpty)
    // a further append still works against the compacted store (the
    // frozen geometry sidecar survived the two-directory swap)
    val again =
      SketchStore.append(spark, ev.filter(col("event_id") % 3 === 0), store)
    assert(again.nonEmpty &&
      Streaming.maxFilesInWindows(fs, store, again) >= 1)
  }

  test("streaming JSON-field stats equal the batch twin") {
    val dir = tmpDir("stream-json").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(dir, "events.parquet"))
    val streamed = Streaming.runAvailableNow(
      Streaming.streamingJsonFieldStats(spark, dir), "json_stream")
      .orderBy("event_type").collect().toSeq
    val batch = graft.operators.Events.jsonFieldStats(
        spark.read.parquet(s"$dir/events.parquet"))
      .orderBy("event_type").collect().toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("map-side pipeline ops (split, chunking) run unchanged on streams") {
    val docsDir = tmpDir("stream-chunk").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      Paths.get(docsDir, "documents.parquet"))
    val batchDocs = spark.read.parquet(s"$docsDir/documents.parquet")
    val streamDocs = spark.readStream.schema(batchDocs.schema).parquet(docsDir)
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

    val streamedSplit = Streaming.runAvailableNow(
      graft.operators.Sampling.deterministicSplit(streamDocs, "doc_id", fr)
        .select("doc_id", "split"), "split_stream", mode = "append")
      .orderBy("doc_id").collect()
    val batchSplit = graft.operators.Sampling
      .deterministicSplit(batchDocs, "doc_id", fr)
      .select("doc_id", "split").orderBy("doc_id").collect()
    assert(streamedSplit.sameElements(batchSplit))

    val streamedChunks = Streaming.runAvailableNow(
      graft.operators.TextAnalysis.chunkDocuments(streamDocs, 64, 16),
      "chunk_stream", mode = "append")
      .orderBy("doc_id", "chunk_id").collect()
    val batchChunks = graft.operators.TextAnalysis
      .chunkDocuments(batchDocs, 64, 16)
      .orderBy("doc_id", "chunk_id").collect()
    assert(streamedChunks.sameElements(batchChunks))

    // pii redaction and stratified sampling are map-side projections /
    // filters too — same operator code must run unchanged on a stream
    val streamedPii = Streaming.runAvailableNow(
      graft.operators.Pii.redact(streamDocs), "pii_stream", mode = "append")
      .orderBy("doc_id").collect()
    val batchPii = graft.operators.Pii.redact(batchDocs)
      .orderBy("doc_id").collect()
    assert(streamedPii.sameElements(batchPii))

    // classifier scoring under FROZEN trained weights is the same shape:
    // a broadcast weight join + one per-doc aggregate — train batch,
    // score the stream (the production filter deployment order)
    val wClf = graft.operators.Classifier.trainLinearProbe(
      batchDocs, col("lang") === "en", dim = 32, iters = 2)
    graft.operators.CacheRegistry.release(spark)
    val streamedScores = Streaming.runAvailableNow(
      graft.operators.Classifier.scoreWith(
        streamDocs, col("lang") === "en", wClf, dim = 32),
      "clf_stream", mode = "append")
      .orderBy("doc_id").collect()
    val batchScores = graft.operators.Classifier.scoreWith(
        batchDocs, col("lang") === "en", wClf, dim = 32)
      .orderBy("doc_id").collect()
    assert(streamedScores.sameElements(batchScores) && batchScores.nonEmpty)

    val strata = Seq("en" -> 0.5, "de" -> 0.25)
    val streamedStrat = Streaming.runAvailableNow(
      graft.operators.Sampling.stratifiedSample(
        streamDocs, "doc_id", "lang", strata, default = 1.0)
        .select("doc_id", "lang"), "strat_stream", mode = "append")
      .orderBy("doc_id").collect()
    val batchStrat = graft.operators.Sampling.stratifiedSample(
        batchDocs, "doc_id", "lang", strata, default = 1.0)
      .select("doc_id", "lang").orderBy("doc_id").collect()
    assert(streamedStrat.sameElements(batchStrat))
  }

  test("streaming CDC apply (merge per micro-batch) equals the one-shot batch merge") {
    import spark.implicits._
    val dir = tmpDir("cdc-stream")
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "bal")
    // two seq-ordered changelog files → two micro-batches (each written
    // to a scratch dir, then its part file moved into the watched dir —
    // the file stream globs FILES, not subdirectories)
    def addFile(rows: Seq[(Long, String, Double, String, Long)], name: String): Unit = {
      val scratch = tmpDir("cdc-scratch")
      rows.toDF("id", "name", "bal", "op", "seq")
        .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = Files.list(scratch).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, dir.resolve(name))
    }
    addFile(Seq((1L, "a1", 11.0, "U", 1L), (4L, "d", 40.0, "I", 2L)), "f1.parquet")
    addFile(Seq((1L, "a2", 12.0, "U", 3L), (2L, "x", 0.0, "D", 4L)), "f2.parquet")

    val streamed = Streaming.streamingCdcApply(spark,
        dir.toString, base, "id", "seq", maxFilesPerTrigger = Some(1))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val batch = operators.Cdc.applyChangelog(base,
        spark.read.parquet(dir.toString), "id", "seq")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.toSeq == Seq((1L, "a2", 12.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("streaming materialized view (incremental agg per batch) equals from-scratch") {
    import spark.implicits._
    val dir = tmpDir("mv-stream")
    val base = Seq((1L, "g1", 10.0), (2L, "g1", 20.0), (3L, "g2", 30.0))
      .toDF("id", "grp", "v")
    def addFile(rows: Seq[(Long, String, Double, String, Long)], name: String): Unit = {
      val scratch = tmpDir("mv-scratch")
      rows.toDF("id", "grp", "v", "op", "seq")
        .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = Files.list(scratch).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, dir.resolve(name))
    }
    addFile(Seq((1L, "g2", 11.0, "U", 1L), (4L, "g3", 40.0, "I", 2L)), "f1.parquet")
    addFile(Seq((2L, "g1", 0.0, "D", 3L), (4L, "g3", 45.0, "U", 4L)), "f2.parquet")

    val view = Streaming.streamingIncrementalAgg(spark, dir.toString, base,
        "id", "seq", "grp", "v", maxFilesPerTrigger = Some(1))
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val scratch = operators.Cdc.applyChangelog(base,
        spark.read.parquet(dir.toString), "id", "seq")
      .groupBy("grp")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(28,4)")).cast("double").as("s"))
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(view.toSeq == scratch.toSeq)
    // snapshot after both batches: 1→g2 11, 3→g2 30, 4→g3 45
    assert(view.toSeq == Seq(("g2", 2L, 41.0), ("g3", 1L, 45.0)))
  }

  test("streaming centroid drift (merged partial sums) equals the batch report") {
    val dir = tmpDir("cdrift-stream")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // three files, deliberately group-skewed splits so per-batch partials
    // are NOT proportional mini-corpora
    emb.filter(col("vec_id") < 150).coalesce(1)
      .write.parquet(dir.resolve("a").toString)
    emb.filter(col("vec_id") >= 150 && col("vec_id") < 300).coalesce(1)
      .write.parquet(dir.resolve("b").toString)
    emb.filter(col("vec_id") >= 300).coalesce(1)
      .write.parquet(dir.resolve("c").toString)
    val streamed = Streaming.streamingCentroidDrift(spark,
        dir.toString + "/{a,b,c}", maxFilesPerTrigger = Some(1))
      .orderBy("label").collect().map(_.toString).toSeq
    val batch = operators.Similarity.centroidDrift(
        spark.read.parquet(dir.resolve("a").toString,
          dir.resolve("b").toString, dir.resolve("c").toString), "label")
      .orderBy("label").collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed drift must be bit-identical to batch:\n$streamed\nvs\n$batch")
  }

  test("event-time windowed aggregation equals the batch equivalent") {
    // streaming file source requires a directory
    val eventsDir = tmpDir("stream-events").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(eventsDir, "events.parquet"))
    val streamed = Streaming.runAvailableNow(
      Streaming.eventWindowCounts(spark, eventsDir), "evt_win")
      .orderBy("window_start", "event_type").collect()

    val batch = spark.read.parquet(eventsDir)
      .transform(Tables.normalizeEventTs)
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy("window_start", "event_type").collect()

    assert(streamed.length == batch.length)
    assert(streamed.sameElements(batch))
  }

  test("streaming IVFADC ingest equals a cold index rebuild (codes and probes)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val srcDir = tmpDir("stream-ivfpq-src")
    // ordered two-file replay: the seed file carries the codebook-defining
    // vectors (vec_id < max(numCentroids=16, ksub=16)), the second file
    // exercises the frozen-codebook append path
    // mtime is set EXPLICITLY: the file source orders pending files by
    // modification time, and two quick writes can land in the same
    // millisecond — a tie could make f2 the bootstrap batch, training
    // codebooks from the wrong vectors
    def addFile(df: org.apache.spark.sql.DataFrame, name: String,
        mtimeMs: Long): Unit = {
      val stage = tmpDir("stream-ivfpq-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val dst = Files.move(part, srcDir.resolve(name))
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
    val t0 = System.currentTimeMillis() - 60000
    addFile(emb.filter(col("vec_id") < 250), "f1.parquet", t0)
    addFile(emb.filter(col("vec_id") >= 250), "f2.parquet", t0 + 10000)

    val incIdx = tmpDir("stream-ivfpq-inc").toString + "/ix"
    Streaming.streamingIvfPqIngest(spark, srcDir.toString, incIdx,
      numCentroids = 16, maxFilesPerTrigger = Some(1))

    val coldIdx = tmpDir("stream-ivfpq-cold").toString + "/ix"
    graft.operators.Similarity.writeIvfPqIndex(emb, coldIdx, numCentroids = 16)

    // code-table equality: same rows, same codes, same partitions
    def codes(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("subspace"), col("code"),
        col("centroid_id").cast("long"))
      .orderBy("vec_id", "subspace").collect()
    val inc = codes(incIdx)
    val cold = codes(coldIdx)
    assert(inc.length == cold.length && inc.length == 500 * 4)
    assert(inc.sameElements(cold))

    // probe equality end-to-end through the reader
    val qs = emb.filter(col("vec_id") < 4)
    def probe(dir: String) = graft.operators.Similarity
      .ivfPqTopK(spark, dir, qs, emb, k = 5, nprobe = 2)
      .orderBy("query_id", "rank").collect()
    val pi = probe(incIdx)
    assert(pi.nonEmpty && pi.sameElements(probe(coldIdx)))

    // compaction: appends leave ≥2 files in partitions both batches
    // touched; the rewrite collapses every partition to one file and
    // changes neither the codes nor the probe results
    def partFiles(dir: String): Map[String, Int] = {
      val base = new java.io.File(dir)
      base.listFiles().filter(f => f.isDirectory && f.getName.startsWith("centroid_id="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    assert(partFiles(incIdx).values.exists(_ >= 2),
      "appends should accumulate multiple files in shared partitions")
    val compIdx = tmpDir("stream-ivfpq-comp").toString + "/ix"
    graft.operators.Similarity.compactIvfPq(spark, incIdx, compIdx)
    assert(partFiles(compIdx).values.forall(_ == 1))
    assert(codes(compIdx).sameElements(cold))
    assert(probe(compIdx).sameElements(pi))

    // an EMPTY batch (streams deliver them) must be a no-op append
    graft.operators.Similarity.appendIvfPq(spark,
      emb.filter(col("vec_id") < 0), compIdx)
    assert(codes(compIdx).sameElements(cold))

    // producer-duplicate guard: re-appending an ALREADY-CODED batch with
    // dedupeIds leaves the index row-identical (without the guard it
    // would duplicate 250 vectors' codes and crowd probe top-ks)
    graft.operators.Similarity.appendIvfPq(spark,
      emb.filter(col("vec_id") >= 250), compIdx, dedupeIds = true)
    assert(codes(compIdx).sameElements(cold))
    assert(probe(compIdx).sameElements(pi))

    // geometry guard: a batch whose embedding dim differs from the
    // index's _meta must fail loudly, not encode garbage codes
    val wrongDim = emb.filter(col("vec_id") >= 250)
      .select(col("vec_id"), expr("slice(embedding, 1, 32)").as("embedding"))
    // the guard rides the write job as assert_true (r16: the head(1)
    // probe billed an extra job per append) — it surfaces as a job
    // failure whose cause chain carries the message, and the aborted
    // job must publish NOTHING
    val dimEx = intercept[Exception] {
      graft.operators.Similarity.appendIvfPq(spark, wrongDim, compIdx)
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
    assert(chain(dimEx).exists(m => m != null && m.contains("dim")), chain(dimEx))
    assert(codes(compIdx).sameElements(cold))

    // exactly-once across restarts: with a checkpoint, a second ingest
    // invocation over the same directory appends NOTHING (appends are
    // not idempotent, so redelivery would duplicate codes — the file
    // source's checkpoint log is the dedup layer)
    val ckIdx = tmpDir("stream-ivfpq-ck").toString + "/ix"
    val ckpt = tmpDir("stream-ivfpq-ckpt").toString
    Streaming.streamingIvfPqIngest(spark, srcDir.toString, ckIdx,
      numCentroids = 16, maxFilesPerTrigger = Some(1), checkpointDir = Some(ckpt))
    assert(spark.read.parquet(ckIdx).count() == 500L * 4)
    Streaming.streamingIvfPqIngest(spark, srcDir.toString, ckIdx,
      numCentroids = 16, maxFilesPerTrigger = Some(1), checkpointDir = Some(ckpt))
    assert(spark.read.parquet(ckIdx).count() == 500L * 4,
      "checkpointed re-invocation must not re-append processed files")

    // the batchId replay guard rode along: the sidecar lives in the
    // CHECKPOINT dir (batchIds are lineage-scoped) and holds the last
    // committed batch — two single-file batches => batchId 1
    val hconf = spark.sparkContext.hadoopConfiguration
    val commitP = new org.apache.hadoop.fs.Path(ckpt, "graft-ingest-committed")
    val cfs = commitP.getFileSystem(hconf)
    assert(Streaming.IngestCommitLog.lastCommitted(cfs, commitP) == 1L)
    // a batch at or below the committed id is the crash-replay case and
    // must be skipped; a fresh id must commit — the guard's whole logic
    Streaming.IngestCommitLog.commit(cfs, commitP, 7L)
    assert(Streaming.IngestCommitLog.lastCommitted(cfs, commitP) == 7L)
  }

  test("streaming IVFADC ingest auto-compaction keeps files per centroid bounded") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val srcDir = tmpDir("stream-ivfpq-ac-src")
    def addFile(df: org.apache.spark.sql.DataFrame, name: String,
        mtimeMs: Long): Unit = {
      val stage = tmpDir("stream-ivfpq-ac-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val dst = Files.move(part, srcDir.resolve(name))
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
    // four ordered files = a bootstrap batch + three append batches, every
    // append landing new files in partitions the seed already populated
    val t0 = System.currentTimeMillis() - 60000
    addFile(emb.filter(col("vec_id") < 200), "f1.parquet", t0)
    addFile(emb.filter(col("vec_id") >= 200 && col("vec_id") < 300), "f2.parquet", t0 + 10000)
    addFile(emb.filter(col("vec_id") >= 300 && col("vec_id") < 400), "f3.parquet", t0 + 20000)
    addFile(emb.filter(col("vec_id") >= 400), "f4.parquet", t0 + 30000)

    val idx = tmpDir("stream-ivfpq-ac").toString + "/ix"
    Streaming.streamingIvfPqIngest(spark, srcDir.toString, idx,
      numCentroids = 16, maxFilesPerTrigger = Some(1),
      autoCompactThreshold = Some(1))

    // the post-batch sweep rewrote every over-threshold partition: a long
    // ingest cannot accumulate unbounded small files
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Streaming.maxFilesPerCentroid(fs, idx) <= 1)
    // and the swap changed nothing: codes and probes equal a cold rebuild
    val coldIdx = tmpDir("stream-ivfpq-ac-cold").toString + "/ix"
    graft.operators.Similarity.writeIvfPqIndex(emb, coldIdx, numCentroids = 16)
    def codes(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("subspace"), col("code"),
        col("centroid_id").cast("long"))
      .orderBy("vec_id", "subspace").collect()
    assert(codes(idx).sameElements(codes(coldIdx)))
    val qs = emb.filter(col("vec_id") < 4)
    def probe(dir: String) = graft.operators.Similarity
      .ivfPqTopK(spark, dir, qs, emb, k = 5, nprobe = 2)
      .orderBy("query_id", "rank").collect()
    val p = probe(idx)
    assert(p.nonEmpty && p.sameElements(probe(coldIdx)))
  }

  test("streaming funnel reaches equal the batch funnel on the full events table") {
    val eventsDir = tmpDir("stream-funnel").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(eventsDir, "events.parquet"))
    val stages = Seq("view", "click", "purchase")
    val reaches = Streaming.runAvailableNow(
      Streaming.streamingFunnelReaches(spark, eventsDir, stages),
      "funnel_r", mode = "append")
    val streamed = operators.Events.funnelFromReaches(reaches, stages)
      .orderBy("stage_idx").collect()
    val batch = operators.Events.funnel(
        Tables.loadEvents(spark, "/root/testdata/sf0.001"), stages)
      .orderBy("stage_idx").collect()
    assert(streamed.length == stages.length)
    assert(streamed.sameElements(batch))
  }

  test("streaming retention hits equal the batch cohort matrix on the full events table") {
    val eventsDir = tmpDir("stream-ret").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(eventsDir, "events.parquet"))
    val hits = Streaming.runAvailableNow(
      Streaming.streamingRetentionHits(spark, eventsDir),
      "ret_r", mode = "append")
    val streamed = hits.groupBy("cohort", "period_offset")
      .agg(count(lit(1)).as("n_active"))
      .orderBy("cohort", "period_offset").collect()
    val batch = operators.Events.retentionCohorts(
        Tables.loadEvents(spark, "/root/testdata/sf0.001"))
      .orderBy("cohort", "period_offset").collect()
    assert(streamed.nonEmpty)
    assert(streamed.sameElements(batch))
  }

  test("funnel/retention state persists across micro-batches (ordered two-file replay)") {
    import spark.implicits._
    // hand-built ordered stream: user 1 walks all three stages SPLIT
    // ACROSS the two files (reach of stage 1/2 depends on state from
    // file 1); user 2 views twice (second view must not re-emit);
    // user 3 clicks without a view (never reaches stage 0).
    // ts in NANOS like the real events table; day-sized retention
    // buckets relative to t0.
    val day = 24L * 3600 * 1000
    def nanos(dayOff: Long, ms: Long): Long = (dayOff * day + ms) * 1000000L
    val f1 = Seq(
      (10L, 1L, "view", nanos(0, 1000), "{}", 1.0),
      (11L, 2L, "view", nanos(0, 2000), "{}", 1.0),
      (12L, 3L, "click", nanos(0, 3000), "{}", 1.0))
    val f2 = Seq(
      (20L, 1L, "click", nanos(1, 0), "{}", 1.0),
      (21L, 1L, "purchase", nanos(2, 0), "{}", 1.0),
      (22L, 2L, "view", nanos(2, 500), "{}", 1.0))
    val dir = tmpDir("funnel-2batch")
    def addFile(rows: Seq[(Long, Long, String, Long, String, Double)], name: String): Unit = {
      val scratch = tmpDir("funnel-scratch")
      rows.toDF("event_id", "user_id", "event_type", "ts", "props", "value")
        .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = Files.list(scratch).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, dir.resolve(name))
    }
    addFile(f1, "f1.parquet")
    addFile(f2, "f2.parquet")

    val stages = Seq("view", "click", "purchase")
    val reaches = Streaming.runAvailableNow(
      Streaming.streamingFunnelReaches(spark, dir.toString, stages,
        maxFilesPerTrigger = Some(1)),
      "funnel_2b", mode = "append")
      .orderBy("user_id", "stage_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    // user 1: stages 0,1,2; user 2: stage 0 exactly once; user 3: none
    assert(reaches.toSeq == Seq((1L, 0), (1L, 1), (1L, 2), (2L, 0)))

    val hits = Streaming.runAvailableNow(
      Streaming.streamingRetentionHits(spark, dir.toString, bucketMs = day,
        maxFilesPerTrigger = Some(1)),
      "ret_2b", mode = "append")
      .orderBy("user_id", "period_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // user 1 active days 0,1,2 (cohort 0); user 2 days 0,2; user 3 day 0
    assert(hits.toSeq == Seq(
      (1L, 0L, 0L), (1L, 0L, 1L), (1L, 0L, 2L),
      (2L, 0L, 0L), (2L, 0L, 2L),
      (3L, 0L, 0L)))
  }

  test("streaming online anomalies equal the batch prequential operator") {
    val eventsDir = tmpDir("stream-anom").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(eventsDir, "events.parquet"))
    val streamed = Streaming.runAvailableNow(
      Streaming.streamingValueAnomalies(spark, eventsDir), "anom", mode = "append")
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val batch = graft.operators.Events.runningValueAnomalies(
      Tables.load(spark, "/root/testdata/sf0.001", "events"))
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(streamed.nonEmpty, "law would be vacuous with zero anomalies")
    assert(streamed.toSeq == batch.toSeq)
  }

  test("online anomaly state persists across micro-batches (ordered two-file replay)") {
    import spark.implicits._
    // user 1's history (ten alternating 10/12: mean 11, popstd 1) lives
    // ENTIRELY in file 1; file 2 opens with a 30 -> z = 19 is computable
    // only if the running moments survived the batch boundary (a state
    // reset would leave n=0 < minPrior and emit nothing). The trailing
    // 10 sees the spike in its prior window -> unflagged.
    def nanos(ms: Long): Long = ms * 1000000L
    val f1 = (1 to 10).map(i => (i.toLong, 1L, "view", nanos(i * 1000L), "{}",
      if (i % 2 == 1) 10.0 else 12.0))
    val f2 = Seq(
      (11L, 1L, "view", nanos(11000L), "{}", 30.0),
      (12L, 1L, "view", nanos(12000L), "{}", 10.0))
    val dir = tmpDir("anom-2batch")
    def addFile(rows: Seq[(Long, Long, String, Long, String, Double)], name: String): Unit = {
      val scratch = tmpDir("anom-scratch")
      rows.toDF("event_id", "user_id", "event_type", "ts", "props", "value")
        .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = Files.list(scratch).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, dir.resolve(name))
    }
    addFile(f1, "f1.parquet")
    addFile(f2, "f2.parquet")

    val streamed = Streaming.runAvailableNow(
      Streaming.streamingValueAnomalies(spark, dir.toString,
        maxFilesPerTrigger = Some(1)),
      "anom_2b", mode = "append")
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    assert(streamed.toSeq == Seq((11L, 19.0)))

    // and the whole-dir batch read agrees with the streamed emissions
    val batch = graft.operators.Events.runningValueAnomalies(
      spark.read.parquet(dir.toString))
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    assert(batch.toSeq == streamed.toSeq)
  }

  test("ivfpq ingest with driftRetrain: a drifted batch fires the retrain mid-stream (streamed = driver loop); an in-distribution stream never fires") {
    import spark.implicits._
    // clustered seed + ANTIPODAL drifted clusters (the maybeRetrain spec
    // construction): under the seed-drawn codebook the drifted batch's
    // assignment cosines collapse below the 0.70 bar; an in-distribution
    // second file stays near 1.0 and must leave the codebook untouched
    val rnd = new scala.util.Random(11)
    val dim = 64
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val centers = (0 until 8).map(_ =>
      unit(Array.fill(dim)(rnd.nextGaussian().toFloat)))
    def draw(c: Array[Float], noise: Double): Array[Float] =
      unit(c.map(x => x + (rnd.nextGaussian() * noise).toFloat))
    // id encoding interleaves clusters (id = i·8 + j) so the cold
    // build's pseudo codebook (vec_id < numCentroids = the first 16
    // ids) covers ALL 8 clusters — an in-distribution batch then
    // assigns at cosine ≈ 1 and must not fire, while the antipodal
    // batch collapses regardless of which members became centroids
    val seed = (0 until 8).flatMap { j =>
      (0 until 40).map(i => (i * 8L + j, draw(centers(j), 0.05)))
    }
    val drifted = (0 until 8).flatMap { j =>
      (0 until 40).map(i =>
        (5000L + j * 100L + i, draw(centers(j).map(-_), 0.05)))
    }
    val inDist = (0 until 8).flatMap { j =>
      (0 until 40).map(i => (5000L + j * 100L + i, draw(centers(j), 0.05)))
    }
    def mkSource(second: Seq[(Long, Array[Float])]): String = {
      val srcDir = tmpDir("stream-driftrt-src")
      def addFile(df: org.apache.spark.sql.DataFrame, name: String,
          mtimeMs: Long): Unit = {
        val stage = tmpDir("stream-driftrt-stage")
        df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = Files.list(stage).filter(_.toString.endsWith(".parquet"))
          .findFirst().get()
        val dst = Files.move(part, srcDir.resolve(name))
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
      }
      val t0 = System.currentTimeMillis() - 60000
      addFile(seed.toDF("vec_id", "embedding"), "f1.parquet", t0)
      addFile(second.toDF("vec_id", "embedding"), "f2.parquet", t0 + 10000)
      srcDir.toString
    }
    def books(dir: String) = spark.read.parquet(dir + "_codebook")
      .orderBy("vec_id").collect().toSeq
    // DRIFTED stream: batch 1 cold-builds, batch 2 appends + fires
    val src1 = mkSource(drifted)
    val idx = tmpDir("stream-driftrt").toString + "/ix"
    Streaming.streamingIvfPqIngest(spark, src1, idx, numCentroids = 16,
      maxFilesPerTrigger = Some(1), driftRetrain = Some(0.70),
      retrainIters = 2)
    // streamed ≡ the driver loop: cold build on f1, append f2, then the
    // fired policy's retrain over the source corpus at the same iters
    val replayIdx = tmpDir("stream-driftrt-replay").toString + "/ix"
    graft.operators.Similarity.writeIvfPqIndex(
      seed.toDF("vec_id", "embedding"), replayIdx, numCentroids = 16)
    graft.operators.Similarity.appendIvfPq(spark,
      drifted.toDF("vec_id", "embedding"), replayIdx)
    graft.operators.Similarity.retrainIvfPq(spark,
      spark.read.parquet(src1), replayIdx, trainIters = 2)
    assert(books(idx) == books(replayIdx),
      "streamed drift-retrain must land the driver loop's trained books")
    val all = (seed ++ drifted).toDF("vec_id", "embedding")
    def probe(dir: String) = graft.operators.Similarity
      .ivfPqTopK(spark, dir, all.filter(col("vec_id") < 4), all,
        k = 3, nprobe = 2, rerankFactor = 4, m = 4, dim = dim)
      .orderBy("query_id", "rank").collect().toSeq
    assert(probe(idx) == probe(replayIdx))
    // the retrain actually MOVED the books (pseudo draw replaced)
    val pseudoIdx = tmpDir("stream-driftrt-pseudo").toString + "/ix"
    graft.operators.Similarity.writeIvfPqIndex(
      seed.toDF("vec_id", "embedding"), pseudoIdx, numCentroids = 16)
    assert(books(idx) != books(pseudoIdx),
      "construction: the fired retrain must replace the seed-drawn books")
    // IN-DISTRIBUTION stream at the same threshold: the policy never
    // fires — end-state books are exactly the seed cold build's
    val src2 = mkSource(inDist)
    val idx2 = tmpDir("stream-driftrt-nofire").toString + "/ix"
    Streaming.streamingIvfPqIngest(spark, src2, idx2, numCentroids = 16,
      maxFilesPerTrigger = Some(1), driftRetrain = Some(0.70),
      retrainIters = 2)
    assert(books(idx2) == books(pseudoIdx),
      "an in-distribution stream must never fire the retrain")
    graft.operators.CacheRegistry.release(spark)
  }
}
