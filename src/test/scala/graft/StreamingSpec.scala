package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streaming

class StreamingSpec extends AnyFunSuite {
  import TestSpark.spark

  private def tmpDir(prefix: String): Path = Files.createTempDirectory(prefix)

  test("streaming log ingest matches batch parse bit-for-bit, and is incremental") {
    val in = tmpDir("stream-in")
    val out = tmpDir("stream-out").toString + "/entries"
    val ckpt = tmpDir("stream-ckpt").toString

    val src = Paths.get("/root/reference/testdata/bash-example.log")
    Files.copy(src, in.resolve("job1.log"))

    val q1 = Streaming.startLogIngest(spark, in.toString, out, ckpt)
    q1.awaitTermination()
    assert(spark.read.parquet(out).count() == 212L)

    // second file arrives -> only the new file is processed (checkpointed)
    Files.copy(src, in.resolve("job2.log"))
    val q2 = Streaming.startLogIngest(spark, in.toString, out, ckpt)
    q2.awaitTermination()
    val all = spark.read.parquet(out)
    assert(all.count() == 424L)
    assert(all.select("file").distinct().count() == 2L)

    // per-file results identical to the batch parser
    val streamed = all.filter(col("file").endsWith("job1.log"))
      .orderBy("line_no")
      .select(Schema.referenceColumns.map(col).toSeq: _*).collect()
    val batch = LogParser.parse(spark, in.resolve("job1.log").toString)
      .orderBy("line_no")
      .select(Schema.referenceColumns.map(col).toSeq: _*).collect()
    assert(streamed.sameElements(batch))
  }

  test("stateful streaming sessionization equals the batch operator") {
    val eventsDir = tmpDir("stream-sess").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(eventsDir, "events.parquet"))
    val streamed = Streaming.runAvailableNow(
      Streaming.streamingSessionize(spark, eventsDir), "sess", mode = "append")
      .orderBy("event_id").collect()
    val batch = graft.operators.Events.sessionize(
      Tables.loadEvents(spark, "/root/testdata/sf0.001"))
      .orderBy("event_id").collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0) && a.getLong(2) == b.getLong(2),
        s"streamed=$a batch=$b")
    }
  }

  test("streaming dedup keeps one row per normalized text") {
    val docsDir = tmpDir("stream-docs").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      Paths.get(docsDir, "documents.parquet"))
    val got = Streaming.runAvailableNow(
      Streaming.streamingDedup(spark, docsDir), "dedup", mode = "append")
    assert(got.count() == got.select("text_key").distinct().count())
    assert(got.count() ==
      graft.operators.Dedup.exactDedup(
        spark.read.parquet(s"$docsDir/documents.parquet")).count())
  }

  test("streaming incremental dedup (bloom pre-filter) equals the batch verdicts") {
    val docsDir = tmpDir("stream-incr").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      Paths.get(docsDir, "documents.parquet"))
    val docs = spark.read.parquet(s"$docsDir/documents.parquet")
    val seen = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 3 === 0)
    val streamed = Streaming.runAvailableNow(
      Streaming.streamingIncrementalDedup(spark, docsDir, seen),
      "incrdedup", mode = "append")
      .select("doc_id", "maybe_seen", "is_new")
      .orderBy("doc_id").collect().toSeq
    val batch = graft.operators.Sketches.incrementalDedupDocs(docs, seen)
      .select("doc_id", "maybe_seen", "is_new")
      .orderBy("doc_id").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("watermarked streaming dedup drops planted duplicates, keeps one per id") {
    val dir = tmpDir("stream-wmdedup").toString
    val src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    // plant exact duplicates of a known slice, all within the watermark
    src.union(src.filter(col("event_id") % 5 === 0))
      .write.mode("overwrite").parquet(dir)
    val n = src.count()
    val got = Streaming.runAvailableNow(
      Streaming.streamingDedupEvents(spark, dir), "wmdedup", mode = "append")
    assert(got.count() == n, "every planted duplicate must collapse")
    assert(got.select("event_id").distinct().count() == n)
  }

  test("streaming CMS and HLL sketches equal their batch twins") {
    val docsDir = tmpDir("stream-sketch").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      Paths.get(docsDir, "documents.parquet"))
    val docs = spark.read.parquet(s"$docsDir/documents.parquet")
    val toks = docs
      .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("token"))

    val streamedCms = Streaming.runAvailableNow(
      Streaming.streamingCmsTokens(spark, docsDir), "cms_stream")
      .orderBy("j", "idx").collect().toSeq
    val batchCms = graft.operators.Sketches.cmsTable(toks, "token", 4, 1 << 12)
      .orderBy("j", "idx").collect().toSeq
    assert(streamedCms == batchCms && streamedCms.nonEmpty)

    val streamedReg = Streaming.runAvailableNow(
      Streaming.streamingHllRegisters(spark, docsDir), "hll_stream")
    val streamedEst = graft.operators.Sketches.hllFinalize(streamedReg, 12)
      .collect().toSeq
    val batchEst = graft.operators.Sketches.hllDistinct(toks, "token", 12)
      .collect().toSeq
    assert(streamedEst == batchEst && streamedEst.nonEmpty)
  }

  test("streaming log-histogram buckets equal the batch sketch across micro-batches") {
    val dir = tmpDir("stream-loghist")
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    def addHalf(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val scratch = tmpDir("loghist-scratch")
      ev.filter(pred).coalesce(1).write.mode("overwrite")
        .parquet(scratch.toString)
      val part = Files.list(scratch)
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, dir.resolve(name))
    }
    addHalf(col("event_id") % 2 === 0, "f1.parquet")
    addHalf(col("event_id") % 2 === 1, "f2.parquet")

    // two real micro-batches: bucket counts must ADD across the batch
    // boundary (mergeable-summaries), making the streamed bucket table
    // bit-identical to the batch sketch — a stronger law than MG's
    // candidate containment
    val streamed = Streaming.runAvailableNow(
      Streaming.streamingLogHistBuckets(spark, dir.toString,
        maxFilesPerTrigger = Some(1)), "loghist_2b")
    val batch = graft.operators.Quantiles.logHistBuckets(
      ev, "value", "event_type")
    assert(streamed.orderBy("event_type", "bucket_lo").collect().toSeq ==
      batch.orderBy("event_type", "bucket_lo").collect().toSeq)

    // and the finished per-group estimates agree (and are non-vacuous)
    val sq = graft.operators.Quantiles.logHistFinish(streamed, "event_type")
      .orderBy("event_type").collect().toSeq
    val bq = graft.operators.Quantiles.logHistFinish(batch, "event_type")
      .orderBy("event_type").collect().toSeq
    assert(sq == bq && sq.nonEmpty)

    // windowed form: the event-time tumbling key rides in front of the
    // group and the law still holds bit-for-bit across the batch split
    val winStreamed = Streaming.runAvailableNow(
      Streaming.streamingLogHistBuckets(spark, dir.toString,
        maxFilesPerTrigger = Some(1), windowMs = Some(3600000L)),
      "loghist_2b_win")
    val winBatch = graft.operators.Quantiles.logHistBuckets(
      Tables.normalizeEventTs(ev).withColumn("window_start_ms",
        expr("((ts div 1000000) div 3600000) * 3600000")),
      "value", Seq("window_start_ms", "event_type"))
    val swq = graft.operators.Quantiles.logHistFinish(
        winStreamed, Seq("window_start_ms", "event_type"))
      .orderBy("window_start_ms", "event_type").collect().toSeq
    val bwq = graft.operators.Quantiles.logHistFinish(
        winBatch, Seq("window_start_ms", "event_type"))
      .orderBy("window_start_ms", "event_type").collect().toSeq
    assert(swq == bwq && swq.size > sq.size,
      "windowed law must cover multiple windows per group")
  }

  test("streaming MG candidates + exact recount equal the batch heavy hitters") {
    val dir = tmpDir("stream-mg").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(dir, "events.parquet"))
    // k=8 counters; minFrac 0.15 clears the n/(k+1) budget (n/9 ≈ 0.111n)
    val row = Streaming.runAvailableNow(
      Streaming.streamingHeavyCandidates(spark, dir, "event_type", k = 8),
      "mg_stream").head()
    val cands = row.getSeq[Long](0)
    val n = row.getLong(1)
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val threshold = math.ceil(0.15 * n).toLong
    val got = ev.filter(xxhash64(col("event_type")).isInCollection(cands))
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= threshold)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = graft.operators.Sketches.heavyHitters(ev, "event_type", 0.15)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty,
      s"streamed-candidate recount $got must equal batch heavy hitters $want")
  }

  test("grouped streaming MG candidates + per-group recount equal batch heavyHittersBy " +
      "across two micro-batches") {
    import spark.implicits._
    val dir = tmpDir("stream-mg-by")
    // two ordered files → maxFilesPerTrigger=1 forces ≥ 2 micro-batches,
    // so the per-group summaries MERGE across batches through the state
    // store (the mergeability half of the law). Group column baked into
    // the files: g = user_id % 3 over the real events table, split by
    // event_id parity so both files feed every group.
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("g", pmod(col("user_id"), lit(3)))
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val scratch = tmpDir("stream-mg-by-scratch")
      df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = Files.list(scratch).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, dir.resolve(name))
    }
    addFile(ev.filter(col("event_id") % 2 === 0), "f1.parquet")
    addFile(ev.filter(col("event_id") % 2 === 1), "f2.parquet")

    // k=8 counters per group; minFrac 0.15 clears n_g/(k+1) ≈ 0.111·n_g
    val streamed = Streaming.runAvailableNow(
      Streaming.streamingGroupedHeavyCandidates(spark, dir.toString,
        Seq("g"), "event_type", k = 8, maxFilesPerTrigger = Some(1)),
      "mg_by_stream")
    // exact per-group recount of the streamed candidates — the grouped
    // candidate-JOIN recipe (never a driver loop over groups)
    val cands = streamed.select(col("g").as("__g"),
      explode(col("cand")).as("__h"), col("n").as("__gn"))
    val got = ev.withColumn("__eh", xxhash64(col("event_type")))
      .join(cands, col("g") === col("__g") && col("__eh") === col("__h"))
      .groupBy("g", "event_type")
      .agg(count(lit(1)).as("cnt"), max(col("__gn")).as("__gn"))
      .filter(col("cnt") >= ceil(lit(0.15) * col("__gn")))
      .select("g", "event_type", "cnt")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = graft.operators.Sketches.heavyHittersBy(
        ev, "event_type", Seq("g"), minFrac = 0.15)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    graft.operators.CacheRegistry.release(spark)
    assert(got == want && got.nonEmpty,
      s"grouped streamed-candidate recount $got must equal batch heavyHittersBy $want")
  }

  test("streaming LSH ingest equals a cold store rebuild, and replays are no-ops") {
    val docsDir = tmpDir("stream-lsh")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // two ordered files + maxFilesPerTrigger=1: file 1 cold-builds the
    // store (frozen geometry sidecar), file 2 goes through the append
    // path — both halves of the ingest exercised in one run
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val scratch = tmpDir("stream-lsh-scratch")
      df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = Files.list(scratch).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, docsDir.resolve(name))
    }
    addFile(docs.filter(col("doc_id") % 2 === 0), "f1.parquet")
    addFile(docs.filter(col("doc_id") % 2 === 1), "f2.parquet")
    val store = tmpDir("stream-lsh-store").toString + "/store"
    val ckpt = tmpDir("stream-lsh-ckpt").toString
    Streaming.streamingLshIngest(spark, docsDir.toString, store,
      maxFilesPerTrigger = Some(1), checkpointDir = Some(ckpt))
    val got = graft.operators.LshIndex.lshPairs(spark, store, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val cold = graft.operators.Dedup.minHashNearDupPortable(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    graft.operators.CacheRegistry.release(spark)
    assert(got == cold && got.nonEmpty,
      s"streamed store pairs (${got.size}) must equal cold rebuild (${cold.size})")
    // re-running the same AvailableNow stream from the same checkpoint
    // sees no new files — the store must not grow (source-level
    // exactly-once; the batchId sidecar covers the foreachBatch window)
    val bucketRows = spark.read.parquet(store).count()
    Streaming.streamingLshIngest(spark, docsDir.toString, store,
      maxFilesPerTrigger = Some(1), checkpointDir = Some(ckpt))
    assert(spark.read.parquet(store).count() == bucketRows)
  }

  test("streaming span-store ingest equals a cold build; probe answers replay-proof") {
    val docsDir = tmpDir("stream-span")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val scratch = tmpDir("stream-span-scratch")
      df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = Files.list(scratch).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, docsDir.resolve(name))
    }
    addFile(docs.filter(col("doc_id") % 2 === 0), "f1.parquet")
    addFile(docs.filter(col("doc_id") % 2 === 1), "f2.parquet")
    val store = tmpDir("stream-span-store").toString + "/store"
    val ckpt = tmpDir("stream-span-ckpt").toString
    Streaming.streamingSpanIngest(spark, docsDir.toString, store,
      minTokens = 16, maxFilesPerTrigger = Some(1),
      checkpointDir = Some(ckpt))
    val probeDocs = docs.filter(col("doc_id") < 5)
    def probed(dir: String) = graft.operators.SpanStore
      .probe(spark, probeDocs, dir)
      .collect().map(_.toSeq).toSet
    val got = probed(store)
    val coldDir = tmpDir("stream-span-cold").toString + "/store"
    graft.operators.SpanStore.write(docs, coldDir, minTokens = 16)
    val cold = probed(coldDir)
    graft.operators.CacheRegistry.release(spark)
    assert(got == cold && got.nonEmpty,
      s"streamed store probe (${got.size}) must equal cold rebuild (${cold.size})")
    // replay: same AvailableNow stream, same checkpoint — no growth
    val rows = spark.read.parquet(store).count()
    Streaming.streamingSpanIngest(spark, docsDir.toString, store,
      minTokens = 16, maxFilesPerTrigger = Some(1),
      checkpointDir = Some(ckpt))
    assert(spark.read.parquet(store).count() == rows)
    // bloom twin: the cold build fuses the sidecar in, streamed appends
    // write their word generations, and the in-place auto-compaction
    // swap must carry the sidecar (no orphaned staging copy, OR-folded
    // live copy) — the bloom-path probe must still equal the bloomless
    // cold answer through all of it
    val bstore = tmpDir("stream-span-bloom").toString + "/store"
    Streaming.streamingSpanIngest(spark, docsDir.toString, bstore,
      minTokens = 16, maxFilesPerTrigger = Some(1),
      checkpointDir = Some(tmpDir("stream-span-bloom-ckpt").toString),
      autoCompactThreshold = Some(1), withBloom = true)
    assert(graft.operators.SpanStore.hasBloom(bstore),
      "streamed cold build must carry the sidecar")
    assert(!Files.exists(Paths.get(bstore + "_compacting_bloom")),
      "compaction swap orphaned the staging sidecar")
    assert(probed(bstore) == cold,
      "bloom-path probe over the streamed store must equal cold")
    // generational twin: auto-compaction writes generation N+1 and
    // flips the _current pointer instead of renaming live directories
    // (always-on serving) — every store read resolves the pointer, so
    // the probe surface is unchanged and still equals the cold build
    val gstore = tmpDir("stream-span-gen").toString + "/store"
    Streaming.streamingSpanIngest(spark, docsDir.toString, gstore,
      minTokens = 16, maxFilesPerTrigger = Some(1),
      checkpointDir = Some(tmpDir("stream-span-gen-ckpt").toString),
      autoCompactThreshold = Some(1), generational = true)
    assert(graft.operators.StoreGen.generation(gstore) >= 1L,
      "generational auto-compaction must have flipped the pointer")
    assert(probed(gstore) == cold,
      "generational streamed store must serve the cold answer")
    // replay against the flipped store: cold-detection resolves the
    // pointer, so the fence sees an existing store and appends nothing
    val grows = spark.read.parquet(
      graft.operators.StoreGen.resolve(gstore)).count()
    Streaming.streamingSpanIngest(spark, docsDir.toString, gstore,
      minTokens = 16, maxFilesPerTrigger = Some(1),
      checkpointDir = Some(tmpDir("stream-span-gen-ckpt2").toString),
      autoCompactThreshold = Some(1), generational = true)
    assert(spark.read.parquet(
        graft.operators.StoreGen.resolve(gstore)).count() >= grows,
      "re-streamed generational store must not cold-overwrite")
    assert(probed(gstore) == cold)
    graft.operators.CacheRegistry.release(spark)
  }

  test("streaming curate-ingest equals the driver loop; replay fence holds") {
    val docsDir = tmpDir("stream-curate")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val scratch = tmpDir("stream-curate-scratch")
      df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = Files.list(scratch).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, docsDir.resolve(name))
    }
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)
    // lexicographic file order IS the batch order AvailableNow feeds
    addFile(b0, "f0.parquet"); addFile(b1, "f1.parquet"); addFile(b2, "f2.parquet")
    val store = tmpDir("stream-curate-store").toString + "/store"
    val audit = tmpDir("stream-curate-audit").toString + "/audit"
    val ckpt = tmpDir("stream-curate-ckpt").toString
    Streaming.streamingCurateIngest(spark, docsDir.toString, store, audit,
      minTokens = 16, maxFilesPerTrigger = Some(1),
      checkpointDir = Some(ckpt))
    // driver-loop twin over the same batch sequence
    val twinStore = tmpDir("stream-curate-twin").toString + "/store"
    graft.operators.SpanStore.write(b0, twinStore, minTokens = 16)
    val a1 = graft.operators.SpanStore.ingestCurate(spark, b1, twinStore)
    val a2 = graft.operators.SpanStore.ingestCurate(spark, b2, twinStore)
    def auditRows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "text", "n_tokens_before", "n_tokens_kept", "dropped")
      .collect().map(_.toSeq).toSet
    val streamedAudit = auditRows(spark.read.parquet(audit)
      .filter(col("doc_id") % 3 =!= 0))
    assert(streamedAudit == auditRows(a1.unionByName(a2)),
      "streamed curate audit must equal the driver loop's")
    assert(streamedAudit.nonEmpty)
    // the stores the two paths built answer probes identically
    val probeDocs = docs.filter(col("doc_id") < 5)
    def probed(dir: String) = graft.operators.SpanStore
      .probe(spark, probeDocs, dir).collect().map(_.toSeq).toSet
    assert(probed(store) == probed(twinStore))
    graft.operators.CacheRegistry.release(spark)
    // replay: same AvailableNow stream, same checkpoint — the commit
    // fence must keep the order-dependent curation from re-running
    val storeRows = spark.read.parquet(store).count()
    val auditCount = spark.read.parquet(audit).count()
    Streaming.streamingCurateIngest(spark, docsDir.toString, store, audit,
      minTokens = 16, maxFilesPerTrigger = Some(1),
      checkpointDir = Some(ckpt))
    assert(spark.read.parquet(store).count() == storeRows)
    assert(spark.read.parquet(audit).count() == auditCount)
  }

  test("streaming dedup-ingest equals the driver loop; replay fence holds") {
    val docsDir = tmpDir("stream-dedup")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val scratch = tmpDir("stream-dedup-scratch")
      df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = Files.list(scratch).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, docsDir.resolve(name))
    }
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)
    addFile(b0, "f0.parquet"); addFile(b1, "f1.parquet"); addFile(b2, "f2.parquet")
    val store = tmpDir("stream-dedup-store").toString + "/store"
    val audit = tmpDir("stream-dedup-audit").toString + "/audit"
    val ckpt = tmpDir("stream-dedup-ckpt").toString
    Streaming.streamingDedupIngest(spark, docsDir.toString, store, audit,
      maxFilesPerTrigger = Some(1), checkpointDir = Some(ckpt))
    val twinStore = tmpDir("stream-dedup-twin").toString + "/store"
    graft.operators.LshIndex.write(b0, twinStore)
    val a1 = graft.operators.LshIndex.ingestDedup(spark, b1, twinStore)
    val a2 = graft.operators.LshIndex.ingestDedup(spark, b2, twinStore)
    def auditRows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_store_dups", "n_batch_dups", "dropped")
      .collect().map(_.toSeq).toSet
    val streamed = auditRows(spark.read.parquet(audit)
      .filter(col("doc_id") % 3 =!= 0))
    assert(streamed == auditRows(a1.unionByName(a2)) && streamed.nonEmpty,
      "streamed dedup audit must equal the driver loop's")
    // both paths admitted the same survivor set
    def sigIds(dir: String) = spark.read.parquet(dir + "_sigs")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(sigIds(store) == sigIds(twinStore))
    graft.operators.CacheRegistry.release(spark)
    // replay fence: same stream, same checkpoint — no growth, no flips
    val auditCount = spark.read.parquet(audit).count()
    val sigCount = spark.read.parquet(store + "_sigs").count()
    Streaming.streamingDedupIngest(spark, docsDir.toString, store, audit,
      maxFilesPerTrigger = Some(1), checkpointDir = Some(ckpt))
    assert(spark.read.parquet(audit).count() == auditCount)
    assert(spark.read.parquet(store + "_sigs").count() == sigCount)
  }

}
