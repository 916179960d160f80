package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import org.scalatest.funsuite.AnyFunSuite

/** Output-format parity goldens (reference cmd/bklog/main.go:339-388,
  * query_cli.go:154-308).
  */
class CliSpec extends AnyFunSuite {
  import TestSpark.spark

  private def captureOut(f: => Unit): String = {
    val bos = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(bos, true, "UTF-8")) {
      val old = System.out
      System.setOut(new PrintStream(bos, true, "UTF-8"))
      try f finally System.setOut(old)
    }
    bos.toString("UTF-8")
  }

  test("truncate matches reference truncateString") {
    assert(Cli.truncate("short", 40) == "short")
    val long = "x" * 50
    assert(Cli.truncate(long, 40) == "x" * 37 + "...")
    assert(Cli.truncate(long, 40).length == 40)
  }

  test("entry text formats (4 variants)") {
    val ts = Some(1745322209921L)
    assert(Cli.formatEntryText(ts, "g", "content", showGroups = true) ==
      "[2025-04-22 11:43:29.921] [g] content")
    assert(Cli.formatEntryText(None, "g", "content", showGroups = true) ==
      "[g] content")
    assert(Cli.formatEntryText(ts, "g", "content", showGroups = false) ==
      "[2025-04-22 11:43:29.921] content")
    assert(Cli.formatEntryText(None, "", "content", showGroups = false) ==
      "content")
  }

  test("query list-groups text table shape") {
    val out = captureOut {
      Cli.runQuery(spark, Map(
        "file" -> "/root/reference/testdata/bash-example.parquet",
        "op" -> "list-groups"))
    }
    val lines = out.split("\n")
    assert(lines(0) == "Groups found: 13")
    assert(lines(2).startsWith("GROUP NAME"))
    assert(lines(3) == "-" * 120)
    assert(lines.length >= 17)
    // first group row is fixed-width formatted
    assert(lines(4).contains("~~~ Running global environment hook"))
  }

  test("query info text block") {
    val out = captureOut {
      Cli.runQuery(spark, Map(
        "file" -> "/root/reference/testdata/bash-example.parquet",
        "op" -> "info"))
    }
    assert(out.contains("Parquet File Information:"))
    assert(out.contains("  Rows:         212"))
    assert(out.contains("  Row Groups:   1"))
  }

  test("query by-group with markers and limit annotation") {
    val out = captureOut {
      Cli.runQuery(spark, Map(
        "file" -> "/root/reference/testdata/bash-example.parquet",
        "op" -> "by-group", "group" -> "environment", "limit" -> "3"))
    }
    assert(out.startsWith("Entries in group matching 'environment': 3 (limited to 3)\n"))
    assert(out.contains("[GRP]") || out.contains("[CMD]"))
  }

  test("query by-group -limit takes a Long: 2^31 and more set no limit, a negative one shows no rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-limit")
    val log = dir.resolve("job.log")
    java.nio.file.Files.write(log, (0 until 12).map {
      case i if i % 5 == 0 => s"~~~ Section $i\n"
      case i => s"line $i\n"
    }.mkString.getBytes("UTF-8"))
    val table = dir.resolve("entries").toString
    ParquetIO.write(LogParser.parse(spark, log.toString), table)
    def byGroup(limit: String): String = captureOut {
      Cli.runQuery(spark, Map("file" -> table, "op" -> "by-group", "group" -> "section",
        "limit" -> limit))
    }
    val huge = byGroup("3000000000")
    assert(huge.startsWith("Entries in group matching 'section': 12\n"), huge)
    assert(huge.contains("line 11"), huge)
    assert(byGroup("2").startsWith("Entries in group matching 'section': 2 (limited to 2)\n"))
    val negative = byGroup("-1")
    assert(negative.startsWith("Entries in group matching 'section': 0"), negative)
    assert(negative.contains("No entries found for the specified group."), negative)
  }

  test("query tail and seek on a foreign parquet (no line_no column)") {
    val tail = captureOut {
      Cli.runQuery(spark, Map(
        "file" -> "/root/reference/testdata/bash-example.parquet",
        "op" -> "tail", "tail" -> "5"))
    }
    assert(tail.startsWith("Last 5 entries:\n"))
    val seek = captureOut {
      Cli.runQuery(spark, Map(
        "file" -> "/root/reference/testdata/bash-example.parquet",
        "op" -> "seek", "seek" -> "205", "limit" -> "4"))
    }
    assert(seek.startsWith("Entries starting from row 205: 4 (limited to 4)\n"))
  }

  test("parse JSON output shape") {
    val rows = LogParser.parse(spark, "/root/reference/testdata/bash-example.log")
      .orderBy("line_no").limit(2).collect()
    val json = Cli.formatEntriesJson(rows.toIndexedSeq, showGroups = true)
    assert(json.startsWith("[\n"))
    assert(json.contains("\"timestamp\": \"2025-04-22T11:43:29.921Z\""))
    assert(json.contains("\"has_timestamp\": true"))
    assert(json.contains("\"group\": \"~~~ Running global environment hook\""))
  }

  test("query list-groups JSON envelope with stats (query_cli.go:156-177)") {
    val out = captureOut {
      Cli.runQuery(spark, Map(
        "file" -> "/root/reference/testdata/bash-example.parquet",
        "op" -> "list-groups", "format" -> "json", "stats" -> "true"))
    }
    assert(out.startsWith("{\n  \"groups\": [\n    {\n"))
    assert(out.contains("\"name\": \"~~~ Running global environment hook\""))
    assert(out.contains("\"entry_count\": "))
    assert(out.contains("\"first_seen\": \"2025-04-22T"))
    assert(out.contains("\"total_entries\": 212"))
    assert(out.contains("\"total_groups\": 13"))
    assert(out.contains("\"query_time_ms\": "))
  }

  test("query by-group JSON envelope; stats zero-valued without -stats") {
    val out = captureOut {
      Cli.runQuery(spark, Map(
        "file" -> "/root/reference/testdata/bash-example.parquet",
        "op" -> "by-group", "group" -> "environment", "limit" -> "2",
        "format" -> "json"))
    }
    assert(out.startsWith("{\n  \"entries\": [\n    {\n"))
    assert(out.contains("\"timestamp\": 17453222"))
    assert(out.contains("\"is_group\": true") || out.contains("\"is_command\": true"))
    // Go's omitempty is a no-op on structs: stats present, zeros
    assert(out.contains("\"total_entries\": 0"))
    assert(out.contains("\"matched_entries\": 0"))
  }

  test("query tail and seek JSON envelopes (query_cli.go:377-398, 440-461)") {
    val tail = captureOut {
      Cli.runQuery(spark, Map(
        "file" -> "/root/reference/testdata/bash-example.parquet",
        "op" -> "tail", "tail" -> "3", "format" -> "json", "stats" -> "true"))
    }
    assert(tail.startsWith("{\n  \"entries\": [\n"))
    assert(tail.contains("\"total_rows\": 212"))
    assert(tail.contains("\"entries_shown\": 3"))
    assert(tail.contains("\"has_timestamp\": "))
    val seek = captureOut {
      Cli.runQuery(spark, Map(
        "file" -> "/root/reference/testdata/bash-example.parquet",
        "op" -> "seek", "seek" -> "205", "limit" -> "4",
        "format" -> "json", "stats" -> "true"))
    }
    assert(seek.contains("\"start_row\": 205"))
    assert(seek.contains("\"entries_shown\": 4"))
  }

  test("query -stats totals come from the footers, without an extra job") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-stats")
    val log = dir.resolve("job.log")
    java.nio.file.Files.write(log, (0 until 25).map {
      case i if i % 10 == 0 => s"~~~ Section $i\n"
      case i => s"line $i\n"
    }.mkString.getBytes("UTF-8"))
    val table = dir.resolve("entries").toString
    ParquetIO.write(LogParser.parse(spark, log.toString), table)
    def run(op: Map[String, String], stats: Boolean): (String, Int) =
      TestSpark.jobsOf(captureOut {
        Cli.runQuery(spark, Map("file" -> table) ++ op ++
          (if (stats) Map("stats" -> "true") else Map.empty))
      })
    val json = Map("format" -> "json")
    val cases = Seq(
      Map("op" -> "list-groups") -> "Total entries: 25",
      (Map("op" -> "list-groups") ++ json) -> "\"total_entries\": 25",
      Map("op" -> "by-group", "group" -> "section") -> "Total entries: 25",
      (Map("op" -> "by-group", "group" -> "section") ++ json) -> "\"total_entries\": 25",
      Map("op" -> "tail", "tail" -> "3") -> "Total rows in file: 25",
      (Map("op" -> "tail", "tail" -> "3") ++ json) -> "\"total_rows\": 25")
    for ((op, total) <- cases) {
      val (out, jobs) = run(op, stats = true)
      assert(out.contains(total), s"$op:\n$out")
      val (_, plainJobs) = run(op, stats = false)
      assert(jobs == plainJobs, s"$op: $jobs jobs with -stats, $plainJobs without")
    }
  }

  test("parse file-XOR-api validation (main.go:119-141)") {
    val e1 = intercept[Cli.CliError](Cli.runParse(spark, Map.empty))
    assert(e1.getMessage.contains("Must provide either -file or API parameters"))
    val e2 = intercept[Cli.CliError](Cli.runParse(spark, Map(
      "file" -> "x.log", "org" -> "o")))
    assert(e2.getMessage == "Cannot use both -file and API parameters simultaneously")
    val e3 = intercept[Cli.CliError](Cli.runParse(spark, Map(
      "org" -> "o", "pipeline" -> "p")))
    assert(e3.getMessage == "missing required API parameters: build, job")
  }

  test("parse via API flags fetches from endpoint and prints entries") {
    import java.net.InetSocketAddress
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val osc = "_bk;t=1745322209921"
    val logBody = s"$osc~~~ Group A\r\n${osc}api line one\r\n"
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/v2/organizations/o1/pipelines/p1/builds/7/jobs/j1/log",
      new HttpHandler {
        def handle(x: HttpExchange): Unit = {
          val bytes = logBody.getBytes("UTF-8")
          x.sendResponseHeaders(200, bytes.length)
          x.getResponseBody.write(bytes)
          x.close()
        }
      })
    server.start()
    try {
      val base = s"http://localhost:${server.getAddress.getPort}/v2"
      val out = captureOut {
        Cli.runParse(spark, Map(
          "org" -> "o1", "pipeline" -> "p1", "build" -> "7", "job" -> "j1",
          "api-base" -> base, "api-token" -> "tok-cli", "summary" -> "true"))
      }
      assert(out.contains("api line one"))
      assert(out.contains("Bytes processed: (API source - unknown)"))
      assert(out.contains("Total entries: 2"))
    } finally server.stop(0)
  }

  test("corpus subcommand: write path, show path, flag validation") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val outDir = java.nio.file.Files.createTempDirectory("cli-corpus").toString
    // write path: quality scores land as parquet with one row per doc
    val wrote = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "quality", "out" -> s"$outDir/q"))
    }
    assert(wrote.contains("Wrote 500 rows"))
    assert(spark.read.parquet(s"$outDir/q").columns.contains("alpha_ratio"))
    // show path: curate prints a count + sample
    val shown = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "split"))
    }
    assert(shown.contains("Rows: 500"))
    assert(shown.contains("split"))
    // per-source dataset card from the shell
    val ds = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "datasheet"))
    }
    assert(ds.contains("dup_rate") && ds.contains("mean_alpha"), ds)
    // tokenizer fertility from the shell
    val ft = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "fertility"))
    }
    assert(ft.contains("bpe_per_char") && ft.contains("stratum"), ft)
    // retention sweep from the shell (window store expiry)
    val evStore = java.nio.file.Files
      .createTempDirectory("cli-retention").toString + "/s"
    graft.operators.SketchStore.write(
      Tables.loadEvents(spark, "/root/testdata/sf0.001"), evStore,
      windowMs = 86400000L)
    val rt = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "retention",
        "index" -> evStore, "cutoff" -> "1704672000000"))
    }
    assert(rt.contains("dropped_window_start_ms"), rt)
    intercept[Cli.CliError] {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "retention"))
    }
    // contamination requires -probes; unknown op rejected
    intercept[Cli.CliError] {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "contamination"))
    }
    intercept[Cli.CliError] {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "nope"))
    }
  }

  test("corpus subcommand: sketch ops (incrdedup/cms/hll)") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    // incrdedup against itself: every incoming key is in the history, so
    // nothing is new — and -seen is mandatory
    val incr = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "incrdedup", "seen" -> docs))
    }
    assert(incr.contains("Rows: 500"))
    assert(incr.contains("maybe_seen"))
    intercept[Cli.CliError] {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "incrdedup"))
    }
    val cms = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "cms", "topk" -> "5"))
    }
    assert(cms.contains("Rows: 5"))
    assert(cms.contains("est_count"))
    val hll = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "hll"))
    }
    assert(hll.contains("Rows: 1"))
    assert(hll.contains("est_distinct"))
  }

  test("corpus subcommand: shuffle and semdedup ops") {
    val shuffled = captureOut {
      Cli.runCorpus(spark, Map(
        "in" -> "/root/testdata/sf0.001/documents.parquet",
        "op" -> "shuffle", "seed" -> "3"))
    }
    assert(shuffled.contains("Rows: 500"))
    assert(shuffled.contains("shuffle_rank"))
    val sem = captureOut {
      Cli.runCorpus(spark, Map(
        "in" -> "/root/testdata/sf0.001/embeddings.parquet",
        "op" -> "semdedup", "k" -> "4", "iters" -> "1", "threshold" -> "0.4"))
    }
    assert(sem.contains("keep"))
    assert(sem.contains("cluster_id"))
  }

  test("corpus subcommand: pq and pagerank ops") {
    val pq = captureOut {
      Cli.runCorpus(spark, Map(
        "in" -> "/root/testdata/sf0.001/embeddings.parquet",
        "op" -> "pq", "topk" -> "3"))
    }
    assert(pq.contains("approx_ip") && pq.contains("Rows: 15"))
    val pr = captureOut {
      Cli.runCorpus(spark, Map(
        "in" -> "/root/testdata/sf0.001/documents.parquet",
        "op" -> "pagerank"))
    }
    assert(pr.contains("rank"))
    val bpe = captureOut {
      Cli.runCorpus(spark, Map(
        "in" -> "/root/testdata/sf0.001/documents.parquet",
        "op" -> "bpe", "rounds" -> "3"))
    }
    assert(bpe.contains("merged") && bpe.contains("Rows: 3"))
    val dsir = captureOut {
      Cli.runCorpus(spark, Map(
        "in" -> "/root/testdata/sf0.001/documents.parquet",
        "op" -> "dsir", "target" -> "de"))
    }
    assert(dsir.contains("lm_target") && dsir.contains("weight"))
  }

  test("corpus subcommand: ivfpq and ivfpqrecall ops (index build + reuse)") {
    val idx = java.nio.file.Files
      .createTempDirectory("clispec-ivfpq").toString + "/index"
    val topk = captureOut {
      Cli.runCorpus(spark, Map(
        "in" -> "/root/testdata/sf0.001/embeddings.parquet",
        "op" -> "ivfpq", "topk" -> "3", "k" -> "16"))
    }
    assert(topk.contains("approx_ip") && topk.contains("Rows: 15"))
    // write an index once, probe it via -index (the production split:
    // build offline, probe per query batch)
    operators.Similarity.writeIvfPqIndex(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
      idx, numCentroids = 16)
    val reused = captureOut {
      Cli.runCorpus(spark, Map(
        "in" -> "/root/testdata/sf0.001/embeddings.parquet",
        "op" -> "ivfpqrecall", "index" -> idx, "nprobes" -> "1,2"))
    }
    assert(reused.contains("recall_at_k") && reused.contains("Rows: 2"))
  }

  test("corpus subcommand: ivfpq index maintenance (append, compact)") {
    val tmp = java.nio.file.Files
      .createTempDirectory("clispec-ivfpq-maint").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = tmp + "/ix"
    operators.Similarity.writeIvfPqIndex(
      emb.filter("vec_id < 250"), idx, numCentroids = 16)
    val batchPath = tmp + "/batch"
    emb.filter("vec_id >= 250").write.parquet(batchPath)
    val app = captureOut {
      Cli.runCorpus(spark, Map(
        "in" -> batchPath, "op" -> "ivfpqappend", "index" -> idx))
    }
    assert(app.contains("n_vectors") && app.contains("Rows: "))
    // codebook drift telemetry from the shell: one row per centroid
    val drift = captureOut {
      Cli.runCorpus(spark, Map(
        "in" -> batchPath, "op" -> "ivfdrift", "index" -> idx))
    }
    assert(drift.contains("mean_cos_batch") && drift.contains("Rows: 16"), drift)
    // duplication tell: a clean m=4 index carries exactly 4 code rows per
    // vector, and the census must surface the raw count that proves it
    assert(app.contains("n_code_rows"))
    assert(spark.read.parquet(idx).select("vec_id").distinct().count() == 500L)
    // compact takes NO -in: it works purely on the existing index
    val comp = captureOut {
      Cli.runCorpus(spark, Map(
        "op" -> "ivfpqcompact", "index" -> idx, "dest" -> (tmp + "/cx")))
    }
    assert(comp.contains("files") && comp.contains("Rows: "))
    assert(spark.read.parquet(tmp + "/cx")
      .select("vec_id").distinct().count() == 500L)
  }

  test("corpus subcommand: -generational plumbs the pointer-flip protocol through upkeep, append, and ivfretrain") {
    import graft.operators.StoreGen
    val tmp = java.nio.file.Files
      .createTempDirectory("clispec-generational").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val idx = tmp + "/store"
    val seedPath = tmp + "/seed"
    val batchPath = tmp + "/batch"
    docs.filter("doc_id % 2 = 0").write.parquet(seedPath)
    docs.filter("doc_id % 2 = 1").write.parquet(batchPath)
    captureOut { Cli.runCorpus(spark, Map(
      "in" -> seedPath, "op" -> "lshbuild", "index" -> idx)) }
    val distinctSeed = spark.read.parquet(idx + "_sigs")
      .select("doc_id").distinct().count()
    // takedown + `upkeep -generational -apply-tombstones`: the eager
    // physical application runs as a generation FLIP — the plain (gen 0)
    // directory is never mutated, serving moves behind the pointer
    captureOut { Cli.runCorpus(spark, Map("in" -> batchPath,
      "op" -> "forget", "store" -> "lsh", "index" -> idx)) }
    val up = captureOut { Cli.runCorpus(spark, Map("op" -> "upkeep",
      "store" -> "lsh", "index" -> idx, "apply-tombstones" -> "true",
      "generational" -> "true")) }
    assert(up.contains("compacted") && up.contains("true"), up)
    assert(StoreGen.resolve(idx) == idx + "_g1",
      "upkeep -generational must flip the pointer, not rename in place")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(idx)),
      "generation 0 stays as the in-flight readers' grace window")
    // `lshappend -auto-compact-files 0 -generational`: the shell ingest
    // is self-maintaining — the forced post-append compaction flips to
    // generation 2 and the census follows the pointer (it reports the
    // full post-append store, not the stale gen-0 directory)
    val app = captureOut { Cli.runCorpus(spark, Map("in" -> batchPath,
      "op" -> "lshappend", "index" -> idx,
      "auto-compact-files" -> "0", "generational" -> "true")) }
    assert(app.contains("n_docs") && app.contains("Rows: "), app)
    assert(StoreGen.resolve(idx) == idx + "_g2")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(idx)),
      "generation 0 (one-behind-grace) reclaimed at the second flip")
    // the forget applied physically at the flip, so the append re-admits
    // the batch: every doc serves from generation 2
    assert(spark.read.parquet(idx + "_g2_sigs")
      .select("doc_id").distinct().count()
      == docs.select("doc_id").distinct().count())
    assert(distinctSeed > 0)
    // `ivfretrain -generational`: the rebuilt index (codebooks included)
    // stages as generation 1 behind the pointer flip
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ivf = tmp + "/ivf"
    graft.operators.Similarity.writeIvfPqIndex(emb, ivf, numCentroids = 8)
    val rt = captureOut { Cli.runCorpus(spark, Map(
      "in" -> "/root/testdata/sf0.001/embeddings.parquet",
      "op" -> "ivfretrain", "index" -> ivf, "generational" -> "true")) }
    assert(rt.contains("compacted") && rt.contains("Rows: 1"), rt)
    assert(StoreGen.resolve(ivf) == ivf + "_g1")
    assert(fs.exists(new org.apache.hadoop.fs.Path(ivf + "_g1_codebook")),
      "the staged generation carries the retrained codebook sidecars")
  }

  test("corpus subcommand: lsh store maintenance (build, probe, append, compact)") {
    val tmp = java.nio.file.Files
      .createTempDirectory("clispec-lsh-maint").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val idx = tmp + "/store"
    val seedPath = tmp + "/seed"
    val batchPath = tmp + "/batch"
    docs.filter("doc_id % 2 = 0").write.parquet(seedPath)
    docs.filter("doc_id % 2 = 1").write.parquet(batchPath)
    val build = captureOut {
      Cli.runCorpus(spark, Map(
        "in" -> seedPath, "op" -> "lshbuild", "index" -> idx))
    }
    // the census carries the duplication tell next to the doc count
    assert(build.contains("n_bucket_rows") && build.contains("Rows: "))
    // probe-then-append order: probe flags the batch's pairs WITHOUT
    // admitting it (store row count unchanged), then the append admits
    val rowsBefore = spark.read.parquet(idx).count()
    val probe = captureOut {
      Cli.runCorpus(spark, Map(
        "in" -> batchPath, "op" -> "lshprobe", "index" -> idx))
    }
    assert(probe.contains("est_jaccard") && probe.contains("Rows: "))
    assert(spark.read.parquet(idx).count() == rowsBefore)
    // dedup-at-ingest from the shell: audit + survivors-only admission
    val ded = captureOut {
      Cli.runCorpus(spark, Map(
        "in" -> batchPath, "op" -> "lshdedup", "index" -> idx))
    }
    assert(ded.contains("n_store_dups") && ded.contains("dropped"), ded)
    val app = captureOut {
      Cli.runCorpus(spark, Map(
        "in" -> batchPath, "op" -> "lshappend", "index" -> idx))
    }
    assert(app.contains("n_docs") && app.contains("Rows: "))
    assert(spark.read.parquet(idx + "_sigs").select("doc_id").distinct().count()
      == docs.select("doc_id").distinct().count())
    // compact takes NO -in: it works purely on the existing store
    val comp = captureOut {
      Cli.runCorpus(spark, Map(
        "op" -> "lshcompact", "index" -> idx, "dest" -> (tmp + "/cx")))
    }
    assert(comp.contains("files") && comp.contains("Rows: "))
    assert(spark.read.parquet(tmp + "/cx").count()
      == spark.read.parquet(idx).count())
    // takedown from the shell: tombstone the batch's ids — health flips
    // pending_tombstones, nothing moves yet (sigs row count unchanged)
    val sigsBefore = spark.read.parquet(idx + "_sigs").count()
    val fg = captureOut {
      Cli.runCorpus(spark, Map("in" -> batchPath, "op" -> "forget",
        "store" -> "lsh", "index" -> idx))
    }
    assert(fg.contains("pending_tombstones") && fg.contains("true"), fg)
    assert(spark.read.parquet(idx + "_sigs").count() == sigsBefore)
    // no silent first-column fallback (advisor r18): an -in frame
    // without the store kind's id column must REFUSE, not tombstone
    // column 0 — unless -id-col names the column explicitly
    val renamedPath = tmp + "/renamed"
    spark.read.parquet(batchPath)
      .selectExpr("doc_id AS document_id")
      .write.parquet(renamedPath)
    val err = intercept[Cli.CliError] {
      Cli.runCorpus(spark, Map("in" -> renamedPath, "op" -> "forget",
        "store" -> "lsh", "index" -> idx))
    }
    assert(err.getMessage.contains("-id-col"), err.getMessage)
    val fg2 = captureOut {
      Cli.runCorpus(spark, Map("in" -> renamedPath, "op" -> "forget",
        "store" -> "lsh", "index" -> idx, "id-col" -> "document_id"))
    }
    assert(fg2.contains("true"), fg2)
    // upkeep with -apply-tombstones: the takedown applies physically in
    // place and the sidecar clears — only the seed's ids remain served
    val up = captureOut {
      Cli.runCorpus(spark, Map("op" -> "upkeep", "store" -> "lsh",
        "index" -> idx, "apply-tombstones" -> "true"))
    }
    assert(up.contains("compacted") && up.contains("Rows: 1"), up)
    assert(spark.read.parquet(idx + "_sigs").select("doc_id").distinct()
      .collect().map(_.getLong(0)).forall(_ % 2 == 0))
    assert(!graft.operators.Tombstones.exists(idx))
    // and a below-threshold upkeep is a pure health read: no compaction
    val up2 = captureOut {
      Cli.runCorpus(spark, Map("op" -> "upkeep", "store" -> "lsh",
        "index" -> idx))
    }
    assert(up2.contains("false"), up2)
  }

  test("corpus subcommand: selection/analysis ops (pca, ks, pareto, superspreaders, ldiversity)") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val pca = captureOut {
      Cli.runCorpus(spark, Map("in" -> emb, "op" -> "pca"))
    }
    assert(pca.contains("Rows: 64") && pca.contains("eigval"))
    val scores = captureOut {
      Cli.runCorpus(spark, Map("in" -> emb, "op" -> "pcascores"))
    }
    assert(scores.contains("pc1_score"))
    val ks = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "ks",
        "value" -> "n_chars", "side" -> "doc_id % 2 = 0"))
    }
    assert(ks.contains("Rows: 1") && ks.contains("d_stat"))
    intercept[Cli.CliError] {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "ks"))
    }
    val par = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "pareto",
        "col-a" -> "n_chars", "col-b" -> "doc_id"))
    }
    assert(par.contains("n_chars"))
    val ss = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "superspreaders",
        "key" -> "lang", "value" -> "source", "topk" -> "3"))
    }
    assert(ss.contains("Rows: 3") && ss.contains("n_distinct"))
    val ld = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "ldiversity",
        "quasi" -> "lang", "sensitive" -> "source"))
    }
    assert(ld.contains("violates"))
    val tc = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "tcloseness",
        "quasi" -> "lang", "sensitive" -> "source"))
    }
    assert(tc.contains("tvd") && tc.contains("Rows: 5"), tc)
  }

  test("corpus subcommand: exact span ops (exactspans, selfrep)") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val es = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "exactspans"))
    }
    assert(es.contains("span_start") && es.contains("max_docs_sharing"), es)
    // the raw corpus has no intra-doc repeats (checked at build time), so
    // selfrep on it is a clean empty report, not an error
    val sr = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "selfrep"))
    }
    assert(sr.contains("Rows: 0") && sr.contains("max_repeats"), sr)
    val ha = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "hyperanf",
        "hops" -> "2"))
    }
    assert(ha.contains("est_reach") && ha.contains("Rows: 68"), ha)
    // span-print store lifecycle from the shell
    val idx = java.nio.file.Files.createTempDirectory("cli-span").toString + "/s"
    val sb = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "spanbuild",
        "index" -> idx))
    }
    assert(sb.contains("n_prints"), sb)
    val pr = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "spanprobe",
        "index" -> idx))
    }
    assert(pr.contains("n_store_docs"), pr)
    // bloom sidecar from the shell: build reports word counts, and the
    // subsequent probe (now riding the sidecar) still serves the store
    val bl = captureOut {
      Cli.runCorpus(spark, Map("op" -> "spanbloom", "index" -> idx))
    }
    assert(bl.contains("n_words"), bl)
    val pr2 = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "spanprobe",
        "index" -> idx))
    }
    assert(pr2 == pr, "bloom-path probe must print the same report")
    // curate-at-ingest from the shell: audit columns + the drop verdict
    val cu = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "spancurate",
        "index" -> idx))
    }
    assert(cu.contains("n_tokens_kept") && cu.contains("dropped"), cu)
    intercept[Cli.CliError] {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "spanprobe"))
    }
  }

  test("corpus subcommand: mixing/eval ops (waterfill, anova, cohesion, curriculum, pcatop)") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val wf = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "waterfill",
        "budget" -> "300"))
    }
    assert(wf.contains("allocation") && wf.contains("keep_frac"))
    intercept[Cli.CliError] {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "waterfill"))
    }
    val an = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "anova",
        "value" -> "n_chars", "group" -> "lang"))
    }
    assert(an.contains("Rows: 1") && an.contains("f_stat"))
    val co = captureOut {
      Cli.runCorpus(spark, Map("in" -> emb, "op" -> "cohesion"))
    }
    assert(co.contains("mean_within_cos"))
    val cu = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "curriculum",
        "stage-expr" -> "least(n_chars div 100, 9)"))
    }
    assert(cu.contains("curriculum_rank"))
    intercept[Cli.CliError] {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "curriculum"))
    }
    val pt = captureOut {
      Cli.runCorpus(spark, Map("in" -> emb, "op" -> "pcatop", "r" -> "2"))
    }
    assert(pt.contains("Rows: 128") && pt.contains("var_explained"))
  }

  test("corpus subcommand: qualityclf trains and scores") {
    val out = captureOut {
      Cli.runCorpus(spark, Map(
        "in" -> "/root/testdata/sf0.001/documents.parquet",
        "op" -> "qualityclf", "dim" -> "32", "iters" -> "2"))
    }
    assert(out.contains("score") && out.contains("Rows: "))
  }

  test("corpus subcommand: containment -df-cap auto derives the cap") {
    val docsPath = "/root/testdata/sf0.001/documents.parquet"
    val auto = captureOut {
      Cli.runCorpus(spark, Map("in" -> docsPath, "op" -> "containment",
        "df-cap" -> "auto"))
    }
    assert(auto.contains("containment_a") && auto.contains("Rows: "))
    // a numeric cap still parses (the oracle-replayable path)
    val num = captureOut {
      Cli.runCorpus(spark, Map("in" -> docsPath, "op" -> "containment",
        "df-cap" -> "64"))
    }
    assert(num.contains("containment_a") && num.contains("Rows: "))
  }

  test("corpus subcommand: retrieval curation ops (hardneg, mmr, rrf)") {
    val embPath = "/root/testdata/sf0.001/embeddings.parquet"
    val docsPath = "/root/testdata/sf0.001/documents.parquet"
    // defaults: 5 queries x 5 negatives
    val hn = captureOut {
      Cli.runCorpus(spark, Map("in" -> embPath, "op" -> "hardneg"))
    }
    assert(hn.contains("cos_sim") && hn.contains("Rows: 25"))
    // defaults: 3 queries x k=3 selections
    val mmr = captureOut {
      Cli.runCorpus(spark, Map("in" -> embPath, "op" -> "mmr"))
    }
    assert(mmr.contains("mmr_score") && mmr.contains("Rows: 9"))
    // defaults: 3 queries x k=10 fused results
    val rrf = captureOut {
      Cli.runCorpus(spark,
        Map("in" -> docsPath, "op" -> "rrf", "emb" -> embPath))
    }
    assert(rrf.contains("rrf_score") && rrf.contains("rank_sparse")
      && rrf.contains("Rows: 30"))
  }

  test("corpus subcommand: binary retrieval, mutual-NN, link prediction, audits") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val ev = "/root/testdata/sf0.001/events.parquet"
    val cust = "/root/testdata/sf0.001/customer.parquet"
    // defaults: 5 queries x k=3
    val bt = captureOut {
      Cli.runCorpus(spark, Map("in" -> emb, "op" -> "binarytopk"))
    }
    assert(bt.contains("hamming") && bt.contains("Rows: 15"))
    // defaults: rf sweep 1,2,4 -> 3 rows
    val br = captureOut {
      Cli.runCorpus(spark, Map("in" -> emb, "op" -> "binaryrecall"))
    }
    assert(br.contains("recall_at_k") && br.contains("Rows: 3"))
    val mn = captureOut {
      Cli.runCorpus(spark, Map("in" -> emb, "op" -> "mutualnn"))
    }
    assert(mn.contains("vec_id_a") && mn.contains("Rows: "))
    val lp = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "linkpredict"))
    }
    assert(lp.contains("resource_alloc") && lp.contains("Rows: "))
    // events carry 5 event types -> 5 per-group fence rows
    val mo = captureOut {
      Cli.runCorpus(spark, Map("in" -> ev, "op" -> "madoutliers"))
    }
    assert(mo.contains("outlier_share") && mo.contains("Rows: 5"))
    val ka = captureOut {
      Cli.runCorpus(spark, Map("in" -> cust, "op" -> "kanon",
        "quasi" -> "c_nationkey,c_mktsegment", "k" -> "5"))
    }
    assert(ka.contains("violates") && ka.contains("Rows: "))
    // skewkeys requires an explicit -key; then returns exactly topn rows
    intercept[Cli.CliError] {
      Cli.runCorpus(spark, Map("in" -> ev, "op" -> "skewkeys"))
    }
    val sk = captureOut {
      Cli.runCorpus(spark, Map("in" -> ev, "op" -> "skewkeys",
        "key" -> "user_id", "topn" -> "5"))
    }
    assert(sk.contains("skew_ratio") && sk.contains("Rows: 5"))
    // data-quality family: FD audit, Benford digits, chi-square, drift
    val fd = captureOut {
      Cli.runCorpus(spark, Map("in" -> ev, "op" -> "fdcheck",
        "lhs" -> "user_id", "rhs" -> "event_type"))
    }
    assert(fd.contains("n_distinct") && fd.contains("Rows: "))
    val bf = captureOut {
      Cli.runCorpus(spark, Map("in" -> ev, "op" -> "benford",
        "value" -> "value"))
    }
    assert(bf.contains("deviation") && bf.contains("expected"))
    val cs = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "chisq"))
    }
    assert(cs.contains("chi2_total") && cs.contains("dof"))
    val cd = captureOut {
      Cli.runCorpus(spark, Map("in" -> emb, "op" -> "centroiddrift"))
    }
    assert(cd.contains("cos_to_global") && cd.contains("norm_ratio"))
  }

  test("corpus subcommand: curation telemetry ops (novelty/vocabdrift/embedoutliers)") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val nov = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "novelty"))
    }
    assert(nov.contains("Rows: 20") && nov.contains("novelty_rate"))
    val vd = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "vocabdrift"))
    }
    assert(vd.contains("Rows: 20") && vd.contains("tvd"))
    val eo = captureOut {
      Cli.runCorpus(spark, Map("in" -> emb, "op" -> "embedoutliers"))
    }
    assert(eo.contains("Rows: 500") && eo.contains("is_outlier"))
    val wz = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "winsorize"))
    }
    assert(wz.contains("Rows: 5") && wz.contains("mean_winsorized"))
  }

  test("events subcommand: anomaly ops (global and online)") {
    val ev = "/root/testdata/sf0.001/events.parquet"
    val an = captureOut {
      Cli.runEvents(spark, Map("in" -> ev, "op" -> "anomaly"))
    }
    assert(an.contains("Rows: 16") && an.contains("z"))
    val ao = captureOut {
      Cli.runEvents(spark, Map("in" -> ev, "op" -> "anomalyonline",
        "z-cut" -> "3.0", "min-prior" -> "8"))
    }
    assert(ao.contains("Rows: 16") && ao.contains("z"))
  }

  test("events subcommand: funnel, retention, json, sessionize") {
    val ev = "/root/testdata/sf0.001/events.parquet"
    val fun = captureOut {
      Cli.runEvents(spark, Map("in" -> ev, "op" -> "funnel"))
    }
    assert(fun.contains("conv_from_first") && fun.contains("Rows: 3"))
    val ret = captureOut {
      Cli.runEvents(spark, Map("in" -> ev, "op" -> "retention"))
    }
    assert(ret.contains("period_offset") && ret.contains("n_active"))
    val js = captureOut {
      Cli.runEvents(spark, Map("in" -> ev, "op" -> "json"))
    }
    assert(js.contains("k_sum") && js.contains("Rows: 5"))
    val sess = captureOut {
      Cli.runEvents(spark, Map("in" -> ev))
    }
    assert(sess.contains("session_id") && sess.contains("Rows: 1000"))
    val pt = captureOut {
      Cli.runEvents(spark, Map("in" -> ev, "op" -> "paths", "topn" -> "5"))
    }
    assert(pt.contains("step3") && pt.contains("Rows: 5"))
    val dw = captureOut {
      Cli.runEvents(spark, Map("in" -> ev, "op" -> "dwell"))
    }
    assert(dw.contains("avg_gap_ms") && dw.contains("Rows: 25"))
    intercept[Cli.CliError] {
      Cli.runEvents(spark, Map("in" -> ev, "op" -> "nope"))
    }
  }

  test("corpus subcommand: ivfrecall and mmfeatures ops") {
    val rec = captureOut {
      Cli.runCorpus(spark, Map(
        "in" -> "/root/testdata/sf0.001/embeddings.parquet",
        "op" -> "ivfrecall", "nprobes" -> "1,4"))
    }
    assert(rec.contains("recall_at_k") && rec.contains("Rows: 2"))
    val mm = captureOut {
      Cli.runCorpus(spark, Map(
        "in" -> "/root/testdata/sf0.001/documents.parquet",
        "op" -> "mmfeatures"))
    }
    assert(mm.contains("c0_sum") && mm.contains("Rows: 500"))
  }

  test("corpus subcommand: graph, matryoshka and phash ops") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val tri = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "triangles"))
    }
    assert(tri.contains("triangles") && tri.contains("Rows: 34"))
    val ts = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "trianglestats"))
    }
    assert(ts.contains("global_clustering") && ts.contains("Rows: 1"))
    val kc = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "kcore"))
    }
    assert(kc.contains("deg") && kc.contains("Rows: 4"))
    val dr = captureOut {
      Cli.runCorpus(spark, Map("in" -> emb, "op" -> "dimrecall",
        "dims" -> "8,64"))
    }
    assert(dr.contains("recall_at_k") && dr.contains("Rows: 2"))
    val tt = captureOut {
      Cli.runCorpus(spark, Map("in" -> emb, "op" -> "trunctopk"))
    }
    assert(tt.contains("prefix_sim") && tt.contains("Rows: 15"))
    val ph = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "phash"))
    }
    assert(ph.contains("phash") && ph.contains("Rows: 334"))
    val pp = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "phashpairs"))
    }
    assert(pp.contains("hamming") && pp.contains("Rows: 621"))
  }

  test("corpus subcommand: tfidf/cosine/quantile/starclusters/zorder ops") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val tfidf = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "tfidf"))
    }
    assert(tfidf.contains("tfidf"))
    val cos = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "cosine",
        "threshold" -> "0.0", "max-df-frac" -> "0.05"))
    }
    assert(cos.contains("cos_sim"))
    val quant = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "quantile"))
    }
    assert(quant.contains("p50_est") && quant.contains("Rows: "))
    val lh = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "loghist"))
    }
    assert(lh.contains("p95_est") && lh.contains("Rows: "))
    val star = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "starclusters"))
    }
    assert(star.contains("canonical_id") && star.contains("Rows: 500"))
    val lm = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "lmscore"))
    }
    assert(lm.contains("lm_score") && lm.contains("Rows: 500"))
    val phrase = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "phrase",
        "words" -> "order,fast"))
    }
    assert(phrase.contains("n_matches"))
    intercept[Cli.CliError] {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "phrase"))
    }
    val ts = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "termstats"))
    }
    assert(ts.contains("total_tf") && ts.contains("Rows: 31"))
    val prof = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "profile"))
    }
    assert(prof.contains("est_distinct") && prof.contains("Rows: 4"))
    val sn = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "samplen", "n" -> "10"))
    }
    assert(sn.contains("Rows: 200")) // 20 sources × 10

    val zdir = java.nio.file.Files.createTempDirectory("cli-zorder").toString
    val z = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "zorder",
        "dest" -> s"$zdir/z", "files" -> "4"))
    }
    assert(z.contains("min_a") && z.contains("Rows: 4"))
    assert(spark.read.parquet(s"$zdir/z").count() == 500L)
    intercept[Cli.CliError] {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "zorder"))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(zdir))

    // lexical retrieval from the shell
    val bm = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "bm25",
        "topk" -> "3", "query-max-id" -> "2"))
    }
    assert(bm.contains("bm25") && bm.contains("rank"), bm)

    // publish-to-training export from the shell: manifest printed, the
    // shard directories actually hold the corpus
    val pdir = java.nio.file.Files.createTempDirectory("cli-publish").toString
    val pub = captureOut {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "publish",
        "dest" -> s"$pdir/shards", "shards" -> "4"))
    }
    assert(pub.contains("digest") && pub.contains("Rows: 4"), pub)
    assert(spark.read.parquet(s"$pdir/shards").count() == 500L)
    intercept[Cli.CliError] {
      Cli.runCorpus(spark, Map("in" -> docs, "op" -> "publish"))
    }
    // the export lifecycle from the shell: append new docs as NEW
    // shards under the frozen budget, then forget some through it
    val newDocs = java.nio.file.Files.createTempDirectory("cli-pubapp").toString
    spark.read.parquet(docs)
      .selectExpr("doc_id + 100000 AS doc_id", "text")
      .limit(50).write.parquet(s"$newDocs/batch")
    val app = captureOut {
      Cli.runCorpus(spark, Map("in" -> s"$newDocs/batch", "op" -> "pubappend",
        "dest" -> s"$pdir/shards"))
    }
    assert(app.contains("digest") && app.contains("shard_id"), app)
    spark.read.parquet(docs).select("doc_id").limit(7)
      .write.parquet(s"$newDocs/doomed")
    val pf = captureOut {
      Cli.runCorpus(spark, Map("in" -> s"$newDocs/doomed", "op" -> "pubforget",
        "dest" -> s"$pdir/shards"))
    }
    assert(pf.contains("digest"), pf)
    val leftIds = spark.read
      .schema("doc_id BIGINT, text STRING, n_tokens BIGINT, shard_id INT")
      .parquet(s"$pdir/shards").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val doomedIds = spark.read.parquet(s"$newDocs/doomed")
      .collect().map(_.getLong(0)).toSet
    assert(doomedIds.forall(!leftIds.contains(_)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pdir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(newDocs))
  }

  test("compact subcommand: rewrites a small-file directory") {
    import TestSpark.spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("cli-compact").toString
    try {
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartition(10).write.parquet(s"$base/in")
      val out = captureOut {
        Cli.runCompact(spark, Map("in" -> s"$base/in", "out" -> s"$base/out",
          "sort-cols" -> "k", "files" -> "2"))
      }
      assert(out.contains("100 rows"))
      intercept[Cli.CliError] { Cli.runCompact(spark, Map("in" -> s"$base/in")) }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("parse summary golden block") {
    val out = captureOut {
      Cli.runParse(spark, Map(
        "file" -> "/root/reference/testdata/bash-example.log",
        "summary" -> "true", "filter" -> "command", "format" -> "text"))
    }
    assert(out.contains("--- Processing Summary ---"))
    assert(out.contains("Total entries: 212"))
    assert(out.contains("Commands: 15"))
    assert(out.contains("Regular output: 180"))
    // clean log: the parse-errors line is ABSENT so the block stays
    // byte-identical to the reference's (which has no such counter)
    assert(!out.contains("Parse errors"))
    // filter applied to display lines: 15 command lines above the summary
    assert(out.linesIterator.count(_.contains("buildkite/agent/hooks")) >= 2)
  }

  test("parse summary surfaces the parse-error count on dirty logs") {
    val dir = java.nio.file.Files.createTempDirectory("cli-dirty")
    val log = dir.resolve("dirty.log")
    // one good OSC line, one malformed timestamp (reference scanner.go
    // hard-errors there; we flag + count per SURVEY §7.4), one plain line
    java.nio.file.Files.write(log, java.util.Arrays.asList(
      "_bk;t=1745322209921echo ok",
      "_bk;t=17453x22echo bad",
      "plain output"))
    try {
      val out = captureOut {
        Cli.runParse(spark, Map(
          "file" -> log.toString, "summary" -> "true", "format" -> "text"))
      }
      assert(out.contains("Total entries: 3"))
      assert(out.contains("Parse errors: 1"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("version and help subcommands answer before any Spark bootstrap") {
    // reference cmd/bklog/main.go:55-59: named subcommands and both
    // flag spellings; version to stdout, help prints the usage block
    assert(captureOut { Cli.main(Array("version")) } == "bklog version dev\n")
    assert(captureOut { Cli.main(Array("-v")) } == "bklog version dev\n")
    assert(captureOut { Cli.main(Array("--version")) } == "bklog version dev\n")
    val h = captureOut { Cli.main(Array("help")) }
    assert(h.startsWith("Usage: bklog <command> [options]"))
    assert(h.contains("version  Print version"))
    assert(captureOut { Cli.main(Array("-h")) } == h)
    assert(captureOut { Cli.main(Array("--help")) } == h)
  }
}
