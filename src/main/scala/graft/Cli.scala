package graft

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `bklog`-equivalent CLI: `parse` and `query` subcommands with the
  * reference's text/JSON output shapes (S11/S12; formats from reference
  * cmd/bklog/main.go:268-477 and cmd/bklog/query_cli.go:154-505).
  *
  * All query work is lazy DataFrames; only formatting collects. The stats
  * blocks report true totals (the reference's by-group stats double-count —
  * query_cli.go:127-147 — which SURVEY.md §2.4 flags as a bug not to
  * replicate).
  */
object Cli {

  /** Recoverable CLI usage error: `main` prints it and exits 1; library
    * callers (tests) catch it instead of losing the JVM to `sys.exit`.
    */
  final class CliError(msg: String) extends RuntimeException(msg)

  private def fail(msg: String): Nothing = throw new CliError(msg)

  private val TsMillis = DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(ZoneOffset.UTC)
  private val TsSeconds = DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  private val TsIso = DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)

  private def fmtMs(ms: Long, f: DateTimeFormatter): String =
    f.format(Instant.ofEpochMilli(ms))

  /** reference query_cli.go:506-514 */
  def truncate(s: String, max: Int): String =
    if (s.length <= max) s else s.substring(0, max - 3) + "..."

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  // ---- parse subcommand output (main.go:268-388) ----

  def formatEntryText(ts: Option[Long], group: String, content: String,
      showGroups: Boolean): String =
    (showGroups && group.nonEmpty, ts) match {
      case (true, Some(t))  => s"[${fmtMs(t, TsMillis)}] [$group] $content"
      case (true, None)     => s"[$group] $content"
      case (false, Some(t)) => s"[${fmtMs(t, TsMillis)}] $content"
      case (false, None)    => content
    }

  /** One parse-output JSON item (reference main.go:339-358 shape). */
  def formatEntryJsonItem(r: Row, showGroups: Boolean): String = {
    val ts = Option(r.getAs[Any]("timestamp")).map(_.asInstanceOf[Long])
    val group = r.getAs[String]("group")
    val sb = new StringBuilder("  {\n")
    ts.foreach(t => sb.append(s"""    "timestamp": "${fmtMs(t, TsIso)}",\n"""))
    sb.append(s"""    "content": "${jsonEscape(r.getAs[String]("content"))}",\n""")
    sb.append(s"""    "has_timestamp": ${ts.nonEmpty}""")
    if (showGroups && group != null && group.nonEmpty)
      sb.append(s""",\n    "group": "${jsonEscape(group)}"""")
    sb.append("\n  }")
    sb.toString
  }

  def formatEntriesJson(rows: Seq[Row], showGroups: Boolean): String =
    rows.map(formatEntryJsonItem(_, showGroups)).mkString("[\n", ",\n", "\n]")

  def formatSummary(s: Row, bytesProcessed: Long): String = {
    val total = s.getAs[Long]("total_entries")
    val sb = new StringBuilder
    sb.append("\n--- Processing Summary ---\n")
    if (bytesProcessed >= 0)
      sb.append(f"Bytes processed: ${bytesProcessed / 1024.0}%.1f KB%n")
    else sb.append("Bytes processed: (API source - unknown)\n")
    sb.append(s"Total entries: $total\n")
    sb.append(s"Entries with timestamps: ${s.getAs[Long]("entries_with_time")}\n")
    sb.append(s"Commands: ${s.getAs[Long]("commands")}\n")
    sb.append(s"Sections: ${s.getAs[Long]("sections")}\n")
    sb.append(s"Progress updates: ${s.getAs[Long]("progress")}\n")
    sb.append(s"Regular output: ${s.getAs[Long]("regular_output")}\n")
    // only on dirty logs: clean-log output stays byte-identical to the
    // reference's summary block (which has no such counter — it aborts
    // on the first malformed timestamp instead)
    val perr = s.getAs[Long]("parse_errors")
    if (perr > 0) sb.append(s"Parse errors: $perr\n")
    sb.toString
  }

  // ---- query subcommand output (query_cli.go) ----

  /** One JSON object rendered like Go's `json.Encoder` with two-space
    * indent; `pad` is the indent of the braces themselves. Values arrive
    * pre-rendered (callers pick number vs string).
    */
  private def renderJsonObj(fields: Seq[(String, String)], pad: String): String =
    fields.map { case (k, v) => s"""$pad  "$k": $v""" }
      .mkString("{\n", ",\n", s"\n$pad}")

  /** Reference JSON envelope for query ops (query_cli.go:156-177, 214-235,
    * 377-398, 440-461): `{"<array>": [...], "stats": {...}}`. The reference
    * tags `stats` omitempty, but Go's omitempty is a no-op on structs, so
    * stats always prints — zero-valued unless -stats; replicated here.
    */
  def jsonEnvelope(arrayName: String, items: Seq[Seq[(String, String)]],
      stats: Seq[(String, String)]): String = {
    val arr =
      if (items.isEmpty) "[]"
      else items.map(renderJsonObj(_, "    ")).mkString("[\n    ", ",\n    ", "\n  ]")
    s"""{\n  "$arrayName": $arr,\n  "stats": ${renderJsonObj(stats, "  ")}\n}"""
  }

  /** ParquetLogEntry JSON fields (reference query.go:20-28). */
  def entryJsonFields(r: Row): Seq[(String, String)] = {
    val ts = Option(r.getAs[Any]("timestamp")).map(_.asInstanceOf[Long])
    Seq(
      "timestamp" -> ts.getOrElse(0L).toString,
      "content" -> s""""${jsonEscape(r.getAs[String]("content"))}"""",
      "group" -> s""""${jsonEscape(Option(r.getAs[String]("group")).getOrElse(""))}"""",
      "has_timestamp" -> ts.nonEmpty.toString,
      "is_command" -> r.getAs[Boolean]("is_command").toString,
      "is_group" -> r.getAs[Boolean]("is_group").toString,
      "is_progress" -> r.getAs[Boolean]("is_progress").toString)
  }

  /** GroupInfo JSON fields (reference query.go:31-38); zero time renders as
    * Go's `time.Time` zero value.
    */
  def groupJsonFields(g: Row): Seq[(String, String)] = {
    def tsStr(field: String): String =
      Option(g.getAs[java.sql.Timestamp](field))
        .map(t => fmtMs(t.getTime, TsIso)).getOrElse("0001-01-01T00:00:00Z")
    Seq(
      "name" -> s""""${jsonEscape(g.getAs[String]("name"))}"""",
      "entry_count" -> g.getAs[Long]("entry_count").toString,
      "first_seen" -> s""""${tsStr("first_seen")}"""",
      "last_seen" -> s""""${tsStr("last_seen")}"""",
      "commands" -> g.getAs[Long]("commands").toString,
      "progress" -> g.getAs[Long]("progress").toString)
  }

  def formatGroupsTable(groups: Seq[Row]): String = {
    val sb = new StringBuilder
    sb.append(s"Groups found: ${groups.length}\n\n")
    if (groups.isEmpty) { sb.append("No groups found.\n"); return sb.toString }
    sb.append("%-40s %8s %8s %8s %19s %19s\n".format(
      "GROUP NAME", "ENTRIES", "COMMANDS", "PROGRESS", "FIRST SEEN", "LAST SEEN"))
    sb.append("-" * 120).append("\n")
    groups.foreach { g =>
      def tsStr(field: String): String =
        Option(g.getAs[java.sql.Timestamp](field))
          .map(t => fmtMs(t.getTime, TsSeconds)).getOrElse("")
      sb.append("%-40s %8d %8d %8d %19s %19s\n".format(
        truncate(g.getAs[String]("name"), 40),
        g.getAs[Long]("entry_count"),
        g.getAs[Long]("commands"),
        g.getAs[Long]("progress"),
        tsStr("first_seen"), tsStr("last_seen")))
    }
    sb.toString
  }

  def formatEntryWithMarkers(r: Row): String = {
    val markers = Seq(
      if (r.getAs[Boolean]("is_command")) Some("CMD") else None,
      if (r.getAs[Boolean]("is_group")) Some("GRP") else None,
      if (r.getAs[Boolean]("is_progress")) Some("PROG") else None).flatten
    val markerStr = if (markers.nonEmpty) s" [${markers.mkString(",")}]" else ""
    val ts = Option(r.getAs[Any]("timestamp")).map(_.asInstanceOf[Long]).getOrElse(0L)
    s"[${fmtMs(ts, TsMillis)}]$markerStr ${r.getAs[String]("content")}"
  }

  def formatFileInfo(path: String, info: ParquetIO.FileInfo): String =
    s"""Parquet File Information:
       |  File:         $path
       |  Rows:         ${info.rowCount}
       |  Columns:      ${info.columnCount}
       |  File Size:    ${info.fileSize} bytes (${"%.2f".format(info.fileSize / (1024.0 * 1024.0))} MB)
       |  Row Groups:   ${info.numRowGroups}
       |""".stripMargin

  // ---- main ----

  private def parseFlags(args: Seq[String]): Map[String, String] =
    args.grouped(2).collect {
      case Seq(k, v) if k.startsWith("-") => k.stripPrefix("-") -> v
    }.toMap

  /** Reference cmd/bklog/main.go:13-15: version is "dev" unless
    * overridden at deploy time (ldflags there, an env var here — a JVM
    * library has no link-time stamping seam).
    */
  private val Version = sys.env.getOrElse("GRAFT_VERSION", "dev")

  private def printUsage(out: java.io.PrintStream): Unit =
    out.println(
      """Usage: bklog <command> [options]
          |Commands:
          |  parse  -file <log>  [-format text|json] [-filter command|group|progress]
          |         [-strip-ansi true] [-show-groups true] [-summary true] [-parquet out]
          |    OR API params: -org <o> -pipeline <p> -build <b> -job <j>
          |    (set BUILDKITE_API_TOKEN for API access)
          |  query  -file <parquet> [-op list-groups|by-group|tail|seek|info]
          |         [-group pat] [-limit N] [-tail N] [-seek K] [-format text|json] [-stats true]
          |  corpus -in <documents.parquet>
          |         [-op quality|repetition|tokens|langid|fingerprint|pii|dedup|neardup|
          |              editdist|jaccard|clusters|starclusters|spans|split|shuffle|tokenbudget|chunk|pack|
          |              contamination|curate|kmeans|quantize|semdedup|incrdedup|cms|hll|
          |              lmscore|phrase|termstats|profile|samplen|tfidf|cosine|quantile|zorder|
          |              ivfrecall|mmfeatures|lshrecall|ivfq|bestdedup|sqrtmix|pq|pqrecall|
          |              ivfpq|ivfpqrecall|ivfpqappend|ivfpqcompact|pagerank|dsir|bpe|bpeseg|
          |              bpetokens|containment|clusterterms|kfold|purity|drift|collocations|
          |              gini|vocabgrowth|hardneg|mmr|rrf|novelty|vocabdrift|embedoutliers|
          |              winsorize|triangles|trianglestats|kcore|dimrecall|trunctopk|
          |              phash|phashpairs|audiohash|audiohashpairs|rendezvous|ppr|heavytokens|
          |              topktokens|topktokensby|snm|sssp|lshbuild|lshappend|lshprobe|lshcompact|
          |              spancurate|lshdedup|ivfdrift|spanbloom|publish|bm25|bm25prf|datasheet|retention|fertility|
          |              forget|upkeep|pubappend|pubforget|ivfretrain|
          |              qualityclf|auc|avgprec|calibrate|brier|kappa|loghist|
          |              pca|pcascores|pcatop|ks|pareto|superspreaders|ldiversity|anova|waterfill|isotropy|cohesion|curriculum]
          |          (ppr: [-seed-ids 1,2,3] [-iters N] — seeds default to even doc_ids)
          |          (sssp: [-seed-ids 1,2,3] [-rounds N] — weighted span graph, seeds default doc_id%10==0)
          |          (winsorize: [-group-col c] [-score-col c] [-lo-pct N] [-hi-pct N];
          |           kcore: [-k N]; dimrecall: [-dims 8,16,32] [-queries N] [-topk N];
          |           trunctopk: [-d N] [-rerank N] [-queries N] [-topk N];
          |           phashpairs: [-max-hamming N] [-bands N] [-max-bucket N])
          |         (kmeans/quantize/semdedup/embedoutliers/ivfrecall/pq/pqrecall/ivfpq/ivfpqrecall/
          |          dimrecall/trunctopk: -in is an embeddings parquet;
          |          embedoutliers: [-k N] [-iters N] [-min-cos X];
          |          ivfpq/ivfpqrecall: [-index dir (reuse a written index)] [-nprobe N]
          |            (ivfpq: [-where 'sql predicate'] = filtered search);
          |          ivfpqappend: -in <new-batch embeddings> -index dir
          |            [-auto-compact-files N] [-generational true];
          |          ivfpqcompact: -index dir -dest dir [-files N];
          |          lshbuild: -in documents -index dir [-hashes N] [-bands N] [-shingle N] [-shards N];
          |          lshappend: -in <new-batch documents> -index dir [-dedupe-ids true]
          |            [-auto-compact-files N] [-generational true]
          |            (auto-compact-files: post-append StoreUpkeep at that
          |             threshold; generational: swap via the _current pointer
          |             flip — always-on serving — instead of in-place renames;
          |             spanappend takes the same two flags);
          |          lshprobe: -in <new-batch documents> -index dir [-threshold X];
          |          lshdedup: -in <new-batch documents> -index dir [-threshold X]
          |            (drop near-dups of store or smaller-id batch docs, append survivors);
          |          spancurate: -in <new-batch documents> -index dir [-min-kept-frac X]
          |            (trim corpus-duplicated spans, drop mostly-dup docs, append survivors);
          |          spanbloom: -index dir [-bits-per-key N] [-hashes K] [-headroom N]
          |            (build the store's Bloom admission sidecar; probes then skip store
          |             I/O for definitely-new prints);
          |          ivfdrift: -in <batch embeddings> -index dir (codebook staleness report);
          |          lshcompact: -index dir -dest dir [-files N];
          |          forget: -in <ids parquet> -store span|lsh|ivfpq -index dir
          |            [-id-col c] (tombstone the ids: hidden from serving now,
          |             removed at compaction; refuses when the store kind's id
          |             column is absent and no -id-col names one);
          |          upkeep: -store span|lsh|ivfpq -index dir [-max-files N]
          |            [-max-sidecar-files N] [-apply-tombstones true]
          |            [-generational true] (store health + threshold-triggered
          |             compaction: in-place renames, or the _current pointer
          |             flip with -generational);
          |          qualityclf: [-label-col c] [-label-val v] [-dim N] [-iters N] [-lr2 X];
          |          auc/avgprec/calibrate/brier: -in <scored parquet> [-score-expr e]
          |            [-label-expr e] (auc/avgprec: [-by cols] [-quant-scale X];
          |            calibrate: [-bins N]); kappa: -rater-a col -rater-b col [-by cols];
          |          pq: [-topk N] [-m N] [-ksub N] [-dim N] [-rerank N];
          |          pagerank: [-span-cap N] [-iters N];
          |          dsir: [-target-col c] [-target v] [-scale F];
          |          ivfrecall: [-topk N] [-k centroids] [-nprobes 1,2,4] [-queries N];
          |          incrdedup: -seen <documents.parquet> [-mbits N] [-hashes K];
          |          phrase: -words w1,w2,...; zorder: -dest <dir> [-col-a c] [-col-b c];
          |          publish: -dest <dir> [-shards N] [-files N] (token-balanced
          |            training-shard export; prints the read-back manifest);
          |          pubappend: -in <new docs> -dest <dir> [-files N] (extend the
          |            export as NEW shards under its frozen budget);
          |          pubforget: -in <ids parquet> -dest <dir> [-files N] (rewrite
          |            only the shards holding those doc_ids; others byte-stable);
          |          ivfretrain: -in <corpus embeddings> -index dir [-train-iters N]
          |            [-generational true] (retrain codebooks from the store's
          |             surviving members and swap — in place, or staged as
          |             generation N+1 behind the pointer flip with
          |             -generational; N>0 = k-means-trained books, 0 = the
          |             pseudo draw);
          |          bm25: [-topk N] [-query-max-id N] [-log-idf true|false]
          |            (lexical retrieval, seed docs as queries);
          |          profile: [-cols a,b,...]; samplen: [-group-col c] [-n N];
          |          tfidf/cosine: [-ngram N] (cosine: [-max-df-frac X]);
          |          containment: [-df-cap N|auto] (auto derives the shingle-df cap);
          |          winnow/winnowpairs: MOSS fingerprints / shared-print pairs;
          |          lpa: [-span-cap N] [-iters N] (sync label-prop communities);
          |          fuzzypairs: -block c [-id c] [-text c] [-threshold X] [-broadcast true] (Jaro-Winkler);
          |          snm: [-sort c] [-id c] [-text c] [-window N] [-threshold X] (sorted-neighborhood);
          |          hardneg: embeddings -in, [-queries N] [-topk N];
          |          mmr: embeddings -in, [-queries N] [-m candidates] [-topk N] [-lambda X];
          |          rrf: documents -in, -emb <embeddings.parquet> [-queries N] [-perlist N] [-topk N];
          |          binarytopk/binaryrecall: embeddings -in, [-queries N] [-topk N] [-dim N] [-rerank N|N,N,...];
          |          mutualnn: embeddings -in; mutualnnivf: embeddings -in;
          |          linkpredict: documents -in, [-span-cap N] [-max-degree N] [-min-common N];
          |          madoutliers: [-value c] [-group c] [-cutoff X];
          |          kanon: -quasi c1,c2,... [-k N]; skewkeys: -key c [-topn N];
          |          centroiddrift: embeddings -in [-group c]; chisq: [-col-a c] [-col-b c];
          |          fdcheck: -lhs c1,c2,... -rhs c; benford: -value c;
          |          pca/pcascores: embeddings -in [-iters N]; pcatop: [-r N] [-iters N];
          |          ks: -value c -side <bool expr> (exact two-sample KS);
          |          pareto: -col-a c -col-b c (frontier maximizing both);
          |          superspreaders: -key c -value c [-topk N] [-candidates N];
          |          ldiversity: -quasi c1,c2,... -sensitive c [-l N];
          |          anova: -value c -group c (one-way F);
          |          waterfill: -budget N [-group-col c] (integer water level);
          |          curriculum: -stage-expr e [-seed N] (stage-major epoch order);
          |          cohesion: embeddings -in [-label-col c])
          |         [-out dir] [-threshold X] [-max-dist N] [-chunk-tokens N] [-overlap N]
          |         [-budget N] [-probes parquet] [-depth N] [-width N] [-topk N] [-p N]
          |         [-seed N] [-k N] [-iters N] (shuffle/tokenbudget: -seed; kmeans/semdedup: -k -iters)
          |  events -in <events.parquet> [-op sessionize|funnel|retention|json|
          |              transitions|sessionstats|anomaly|anomalyonline|paths|dwell|
          |              assoc ([-basket c] [-item c] [-min-support N])|
          |              heavy ([-min-frac f])|percentile ([-p f] [-bins n])|
          |              sketchbuild|sketchappend|sketchserve|sketchcdf|sketchcompact|
          |              hllbuild|hllappend|hllserve|hlloverlap|hllcompact]
          |         (funnel: [-stages a,b,c]; retention: [-bucket-ms n];
          |          sessionize: [-gap-ms n]; json: [-path $.field];
          |          anomaly/anomalyonline: [-z-cut X] [-min-events N|-min-prior N];
          |          sketchbuild: -in events -store dir [-value-col c] [-group-col c]
          |            [-window-ms n] [-mbits N] [-quant-scale X];
          |          sketchappend: -in <new-batch events> -store dir;
          |          sketchserve: -store dir -from-ms n -to-ms n [-by-window true];
          |          sketchcompact: -store dir -dest dir;
          |          hllbuild: -in events -store dir [-item-col c] [-group-col c]
          |            [-window-ms n] [-p N]; hllappend/hllserve/hllcompact:
          |            the sketch* flags, serving distinct-count estimates;
          |          sketchcdf: -store dir -from-ms n -to-ms n -le x1,x2,…;
          |          hlloverlap: -store dir -from-ms n -to-ms n [-corrected true]) [-out dir]
          |  compact -in <dir> -out <dir> [-sort-cols a,b] [-files n | -target-mb m]
          |  version  Print version  (also -v, --version)
          |  help     Print this usage  (also -h, --help)
          |""".stripMargin)

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      printUsage(System.err)
      sys.exit(1)
    }
    // version/help exit before any SparkSession: reference
    // cmd/bklog/main.go:55-59 answers these instantly, and so must a
    // JVM CLI — no 5 s Spark bootstrap to print one line
    args.head match {
      case "version" | "-v" | "--version" =>
        println(s"bklog version $Version"); return
      case "help" | "-h" | "--help" =>
        printUsage(System.out); return
      case _ => ()
    }
    val cmd = args.head
    val flags = parseFlags(args.tail.toSeq)
    // SPARK_MASTER points the CLI at a deployment; local[cpus] otherwise
    val spark = Sessions.local(master = sys.env.get("SPARK_MASTER"),
      logLevel = "ERROR")
    try cmd match {
      case "parse" => runParse(spark, flags)
      case "query" => runQuery(spark, flags)
      case "corpus" => runCorpus(spark, flags)
      case "events" => runEvents(spark, flags)
      case "compact" => runCompact(spark, flags)
      case other =>
        System.err.println(s"Unknown command: $other")
        printUsage(System.err)
        sys.exit(1)
    } catch {
      case e: CliError =>
        System.err.println(s"Error: ${e.getMessage}"); sys.exit(1)
    } finally spark.stop()
  }

  /** File XOR API-params source resolution (reference cmd/bklog
    * main.go:119-141): exactly one of `-file` and the `-org/-pipeline/
    * -build/-job` group, all four API params present, token from
    * BUILDKITE_API_TOKEN. `-api-base`/`-api-token` override endpoint and
    * token (test seam — the reference hardcodes the public endpoint).
    */
  private def resolveEntries(spark: SparkSession,
      flags: Map[String, String]): DataFrame = {
    val apiFlagNames = Seq("org", "pipeline", "build", "job")
    val hasFile = flags.contains("file")
    val hasApi = apiFlagNames.exists(flags.contains)
    if (!hasFile && !hasApi)
      fail("Must provide either -file or API parameters (-org, -pipeline, -build, -job)")
    if (hasFile && hasApi)
      fail("Cannot use both -file and API parameters simultaneously")
    if (hasFile) LogParser.parse(spark, flags("file"))
    else {
      val Seq(org, pipeline, build, job) = apiFlagNames.map(flags.getOrElse(_, ""))
      sources.BuildkiteApi.validateParams(org, pipeline, build, job).foreach(fail)
      val client = (flags.get("api-base"), flags.get("api-token")) match {
        case (Some(base), tok) => new sources.BuildkiteApiClient(
          tok.orElse(sys.env.get("BUILDKITE_API_TOKEN")).getOrElse(""), baseUrl = base)
        case (None, Some(tok)) => new sources.BuildkiteApiClient(tok)
        case _ =>
          try sources.BuildkiteApi.fromEnv()
          catch { case e: IllegalArgumentException => fail(e.getMessage) }
      }
      client.fetchAndParse(spark, org, pipeline, build, job)
    }
  }

  def runParse(spark: SparkSession, flags: Map[String, String]): Unit = {
    val entries = resolveEntries(spark, flags)
    val filtered = flags.get("filter").map(Queries.filterByType(entries, _)).getOrElse(entries)

    flags.get("parquet") match {
      case Some(out) =>
        ParquetIO.write(filtered, out)
      case None =>
        val strip = flags.get("strip-ansi").contains("true")
        val showGroups = flags.get("show-groups").contains("true")
        val display =
          if (strip) filtered.withColumn("content",
            graft.functions.GraftFunctions.strip_ansi(col("content")))
          else filtered
        // toLocalIterator streams one partition at a time — the print loop
        // stays constant-memory however large the log (round-2 advisor:
        // collect() was the one driver-side materialization left)
        val rows = display.orderBy("file", "line_no").toLocalIterator()
        if (flags.get("format").contains("json")) {
          print("[\n")
          var first = true
          rows.forEachRemaining { r =>
            if (!first) print(",\n")
            first = false
            print(formatEntryJsonItem(r, showGroups))
          }
          println("\n]")
        } else rows.forEachRemaining { r =>
          val ts = Option(r.getAs[Any]("timestamp")).map(_.asInstanceOf[Long])
          println(formatEntryText(ts, r.getAs[String]("group"),
            r.getAs[String]("content"), showGroups))
        }
    }
    if (flags.get("summary").contains("true")) {
      // API sources report bytes as unknown (reference main.go:361-363)
      val bytes = flags.get("file").map { path =>
        try {
          val f = new java.io.File(path)
          val n =
            if (f.isDirectory) f.listFiles().filter(_.isFile).map(_.length()).sum
            else f.length()
          if (n == 0) -1L else n
        } catch { case _: Exception => -1L }
      }.getOrElse(-1L)
      print(formatSummary(Queries.summary(entries).head(), bytes))
    }
  }

  /** `compact -in <dir> -out <dir> [-sort-cols a,b] [-files n]` — the
    * small-file remedy ([[ParquetIO.compact]]); defaults to the entry
    * table's (timestamp, group) sort.
    */
  def runCompact(spark: SparkSession, flags: Map[String, String]): Unit = {
    val in = flags.getOrElse("in", fail("compact requires -in <dir>"))
    val out = flags.getOrElse("out", fail("compact requires -out <dir>"))
    val sortCols = flags.getOrElse("sort-cols", s"${Schema.Timestamp},${Schema.Group}")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // count the INPUT once before the write: re-reading the fresh output
    // for a log line would re-list the directory and touch every footer —
    // a second full metadata pass at exactly the small-file scale this
    // command exists to fix
    val rows = spark.read.parquet(in).count()
    // -target-mb sizes the output in the unit layouts are specified in;
    // -files pins an explicit count (mutually exclusive)
    (flags.get("target-mb"), flags.get("files")) match {
      case (Some(_), Some(_)) =>
        fail("compact takes -files OR -target-mb, not both")
      case (Some(mb), None) =>
        ParquetIO.compactToSize(spark, in, out, sortCols, mb.toLong << 20)
        println(s"Compacted $in -> $out ($rows rows, ~$mb MB files)")
      case (None, f) =>
        val files = f.getOrElse("32").toInt
        ParquetIO.compact(spark, in, out, sortCols, files)
        println(s"Compacted $in -> $out ($rows rows, <= $files files)")
    }
  }

  /** Corpus-pipeline subcommand — the training-data operator family over a
    * documents parquet `(doc_id, text, ...)`. `-out` writes zstd parquet
    * (lazy plan → one distributed write); without it, prints the row count
    * and a 20-row sample. Thresholds and window sizes ride in as flags so
    * every operator is reachable without code.
    */

  /** Seed-node table for the graph ops: `-seed-ids a,b,c` parsed (empty
    * segments tolerated: a trailing comma must not throw), else every
    * doc_id divisible by `defaultMod`.
    */
  private def seedNodes(spark: SparkSession, flags: Map[String, String],
      docs: DataFrame, defaultMod: Int): DataFrame =
    flags.get("seed-ids") match {
      case Some(ids) =>
        val s = ids.split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
        if (s.isEmpty) fail("-seed-ids must contain at least one id")
        spark.createDataFrame(s.map(Tuple1(_))).toDF("node")
      case None => docs.filter(col("doc_id") % defaultMod === 0)
        .select(col("doc_id").as("node"))
    }

  def runCorpus(spark: SparkSession, flags: Map[String, String]): Unit = {
    import graft.operators._
    // lazy: ops that work purely on an existing index (ivfpqcompact)
    // take no -in at all — forcing one here would contradict the usage
    // text and add a dead parquet read
    lazy val docs = spark.read.parquet(
      flags.getOrElse("in", fail("corpus requires -in <documents.parquet>")))
    def threshold(d: Double) = flags.get("threshold").map(_.toDouble).getOrElse(d)
    val result: DataFrame = flags.getOrElse("op", "curate") match {
      case "quality"     => TextAnalysis.qualityScore(docs)
      case "repetition"  => TextAnalysis.repetitionStats(docs)
      case "tokens"      => TextAnalysis.tokenCount(docs)
      case "langid"      => TextAnalysis.langId(docs)
      case "fingerprint" => TextAnalysis.fingerprint(docs)
      case "pii"         => Pii.redact(docs)
      case "dedup"       => Dedup.exactDedup(docs)
      case "neardup"     => Dedup.minHashNearDup(docs, threshold = threshold(0.5))
      case "editdist"    => Dedup.editDistanceNearDup(docs,
        maxDist = flags.getOrElse("max-dist", "64").toInt)
      case "jaccard"     => Dedup.ngramJaccardPairs(docs, threshold = threshold(0.8))
      case "lpa"         => Graph.labelPropagation(
        Graph.spanLinkEdges(docs,
          maxDocsPerSpan = flags.getOrElse("span-cap", "64").toInt),
        iters = flags.getOrElse("iters", "3").toInt).orderBy("node")
      case "winnow"      => Dedup.winnowFingerprints(docs)
      case "winnowpairs" => Dedup.winnowPairs(docs)
      case "vocabgrowth" => TextAnalysis.vocabGrowth(docs,
        slices = flags.getOrElse("slices", "10").toInt)
      case "collocations" => TextAnalysis.collocations(docs,
        minCount = flags.getOrElse("min-count", "5").toLong,
        topK = flags.getOrElse("topk", "20").toInt)
      case "gini"        => TextAnalysis.tokenDiversity(docs)
      case "kfold"       => Sampling.kfoldAssign(docs, "doc_id",
        k = flags.getOrElse("k", "5").toInt)
      case "purity"      => Similarity.clusterPurity(docs,
        flags.getOrElse("label-col", "label"),
        k = flags.getOrElse("k", "8").toInt,
        iters = flags.getOrElse("iters", "2").toInt)
      case "drift"       => operators.Stats.histogramDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        flags.getOrElse("value-col", "n_chars"),
        bins = flags.getOrElse("bins", "64").toInt)
      case "clusterterms" => Tfidf.clusterTopTerms(docs,
        flags.getOrElse("group-col", "lang"),
        topK = flags.getOrElse("topk", "10").toInt)
      // -df-cap auto derives the absolute cap from the corpus's shingle-df
      // distribution (suggestedShingleDfCap) — the duplication-proof
      // default; a numeric cap stays for oracle-replayable runs
      case "containment" => Dedup.containmentPairs(docs,
        threshold = threshold(0.5),
        maxShingleDf = flags.getOrElse("df-cap", "64") match {
          case "auto" => Dedup.suggestedShingleDfCap(docs)
          case n      => n.toInt
        })
      case "clusters"    => Dedup.dedupClusters(docs,
        Dedup.ngramJaccardPairs(docs, threshold = threshold(0.8)))
      // tokenizer fertility per stratum (BPE-ish tokens per char/word)
      case "fertility"   => TextAnalysis.tokenizerFertility(docs,
          flags.getOrElse("group-col", "lang"))
        .orderBy("stratum")
      // per-source dataset card (volume, language spread, quality
      // means, near-dup contamination) — the release documentation table
      case "datasheet"   => TextAnalysis.datasheet(docs,
          Dedup.dedupClusters(docs,
            Dedup.ngramJaccardPairs(docs, threshold = threshold(0.8))))
        .orderBy("source")
      case "spans"       => Dedup.duplicateSpans(docs)
      case "exactspans"  => Dedup.duplicateSpansExact(docs,
        minTokens = flags.getOrElse("min-tokens", "16").toInt)
      case "selfrep"     => Dedup.selfRepetitionSpans(docs,
        minTokens = flags.getOrElse("min-tokens", "8").toInt)
      case "split"       => Sampling.deterministicSplit(docs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).select("doc_id", "split")
      case "rendezvous"  => Sampling.rendezvousShard(docs, "doc_id",
        shards = flags.getOrElse("shards", "16").toInt).select("doc_id", "shard")
      case "curriculum"  => Sampling.curriculumOrder(
        // -stage-expr is mandatory: a default like `n_chars div 100`
        // creates one stage per 100 chars — unbounded cardinality, the
        // degenerate offset-table case the operator's doc warns against
        docs.withColumn("stage", expr(flags.getOrElse("stage-expr",
          fail("corpus -op curriculum requires -stage-expr <integral " +
            "bucket expr>, e.g. 'least(n_chars div 100, 9)'")))),
        "stage", seed = flags.getOrElse("seed", "0").toLong)
      case "shuffle"     => Sampling.deterministicShuffle(docs,
        seed = flags.getOrElse("seed", "0").toLong)
      case "tokenbudget" => Sampling.tokenBudgetSample(docs,
        budgetTokens = flags.getOrElse("budget", "1000000").toLong,
        seed = flags.getOrElse("seed", "0").toLong)
      case "chunk"       => TextAnalysis.chunkDocuments(docs,
        flags.getOrElse("chunk-tokens", "64").toInt,
        flags.getOrElse("overlap", "16").toInt)
      case "pack"        => Packing.packSequences(
        TextAnalysis.chunkDocuments(docs,
          flags.getOrElse("chunk-tokens", "64").toInt,
          flags.getOrElse("overlap", "16").toInt),
        budget = flags.getOrElse("budget", "2048").toLong)
      case "contamination" => Contamination.overlapReport(docs,
        spark.read.parquet(flags.getOrElse("probes",
          fail("corpus -op contamination requires -probes <parquet>"))))
      case "decontaminate" => Contamination.decontaminate(docs,
        spark.read.parquet(flags.getOrElse("probes",
          fail("corpus -op decontaminate requires -probes <parquet>"))),
        minShared = flags.getOrElse("min-shared", "2").toInt)
        .select(col("doc_id"), col("dropped"), col("n_probes_hit"),
          col("max_shared"))
      case "curate"      => Pipeline.curate(docs)
      case "lmscore"     => TextAnalysis.lmScore(docs)
      case "profile"     => Stats.columnProfile(docs,
        flags.get("cols").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(docs.columns.toSeq.filter(_ != "text")))
      case "samplen"     => Sampling.fixedSizeSample(docs, "doc_id",
        flags.getOrElse("group-col", "source"),
        n = flags.getOrElse("n", "100").toInt,
        seed = flags.getOrElse("seed", "0").toLong)
      case "phrase"      => Index.phraseSearch(docs,
        flags.getOrElse("words", fail("corpus -op phrase requires -words w1,w2,..."))
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case "termstats"   => Index.termStats(docs)
      case "starclusters" => Dedup.dedupClustersStar(docs,
        Dedup.ngramJaccardPairs(docs, threshold = threshold(0.8)))
      case "tfidf"       => Tfidf.tfidfVectors(docs,
        ngram = flags.getOrElse("ngram", "1").toInt)
      case "cosine"      => Tfidf.sparseCosinePairs(
        Tfidf.tfidfVectors(docs, ngram = flags.getOrElse("ngram", "2").toInt),
        threshold = threshold(0.05),
        maxDfFrac = flags.getOrElse("max-df-frac", "0.01").toDouble)
      case "quantile"    => Quantiles.binnedQuantiles(
        docs.join(TextAnalysis.tokenCount(docs), "doc_id"),
        "n_tokens", flags.getOrElse("group-col", "source"),
        bins = flags.getOrElse("bins", "1024").toInt)
      // one-pass mergeable relative-error sketch — the streaming-safe
      // sibling of -op quantile's two-pass absolute-error histogram
      // retention sweep on a window-partitioned store (sketch/hll):
      // expire partitions ending at or before -cutoff; prints the
      // dropped window starts
      case "retention"   =>
        val idx = flags.getOrElse("index",
          fail("corpus -op retention requires -index <dir> (a window store)"))
        val cutoff = flags.getOrElse("cutoff",
          fail("corpus -op retention requires -cutoff <epoch ms>")).toLong
        val dropped = graft.operators.Retention
          .dropWindowsBefore(spark, idx, cutoff)
        import spark.implicits._
        dropped.toDF("dropped_window_start_ms")
      case "loghist"     => Quantiles.logHistQuantiles(
        docs.join(TextAnalysis.tokenCount(docs), "doc_id"),
        "n_tokens", Seq(flags.getOrElse("group-col", "source")),
        mBits = flags.getOrElse("mbits", "6").toInt,
        quantScale = flags.getOrElse("scale", "1").toDouble)
      // -dest (not -out): -out is where the RESULT table (the per-file
      // span report) goes; -dest is the rewritten-layout directory
      case "zorder"      =>
        val dest = flags.getOrElse("dest",
          fail("corpus -op zorder requires -dest <dir> (the rewritten-layout directory)"))
        Layout.writeZOrdered(docs,
          flags.getOrElse("col-a", "doc_id"), flags.getOrElse("col-b", "n_chars"),
          dest, numFiles = flags.getOrElse("files", "32").toInt)
        Layout.fileSpans(spark, dest, flags.getOrElse("col-a", "doc_id"),
          flags.getOrElse("col-b", "n_chars"))
      // fixed-memory sketches (Sketches.scala)
      case "incrdedup"   => Sketches.incrementalDedupDocs(docs,
        spark.read.parquet(flags.getOrElse("seen",
          fail("corpus -op incrdedup requires -seen <documents.parquet>"))),
        mBits = flags.getOrElse("mbits", (1 << 14).toString).toInt,
        k = flags.getOrElse("hashes", "5").toInt)
      case "cms"         => Sketches.cmsTokenTopK(docs,
        depth = flags.getOrElse("depth", "4").toInt,
        width = flags.getOrElse("width", (1 << 12).toString).toInt,
        topK = flags.getOrElse("topk", "10").toInt)
      case "hll"         => Sketches.hllTokenIncidence(docs,
        p = flags.getOrElse("p", "10").toInt)
      case "heavytokens" => Sketches.heavyHittersBy(
        docs.select(col("lang"),
          explode(TextAnalysis.tokens(col("text"))).as("token")),
        "token", Seq("lang"),
        minFrac = flags.getOrElse("min-frac", "0.02").toDouble)
      case "topktokens"  => Sketches.topKFrequent(
        docs.select(explode(TextAnalysis.tokens(col("text"))).as("token")),
        "token", topK = flags.getOrElse("topk", "10").toInt,
        k = flags.getOrElse("k", "4096").toInt)
      case "topktokensby" => Sketches.topKFrequentBy(
        docs.select(col("lang"),
          explode(TextAnalysis.tokens(col("text"))).as("token")),
        "token", Seq("lang"), topK = flags.getOrElse("topk", "5").toInt,
        k = flags.getOrElse("k", "4096").toInt)
      // embeddings-table ops (-in points at an embeddings parquet)
      case "kmeans"      => Similarity.trainCodebook(docs,
        k = flags.getOrElse("k", "16").toInt,
        iters = flags.getOrElse("iters", "2").toInt)
      case "kcenter"     => Similarity.kCenterSample(docs,
        k = flags.getOrElse("k", "8").toInt)
      case "quantize"    => Similarity.quantizeInt8(docs)
      case "ivfrecall"   => Similarity.ivfRecall(docs,
        docs.filter(col("vec_id") < flags.getOrElse("queries", "5").toLong),
        k = flags.getOrElse("topk", "3").toInt,
        numCentroids = flags.getOrElse("k", "32").toInt,
        nprobes = flags.getOrElse("nprobes", "1,2,4")
          .split(",").map(_.trim.toInt).toSeq)
      // real media decode: synthesize conformant PPM/BMP/WAV payloads from
      // the documents table, then sniff + decode them back to features
      case "mmfeatures"  => Multimodal.decodeFeatures(spark,
        Multimodal.synthesizeMedia(spark, docs))
      case "lshrecall"   => Dedup.lshRecall(docs, threshold = threshold(0.5))
      case "bestdedup"   => Dedup.dedupRepresentatives(docs,
        Dedup.ngramJaccardPairs(docs, threshold = threshold(0.8)))
      case "sqrtmix"     => Sampling.sqrtTemperatureMix(docs,
        flags.getOrElse("group-col", "lang"))
      case "ivfq"        => Similarity.ivfTopKQuantized(docs,
        docs.filter(col("vec_id") < flags.getOrElse("queries", "5").toLong),
        k = flags.getOrElse("topk", "3").toInt,
        numCentroids = flags.getOrElse("k", "32").toInt,
        nprobe = flags.getOrElse("nprobe", "2").toInt,
        rerankFactor = flags.getOrElse("rerank", "4").toInt)
      case "novelty"     => Dedup.noveltyBySource(docs)
      // span-duplication graph analytics (documents table in, doc graph out)
      case "ppr"         =>
        Graph.personalizedPageRank(Graph.spanLinkEdges(docs),
          seedNodes(spark, flags, docs, defaultMod = 2),
          iters = flags.getOrElse("iters", "3").toInt)
      case "sssp"        =>
        Graph.ssspCosts(Graph.spanLinkEdgesWeighted(docs),
          seedNodes(spark, flags, docs, defaultMod = 10),
          maxRounds = flags.getOrElse("rounds", "4").toInt)
      case "triangles"   => Graph.triangleCounts(Graph.spanLinkEdges(docs))
      case "trianglestats" => Graph.triangleStats(Graph.spanLinkEdges(docs))
      case "kcore"       => Graph.kCore(Graph.spanLinkEdges(docs),
        k = flags.getOrElse("k", "2").toInt)
      case "hyperanf"    => Graph.neighborhoodFunction(
        Graph.spanLinkEdges(docs),
        maxHops = flags.getOrElse("hops", "3").toInt,
        p = flags.getOrElse("p", "8").toInt)
      // matryoshka retrieval (embeddings table in)
      case "dimrecall"   => Similarity.dimRecall(docs,
        docs.filter(col("vec_id") < flags.getOrElse("queries", "5").toLong),
        k = flags.getOrElse("topk", "3").toInt,
        dims = flags.getOrElse("dims", "8,16,32")
          .split(",").map(_.trim.toInt).toSeq)
      case "trunctopk"   => Similarity.truncatedTopK(docs,
        docs.filter(col("vec_id") < flags.getOrElse("queries", "5").toLong),
        k = flags.getOrElse("topk", "3").toInt,
        d = flags.getOrElse("d", "16").toInt,
        rerankFactor = flags.getOrElse("rerank", "4").toInt)
      // perceptual image hashing over synthesized conformant payloads
      case "phash"       => Multimodal.imageAHash(spark,
        Multimodal.synthesizeMedia(spark, docs))
      case "phashpairs"  => Multimodal.aHashPairs(
        Multimodal.imageAHash(spark, Multimodal.synthesizeMedia(spark, docs)),
        maxHamming = flags.getOrElse("max-hamming", "3").toInt,
        bands = flags.getOrElse("bands", "4").toInt,
        maxBucket = flags.getOrElse("max-bucket", "64").toInt)
      case "audiohash"   => Multimodal.audioEnergyHash(spark,
        Multimodal.synthesizeMedia(spark, docs))
      case "audiohashpairs" => Multimodal.aHashPairs(
        Multimodal.audioEnergyHash(spark, Multimodal.synthesizeMedia(spark, docs)),
        maxHamming = flags.getOrElse("max-hamming", "3").toInt,
        bands = flags.getOrElse("bands", "4").toInt,
        maxBucket = flags.getOrElse("max-bucket", "64").toInt,
        hashCol = "ehash")
      case "vocabdrift"  => TextAnalysis.vocabDrift(docs)
      case "winsorize"   =>
        operators.Stats.winsorize(
          TextAnalysis.qualityScore(docs)
            .join(docs.select(col("doc_id"),
              col(flags.getOrElse("group-col", "lang"))), "doc_id"),
          flags.getOrElse("score-col", "alpha_ratio"),
          flags.getOrElse("group-col", "lang"),
          loNum = flags.getOrElse("lo-pct", "5").toInt,
          hiNum = flags.getOrElse("hi-pct", "95").toInt)
      case "embedoutliers" => Similarity.embedOutliers(docs,
          k = flags.getOrElse("k", "8").toInt,
          iters = flags.getOrElse("iters", "2").toInt,
          minCos = flags.getOrElse("min-cos", "0.1").toDouble)
      case "semdedup"    => Similarity.semanticDedup(docs,
        k = flags.getOrElse("k", "8").toInt,
        iters = flags.getOrElse("iters", "2").toInt,
        threshold = threshold(0.95))
      case "bpe"         => Bpe.trainMerges(docs,
        rounds = flags.getOrElse("rounds", "6").toInt)
      case "bpeseg"      => Bpe.segmentVocab(docs,
        Bpe.trainMerges(docs, rounds = flags.getOrElse("rounds", "6").toInt))
      case "bpetokens"   => Bpe.tokenizeCorpus(docs,
        Bpe.trainMerges(docs, rounds = flags.getOrElse("rounds", "6").toInt))
      case "dsir"        => Sampling.dsirResample(docs,
        col(flags.getOrElse("target-col", "lang")) === flags.getOrElse("target", "de"),
        scale = flags.getOrElse("scale", "1.0").toDouble)
      case "pqrecall"    => Pq.pqRecall(docs,
        docs.filter(col("vec_id") < flags.getOrElse("queries", "5").toLong),
        k = flags.getOrElse("topk", "3").toInt,
        m = flags.getOrElse("m", "4").toInt,
        ksub = flags.getOrElse("ksub", "16").toInt,
        dim = flags.getOrElse("dim", "64").toInt,
        rerankFactors = flags.getOrElse("reranks", "1,2,4")
          .split(",").map(_.trim.toInt).toSeq)
      case "pq"          => Pq.pqTopK(docs,
        docs.filter(col("vec_id") < flags.getOrElse("queries", "5").toLong),
        k = flags.getOrElse("topk", "3").toInt,
        m = flags.getOrElse("m", "4").toInt,
        ksub = flags.getOrElse("ksub", "16").toInt,
        dim = flags.getOrElse("dim", "64").toInt,
        rerankFactor = flags.getOrElse("rerank", "4").toInt)
      // IVFADC: build (or reuse via -index) the code index, probe pruned
      case "ivfpq"       => {
        val idx = flags.getOrElse("index", java.nio.file.Files
          .createTempDirectory("cli-ivfpq").toString + "/index")
        if (!flags.contains("index"))
          Similarity.writeIvfPqIndex(docs, idx,
            numCentroids = flags.getOrElse("k", "32").toInt,
            m = flags.getOrElse("m", "4").toInt,
            ksub = flags.getOrElse("ksub", "16").toInt,
            dim = flags.getOrElse("dim", "64").toInt)
        val qs = docs.filter(col("vec_id") < flags.getOrElse("queries", "5").toLong)
        val (k, np, rf, mm, dm) = (flags.getOrElse("topk", "3").toInt,
          flags.getOrElse("nprobe", "2").toInt,
          flags.getOrElse("rerank", "4").toInt,
          flags.getOrElse("m", "4").toInt,
          flags.getOrElse("dim", "64").toInt)
        // -where <sql predicate> switches to FILTERED search: top-k
        // among the vectors satisfying the predicate (pre-ADC semi-join)
        flags.get("where") match {
          case Some(p) => Similarity.ivfPqTopKFiltered(spark, idx, qs, docs,
            expr(p), k = k, nprobe = np, rerankFactor = rf, m = mm, dim = dm)
          case None => Similarity.ivfPqTopK(spark, idx, qs, docs,
            k = k, nprobe = np, rerankFactor = rf, m = mm, dim = dm)
        }
      }
      // IVFADC maintenance: -in is a batch of NEW vectors; encode them
      // against the existing index's frozen codebooks and append. The
      // result table is the per-centroid vector census after the append.
      // codebook drift telemetry: how a batch lands under the frozen
      // codebook vs what the store holds — the rebuild-now dashboard
      case "ivfdrift" => {
        val idx = flags.getOrElse("index",
          fail("corpus -op ivfdrift requires -index <dir> (an existing ivfpq index)"))
        Similarity.ivfDriftReport(spark, idx, docs).orderBy("centroid_id")
      }
      case "ivfpqappend" => {
        val idx = flags.getOrElse("index",
          fail("corpus -op ivfpqappend requires -index <dir> (an existing ivfpq index)"))
        Similarity.appendIvfPq(spark, docs, idx)
        maybeUpkeepAfterAppend(spark, flags, idx, StoreUpkeep.IvfPqKind)
        // n_code_rows rides along as the duplication tell (advisor r12):
        // a clean index holds exactly m code rows per vector, so
        // n_code_rows > m·n_vectors means a redelivered batch slipped
        // past the checkpoint — countDistinct alone would hide it
        spark.read.parquet(operators.StoreGen.resolve(idx, spark))
          .groupBy(col("centroid_id").cast("long").as("centroid_id"))
          .agg(countDistinct(col("vec_id")).as("n_vectors"),
            count(lit(1)).as("n_code_rows"))
          .orderBy("centroid_id")
      }
      // collapse append-accumulated small files; -dest is the compacted
      // index (sidecars copied), the result table its per-centroid
      // file/vector census
      case "ivfpqcompact" => {
        val idx = flags.getOrElse("index",
          fail("corpus -op ivfpqcompact requires -index <dir>"))
        val dest = flags.getOrElse("dest",
          fail("corpus -op ivfpqcompact requires -dest <dir> (the compacted index)"))
        Similarity.compactIvfPq(spark, idx, dest,
          filesPerPartition = flags.getOrElse("files", "1").toInt)
        // project the (nondeterministic) file name BEFORE aggregating —
        // Spark rejects it inline in an aggregate's arguments
        spark.read.parquet(dest)
          .withColumn("__file", input_file_name())
          .groupBy(col("centroid_id").cast("long").as("centroid_id"))
          .agg(countDistinct(col("__file")).as("files"),
            countDistinct(col("vec_id")).as("n_vectors"))
          .orderBy("centroid_id")
      }
      // LSH near-dup store maintenance (the text twin of the ivfpq ops):
      // lshbuild cold-builds the band-bucket store from -in documents;
      // lshappend encodes a NEW batch under the frozen geometry sidecar
      // and appends; lshprobe flags a batch's near-dup pairs against the
      // store WITHOUT admitting it (probe-then-append ingest order);
      // lshcompact collapses append-accumulated small files per shard.
      // Census results carry n_bucket_rows next to n_docs per shard —
      // a clean store holds each (doc, bucket) once, so rows exceeding
      // the distinct-doc banding arithmetic is the duplication tell
      // (the ivfpqappend n_code_rows precedent).
      case "lshbuild" | "lshappend" => {
        val idx = flags.getOrElse("index",
          fail(s"corpus -op ${flags("op")} requires -index <dir>"))
        if (flags.getOrElse("op", "") == "lshbuild")
          LshIndex.write(docs, idx,
            numHashes = flags.getOrElse("hashes", "16").toInt,
            bands = flags.getOrElse("bands", "4").toInt,
            shingleSize = flags.getOrElse("shingle", "3").toInt,
            nShards = flags.getOrElse("shards", "16").toInt)
        else {
          LshIndex.append(spark, docs, idx,
            dedupeIds = flags.get("dedupe-ids").exists(_.toBoolean))
          maybeUpkeepAfterAppend(spark, flags, idx, StoreUpkeep.LshKind)
        }
        spark.read.parquet(operators.StoreGen.resolve(idx, spark))
          .groupBy(col("shard").cast("long").as("shard"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_bucket_rows"))
          .orderBy("shard")
      }
      // trained linear quality probe: label = (-label-col == -label-val),
      // train on the full -in corpus, emit (doc_id, y, score). dim/iters/
      // lr2 expose the training dials; scores feed a threshold filter
      case "qualityclf" => {
        val labelCol = flags.getOrElse("label-col", "lang")
        val labelVal = flags.getOrElse("label-val", "en")
        Classifier.linearProbe(docs, col(labelCol) === labelVal,
            dim = flags.getOrElse("dim", "64").toInt,
            iters = flags.getOrElse("iters", "3").toInt,
            lr2 = flags.getOrElse("lr2", "0.25").toDouble)
          .orderBy("doc_id")
      }
      // probe evaluation trio over an already-scored table (-score-expr
      // and -label-expr are SQL expressions over the input schema — the
      // qualityclf output plugs straight in with the defaults)
      case "auc" => {
        val scored = docs.withColumn("__s",
          expr(flags.getOrElse("score-expr", "score")))
        val by = flags.get("by").map(_.split(",").map(_.trim).toSeq)
          .getOrElse(Seq.empty)
        val r = Eval.rocAuc(scored, "__s",
          expr(flags.getOrElse("label-expr", "y = 1")), by,
          quantScale = flags.get("quant-scale").map(_.toDouble))
        if (by.isEmpty) r else r.orderBy(by.map(col): _*)
      }
      case "avgprec" => {
        val scored = docs.withColumn("__s",
          expr(flags.getOrElse("score-expr", "score")))
        val by = flags.get("by").map(_.split(",").map(_.trim).toSeq)
          .getOrElse(Seq.empty)
        val r = Eval.averagePrecision(scored, "__s",
          expr(flags.getOrElse("label-expr", "y = 1")), by,
          quantScale = flags.get("quant-scale").map(_.toDouble))
        if (by.isEmpty) r else r.orderBy(by.map(col): _*)
      }
      case "kappa" => {
        val by = flags.get("by").map(_.split(",").map(_.trim).toSeq)
          .getOrElse(Seq.empty)
        val r = Eval.cohenKappa(docs,
          flags.getOrElse("rater-a", fail("corpus -op kappa requires -rater-a <col>")),
          flags.getOrElse("rater-b", fail("corpus -op kappa requires -rater-b <col>")),
          by)
        if (by.isEmpty) r else r.orderBy(by.map(col): _*)
      }
      case "calibrate" =>
        Eval.calibration(
            docs.withColumn("__s",
              expr(flags.getOrElse("score-expr", "score"))),
            "__s", expr(flags.getOrElse("label-expr", "y = 1")),
            bins = flags.getOrElse("bins", "10").toInt)
          .orderBy("bin")
      case "brier" =>
        Eval.brierScore(
          docs.withColumn("__s",
            expr(flags.getOrElse("score-expr", "score"))),
          "__s", expr(flags.getOrElse("label-expr", "y = 1")))
      case "lshprobe" => {
        val idx = flags.getOrElse("index",
          fail("corpus -op lshprobe requires -index <dir> (an existing lsh store)"))
        LshIndex.probe(spark, docs, idx, threshold = threshold(0.5))
          .orderBy("doc_id_a", "doc_id_b")
      }
      // exact span-print store (the ExactSubstr twin of the lsh family):
      // spanbuild/spanappend maintain the md5-sharded window-print
      // buckets; spanprobe reports which of a batch's windows the
      // corpus already contains; spancompact folds replayed appends
      case "spanbuild" | "spanappend" => {
        val idx = flags.getOrElse("index",
          fail(s"corpus -op ${flags("op")} requires -index <dir>"))
        if (flags.getOrElse("op", "") == "spanbuild")
          SpanStore.write(docs, idx,
            minTokens = flags.getOrElse("min-tokens", "16").toInt)
        else {
          SpanStore.append(spark, docs, idx)
          maybeUpkeepAfterAppend(spark, flags, idx, StoreUpkeep.SpanKind)
        }
        spark.read.parquet(operators.StoreGen.resolve(idx, spark))
          .groupBy(col("shard"))
          .agg(countDistinct(col("span_md5")).as("n_prints"),
            count(lit(1)).as("n_rows"))
          .orderBy("shard")
      }
      case "spanprobe" => {
        val idx = flags.getOrElse("index",
          fail("corpus -op spanprobe requires -index <dir> (an existing span store)"))
        SpanStore.probe(spark, docs, idx).orderBy("doc_id", "p")
      }
      // decontaminate-at-ingest: probe -> trim -> drop -> append
      // survivors as one lineage; prints the per-doc audit
      case "spancurate" => {
        val idx = flags.getOrElse("index",
          fail("corpus -op spancurate requires -index <dir> (an existing span store)"))
        SpanStore.ingestCurate(spark, docs, idx,
            minKeptFrac = flags.getOrElse("min-kept-frac", "0.3").toDouble)
          .select(col("doc_id"), col("n_tokens_before"),
            col("n_tokens_kept"), col("dropped"))
          .orderBy("doc_id")
      }
      // dedup-at-ingest: probe -> keep-first drop -> append survivors
      case "lshdedup" => {
        val idx = flags.getOrElse("index",
          fail("corpus -op lshdedup requires -index <dir> (an existing lsh store)"))
        LshIndex.ingestDedup(spark, docs, idx,
            threshold = threshold(0.5))
          .select(col("doc_id"), col("n_store_dups"), col("n_batch_dups"),
            col("dropped"))
          .orderBy("doc_id")
      }
      // publish-to-training export: token-balanced shard write + the
      // read-back integrity manifest (n_docs, n_tokens, xor digest)
      case "publish" => {
        val dest = flags.getOrElse("dest",
          fail("corpus -op publish requires -dest <dir>"))
        // publishInit, not bare writeShards: the meta sidecar it adds is
        // what makes the export appendable (pubappend) and forgettable
        // (pubforget) later
        Layout.publishInit(spark, docs, dest,
            nShards = flags.getOrElse("shards", "8").toInt,
            filesPerPartition = flags.getOrElse("files", "1").toInt)
          .orderBy("shard_id")
      }
      // incremental publish: extend an existing export with NEW shards
      // under its frozen budget (published shards never rewritten)
      case "pubappend" => {
        val dest = flags.getOrElse("dest",
          fail("corpus -op pubappend requires -dest <dir> (an existing export)"))
        Layout.appendShards(spark, docs, dest,
            filesPerPartition = flags.getOrElse("files", "1").toInt)
          .orderBy("shard_id")
      }
      // takedown THROUGH the export: rewrite only the shards holding the
      // -in frame's doc_ids; every other shard stays byte-stable
      case "pubforget" => {
        val dest = flags.getOrElse("dest",
          fail("corpus -op pubforget requires -dest <dir> (an existing export)"))
        val ids =
          if (docs.columns.contains("doc_id")) docs.select("doc_id")
          else fail("corpus -op pubforget: the -in frame has no 'doc_id' " +
            s"column (found [${docs.columns.mkString(", ")}])")
        Layout.forgetPublished(spark, ids, dest,
            filesPerPartition = flags.getOrElse("files", "1").toInt)
          .orderBy("shard_id")
      }
      // IVFADC codebook retrain-and-swap (the ivfdrift report's
      // actuator): -in is the raw-vector corpus of record; membership
      // comes from the store, tombstones apply physically
      case "ivfretrain" => {
        val idx = flags.getOrElse("index",
          fail("corpus -op ivfretrain requires -index <dir> (an existing IVFADC index)"))
        Similarity.retrainIvfPq(spark, docs, idx,
          trainIters = flags.getOrElse("train-iters", "0").toInt,
          generational = flags.get("generational").exists(_.toBoolean))
        upkeepHealthDf(spark, idx, StoreUpkeep.IvfPqKind, compacted = true)
      }
      // bloom sidecar: build the per-shard admission bitsets over an
      // existing span store (probes then clear definitely-new prints
      // without opening store files); prints sidecar shard word counts
      case "spanbloom" => {
        val idx = flags.getOrElse("index",
          fail("corpus -op spanbloom requires -index <dir> (an existing span store)"))
        SpanStore.writeBloom(spark, idx,
          bitsPerKey = flags.getOrElse("bits-per-key", "12").toInt,
          kHashes = flags.getOrElse("hashes", "5").toInt,
          headroom = flags.getOrElse("headroom", "4").toInt)
        // schema-explicit sidecar read (advisor r17): inference would
        // type shard as INT when every touched shard is all-digit hex,
        // mislabeling e.g. "07" as 7 in the report
        SpanStore.readBloom(spark, idx)
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_words"))
          .orderBy("shard")
      }
      // targeted deletion from the shell (the takedown): tombstone the
      // -in frame's ids in an existing store — answer-sized sidecar
      // write, nothing in the store moves until a compaction applies it;
      // prints post-forget store health (pending_tombstones flips true)
      case "forget" => {
        val idx = flags.getOrElse("index",
          fail("corpus -op forget requires -index <dir> (an existing store)"))
        val kind = upkeepKind(flags)
        val idCol =
          if (kind == StoreUpkeep.IvfPqKind) "vec_id" else "doc_id"
        // no silent first-column fallback (advisor r18): a wrong -in
        // frame (say a documents file against an ivfpq store) would
        // tombstone arbitrary ids from column 0 — for a governance
        // takedown that must fail, not guess. -id-col opts into a
        // differently-named id column explicitly.
        val ids = flags.get("id-col") match {
          case Some(c) =>
            if (docs.columns.contains(c)) docs.select(c)
            else fail(s"corpus -op forget: -id-col $c not in the -in " +
              s"frame's columns [${docs.columns.mkString(", ")}]")
          case None =>
            if (docs.columns.contains(idCol)) docs.select(idCol)
            else fail(s"corpus -op forget: the -in frame has no '$idCol' " +
              s"column (store kind expects it; found " +
              s"[${docs.columns.mkString(", ")}]) — pass -id-col <name> " +
              "to name the id column explicitly")
        }
        kind match {
          case StoreUpkeep.SpanKind  => SpanStore.forget(spark, ids, idx)
          case StoreUpkeep.LshKind   => LshIndex.forget(spark, ids, idx)
          case StoreUpkeep.IvfPqKind => Similarity.forgetIvfPq(spark, ids, idx)
        }
        upkeepHealthDf(spark, idx, kind, compacted = false)
      }
      // store small-file health + the threshold-triggered compaction
      // (StoreUpkeep policy); -apply-tombstones true opts a governance
      // loop into eager physical takedown; -generational true swaps via
      // the _current pointer flip (always-on serving) instead of the
      // in-place renames
      case "upkeep" => {
        val idx = flags.getOrElse("index",
          fail("corpus -op upkeep requires -index <dir> (an existing store)"))
        val kind = upkeepKind(flags)
        val did = StoreUpkeep.maybeCompact(spark, idx, kind,
          maxPartitionFiles = flags.getOrElse("max-files", "64").toInt,
          maxSidecarFiles = flags.getOrElse("max-sidecar-files", "64").toInt,
          compactOnTombstones =
            flags.get("apply-tombstones").exists(_.toBoolean),
          generational = flags.get("generational").exists(_.toBoolean))
        upkeepHealthDf(spark, idx, kind, compacted = did)
      }
      case "spancompact" => {
        val idx = flags.getOrElse("index",
          fail("corpus -op spancompact requires -index <dir>"))
        val dest = flags.getOrElse("dest",
          fail("corpus -op spancompact requires -dest <dir>"))
        SpanStore.compactStore(spark, idx, dest,
          filesPerPartition = flags.getOrElse("files", "1").toInt)
        spark.read.parquet(dest)
          .groupBy(col("shard"))
          .agg(countDistinct(col("span_md5")).as("n_prints"),
            count(lit(1)).as("n_rows"))
          .orderBy("shard")
      }
      case "lshcompact" => {
        val idx = flags.getOrElse("index",
          fail("corpus -op lshcompact requires -index <dir>"))
        val dest = flags.getOrElse("dest",
          fail("corpus -op lshcompact requires -dest <dir> (the compacted store)"))
        LshIndex.compactLsh(spark, idx, dest,
          filesPerPartition = flags.getOrElse("files", "1").toInt)
        spark.read.parquet(dest)
          .withColumn("__file", input_file_name())
          .groupBy(col("shard").cast("long").as("shard"))
          .agg(countDistinct(col("__file")).as("files"),
            countDistinct(col("doc_id")).as("n_docs"))
          .orderBy("shard")
      }
      case "ivfpqrecall" => {
        val idx = flags.getOrElse("index", java.nio.file.Files
          .createTempDirectory("cli-ivfpqr").toString + "/index")
        if (!flags.contains("index"))
          Similarity.writeIvfPqIndex(docs, idx,
            numCentroids = flags.getOrElse("k", "32").toInt,
            m = flags.getOrElse("m", "4").toInt,
            ksub = flags.getOrElse("ksub", "16").toInt,
            dim = flags.getOrElse("dim", "64").toInt)
        Similarity.ivfPqRecall(spark, idx,
          docs.filter(col("vec_id") < flags.getOrElse("queries", "5").toLong),
          docs,
          k = flags.getOrElse("topk", "3").toInt,
          nprobes = flags.getOrElse("nprobes", "1,2,4")
            .split(",").map(_.trim.toInt).toSeq,
          rerankFactor = flags.getOrElse("rerank", "4").toInt,
          m = flags.getOrElse("m", "4").toInt,
          dim = flags.getOrElse("dim", "64").toInt)
      }
      case "pagerank"    => Graph.pageRank(
        Graph.spanLinkEdges(docs,
          maxDocsPerSpan = flags.getOrElse("span-cap", "64").toInt),
        iters = flags.getOrElse("iters", "3").toInt)
      // retrieval-side curation (embeddings input unless noted)
      case "hardneg"     => Similarity.hardNegatives(docs,
        docs.filter(col("vec_id") < flags.getOrElse("queries", "5").toLong),
        k = flags.getOrElse("topk", "5").toInt)
      case "mmr"         => Retrieval.mmrSelect(docs,
        nQueries = flags.getOrElse("queries", "3").toInt,
        m = flags.getOrElse("m", "10").toInt,
        k = flags.getOrElse("topk", "3").toInt,
        lambda = flags.getOrElse("lambda", "0.7").toDouble)
      // documents input + row-aligned embeddings via -emb
      // BM25 lexical retrieval (Lucene log idf by default; -log-idf
      // false switches to the oracle-exact rational odds)
      case "bm25"        => Retrieval.bm25TopK(docs,
        queryMaxId = flags.getOrElse("query-max-id", "5").toLong,
        k = flags.getOrElse("topk", "10").toInt,
        logIdf = flags.getOrElse("log-idf", "true").toBoolean)
        .orderBy("query_id", "rank")
      // RM3 pseudo-relevance feedback on top of BM25: two-pass query
      // expansion (top -fb-docs feedback set, top -fb-terms new terms
      // at weight 0.5)
      case "bm25prf"     => Retrieval.bm25PrfTopK(docs,
        queryMaxId = flags.getOrElse("query-max-id", "5").toLong,
        k = flags.getOrElse("topk", "10").toInt,
        fbDocs = flags.getOrElse("fb-docs", "5").toInt,
        fbTerms = flags.getOrElse("fb-terms", "10").toInt,
        logIdf = flags.getOrElse("log-idf", "true").toBoolean)
        .orderBy("query_id", "rank")
      case "rrf"         => Retrieval.rrfHybridTopK(docs,
        spark.read.parquet(flags.getOrElse("emb",
          fail("rrf requires -emb <embeddings.parquet>"))),
        nQueries = flags.getOrElse("queries", "3").toInt,
        perList = flags.getOrElse("perlist", "20").toInt,
        k = flags.getOrElse("topk", "10").toInt)
      // 1-bit sign-plane retrieval (embeddings input)
      case "binarytopk" => Similarity.binaryTopK(docs,
        docs.filter(col("vec_id") < flags.getOrElse("queries", "5").toLong),
        k = flags.getOrElse("topk", "3").toInt,
        dim = flags.getOrElse("dim", "64").toInt,
        rerankFactor = flags.getOrElse("rerank", "4").toInt)
      case "binaryrecall" => Similarity.binaryRecall(docs,
        docs.filter(col("vec_id") < flags.getOrElse("queries", "5").toLong),
        k = flags.getOrElse("topk", "3").toInt,
        dim = flags.getOrElse("dim", "64").toInt,
        rerankFactors = flags.getOrElse("rerank", "1,2,4")
          .split(",").map(_.trim.toInt).toSeq)
      case "mutualnn"    => Similarity.mutualNeighbors(docs)
      case "mutualnnivf" => Similarity.mutualNeighborsApprox(docs)
      // link prediction over the span-duplication graph (documents input)
      case "linkpredict" => Graph.linkPredict(
        Graph.spanLinkEdges(docs,
          maxDocsPerSpan = flags.getOrElse("span-cap", "64").toInt),
        maxDegree = flags.getOrElse("max-degree", "64").toInt,
        minCommon = flags.getOrElse("min-common", "1").toInt)
      // robust per-group outlier census (any table via -in)
      case "madoutliers" => operators.Stats.madOutliers(docs,
        flags.getOrElse("value", "value"),
        flags.getOrElse("group", "event_type"),
        cutoff = flags.getOrElse("cutoff", "3.0").toDouble)
      case "centroiddrift" => Similarity.centroidDrift(docs,
        flags.getOrElse("group", "label"))
      case "fdcheck"     => operators.Stats.fdViolations(docs,
        flags.getOrElse("lhs", fail(
          "corpus -op fdcheck requires -lhs <col,col,...>"))
          .split(",").map(_.trim).toSeq,
        flags.getOrElse("rhs", fail("corpus -op fdcheck requires -rhs <col>")))
      case "benford"     => operators.Stats.benford(docs,
        flags.getOrElse("value", fail("corpus -op benford requires -value <col>")))
      case "chisq"       => operators.Stats.chiSquare(docs,
        flags.getOrElse("col-a", "lang"), flags.getOrElse("col-b", "source"))
      case "kanon"       => Pii.kAnonymity(docs,
        flags.getOrElse("quasi", fail(
          "corpus -op kanon requires -quasi <col,col,...>"))
          .split(",").map(_.trim).toSeq,
        k = flags.getOrElse("k", "10").toInt)
      case "fuzzypairs"  => Linkage.fuzzyPairs(docs,
        idCol = flags.getOrElse("id", "doc_id"),
        blockCol = flags.getOrElse("block", fail(
          "corpus -op fuzzypairs requires -block <column>")),
        textCol = flags.getOrElse("text", "text"),
        threshold = flags.getOrElse("threshold", "0.9").toDouble,
        broadcastSide = flags.get("broadcast").contains("true"))
      case "snm"         => Linkage.sortedNeighborhoodPairs(docs,
        idCol = flags.getOrElse("id", "doc_id"),
        sortCol = flags.getOrElse("sort", "text"),
        textCol = flags.getOrElse("text", "text"),
        window = flags.getOrElse("window", "8").toInt,
        threshold = flags.getOrElse("threshold", "0.9").toDouble)
      case "skewkeys"    => Skew.keyProfile(docs,
        col(flags.getOrElse("key", fail(
          "corpus -op skewkeys requires -key <column>"))),
        topN = flags.getOrElse("topn", "20").toInt)
      // PCA over an embeddings table (-in): dominant component / scores
      case "pca"         => operators.Pca.dominantComponent(docs,
        iters = flags.getOrElse("iters", "8").toInt)
      case "pcascores"   => operators.Pca.pc1Scores(docs,
        iters = flags.getOrElse("iters", "8").toInt)
      case "isotropy"    => operators.Pca.isotropy(docs)
      case "cohesion"    => operators.Pca.labelCohesion(docs,
        flags.getOrElse("label-col", "label"))
      case "pcatop"      => operators.Pca.topComponents(docs,
        r = flags.getOrElse("r", "2").toInt,
        iters = flags.getOrElse("iters", "8").toInt)
      // exact two-sample KS on a numeric column, sides by -side <bool expr>
      case "ks"          => {
        val v = flags.getOrElse("value",
          fail("corpus -op ks requires -value <numeric column>"))
        val side = expr(flags.getOrElse("side",
          fail("corpus -op ks requires -side <boolean expr>")))
        operators.Stats.ksDrift(docs.filter(side), docs.filter(!side), v)
      }
      // Pareto frontier on two numeric columns (maximizing both)
      case "pareto"      => Sampling.paretoFrontier(docs,
        flags.getOrElse("col-a", fail(
          "corpus -op pareto requires -col-a <numeric column>")),
        flags.getOrElse("col-b", fail(
          "corpus -op pareto requires -col-b <numeric column>")))
      // distinct-count heavy hitters: top keys by count(DISTINCT value)
      case "superspreaders" => Sketches.superSpreaders(docs,
        flags.getOrElse("key", fail(
          "corpus -op superspreaders requires -key <column>")),
        flags.getOrElse("value", fail(
          "corpus -op superspreaders requires -value <column>")),
        k = flags.getOrElse("topk", "10").toInt,
        candidates = flags.getOrElse("candidates", "2048").toInt)
      case "waterfill"   => Sampling.waterfillBudget(docs,
        flags.getOrElse("group-col", "lang"),
        budget = flags.getOrElse("budget",
          fail("corpus -op waterfill requires -budget <rows>")).toLong)
      case "anova"       => operators.Stats.anovaF(docs,
        flags.getOrElse("value", fail(
          "corpus -op anova requires -value <numeric column>")),
        flags.getOrElse("group", fail(
          "corpus -op anova requires -group <label column>")))
      case "ldiversity"  => Pii.lDiversity(docs,
        flags.getOrElse("quasi", fail(
          "corpus -op ldiversity requires -quasi <col,col,...>"))
          .split(",").map(_.trim).toSeq,
        flags.getOrElse("sensitive", fail(
          "corpus -op ldiversity requires -sensitive <col>")),
        l = flags.getOrElse("l", "2").toInt)
      case "tcloseness"  => Pii.tCloseness(docs,
        flags.getOrElse("quasi", fail(
          "corpus -op tcloseness requires -quasi <col,col,...>"))
          .split(",").map(_.trim).toSeq,
        flags.getOrElse("sensitive", fail(
          "corpus -op tcloseness requires -sensitive <col>")),
        t = flags.getOrElse("t", "0.15").toDouble)
      case other => fail(s"unknown corpus op: $other")
    }
    flags.get("out") match {
      case Some(out) =>
        result.write.mode("overwrite").option("compression", "zstd").parquet(out)
        println(s"Wrote ${spark.read.parquet(out).count()} rows to $out")
      case None =>
        println(s"Rows: ${result.count()}")
        result.show(20, 40)
    }
    CacheRegistry.release(spark)
  }

  /** `-store span|lsh|ivfpq` → the [[operators.StoreUpkeep.Kind]] the
    * forget/upkeep ops act on.
    */
  private def upkeepKind(
      flags: Map[String, String]): operators.StoreUpkeep.Kind =
    flags.getOrElse("store",
        fail("this op requires -store span|lsh|ivfpq")) match {
      case "span"  => operators.StoreUpkeep.SpanKind
      case "lsh"   => operators.StoreUpkeep.LshKind
      case "ivfpq" => operators.StoreUpkeep.IvfPqKind
      case other   => fail(s"unknown -store kind: $other (span|lsh|ivfpq)")
    }

  /** Post-append maintenance for the shell ingest ops (`ivfpqappend`/
    * `lshappend`/`spanappend`): with `-auto-compact-files N` set, run
    * the [[operators.StoreUpkeep.maybeCompact]] policy at that
    * threshold after the append — `-generational true` swaps via the
    * `_current` pointer flip (always-on serving) instead of the
    * in-place renames — so a shell ingest loop is self-maintaining the
    * way the streaming ingests are. Without the flag the append stays
    * maintenance-free (the pre-r20 behavior).
    */
  private def maybeUpkeepAfterAppend(spark: SparkSession,
      flags: Map[String, String], idx: String,
      kind: operators.StoreUpkeep.Kind): Unit =
    flags.get("auto-compact-files").map(_.toInt).foreach { thr =>
      operators.StoreUpkeep.maybeCompact(spark, idx, kind,
        maxPartitionFiles = thr, maxSidecarFiles = thr,
        generational = flags.get("generational").exists(_.toBoolean))
    }

  /** One-row store-health frame for the forget/upkeep ops' output. */
  private def upkeepHealthDf(spark: SparkSession, idx: String,
      kind: operators.StoreUpkeep.Kind, compacted: Boolean): DataFrame = {
    val h = operators.StoreUpkeep.health(spark, idx, kind)
    import spark.implicits._
    Seq((h.maxPartitionFiles, h.sidecarFiles, h.pendingTombstones, compacted))
      .toDF("max_partition_files", "sidecar_files", "pending_tombstones",
        "compacted")
  }

  /** Event-analytics subcommand over an events parquet `(event_id, ts,
    * user_id, event_type, value, props)` — the product-analytics family
    * (sessionize / funnel / retention / JSON extraction) from the shell.
    */
  def runEvents(spark: SparkSession, flags: Map[String, String]): Unit = {
    import graft.operators._
    // lazy: the sketch-store serve/compact ops run off the STORE alone
    // (no raw events needed — that is the layer's whole point)
    lazy val ev = {
      val in = flags.getOrElse("in", fail("events requires -in <events.parquet>"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      Tables.normalizeEventTs(spark.read.parquet(in))
        .withColumn("ts_ms", expr("ts div 1000000"))
    }
    // per-window file/row census — the maintenance ops' output (the
    // lshbuild/ivfpqcompact precedent): partials exceeding the sketch
    // geometry bound is the "appends accumulated, compact soon" tell
    def storeCensus(store: String): DataFrame =
      spark.read.parquet(store)
        .withColumn("__file", input_file_name())
        .groupBy(col("window_start_ms").cast("long").as("window_start_ms"))
        .agg(countDistinct(col("__file")).as("files"),
          count(lit(1)).as("n_partials"))
        .orderBy("window_start_ms")
    val result: DataFrame = flags.getOrElse("op", "sessionize") match {
      case "sessionize" => Events.sessionize(ev,
        gapMs = flags.getOrElse("gap-ms", (30 * 60 * 1000L).toString).toLong)
      case "funnel"     => Events.funnel(ev,
        flags.getOrElse("stages", "view,click,purchase")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq).orderBy("stage_idx")
      case "retention"  => Events.retentionCohorts(ev,
          bucketMs = flags.getOrElse("bucket-ms", (24L * 3600 * 1000).toString).toLong)
        .orderBy("cohort", "period_offset")
      case "json"       => Events.jsonFieldStats(ev,
        flags.getOrElse("path", "$.k")).orderBy("event_type")
      case "transitions" => Events.transitionMatrix(ev)
        .orderBy("from_type", "to_type")
      case "sessionstats" => Events.sessionStats(ev,
          gapMs = flags.getOrElse("gap-ms", (30 * 60 * 1000L).toString).toLong)
        .orderBy("user_id", "session_id")
      case "anomaly" => Events.valueAnomalies(ev,
          zCut = flags.getOrElse("z-cut", "3.0").toDouble,
          minEvents = flags.getOrElse("min-events", "8").toInt)
        .orderBy("event_id")
      case "anomalyonline" => Events.runningValueAnomalies(ev,
          zCut = flags.getOrElse("z-cut", "3.0").toDouble,
          minPrior = flags.getOrElse("min-prior", "8").toInt)
        .orderBy("event_id")
      case "paths"  => Events.pathTrigrams(ev,
        topN = flags.getOrElse("topn", "20").toInt)
      case "dwell"  => Events.dwellStats(ev).orderBy("from_type", "to_type")
      case "heavy"  => Sketches.heavyHitters(ev, "event_type",
          minFrac = flags.getOrElse("min-frac", "0.1").toDouble)
        .orderBy("event_type")
      case "percentile" =>
        val p = flags.getOrElse("p", "0.5").toDouble
        val v = Quantiles.exactQuantile(ev, "value", p,
          bins = flags.getOrElse("bins", "4096").toInt)
        import spark.implicits._
        Seq((p, v)).toDF("p", "value")
      case "assoc"  => Graph.associationRules(ev,
          flags.getOrElse("basket", "user_id"),
          flags.getOrElse("item", "event_type"),
          minSupportCount = flags.getOrElse("min-support", "2").toInt)
        .orderBy("item_a", "item_b")
      // persisted quantile-sketch-store maintenance (the metrics twin of
      // the lsh*/ivfpq* store ops): sketchbuild cold-builds the window-
      // partitioned partial store from -in events; sketchappend encodes
      // a NEW batch under the frozen geometry sidecar (census limited to
      // the windows the batch touched); sketchserve answers range
      // quantiles from the store alone; sketchcompact merges
      // append-accumulated duplicate partials into -dest
      case "sketchbuild" => {
        val store = flags.getOrElse("store",
          fail("events -op sketchbuild requires -store <dir>"))
        SketchStore.write(ev, store,
          valueCol = flags.getOrElse("value-col", "value"),
          groupCol = flags.getOrElse("group-col", "event_type"),
          windowMs = flags.getOrElse("window-ms", "3600000").toLong,
          mBits = flags.getOrElse("mbits", "6").toInt,
          quantScale = flags.getOrElse("quant-scale", "100.0").toDouble)
        storeCensus(store)
      }
      case "sketchappend" => {
        val store = flags.getOrElse("store",
          fail("events -op sketchappend requires -store <dir> (an existing sketch store)"))
        val touched = SketchStore.append(spark, ev, store)
        storeCensus(store).filter(col("window_start_ms").isin(touched: _*))
      }
      case "sketchserve" => {
        val store = flags.getOrElse("store",
          fail("events -op sketchserve requires -store <dir> (an existing sketch store)"))
        val from = flags.getOrElse("from-ms",
          fail("events -op sketchserve requires -from-ms <epoch ms>")).toLong
        val to = flags.getOrElse("to-ms",
          fail("events -op sketchserve requires -to-ms <epoch ms>")).toLong
        val res =
          if (flags.get("by-window").exists(_.toBoolean))
            SketchStore.windowQuantiles(spark, store, from, to)
          else SketchStore.quantiles(spark, store, from, to)
        // key column(s) — (window,) group — precede the fixed n/p*_est
        // tail; the group name lives in the store's frozen meta, so
        // order generically on everything before n
        res.orderBy(res.columns.takeWhile(_ != "n").map(col).toSeq: _*)
      }
      case "sketchcompact" => {
        val store = flags.getOrElse("store",
          fail("events -op sketchcompact requires -store <dir>"))
        val dest = flags.getOrElse("dest",
          fail("events -op sketchcompact requires -dest <dir> (the compacted store)"))
        SketchStore.compactStore(spark, store, dest)
        storeCensus(dest)
      }
      // HLL register store maintenance — the distinct-count siblings of
      // the sketch* ops, same store census (rows here are registers; a
      // replayed hllappend is answer-invisible, see HllStore scaladoc)
      case "hllbuild" => {
        val store = flags.getOrElse("store",
          fail("events -op hllbuild requires -store <dir>"))
        HllStore.write(ev, store,
          itemCol = flags.getOrElse("item-col", "user_id"),
          groupCol = flags.getOrElse("group-col", "event_type"),
          windowMs = flags.getOrElse("window-ms", "3600000").toLong,
          p = flags.getOrElse("p", "12").toInt)
        storeCensus(store)
      }
      case "hllappend" => {
        val store = flags.getOrElse("store",
          fail("events -op hllappend requires -store <dir> (an existing hll store)"))
        val touched = HllStore.append(spark, ev, store)
        storeCensus(store).filter(col("window_start_ms").isin(touched: _*))
      }
      case "hllserve" => {
        val store = flags.getOrElse("store",
          fail("events -op hllserve requires -store <dir> (an existing hll store)"))
        val from = flags.getOrElse("from-ms",
          fail("events -op hllserve requires -from-ms <epoch ms>")).toLong
        val to = flags.getOrElse("to-ms",
          fail("events -op hllserve requires -to-ms <epoch ms>")).toLong
        val corrected = flags.get("corrected").exists(_.toBoolean)
        val res =
          if (flags.get("by-window").exists(_.toBoolean))
            HllStore.windowDistinct(spark, store, from, to, corrected)
          else HllStore.distinct(spark, store, from, to, corrected)
        // keys precede the fixed n_registers_used/s_fixed/est tail
        res.orderBy(res.columns.takeWhile(_ != "n_registers_used")
          .map(col).toSeq: _*)
      }
      case "hllcompact" => {
        val store = flags.getOrElse("store",
          fail("events -op hllcompact requires -store <dir>"))
        val dest = flags.getOrElse("dest",
          fail("events -op hllcompact requires -dest <dir> (the compacted store)"))
        HllStore.compactStore(spark, store, dest)
        storeCensus(dest)
      }
      case "hlloverlap" => {
        val store = flags.getOrElse("store",
          fail("events -op hlloverlap requires -store <dir> (an existing hll store)"))
        val from = flags.getOrElse("from-ms",
          fail("events -op hlloverlap requires -from-ms <epoch ms>")).toLong
        val to = flags.getOrElse("to-ms",
          fail("events -op hlloverlap requires -to-ms <epoch ms>")).toLong
        HllStore.overlap(spark, store, from, to,
            corrected = flags.get("corrected").exists(_.toBoolean))
          .orderBy("group_a", "group_b")
      }
      case "sketchcdf" => {
        val store = flags.getOrElse("store",
          fail("events -op sketchcdf requires -store <dir> (an existing sketch store)"))
        val from = flags.getOrElse("from-ms",
          fail("events -op sketchcdf requires -from-ms <epoch ms>")).toLong
        val to = flags.getOrElse("to-ms",
          fail("events -op sketchcdf requires -to-ms <epoch ms>")).toLong
        val xs = flags.getOrElse("le",
          fail("events -op sketchcdf requires -le x1,x2,… (thresholds)"))
          .split(",").map(_.trim.toDouble).toSeq
        val res = SketchStore.cdf(spark, store, from, to, xs)
        res.orderBy(res.columns.head)
      }
      case other => fail(s"unknown events op: $other")
    }
    flags.get("out") match {
      case Some(out) =>
        result.write.mode("overwrite").option("compression", "zstd").parquet(out)
        println(s"Wrote ${spark.read.parquet(out).count()} rows to $out")
      case None =>
        println(s"Rows: ${result.count()}")
        result.show(20, 40)
    }
  }

  def runQuery(spark: SparkSession, flags: Map[String, String]): Unit = {
    val file = flags.getOrElse("file", fail("query requires -file"))
    val op = flags.getOrElse("op", "list-groups")
    val json = flags.get("format").contains("json")
    val stats = flags.get("stats").contains("true")
    val t0 = System.nanoTime()
    lazy val entries = ParquetIO.read(spark, file)
    def queryMs = (System.nanoTime() - t0) / 1e6
    // from the footers: no count job over the table
    def totalRows = ParquetIO.fileInfo(spark, file).rowCount

    op match {
      case "info" =>
        val info = ParquetIO.fileInfo(spark, file)
        if (json) println(
          s"""{"row_count": ${info.rowCount}, "column_count": ${info.columnCount}, """ +
            s""""file_size_bytes": ${info.fileSize}, "num_row_groups": ${info.numRowGroups}}""")
        else print(formatFileInfo(file, info))

      case "list-groups" =>
        val groups = Queries.listGroups(entries).collect()
        if (json) {
          val total = if (stats) totalRows else 0L
          println(jsonEnvelope("groups", groups.toIndexedSeq.map(groupJsonFields),
            Seq("total_entries" -> total.toString,
              "total_groups" -> (if (stats) groups.length else 0).toString,
              "query_time_ms" -> (if (stats) queryMs else 0.0).toString)))
        } else {
          print(formatGroupsTable(groups.toIndexedSeq))
          if (stats) {
            println("\n--- Query Statistics (Streaming) ---")
            println(s"Total entries: $totalRows")
            println(s"Total groups: ${groups.length}")
            println(f"Query time: $queryMs%.2f ms")
          }
        }

      case "by-group" =>
        val pattern = flags.getOrElse("group", "")
        val limit = flags.get("limit").map(_.toLong)
        val matchedDf = Queries.byGroup(entries, pattern)
        val shown = limit.fold(matchedDf)(Queries.limitRows(matchedDf, _)).collect()
        val matched = shown.length
        if (json) {
          val total = if (stats) totalRows else 0L
          println(jsonEnvelope("entries", shown.toIndexedSeq.map(entryJsonFields),
            Seq("total_entries" -> total.toString,
              "matched_entries" -> (if (stats) matched else 0).toString,
              "query_time_ms" -> (if (stats) queryMs else 0.0).toString)))
        } else {
          println(s"Entries in group matching '$pattern': $matched${limitNote(limit, matched)}\n")
          if (shown.isEmpty) println("No entries found for the specified group.")
          else shown.foreach(r => println(formatEntryWithMarkers(r)))
          if (stats) {
            println("\n--- Query Statistics (Streaming) ---")
            println(s"Total entries: $totalRows")
            println(s"Matched entries: $matched")
            println(f"Query time: $queryMs%.2f ms")
          }
        }

      case "tail" =>
        val n = flags.get("tail").map(_.toLong).filter(_ > 0).getOrElse(10L)
        val rows = Queries.tail(entriesWithLineNo(entries), n).collect()
        if (json) {
          val total = if (stats) totalRows else 0L
          println(jsonEnvelope("entries", rows.toIndexedSeq.map(entryJsonFields),
            Seq("total_rows" -> total.toString,
              "entries_shown" -> (if (stats) rows.length else 0).toString,
              "query_time_ms" -> (if (stats) queryMs else 0.0).toString)))
        } else {
          println(s"Last ${rows.length} entries:\n")
          rows.foreach(r => println(formatEntryWithMarkers(r)))
          if (stats) {
            println("\n--- Tail Statistics ---")
            println(s"Total rows in file: $totalRows")
            println(s"Entries shown: ${rows.length}")
            println(f"Query time: $queryMs%.2f ms")
          }
        }

      case "seek" =>
        val k = flags.get("seek").map(_.toLong).getOrElse(0L)
        val limit = flags.get("limit").map(_.toLong)
        val rows = Queries.seek(entriesWithLineNo(entries), k, limit).collect()
        if (json) {
          println(jsonEnvelope("entries", rows.toIndexedSeq.map(entryJsonFields),
            Seq("start_row" -> (if (stats) k else 0L).toString,
              "entries_shown" -> (if (stats) rows.length else 0).toString,
              "query_time_ms" -> (if (stats) queryMs else 0.0).toString)))
        } else {
          println(s"Entries starting from row $k: ${rows.length}${limitNote(limit, rows.length)}\n")
          rows.foreach(r => println(formatEntryWithMarkers(r)))
          if (stats) {
            println("\n--- Seek Statistics ---")
            println(s"Start row: $k")
            println(s"Entries shown: ${rows.length}")
            println(f"Query time: $queryMs%.2f ms")
          }
        }

      case other =>
        System.err.println(s"Unknown operation: $other"); sys.exit(1)
    }
  }

  /** ` (limited to n)` when a `-limit n` with `n >= 0` capped the `shown`
    * rows; a negative limit shows no rows rather than limiting them.
    */
  private def limitNote(limit: Option[Long], shown: Int): String =
    limit.filter(n => n >= 0 && shown >= n).fold("")(n => s" (limited to $n)")

  /** Entry files written by this engine carry `line_no`; files from the
    * reference (or any foreign writer) do not — synthesize it from the
    * file's physical order so tail/seek keep working.
    *
    * `zipWithIndex` numbers rows in partition order (for a single foreign
    * file, its split/offset order — the reference's physical row order)
    * with one count pass over partition sizes; the previous
    * `Window.orderBy(monotonically_increasing_id())` funneled the whole
    * file through ONE partition (round-2 advisor finding).
    */
  def entriesWithLineNo(entries: DataFrame): DataFrame =
    if (entries.columns.contains(Schema.LineNo)) entries
    else {
      import org.apache.spark.sql.types.{LongType, StringType}
      val prepped = entries.withColumn(Schema.File, lit(""))
      val schema = prepped.schema.add(Schema.LineNo, LongType, nullable = false)
      val rdd = prepped.rdd.zipWithIndex().map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ i)
      }
      prepped.sparkSession.createDataFrame(rdd, schema)
    }
}
