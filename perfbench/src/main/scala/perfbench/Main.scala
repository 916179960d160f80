package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.{CheckpointDirs, LogParser, ParquetIO, Queries, SparkEntry}
import graft.operators.CacheRegistry

/** One benchmark run: set up, run whole rounds of one workload for the
  * requested seconds in a closed loop (one client thread), check every
  * output against values computed apart from the program, and write the
  * run's figures to `<work>/result.json` for `run.py`.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <sf dir>`
  */
object Main {

  /** The suite slice: each query with its family (README.md says why). */
  val Slice: Vector[(String, String)] = Vector(
    "q_kcore" -> "graph",
    "q_publish_append" -> "store",
    "q_bm25" -> "retrieval",
    "q1_agg" -> "control", "q_tail" -> "control")
  val Families: Vector[String] = Vector("graph", "store", "retrieval", "control")

  /** Call kinds of one log round, in order. */
  val LogCalls: Vector[String] =
    Vector("ingest", "summary", "list_groups", "by_group", "tail", "seek", "info")
  /** The five reference operations and the program function behind each. */
  val QueryFns: Vector[(String, String)] = Vector(
    "summary" -> "summary", "list_groups" -> "listGroups", "by_group" -> "byGroup",
    "tail" -> "tail", "seek" -> "seek")

  // fleet: lines of each job log
  val FleetJobLines = 3000
  // warm-up before the timed rounds of either workload: fleet-sized jobs
  // (the fixed cost they exercise is most of what the JIT has to compile),
  // then, for the monolith, rounds on its own log
  val WarmupJobs = 3
  // monolith: lines of the one big log; split count per core
  val MonolithLines = 250000
  val SplitsPerCore = 2
  val MonolithWarmupRounds = 1

  /** What one timed ingest stored, as the info check saw it. */
  final case class Stored(round: Int, logBytes: Long, lines: Long,
      parquetBytes: Long, files: Int, rowGroups: Int)

  final class Call(val kind: String, val round: Int, val traced: Boolean,
      val wallNs: Long, val cpuNs: Long, val threadCpuNs: Long, val gcMs: Long,
      val calibNs: Long, val error: Option[String])

  implicit val formats: DefaultFormats.type = DefaultFormats

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, sfDir) = argv
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val work = Paths.get(workS)
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(CheckpointDirs.temp())
    val sessionS = (System.currentTimeMillis() - t0) / 1000.0
    val tracer = new Tracer(spark.sparkContext, traced)
    val run = new Run(spark, tracer, work, seed, seconds, cores, sfDir)
    val result =
      try workload match {
        case "fleet" => run.fleet(t0)
        case "monolith" => run.monolith(t0)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally {
        tracer.drain()
      }
    Files.writeString(work.resolve("result.json"), Serialization.write(result ++ Map(
      "setup_phases" -> (("session_s" -> sessionS) +: run.setupPhases.toSeq).toMap)))
    if (traced)
      Files.writeString(work.resolve("spans.json"), Serialization.write(tracer.spans.toSeq.map(s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ns" -> s.durNs))))
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

final class Run(spark: SparkSession, tracer: Tracer, work: Path, seed: Long,
    seconds: Double, cores: Int, sfDir: String) {
  import Main._

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = os.getProcessCpuTime
  private val threadBean = ManagementFactory.getThreadMXBean
  /** CPU time of each live Java thread: Spark's task threads, the driver and
    * Spark's own threads, but not the JIT compiler or collector threads.
    */
  private def threadCpu(): Map[Long, Long] =
    threadBean.getAllThreadIds.iterator.map(id => id -> threadBean.getThreadCpuTime(id))
      .filter(_._2 > 0).toMap
  private def threadCpuSince(before: Map[Long, Long]): Long =
    threadCpu().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  val calls = ArrayBuffer[Call]()
  /** Named set-up steps and their seconds, for the record. */
  val setupPhases = ArrayBuffer[(String, Double)]()
  private def setupStep[T](name: String)(body: => T): T = {
    val n0 = System.nanoTime()
    try body finally setupPhases += (name -> (System.nanoTime() - n0) / 1e9)
  }
  /** Rows each query call returned, by span name, for the trace. */
  private val rowsReturned = scala.collection.mutable.Map[String, ArrayBuffer[Long]]()
  private var round = -1 // < 0 while setting up
  private var timedStartMs = Long.MaxValue
  private val liveHeap = new LiveHeap

  /** Run one operation: time it, then check its result. A throw or a
    * failed check makes the operation failed.
    */
  private def call[T](kind: String, span: String)(body: => T)(check: T => Option[String]): Unit = {
    // the reference work just before and just after the call
    val calib0 = Calibrate.cpuNs()
    val g0 = gcMs(); val c0 = cpuNs(); val t0 = threadCpu(); val n0 = System.nanoTime()
    val res = try Right(tracer.span(span)(body)) catch { case NonFatal(e) => Left(e) }
    val wall = System.nanoTime() - n0
    val threadCpuNs = threadCpuSince(t0)
    val cpu = cpuNs() - c0
    val gc = gcMs() - g0
    val calib = (calib0 + Calibrate.cpuNs()) / 2
    val error = res match {
      case Left(e) => Some(s"$kind threw $e")
      case Right(r) => try check(r) catch { case NonFatal(e) => Some(s"$kind check threw $e") }
    }
    if (round >= 0) calls += new Call(kind, round, tracer.active, wall, cpu, threadCpuNs, gc, calib, error)
    error.foreach(e => System.err.println(s"[perfbench] FAILED round $round: $e"))
  }

  private def collectRows(span: String)(df: => DataFrame): Array[Row] = {
    val rows = tracer.span(span)(df.collect())
    if (tracer.active && round >= 0)
      rowsReturned.getOrElseUpdate(span, ArrayBuffer()) += rows.length
    rows
  }

  private def rowHashOf(r: Row): Long = {
    val ts = if (r.isNullAt(r.fieldIndex("timestamp"))) None else Some(r.getAs[Long]("timestamp"))
    LogGen.rowHash(r.getAs[Long]("line_no"),
      r.getAs[String]("content").getBytes(UTF_8),
      Option(r.getAs[String]("group")).getOrElse("").getBytes(UTF_8), ts,
      LogGen.flagBits(r.getAs[Boolean]("has_timestamp"), r.getAs[Boolean]("is_command"),
        r.getAs[Boolean]("is_group"), r.getAs[Boolean]("is_progress"),
        r.getAs[Boolean]("parse_error")))
  }

  private def expect(what: String, want: Any, got: Any): Option[String] =
    if (want == got) None else Some(s"$what: want $want, got $got")

  private def tsMs(v: Any): Option[Long] = v match {
    case null => None
    case t: java.sql.Timestamp => Some(t.getTime)
    case i: java.time.Instant => Some(i.toEpochMilli)
  }

  /** (rows, sum of row hashes) over every row of a written entries table,
    * read with Spark's own Parquet reader rather than the program's.
    */
  private def scanHash(dir: String): (Long, Long) = {
    val cols = Seq("line_no", "content", "group", "timestamp", "has_timestamp",
      "is_command", "is_group", "is_progress", "parse_error")
    spark.read.parquet(dir).select(cols.map(org.apache.spark.sql.functions.col): _*)
      .queryExecution.toRdd.mapPartitions { it =>
        var n = 0L; var h = 0L
        it.foreach { r =>
          n += 1
          h += LogGen.rowHash(r.getLong(0), r.getUTF8String(1).getBytes,
            if (r.isNullAt(2)) Array.emptyByteArray else r.getUTF8String(2).getBytes,
            if (r.isNullAt(3)) None else Some(r.getLong(3)),
            LogGen.flagBits(r.getBoolean(4), r.getBoolean(5), r.getBoolean(6),
              r.getBoolean(7), r.getBoolean(8)))
        }
        Iterator.single((n, h))
      }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  private def parquetBytes(dir: String): (Int, Long) = {
    val files = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    (files.size, files.map(Files.size).sum)
  }

  private val stored = ArrayBuffer[Stored]()

  /** One round on one log: ingest it, then run the five reference
    * operations (plus the summary) on the Parquet output, as the CLI does.
    */
  private def logRound(g: LogGen.Golden, splitMax: Long, out: String): Unit = {
    call("ingest", "ingest") {
      val df = tracer.span("LogParser.parse")(LogParser.parse(spark, g.path, splitMax))
      tracer.span("ParquetIO.write")(ParquetIO.write(df, out))
    } { _ =>
      val (n, h) = scanHash(out)
      expect("ingest rows", g.lines, n).orElse(expect("ingest row hash", g.rowHashSum, h))
    }
    if (tracer.active && round >= 0) {
      // parse alone, to a noop sink: the parse share of the ingest span
      tracer.span("LogParser.parse.noop") {
        LogParser.parse(spark, g.path, splitMax).write.format("noop").mode("overwrite").save()
      }
    }
    // read inside each call, as the CLI does; a span of its own
    def entries = tracer.span("ParquetIO.read")(ParquetIO.read(spark, out))
    call("summary", "op.summary") {
      val e = entries
      collectRows("Queries.summary")(Queries.summary(e)).head
    } { r =>
      val got = (0 until 7).map(r.getLong)
      val want = Seq(g.lines, g.withTs, g.commands, g.groups, g.progress,
        g.lines - g.commands - g.groups - g.progress, g.parseErrors)
      expect("summary", want, got)
    }
    call("list_groups", "op.list_groups") {
      val e = entries
      collectRows("Queries.listGroups")(Queries.listGroups(e))
    } { rows =>
      val got = rows.toVector.map(r => (r.getString(0), r.getLong(1), tsMs(r.get(2)),
        tsMs(r.get(3)), r.getLong(4), r.getLong(5)))
      val want = g.groupStats.map(s => (s.name, s.count, s.firstTs, s.lastTs, s.commands, s.progress))
      expect("list_groups", want, got)
    }
    call("by_group", "op.by_group") {
      val e = entries
      collectRows("Queries.byGroup")(Queries.byGroup(e, g.byGroupPattern))
    } { rows =>
      expect(s"by_group '${g.byGroupPattern}' (rows, hash)", (g.byGroupCount, g.byGroupHash),
        (rows.length.toLong, rows.map(rowHashOf).sum))
    }
    call("tail", "op.tail") {
      val e = entries
      collectRows("Queries.tail")(Queries.tail(e, g.tailN.toLong))
    } { rows =>
      expect("tail", g.tail.map(x => (x.lineNo, x.rowHash)),
        rows.toVector.map(r => (r.getAs[Long]("line_no"), rowHashOf(r))))
    }
    call("seek", "op.seek") {
      val e = entries
      collectRows("Queries.seek")(Queries.seek(e, g.seekK, Some(g.seekLimit.toLong)))
    } { rows =>
      expect(s"seek ${g.seekK}", g.seek.map(x => (x.lineNo, x.rowHash)),
        rows.toVector.map(r => (r.getAs[Long]("line_no"), rowHashOf(r))))
    }
    call("info", "op.info") {
      tracer.span("ParquetIO.fileInfo")(ParquetIO.fileInfo(spark, out))
    } { info =>
      val (files, bytes) = parquetBytes(out)
      if (round >= 0 && !tracer.active) stored += Stored(round, g.bytes, g.lines, bytes, files, info.numRowGroups)
      expect("info rows", g.lines, info.rowCount).orElse(expect("info bytes", bytes, info.fileSize))
    }
  }

  /** Run rounds until `seconds` have passed; a round started is finished.
    * Returns the wall seconds of the timed phase.
    */
  private def timed(body: Int => Unit): Double = {
    liveHeap.reset()
    timedStartMs = System.currentTimeMillis()
    val n0 = System.nanoTime()
    var r = 0
    while (r == 0 || (System.nanoTime() - n0) / 1e9 < seconds) {
      round = r
      body(r)
      r += 1
    }
    tracer.active = false
    roundsDone = r
    (System.nanoTime() - n0) / 1e9
  }
  private var roundsDone = 0

  /** The calls of one timed round. A traced run makes them twice on the
    * same log, traced and untraced, in an order that alternates between
    * rounds, so that trace.overhead_ms compares like with like.
    */
  private def passes(body: => Unit): Unit = {
    val order =
      if (!tracer.enabled) Seq(false)
      else if (round % 2 == 0) Seq(true, false) else Seq(false, true)
    order.foreach { on =>
      // a full collection outside the timing: every pass starts from the
      // same heap, and what survives it is the live heap
      System.gc()
      liveHeap.sample()
      tracer.active = on
      body
    }
  }

  /** One fleet job: a log of its own, ingested and queried, then deleted. */
  private def job(name: String, jobSeed: Long)(run: LogGen.Golden => Unit): Unit = {
    val dir = Files.createDirectories(work.resolve("fleet"))
    val log = dir.resolve(s"$name.log")
    run(LogGen.writeLog(log, FleetJobLines, jobSeed))
    Files.delete(log)
  }
  private def fleetRound(g: LogGen.Golden): Unit =
    logRound(g, LogParser.DefaultSplitMaxBytes, work.resolve("fleet").resolve("out").toString)

  /** Warm-up jobs, from a seed stream of their own. */
  private def warmup(): Unit = {
    val warmSeeds = new SplittableRandom(seed ^ 0x5eedL)
    (0 until WarmupJobs).foreach { i =>
      setupStep(s"warmup_$i")(job(s"warmup-$i", warmSeeds.nextLong())(fleetRound))
    }
  }

  def fleet(jvmStartMs: Long): Map[String, Any] = {
    warmup()
    val setup = setupCost(jvmStartMs)
    val seeds = new SplittableRandom(seed)
    val wall = timed(r => job(s"job-$r", seeds.nextLong())(g => passes(fleetRound(g))))
    val slice = if (tracer.enabled) suiteSlice() else Map.empty
    summarize(setup, wall, Map("jobs" -> roundsDone, "job_lines" -> FleetJobLines) ++ slice)
  }

  def monolith(jvmStartMs: Long): Map[String, Any] = {
    val dir = Files.createDirectories(work.resolve("monolith"))
    val g = setupStep("generate")(LogGen.writeLog(dir.resolve("monolith.log"), MonolithLines, seed))
    // split size chosen so the log makes SplitsPerCore splits per core
    val splitMax = (g.bytes + cores * SplitsPerCore - 1) / (cores * SplitsPerCore)
    val out = dir.resolve("out").toString
    warmup()
    (0 until MonolithWarmupRounds).foreach(i => setupStep(s"warmup_monolith_$i")(logRound(g, splitMax, out)))
    val setup = setupCost(jvmStartMs)
    val wall = timed(_ => passes(logRound(g, splitMax, out)))
    summarize(setup, wall, Map("log_lines" -> g.lines, "log_bytes" -> g.bytes,
      "split_max_bytes" -> splitMax))
  }

  /** The suite slice, run in fleet's traced runs only: one untimed pass to
    * warm it, then one traced pass whose results are kept for the DuckDB
    * oracle check in run.py.
    */
  private def suiteSlice(): Map[String, Any] = {
    val outDir = Files.createDirectories(work.resolve("suite"))
    def pass(): Unit = Slice.foreach { case (name, _) =>
      val fn = SparkEntry.queries(name)
      call(name, s"SparkEntry.queries.$name") {
        val df = fn(spark, sfDir)
        (df.schema, df.collect())
      } { case (schema, rows) =>
        if (round >= 0)
          spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(outDir.resolve(name).toString)
        None
      }
      CacheRegistry.release(spark)
      spark.catalog.clearCache()
    }
    round = -1
    pass()
    round = roundsDone
    tracer.active = true
    pass()
    tracer.active = false
    Files.writeString(outDir.resolve("oracle_sql.json"),
      Serialization.write(Slice.map { case (n, _) => n -> SparkEntry.oracleSql(n) }.toMap))
    Map("suite_queries" -> Slice.map(_._1))
  }

  /** Set-up so far: (process CPU seconds, wall seconds) since JVM start. */
  private def setupCost(jvmStartMs: Long): (Double, Double) =
    (cpuNs() / 1e9, (System.currentTimeMillis() - jvmStartMs) / 1000.0)

  /** End-to-end times are CPU times in multiples of the reference work's
    * CPU time ([[Calibrate]]), measured around each call. On the host these
    * figures come from, one fixed piece of work took 0.30 to 0.44 CPU
    * seconds within half a minute, and the CPU time of a round follows that
    * speed far more than anything the program does; the ratio far less
    * (README.md gives the figures). A call counts the CPU of its Java threads only: the
    * JIT compiler and collector threads keep finishing warm-up work in the
    * first timed rounds. Each call kind gives the median over the run's
    * calls of that kind; round_cpu_ref sums the seven kinds. Wall and CPU
    * seconds, and each kind's figure, stay in the record and the trace.
    */
  private def summarize(setup: (Double, Double), wall: Double, extra: Map[String, Any]): Map[String, Any] = {
    tracer.drain()
    val timedCalls = calls.toSeq.filter(c => LogCalls.contains(c.kind) && !c.traced)
    val rounds = timedCalls.groupBy(_.round).toSeq.sortBy(_._1).map(_._2)
    val roundS = rounds.map(_.map(_.wallNs).sum / 1e9)
    val roundCpuS = rounds.map(_.map(_.threadCpuNs).sum / 1e9)
    val cpuRef = LogCalls.map(k => k ->
      median(timedCalls.filter(_.kind == k).map(c => c.threadCpuNs.toDouble / c.calibNs))).toMap
    val endToEnd = Map(
      "setup_s" -> setup._1,
      "round_cpu_ref" -> LogCalls.map(cpuRef).sum,
      "heap_live_mb" -> median(liveHeap.samplesMb.toSeq),
      "stored_bytes_per_log_byte" ->
        stored.map(_.parquetBytes).sum.toDouble / stored.map(_.logBytes).sum)
    val byKind = timedCalls.groupBy(_.kind).map { case (k, cs) =>
      k -> Map("n" -> cs.size, "p50_ms" -> median(cs.map(_.wallNs / 1e6)),
        "p50_cpu_ms" -> median(cs.map(_.threadCpuNs / 1e6)), "cpu_ref" -> cpuRef(k))
    }
    val ingest = timedCalls.filter(_.kind == "ingest")
    val detail = scala.collection.mutable.Map[String, Any]("calls" -> byKind,
      "setup_wall_s" -> setup._2, "round_s" -> median(roundS), "round_cpu_s" -> median(roundCpuS),
      "ref_ms" -> median(timedCalls.map(_.calibNs / 1e6)),
      "rounds" -> rounds.size, "round_s_all" -> roundS, "round_cpu_s_all" -> roundCpuS,
      "round_process_cpu_s_all" -> rounds.map(_.map(_.cpuNs).sum / 1e9),
      "timed_wall_s" -> wall, "heap_mb_all" -> liveHeap.samplesMb.toSeq,
      "call_ms_all" -> timedCalls.map(c => s"${c.kind}:${c.round}:${c.wallNs / 1000000}"),
      "call_cpu_ms_all" -> timedCalls.map(c => s"${c.kind}:${c.round}:${c.threadCpuNs / 1000000}"),
      "ref_us_all" -> timedCalls.map(_.calibNs / 1000))
    detail("ingest_lines_per_s") =
      stored.map(_.lines).sum.toDouble / (ingest.map(_.wallNs).sum / 1e9)
    val failures = calls.toSeq.flatMap(_.error)
    Map(
      "attempted" -> calls.size,
      "failed" -> failures.size,
      "failures" -> failures.take(20),
      "end_to_end" -> endToEnd,
      "detail" -> (detail.toMap ++ extra),
      "per_layer" -> (if (tracer.enabled) perLayer(rounds) else Map.empty),
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq)
  }

  /** Per-layer figures from the traced rounds: means per call (counts
    * repeat exactly for equal inputs), or 0 for a call the workload never
    * makes.
    */
  private def perLayer(rounds: Seq[Seq[Call]]): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    val timedSpans = tracer.spans.toSeq.filter(_.startMs >= timedStartMs)
    def of(name: String) = timedSpans.filter(_.name == name)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

    // LineScanner: single-threaded, per line class
    val scan = ScannerBench.run(seed)
    LogGen.Classes.foreach(c => m(s"LineScanner.parse.${c}_ns_per_line") = scan(c))
    m("LineScanner.headerCleanOrNull.ns_per_line") = scan("headerCleanOrNull")

    val noop = of("LogParser.parse.noop")
    val tracedRounds = timedSpans.filter(_.name == "ingest").size
    val logsOfTraced = stored.toSeq
    val lines = mean(logsOfTraced.map(_.lines.toDouble))
    m("LogParser.parse.lines_per_s") =
      if (noop.isEmpty) 0.0 else logsOfTraced.map(_.lines).sum / (noop.map(_.durNs).sum / 1e9)
    m("LogParser.parse.spark_jobs_per_call") = mean(noop.map(s => tracer.inclusive(s).jobs.toDouble))
    m("LogParser.parse.tasks_per_call") = mean(noop.map(s => tracer.inclusive(s).tasks.toDouble))
    m("LogParser.parse.input_bytes_per_log_byte") =
      if (noop.isEmpty) 0.0
      else noop.map(s => tracer.inclusive(s).bytesRead).sum.toDouble / logsOfTraced.map(_.logBytes).sum
    m("LogParser.parse.self_ms_per_call") = mean(of("LogParser.parse").map(tracer.selfMs))
    m("ParquetIO.write.self_ms_per_call") =
      if (tracedRounds == 0) 0.0 else mean(of("ingest").map(_.durNs / 1e6)) - mean(noop.map(_.durNs / 1e6))
    m("ParquetIO.write.files_per_call") = mean(logsOfTraced.map(_.files.toDouble))
    m("ParquetIO.write.row_groups_per_file") = mean(logsOfTraced.map(l => l.rowGroups.toDouble / l.files))
    m("ParquetIO.write.bytes_per_row") = mean(logsOfTraced.map(l => l.parquetBytes.toDouble / l.lines))
    m("ParquetIO.read.ms_per_call") = mean(of("ParquetIO.read").map(_.durNs / 1e6))
    m("ParquetIO.read.spark_jobs_per_call") = mean(of("ParquetIO.read").map(s => tracer.inclusive(s).jobs.toDouble))
    m("ParquetIO.fileInfo.ms_per_call") = mean(of("ParquetIO.fileInfo").map(_.durNs / 1e6))
    val ingest = of("ingest").map(_.durNs / 1e6)
    m("ingest.lines_per_s") = if (ingest.isEmpty) 0.0 else lines * ingest.size / (ingest.sum / 1e3)
    m("ingest.p50_ms") = if (ingest.isEmpty) 0.0 else median(ingest)

    QueryFns.foreach { case (kind, fn) =>
      val ss = of(s"Queries.$fn")
      val ws = ss.map(tracer.inclusive)
      val p = s"Queries.$fn."
      m(p + "spark_jobs") = mean(ws.map(_.jobs.toDouble))
      m(p + "stages") = mean(ws.map(_.stages.toDouble))
      m(p + "tasks") = mean(ws.map(_.tasks.toDouble))
      m(p + "rows_read") = mean(ws.map(_.rowsRead.toDouble))
      m(p + "bytes_read") = mean(ws.map(_.bytesRead.toDouble))
      m(p + "shuffle_bytes") = mean(ws.map(_.shuffleWrite.toDouble))
      m(p + "rows_returned") = mean(rowsReturned.getOrElse(s"Queries.$fn", ArrayBuffer()).map(_.toDouble).toSeq)
      m(p + "executor_cpu_ms") = mean(ws.map(_.cpuNs / 1e6))
      m(p + "driver_ms") = mean(ss.map(tracer.driverMs))
      val op = of(s"op.$kind").map(_.durNs / 1e6)
      m(p + "wall_p50_ms") = if (op.isEmpty) 0.0 else median(op)
    }

    val passes = of(s"SparkEntry.queries.${Slice.head._1}").size
    Families.foreach { fam =>
      val ss = Slice.filter(_._2 == fam).flatMap { case (q, _) => of(s"SparkEntry.queries.$q") }
      val ws = ss.map(tracer.inclusive)
      def perPass(xs: Seq[Double]) = if (passes == 0) 0.0 else xs.sum / passes
      val p = s"SparkEntry.queries.$fam."
      m(p + "spark_jobs") = perPass(ws.map(_.jobs.toDouble))
      m(p + "stages") = perPass(ws.map(_.stages.toDouble))
      m(p + "tasks") = perPass(ws.map(_.tasks.toDouble))
      m(p + "shuffle_write_bytes") = perPass(ws.map(_.shuffleWrite.toDouble))
      m(p + "spill_bytes") = perPass(ws.map(_.spill.toDouble))
      m(p + "executor_cpu_ms") = perPass(ws.map(_.cpuNs / 1e6))
      m(p + "driver_ms") = perPass(ss.map(tracer.driverMs))
      m(p + "wall_ms") = perPass(ss.map(_.durNs / 1e6))
    }

    m("jvm.gc_ms") = median(rounds.map(_.map(_.gcMs.toDouble).sum))
    m("jvm.process_cpu_s") = median(rounds.map(_.map(_.cpuNs).sum / 1e9))
    m("round.wall_s") = median(rounds.map(_.map(_.wallNs).sum / 1e9))
    m("round.cpu_s") = median(rounds.map(_.map(_.threadCpuNs).sum / 1e9))
    m("host.ref_ms") = median(rounds.flatten.map(_.calibNs / 1e6))
    m("spark.task_retries") = tracer.failedTasks.toDouble
    // each round's traced pass minus its untraced pass over the same log
    val tracedMs = calls.toSeq.filter(c => c.traced && LogCalls.contains(c.kind))
      .groupBy(_.round).map { case (r, cs) => r -> cs.map(_.wallNs).sum / 1e6 }
    val overhead = rounds.flatMap(r => tracedMs.get(r.head.round).map(_ - r.map(_.wallNs).sum / 1e6))
    m("trace.overhead_ms") = if (overhead.isEmpty) 0.0 else median(overhead)
    m.toMap
  }
}

/** Heap in use right after a full collection at the start of each timed
  * pass: the data the program keeps live between rounds, independent of
  * when the collector would have run.
  */
final class LiveHeap {
  private val memory = ManagementFactory.getMemoryMXBean
  val samplesMb = ArrayBuffer[Double]()
  def reset(): Unit = samplesMb.clear()
  def sample(): Unit = samplesMb += memory.getHeapMemoryUsage.getUsed / 1048576.0
}

/** Single-threaded scanner cost per line class, in ns per line. */
object ScannerBench {
  /** Keeps the scanner's results observable, so the JIT cannot drop the calls. */
  @volatile var blackhole = 0
  def run(seed: Long, lines: Int = 20000, minNs: Long = 150000000L): Map[String, Double] = {
    val samples = LogGen.Classes.indices.map(c => LogGen.classSample(c, lines, seed + c))
    def time(lines: Array[Array[Byte]])(f: Array[Byte] => Any): Double = {
      var reps = 0L
      val n0 = System.nanoTime()
      var sink = 0
      while (System.nanoTime() - n0 < minNs || reps < 3) {
        var i = 0
        while (i < lines.length) { if (f(lines(i)) != null) sink += 1; i += 1 }
        reps += 1
      }
      blackhole += sink
      (System.nanoTime() - n0).toDouble / (reps * lines.length)
    }
    // one untimed pass per class lets the JIT compile the scanner first
    samples.foreach(s => time(s)(b => graft.LineScanner.parse(b, b.length)))
    val perClass = LogGen.Classes.zip(samples).map { case (c, s) =>
      c -> time(s)(b => graft.LineScanner.parse(b, b.length))
    }.toMap
    val mixed = samples.flatMap(_.take(lines / samples.size)).toArray
    perClass + ("headerCleanOrNull" -> time(mixed)(b => graft.LineScanner.headerCleanOrNull(b, b.length)))
  }
}
