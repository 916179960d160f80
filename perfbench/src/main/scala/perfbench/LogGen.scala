package perfbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.util.hashing.MurmurHash3

/** Deterministic Buildkite job-log generator.
  *
  * Each line is assembled from typed pieces: text that survives ANSI
  * stripping and escape codes that do not. The expected parse of every line
  * (timestamp, content, clean text, class flags, carried-forward group) is
  * therefore known when the line is written, and the goldens in [[Golden]]
  * are accumulated from that knowledge, never by parsing the bytes back.
  *
  * Text pieces never contain `[` or ESC, so the only bytes the scanner's
  * ANSI strip removes are the codes this generator inserted.
  */
object LogGen {

  /** Line classes; the scanner is timed per class. */
  val Classes: Vector[String] = Vector(
    "osc_plain", "command", "group", "progress", "ansi_heavy", "no_osc", "malformed")
  final val OscPlain = 0; final val Command = 1; final val Group = 2
  final val Progress = 3; final val AnsiHeavy = 4; final val NoOsc = 5
  final val Malformed = 6

  /** Name `Queries.normalizedGroup` gives the empty group. */
  val NoGroup = "<no group>"

  private val Osc = "\u001b_bk;t="
  private val Bel = "\u0007"

  // ---- vocabulary of CI output ----
  private val crates = Array("serde", "tokio", "hyper", "rand", "clap", "regex",
    "anyhow", "tracing", "bytes", "futures", "reqwest", "prost", "tonic", "axum",
    "chrono", "uuid", "libc", "syn", "quote", "parking_lot")
  private val mods = Array("api", "auth", "billing", "cache", "cli", "config",
    "db", "events", "gateway", "ingest", "metrics", "parser", "query", "router",
    "scheduler", "search", "storage", "worker")
  private val fns = Array("test_parse_line", "test_roundtrip",
    "handles_empty_input", "rejects_bad_token", "test_merge_groups", "it_works",
    "test_seek_offset", "test_tail_window", "should_retry_on_timeout",
    "test_compaction", "test_listing", "keeps_line_order")
  private val pkgs = Array("lodash", "react", "typescript", "webpack", "eslint",
    "jest", "numpy", "pandas", "requests", "urllib3", "pytest", "setuptools",
    "wheel", "six", "idna", "certifi")
  private val targets = Array("all", "build", "test", "lint", "release",
    "docker", "check", "dist")

  private val regular = Array(
    "   Compiling {crate} v{v}",
    "   Compiling {crate} v{v} (/workspace/{mod})",
    "    Finished release profile target(s) in {n}.{d}s",
    "test {mod}::tests::{fn} ... ok",
    "test result: ok. {n} passed; 0 failed; 0 ignored; 0 measured; 0 filtered out; finished in {n}.{d}s",
    "PASS src/{mod}/{fn}.test.ts ({n}.{d} s)",
    "ok  \tgithub.com/acme/{mod}\t{n}.{d}s",
    "    --- PASS: {fn} (0.{d}s)",
    "=== RUN   {fn}",
    "npm WARN deprecated {pkg}@{v}: this library is no longer supported",
    "added {n} packages, and audited {n} packages in {n}s",
    "Step {n}/{n} : RUN apt-get install -y --no-install-recommends {pkg}",
    " ---> Running in {hex}",
    " ---> {hex}",
    "Removing intermediate container {hex}",
    "Downloading {pkg}-{v}.tar.gz ({n} kB)",
    "Collecting {pkg}=={v}",
    "  Downloading {pkg}-{v}-py3-none-any.whl ({n} kB)",
    "Successfully installed {pkg}-{v} {pkg}-{v} {pkg}-{v}",
    "{n} passed, {n} skipped, {n} warnings in {n}.{d}s",
    "INFO: From Compiling {mod}/{fn}.cc:",
    "INFO: Elapsed time: {n}.{d}s, Critical Path: {n}.{d}s",
    "{mod}/{fn}.go:{n}:{n}: warning: unused variable",
    "time=\"2025-04-22T11:{d}:{d}Z\" level=info msg=\"uploaded {n} artifacts\" agent={hex}",
    "Fetching {hex} from origin",
    "HEAD is now at {hex} Merge pull request #{n} from acme/{mod}",
    "Using cache: key={mod}-{hex}",
    "✓ {fn} ({n} ms)",
    "→ Uploading {mod}/{fn}.log ({n} kB)",
    "warning: field is never read: `{fn}`",
    "Cloning into '.'...",
    "# Host \"github.com\" already in list of known hosts",
    "",
  )
  private val commands = Array(
    "cd /workspace/{mod}",
    "docker build -t acme/{mod}:{hex} .",
    "go test ./{mod}/...",
    "cargo test --release -p {crate}",
    "npm ci",
    "npm run build",
    "buildkite-agent artifact upload 'dist/**/*'",
    "git clean -ffxdq",
    "git fetch -v --prune -- origin {hex}",
    "git checkout -f {hex}",
    "make -j{n} {target}",
    "python -m pytest -q tests/{mod}",
    "bazel test //{mod}/...",
    "./gradlew :{mod}:check",
    "/buildkite/agent/hooks/environment",
    "docker compose -f docker-compose.ci.yml run --rm {mod}",
  )
  private val titles = Array(
    "Running global environment hook", "Running global pre-checkout hook",
    "Preparing working directory", "Running plugin docker-compose command hook",
    ":docker: Building image", ":package: Uploading artifacts",
    ":test_tube: Running unit tests", ":go: Running go vet",
    ":rust: cargo build --release", ":node: npm ci", ":python: pytest -q",
    "Running commands", "Running global pre-exit hook",
    ":bazel: bazel test //...", ":gradle: gradlew check", "Cleaning up",
    ":lint-roller: Linting", ":shipit: Deploying to staging",
    ":hammer: Compiling", "Downloading dependencies")
  private val markers = Array("~~~ ", "--- ", "+++ ")
  private val progress = Array(
    "Receiving objects: {pct}% ({a}/{b}), {n}.{d} MiB | {n}.{d} MiB/s",
    "remote: Counting objects: {pct}% ({a}/{b})",
    "remote: Compressing objects: {pct}% ({a}/{b})",
    "Resolving deltas: {pct}% ({a}/{b})",
    "{hex}: Downloading {pct}%")
  private val colors = Array("0", "1", "2", "31", "32", "33", "34", "36", "90", "1;32", "38;5;208")
  private val lenient = Array("[0m", "[1m", "[32m", "[90m", "[31m")

  private val HexDigits = "0123456789abcdef"

  private def fill(t: String, r: SplittableRandom): String = {
    if (t.indexOf('{') < 0) return t
    val sb = new java.lang.StringBuilder(t.length + 32)
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if (c == '{') {
        val j = t.indexOf('}', i)
        t.substring(i + 1, j) match {
          case "crate" => sb.append(crates(r.nextInt(crates.length)))
          case "mod" => sb.append(mods(r.nextInt(mods.length)))
          case "fn" => sb.append(fns(r.nextInt(fns.length)))
          case "pkg" => sb.append(pkgs(r.nextInt(pkgs.length)))
          case "target" => sb.append(targets(r.nextInt(targets.length)))
          case "v" => sb.append(r.nextInt(4)).append('.').append(r.nextInt(30))
              .append('.').append(r.nextInt(12))
          case "n" => sb.append(r.nextInt(1000))
          case "d" => sb.append(10 + r.nextInt(90))
          case "pct" => sb.append(r.nextInt(101))
          case "a" => sb.append(r.nextInt(5000))
          case "b" => sb.append(5000 + r.nextInt(5000))
          case "hex" =>
            var k = 0
            while (k < 12) { sb.append(HexDigits.charAt(r.nextInt(16))); k += 1 }
        }
        i = j + 1
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** One line under construction: `content` is what the parser must emit as
    * the content column, `clean` what ANSI stripping must leave of it.
    */
  private final class LineBuf {
    val content = new ByteArrayOutputStream(256)
    val clean = new java.lang.StringBuilder(256)
    def text(s: String): Unit = { content.write(s.getBytes(UTF_8)); clean.append(s) }
    def code(s: String): Unit = content.write(s.getBytes(UTF_8))
    def reset(): Unit = { content.reset(); clean.setLength(0) }
  }

  private def colored(b: LineBuf, r: SplittableRandom, words: Array[String]): Unit = {
    var k = 0
    while (k < words.length) {
      if (k > 0) b.text(" ")
      val p = r.nextInt(10)
      if (p < 4) {
        b.code("\u001b[" + colors(r.nextInt(colors.length)) + "m")
        b.text(words(k)); b.code("\u001b[0m")
      } else if (p < 6) {
        b.code(lenient(r.nextInt(lenient.length))); b.text(words(k))
      } else b.text(words(k))
      k += 1
    }
  }

  /** Expected per-group figures, as `Queries.listGroups` reports them. */
  final case class GroupGolden(name: String, count: Long, firstTs: Option[Long],
      lastTs: Option[Long], commands: Long, progress: Long, rowHash: Long)

  /** An expected row: its position and the hash of all its columns. */
  final case class RowGolden(lineNo: Long, rowHash: Long)

  /** Everything the benchmark checks about one generated log. */
  final case class Golden(
      path: String,
      bytes: Long,
      lines: Long,
      withTs: Long,
      commands: Long,
      groups: Long,
      progress: Long,
      parseErrors: Long,
      /** In `listGroups` order: first seen ascending (none last), then name. */
      groupStats: Vector[GroupGolden],
      rowHashSum: Long,
      byGroupPattern: String,
      byGroupCount: Long,
      byGroupHash: Long,
      tailN: Int,
      tail: Vector[RowGolden],
      seekK: Long,
      seekLimit: Int,
      seek: Vector[RowGolden])

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Hash of one parsed row over every column the parser derives. */
  def rowHash(lineNo: Long, content: Array[Byte], group: Array[Byte],
      ts: Option[Long], flags: Int): Long = {
    var h = mix(lineNo + 0x9e3779b97f4a7c15L)
    h = mix(h ^ (MurmurHash3.bytesHash(content, 0x3c6ef372).toLong << 32 |
      (MurmurHash3.bytesHash(content, 0x1b873593).toLong & 0xffffffffL)))
    h = mix(h ^ MurmurHash3.bytesHash(group, 0x5bd1e995).toLong)
    h = mix(h ^ ts.fold(0x7fedcba987654321L)(t => mix(t)))
    mix(h ^ flags)
  }

  /** Flag bits of [[rowHash]]. */
  def flagBits(hasTs: Boolean, isCommand: Boolean, isGroup: Boolean,
      isProgress: Boolean, parseError: Boolean): Int =
    (if (hasTs) 1 else 0) | (if (isCommand) 2 else 0) | (if (isGroup) 4 else 0) |
      (if (isProgress) 8 else 0) | (if (parseError) 16 else 0)

  /** Line bytes (without end of line) of `n` lines of one class — the
    * per-class inputs of the single-threaded scanner measurement.
    */
  def classSample(cls: Int, n: Int, seed: Long): Array[Array[Byte]] = {
    val r = new SplittableRandom(seed)
    val b = new LineBuf
    var ts = 1745322209921L
    Array.fill(n) {
      ts += r.nextInt(40)
      val l = makeLine(cls, r, b, ts, crlf = false)
      l.raw
    }
  }

  private final class Made(val raw: Array[Byte], val content: Array[Byte],
      val clean: String, val ts: Option[Long], val parseError: Boolean)

  /** Build one line of class `cls`. */
  private def makeLine(cls: Int, r: SplittableRandom, b: LineBuf, ts: Long,
      crlf: Boolean): Made = {
    b.reset()
    var prefix = Osc + ts + Bel
    var validTs = true
    var error = false
    cls match {
      case OscPlain =>
        b.text(fill(regular(r.nextInt(regular.length)), r))
      case Command =>
        if (r.nextInt(10) < 6) { b.code("\u001b[90m"); b.text("$"); b.code("\u001b[0m"); b.text(" ") }
        else b.text("$ ")
        b.text(fill(commands(r.nextInt(commands.length)), r))
      case Group =>
        if (r.nextInt(5) == 0) b.code("\u001b[1m")
        b.text(markers(r.nextInt(markers.length)))
        b.text(titles(r.nextInt(titles.length)))
      case Progress =>
        val updates = 1 + r.nextInt(3)
        val t = progress(r.nextInt(progress.length))
        var k = 0
        while (k < updates) {
          if (k > 0) b.text("\r")
          b.text(fill(t, r)); k += 1
        }
        b.code(if (r.nextBoolean()) "\u001b[K" else "[K")
        // CRLF logs carry `\r\r\n` progress endings: one `\r` stays content
        if (crlf && r.nextInt(10) < 3) b.text("\r")
      case AnsiHeavy =>
        val words = fill(regular(r.nextInt(regular.length - 1)), r).split(' ')
        colored(b, r, words)
      case NoOsc =>
        prefix = ""; validTs = false
        if (r.nextInt(10) < 3) colored(b, r, fill(regular(r.nextInt(regular.length - 1)), r).split(' '))
        else b.text(fill(regular(r.nextInt(regular.length - 1)), r))
      case Malformed =>
        validTs = false
        val digits = r.nextInt(3) match {
          case 0 => // non-numeric timestamp: parse error
            error = true
            val s = ts.toString
            val at = 1 + r.nextInt(s.length - 1)
            s.substring(0, at) + "x" + s.substring(at) + Bel
          case 1 => // overflows a signed 64-bit integer: parse error
            error = true
            (1 + r.nextInt(9)).toString + (1 to 19 + r.nextInt(5)).map(_ => r.nextInt(10)).mkString + Bel
          case _ => // prefix without BEL terminator: passes through unparsed
            ts.toString + " "
        }
        prefix = ""
        b.text(Osc + digits)
        b.text(fill(regular(r.nextInt(regular.length - 1)), r))
    }
    val content = b.content.toByteArray
    val raw =
      if (prefix.isEmpty) content
      else {
        val p = prefix.getBytes(UTF_8)
        val out = java.util.Arrays.copyOf(p, p.length + content.length)
        System.arraycopy(content, 0, out, p.length, content.length)
        out
      }
    new Made(raw, content, b.clean.toString, if (validTs) Some(ts) else None, error)
  }

  /** Mix of non-header lines, per mille: command, progress, ansi_heavy,
    * no_osc, malformed; the rest are osc_plain.
    */
  private val MixPerMille = Array(30, 20, 100, 40, 3)
  /** One header per this many lines on average. */
  private val SectionLines = 150

  private final class GroupAcc {
    var count = 0L; var minTs = Long.MaxValue; var maxTs = Long.MinValue
    var commands = 0L; var progress = 0L; var hash = 0L
  }

  /** Write a job log of `lines` lines to `path`. `seed` decides everything
    * in it: text, line classes, line ending, the by-group pattern and the
    * tail/seek windows checked against the query results.
    */
  def writeLog(path: java.nio.file.Path, lines: Int, seed: Long,
      tailN: Int = 50, seekLimit: Int = 50): Golden = {
    require(lines > 0)
    val r = new SplittableRandom(seed)
    val crlf = r.nextBoolean()
    val eol = if (crlf) "\r\n".getBytes(UTF_8) else "\n".getBytes(UTF_8)
    val preamble = if (r.nextBoolean()) r.nextInt(4) else 0
    // seek from the middle tenth of the log: how much of the table a seek
    // scans and sorts depends on where it starts, so a position anywhere
    // would make its cost depend on the seed
    val seekK = lines * 9L / 20 + r.nextLong(math.max(1L, lines / 10L))
    var ts = 1700000000000L + r.nextLong(100000000000L)
    val b = new LineBuf
    val groups = new java.util.LinkedHashMap[String, GroupAcc]()
    var group = ""
    var groupBytes = Array.emptyByteArray
    var bytes = 0L
    var withTs, commandsN, groupsN, progressN, errors, hashSum = 0L
    val tail = new scala.collection.mutable.ArrayBuffer[RowGolden]()
    val seek = new scala.collection.mutable.ArrayBuffer[RowGolden]()
    val out = new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 20)
    try {
      var i = 0L
      while (i < lines) {
        ts += (if (r.nextInt(200) == 0) 1000 + r.nextInt(29000) else r.nextInt(40))
        val cls =
          if (i >= preamble && (i == preamble || r.nextInt(SectionLines) == 0)) Group
          else {
            var p = r.nextInt(1000); var c = 0
            while (c < MixPerMille.length && p >= MixPerMille(c)) { p -= MixPerMille(c); c += 1 }
            c match {
              case 0 => Command; case 1 => Progress; case 2 => AnsiHeavy
              case 3 => NoOsc; case 4 => Malformed; case _ => OscPlain
            }
          }
        val m = makeLine(cls, r, b, ts, crlf)
        out.write(m.raw); out.write(eol)
        bytes += m.raw.length + eol.length
        if (cls == Group) { group = m.clean; groupBytes = group.getBytes(UTF_8) }
        val isCommand = cls == Command
        val isGroup = cls == Group
        val isProgress = cls == Progress
        if (m.ts.isDefined) withTs += 1
        if (isCommand) commandsN += 1
        if (isGroup) groupsN += 1
        if (isProgress) progressN += 1
        if (m.parseError) errors += 1
        val h = rowHash(i, m.content, groupBytes, m.ts,
          flagBits(m.ts.isDefined, isCommand, isGroup, isProgress, m.parseError))
        hashSum += h
        val name = if (group.isEmpty) NoGroup else group
        var g = groups.get(name)
        if (g == null) { g = new GroupAcc; groups.put(name, g) }
        g.count += 1; g.hash += h
        if (isCommand) g.commands += 1
        if (isProgress) g.progress += 1
        m.ts.foreach { t => g.minTs = math.min(g.minTs, t); g.maxTs = math.max(g.maxTs, t) }
        if (i >= lines - tailN) tail += RowGolden(i, h)
        if (i >= seekK && i < seekK + seekLimit) seek += RowGolden(i, h)
        i += 1
      }
    } finally out.close()

    import scala.jdk.CollectionConverters._
    val stats = groups.asScala.toVector.map { case (name, g) =>
      GroupGolden(name, g.count,
        if (g.minTs != Long.MaxValue) Some(g.minTs) else None,
        if (g.maxTs != Long.MinValue) Some(g.maxTs) else None,
        g.commands, g.progress, g.hash)
    }.sortBy(g => (g.firstTs.isEmpty, g.firstTs.getOrElse(0L), g.name))
    // by-group pattern: a word (4+ letters) found in one section title only
    // (a title's names differ by header marker alone), so that every seed
    // selects about one title's share of the rows; a word such as "running"
    // is in seven titles
    def lower(name: String) = name.toLowerCase(java.util.Locale.ROOT)
    val titleWords = stats.map(_.name).filter(_ != NoGroup)
      .map(n => lower(n).split("[^a-z]+").filter(_.nonEmpty).mkString(" ")).distinct
    val unique = titleWords.flatMap(_.split(" ").filter(_.length >= 4)).distinct
      .filter(w => titleWords.count(_.contains(w)) == 1)
    val pattern = if (unique.isEmpty) "no group" else unique(r.nextInt(unique.length))
    val hits = stats.filter(g => lower(g.name).contains(pattern))
    Golden(path.toString, bytes, lines, withTs, commandsN, groupsN, progressN, errors,
      stats, hashSum, pattern, hits.map(_.count).sum, hits.map(_.rowHash).sum,
      tailN, tail.toVector, seekK, seekLimit, seek.toVector)
  }
}
