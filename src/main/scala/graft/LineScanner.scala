package graft

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Ansi

/** Byte-level single-line scanner of the ingest path ([[LogParser.parse]])
  * (reference scanner.go:18-71, parser.go:41-56). The specs hold it equal
  * row-for-row to a Catalyst-expression oracle of the same semantics
  * (`ParseOracle` in the test sources).
  */
object LineScanner {

  private val OscPrefixBytes = LogParser.OscPrefix.getBytes("UTF-8") // ESC _bk;t=
  private final val Bel: Byte = 0x07

  private val Dollar = UTF8String.fromString("$ ")
  private val G1 = UTF8String.fromString("~~~")
  private val G2 = UTF8String.fromString("---")
  private val G3 = UTF8String.fromString("+++")
  private val EraseK = UTF8String.fromString("[K")
  private val Objects = UTF8String.fromString("objects")
  private val Deltas = UTF8String.fromString("deltas")
  private val Percent = UTF8String.fromString("%")

  /** One parsed line. `content`/`clean` are catalyst UTF8Strings so rows can
    * be emitted without further conversion.
    */
  final class Line(
      val timestamp: java.lang.Long,
      val parseError: Boolean,
      val content: UTF8String,
      val clean: UTF8String) {
    val isCommand: Boolean = clean.startsWith(Dollar)
    val isGroup: Boolean =
      clean.startsWith(G1) || clean.startsWith(G2) || clean.startsWith(G3)
    def isProgress: Boolean =
      content.contains(EraseK) &&
        (clean.contains(Objects) || clean.contains(Deltas) || clean.contains(Percent))
  }

  @inline private def hasOscPrefix(b: Array[Byte], len: Int): Boolean = {
    if (len < OscPrefixBytes.length) return false
    var i = 0
    while (i < OscPrefixBytes.length) {
      if (b(i) != OscPrefixBytes(i)) return false
      i += 1
    }
    true
  }

  @inline private def findBel(b: Array[Byte], from: Int, len: Int): Int = {
    var i = from
    while (i < len) { if (b(i) == Bel) return i; i += 1 }
    -1
  }

  /** Parse one line's bytes [0, len). A single trailing `\r` has already
    * been removed by the caller (ScanLines semantics). The line's content is
    * copied out, so `bytes` may be reused once this returns.
    */
  def parse(bytes: Array[Byte], len: Int): Line = {
    var ts: java.lang.Long = null
    var error = false
    var contentFrom = 0
    var contentLen = len
    if (len >= 10 && hasOscPrefix(bytes, len)) {
      val bel = findBel(bytes, 7, len)
      if (bel >= 0) {
        // manual digit parse == strconv.ParseInt(s,10,64): optional sign,
        // digits only, overflow -> error
        var i = 7
        var neg = false
        var ok = i < bel
        if (ok && (bytes(i) == '+' || bytes(i) == '-')) {
          neg = bytes(i) == '-'; i += 1; ok = i < bel
        }
        // negative accumulation per JDK Long.parseLong so Long.MinValue
        // round-trips and overflow detection is exact (Go ParseInt parity)
        val limit = if (neg) Long.MinValue else -Long.MaxValue
        val multmin = limit / 10
        var acc = 0L
        while (ok && i < bel) {
          val d = bytes(i) - '0'
          if (d < 0 || d > 9) ok = false
          else if (acc < multmin) ok = false
          else {
            val m = acc * 10
            if (m < limit + d) ok = false
            else { acc = m - d; i += 1 }
          }
        }
        if (ok) {
          ts = java.lang.Long.valueOf(if (neg) acc else -acc)
          contentFrom = bel + 1
          contentLen = len - contentFrom
        } else {
          error = true // reference hard-errors; we flag + pass through
        }
      }
    }
    // always a copy: `bytes` may be a reader's reused line buffer
    val contentBytes = java.util.Arrays.copyOfRange(bytes, contentFrom, contentFrom + contentLen)
    val content = UTF8String.fromBytes(contentBytes)
    val clean = UTF8String.fromBytes(Ansi.stripBytes(contentBytes))
    new Line(ts, error, content, clean)
  }

  /** Fast header probe for the boundary pass: returns the clean content if
    * this line is a group header, else null — without the full parse cost.
    * A header's clean content starts with ~/-/+; ANSI stripping only removes
    * `ESC[...` / lenient `[...` runs, so unless the content's first byte is
    * one of `~ - + ESC [` the line cannot be a header and the strip is
    * skipped entirely.
    */
  def headerCleanOrNull(bytes: Array[Byte], len: Int): UTF8String = {
    var contentFrom = 0
    var contentLen = len
    if (len >= 10 && hasOscPrefix(bytes, len)) {
      val bel = findBel(bytes, 7, len)
      if (bel >= 0) {
        // timestamp validity decides whether content excludes the header
        var i = 7
        var ok = i < bel
        if (ok && (bytes(i) == '+' || bytes(i) == '-')) { i += 1; ok = i < bel }
        while (ok && i < bel) {
          val d = bytes(i) - '0'
          if (d < 0 || d > 9) ok = false else i += 1
        }
        // overflow is impossible to detect cheaply here; digits-only lines
        // long enough to overflow are re-checked by the full parse below
        if (ok) {
          if (bel - 7 > 19) return fullProbe(bytes, len)
          contentFrom = bel + 1
          contentLen = len - contentFrom
        }
      }
    }
    if (contentLen <= 0) return null
    val b0 = bytes(contentFrom)
    if (b0 != '~' && b0 != '-' && b0 != '+' && b0 != 0x1b && b0 != '[') return null
    fullProbe(bytes, len)
  }

  private def fullProbe(bytes: Array[Byte], len: Int): UTF8String = {
    val line = parse(bytes, len)
    if (line.isGroup) line.clean else null
  }
}
