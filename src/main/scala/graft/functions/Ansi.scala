package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** ANSI escape stripping with the exact byte-level semantics of the reference
  * scanner (reference scanner.go:94-151), including the lenient branch that
  * strips ESC-less `[0-9;]*<letter>` runs with a 10-byte lookahead window.
  *
  * A plain regex would silently diverge on the lenient branch (SURVEY.md §7.6),
  * so this is a hand-rolled byte scan, exposed as a codegen-friendly Catalyst
  * expression in [[GraftFunctions.strip_ansi]].
  *
  * Semantics (golden-tested against scanner_test.go:92-135):
  *   - `ESC [` ... : skip everything up to and including the first ASCII
  *     letter (any bytes allowed in between).
  *   - bare `[` : look ahead at most 9 bytes of `[0-9;]`; if that run is
  *     terminated by an ASCII letter within the window, strip through the
  *     letter; otherwise keep the `[`.
  *   - a trailing lone `ESC` or `[` as the final byte is kept.
  */
object Ansi {

  @inline private def isFinalByte(b: Byte): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')

  /** Strip over raw bytes. Operating on UTF-8 bytes is safe: the state machine
    * only reacts to ASCII bytes (0x1b, '[', digits, ';', letters), which never
    * occur inside UTF-8 continuation sequences.
    *
    * Returns `data` itself when nothing is stripped, and allocates nothing
    * when no `ESC` or `[` occurs before the last byte.
    */
  def stripBytes(data: Array[Byte]): Array[Byte] = {
    val len = data.length
    var first = 0
    while (first < len - 1 && data(first) != 0x1b && data(first) != '[') first += 1
    if (first >= len - 1) return data
    val out = new Array[Byte](len)
    System.arraycopy(data, 0, out, 0, first)
    var n = first
    var i = first
    while (i < len) {
      val b = data(i)
      if (i < len - 1 && b == 0x1b && data(i + 1) == '[') {
        i += 2
        while (i < len && !isFinalByte(data(i))) i += 1
        if (i < len) i += 1 // consume the final letter
      } else if (i < len - 1 && b == '[') {
        // lenient: ESC may have been lost upstream
        var j = i + 1
        var valid = false
        var done = false
        while (!done && j < len && j < i + 10) {
          val c = data(j)
          if ((c >= '0' && c <= '9') || c == ';') j += 1
          else if (isFinalByte(c)) { valid = true; done = true }
          else done = true
        }
        if (valid) i = j + 1
        else { out(n) = b; n += 1; i += 1 }
      } else {
        out(n) = b; n += 1; i += 1
      }
    }
    if (n == len) data else java.util.Arrays.copyOf(out, n)
  }

  /** Entry point used from generated code — must stay a simple static-shaped
    * call so `doGenCode` can reference it.
    */
  def strip(s: UTF8String): UTF8String = {
    if (s == null) return null
    val bytes = s.getBytes
    val stripped = stripBytes(bytes)
    if (stripped eq bytes) s else UTF8String.fromBytes(stripped)
  }

  def strip(s: String): String = {
    if (s == null) null
    else new String(stripBytes(s.getBytes("UTF-8")), "UTF-8")
  }
}
