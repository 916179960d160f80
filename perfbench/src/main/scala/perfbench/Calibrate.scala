package perfbench

import java.lang.management.ManagementFactory
import java.util.SplittableRandom

/** A fixed piece of CPU work that owes nothing to the program: a sort and a
  * hash map that stay in the core's caches, and dependent random reads over
  * a table larger than the last-level cache. Its CPU time tells how fast the
  * host runs at the moment, for compute and for memory.
  */
object Calibrate {
  private val longs = { val r = new SplittableRandom(42); Array.fill(1 << 14)(r.nextLong()) }
  private val words = Array.tabulate(1 << 12)(i => s"word-${(i * 2654435761L) % 100003}")
  // 64 MB of ints off the heap, forming one random cycle, so every read
  // depends on the last; off the heap so that heap figures do not count it
  private val table = {
    val n = 1 << 24
    val order = Array.tabulate(n)(identity)
    val r = new SplittableRandom(7)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t; i -= 1 }
    val next = java.nio.ByteBuffer.allocateDirect(4 * n).asIntBuffer()
    i = 0
    while (i < n) { next.put(order(i), order((i + 1) % n)); i += 1 }
    next
  }
  private val Hops = 60000
  private val threads = ManagementFactory.getThreadMXBean
  /** Keeps the results observable, so the JIT cannot drop the work. */
  @volatile var sink = 0L
  private var at = 0

  private def once(): Unit = {
    val a = longs.clone()
    java.util.Arrays.sort(a)
    val m = new java.util.HashMap[String, Integer]()
    var i = 0
    while (i < words.length) { m.merge(words(i), 1, (x: Integer, y: Integer) => x + y); i += 1 }
    var p = at; var h = 0
    while (h < Hops) { p = table.get(p); h += 1 }
    at = p
    sink += a(a.length / 2) + m.size + p
  }

  /** Thread CPU nanoseconds of one pass of the work. */
  def cpuNs(): Long = {
    val c0 = threads.getCurrentThreadCpuTime
    once()
    threads.getCurrentThreadCpuTime - c0
  }
}
