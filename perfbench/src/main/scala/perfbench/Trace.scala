package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: the jobs launched while it was the
  * innermost open span, and their stages and tasks.
  */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var cpuNs = 0L; var bytesRead = 0L; var rowsRead = 0L
  var shuffleWrite = 0L; var spill = 0L
  /** (start, end) epoch-ms of each job, for the time no job covered. */
  val jobIntervals = ArrayBuffer[(Long, Long)]()

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    cpuNs += o.cpuNs; bytesRead += o.bytesRead; rowsRead += o.rowsRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
    jobIntervals ++= o.jobIntervals
  }
}

/** One span: a call into a layer, with the span that caused it. */
final case class Span(id: Int, name: String, parent: Int,
    startMs: Long, endMs: Long, durNs: Long)

/** In-memory tracer: spans around each layer call, plus a SparkListener
  * that attributes jobs, stages and tasks to the innermost open span
  * through a job-local property. While not `active` it only runs the body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  /** Whether spans are being recorded now; only ever true when `enabled`. */
  var active = false
  private val Prop = "perfbench.span"
  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0

  private val work = new ConcurrentHashMap[Int, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Long)]()
  @volatile private var pendingJobs = 0

  private def workOf(span: Int): Work = work.computeIfAbsent(span, _ => new Work)

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      jobSpan.put(e.jobId, (span, e.time))
      e.stageIds.foreach(s => stageSpan.put(s, span))
      workOf(span).synchronized { workOf(span).jobs += 1 }
      pendingJobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (span, start) = jobSpan.remove(e.jobId)
      val w = workOf(span)
      w.synchronized { w.jobIntervals += ((start, e.time)) }
      pendingJobs -= 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val w = workOf(stageSpan.getOrDefault(si.stageId, -1))
      val m = si.taskMetrics
      w.synchronized {
        w.stages += 1
        w.tasks += si.numTasks
        if (m != null) {
          w.cpuNs += m.executorCpuTime
          w.bytesRead += m.inputMetrics.bytesRead
          w.rowsRead += m.inputMetrics.recordsRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null && e.taskInfo.failed) {
        val w = workOf(stageSpan.getOrDefault(e.stageId, -1))
        w.synchronized { w.failedTasks += 1 }
      }
  })

  /** Run `body` as span `name`, nested in the currently open span. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Prop, id.toString)
      val s0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      try body
      finally {
        val dur = System.nanoTime() - n0
        spans += Span(id, name, parent, s0, System.currentTimeMillis(), dur)
        stack = stack.tail
        sc.setLocalProperty(Prop, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Wait (bounded) until the listener has seen every job end. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    while (pendingJobs > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200) // stage and task events trail the job end
  }

  private lazy val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Spark work of `s` and every span nested in it. */
  def inclusive(s: Span): Work = {
    val w = new Work
    Option(work.get(s.id)).foreach(w.add)
    children.getOrElse(s.id, Nil).foreach(c => w.add(inclusive(c)))
    w
  }

  /** Milliseconds of `s` during which none of its jobs was running. */
  def driverMs(s: Span): Double = {
    val iv = inclusive(s).jobIntervals
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, s.durNs / 1e6 - covered)
  }

  /** Time of `s` not covered by its child spans. */
  def selfMs(s: Span): Double =
    (s.durNs - children.getOrElse(s.id, Nil).map(_.durNs).sum) / 1e6

  /** Failed task attempts anywhere in the run. */
  def failedTasks: Long = {
    import scala.jdk.CollectionConverters._
    work.values().asScala.map(_.failedTasks).sum
  }
}
