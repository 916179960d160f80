package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local SparkSession for all suites: the factory's session
  * on a fixed `local[4]`, the width build.sbt's fork sizing assumes.
  */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(cpus = 4)

  /** Build a lines DF shaped like ParseOracle.readLines output. */
  def linesDF(lines: Seq[String], file: String = "mem"): DataFrame = {
    val s = spark
    import s.implicits._
    lines.zipWithIndex
      .map { case (l, i) => (file, i.toLong, l, 0) }
      .toDF("file", "offset", "value", "__split")
  }

  /** The Spark jobs `body` starts, as each job's task count, counted
    * through a job-local property. A sentinel job with another tag runs
    * after `body`; listener events arrive in order, so once it is seen
    * every job of `body` has been.
    */
  def jobTasksOf[T](body: => T): (T, Seq[Int]) = {
    val sc = spark.sparkContext
    val prop = "graft.test.jobs"
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((Option(e.properties).flatMap(p => Option(p.getProperty(prop))).getOrElse(""),
          e.stageInfos.map(_.numTasks).sum))
    }
    def sentinelSeen = seen.asScala.exists(_._1 == tag + "-end")
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(prop, tag)
      val out = body
      sc.setLocalProperty(prop, tag + "-end")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10000000000L
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(10)
      require(sentinelSeen, "listener never saw the sentinel job")
      (out, seen.asScala.collect { case (`tag`, tasks) => tasks }.toSeq)
    } finally {
      sc.setLocalProperty(prop, null)
      sc.removeSparkListener(listener)
    }
  }

  /** The number of Spark jobs `body` starts (see [[jobTasksOf]]). */
  def jobsOf[T](body: => T): (T, Int) = {
    val (out, jobs) = jobTasksOf(body)
    (out, jobs.length)
  }
}
