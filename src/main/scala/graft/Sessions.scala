package graft

import org.apache.spark.sql.SparkSession

/** The one builder of a local SparkSession. The CLI, the bench and its
  * modes, the oracle dump and the tests all run the SQL conf below, so an
  * answer or a timing never depends on which entry point built the
  * session; only the master and the shuffle width vary.
  */
object Sessions {

  /** Cores for `local[n]` and the shuffle width: `SPARK_GRAFT_CPUS` if
    * set, else the host's.
    */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** What every session runs, whatever its master and width. */
  val settings: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // the query suite generates far more than the default 100 cached
    // codegen classes; eviction made repeat runs recompile every stage
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // reclaim reliable-checkpoint FILES once their RDD becomes
    // unreachable: the min-label CC loop's between-cut successors fall
    // back to the previous checkpoint's files on executor loss, so they
    // are deleted by the ContextCleaner, never eagerly
    // (CacheRegistry.free's deleteFiles contract)
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true",
    "spark.ui.enabled" -> "false")

  /** A session on `local[cpus]` (or `master`, for a deployment), with
    * `cpus` shuffle partitions and a checkpoint dir deleted at exit.
    */
  def local(cpus: Int = Sessions.cpus, master: Option[String] = None,
      logLevel: String = "WARN"): SparkSession = {
    val b = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
    settings.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s.sparkContext.setCheckpointDir(CheckpointDirs.temp())
    s
  }
}
