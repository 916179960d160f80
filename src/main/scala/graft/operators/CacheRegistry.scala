package graft.operators

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one owner of the intermediates the engine persists: what is
  * persisted and at which storage level ([[persist]]), how an iterative
  * plan is truncated ([[cut]]), and when each is freed ([[free]],
  * [[scoped]], [[release]]). Cross-query substrates are [[pinned]]
  * instead, for the life of the process.
  *
  * The dedup/similarity operators return LAZY DataFrames, so they cannot
  * unpersist their own intermediates — the consumer hasn't run yet. Left
  * alone, those blocks are reclaimed only when the ContextCleaner notices
  * the DataFrame refs are garbage, which in a long-lived session lets
  * cached blocks pile up across operator invocations (round-2 advisor
  * finding). The registry gives callers an explicit, cheap release point:
  * call [[release]] after consuming an operator's output (the bench and
  * verify harnesses do, between queries).
  */
object CacheRegistry {

  /** Every persisted intermediate is spillable: a corpus-sized frame
    * must never fail a job for want of executor memory.
    */
  private val Level = StorageLevel.MEMORY_AND_DISK

  private val reg =
    new ConcurrentHashMap[SparkSession, ConcurrentLinkedQueue[DataFrame]]()

  /** The frames tracked in each open [[scoped]] body, per session. */
  private val scopes = new ConcurrentHashMap[SparkSession,
    ConcurrentLinkedQueue[ConcurrentLinkedQueue[DataFrame]]]()

  private val pins = new ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  private def track(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    reg.computeIfAbsent(s, _ => new ConcurrentLinkedQueue[DataFrame]()).add(df)
    val open = scopes.get(s)
    if (open != null) open.forEach(_.add(df))
    df
  }

  /** Drop `df` from the session list and every open scope (by identity:
    * Dataset keeps Object's equals, but the registry must not rely on it).
    */
  private def forget(df: DataFrame): Unit = {
    val s = df.sparkSession
    val q = reg.get(s)
    if (q != null) q.removeIf(_ eq df)
    val open = scopes.get(s)
    if (open != null) open.forEach(_.removeIf(_ eq df))
  }

  /** Persist `df` (lazily, spillable) and track it for [[release]] or the
    * enclosing [[scoped]] body; returns it.
    */
  def persist(df: DataFrame): DataFrame = track(df.persist(Level))

  /** Plan truncation for bounded driver loops ([[Graph.pageRank]],
    * [[Bpe.trainMerges]], [[Dedup.dedupClusters]]): an iterative plan
    * that is merely persisted still GROWS one round's operators per
    * iteration, and Catalyst re-analyzes the whole tree on every action
    * — measured at 10 s of pure planning for 3 PageRank rounds over a
    * 372-edge graph.
    *
    * Persist-then-reliable-checkpoint when a checkpoint dir is
    * configured (truncates the plan AND survives executor loss — the
    * cluster deployment path); localCheckpoint otherwise (local mode
    * only: blocks live on executors, executor death fails the job).
    * The persist-first step stops checkpoint()'s second job from
    * re-executing the full lineage (advisor r6). The result is eager and
    * untracked: free it with [[free]] once it is dead.
    */
  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      df.persist(Level)
      val cp = df.checkpoint(true)
      df.unpersist(blocking = false)
      cp
    } else df.localCheckpoint(true)

  /** Free `df` now: unpersist it, stop tracking it, and release the
    * storage behind a DEAD [[cut]] result. A plain `Dataset.unpersist`
    * only evicts cache-manager entries, so on the localCheckpoint path it
    * is a no-op — the checkpointed RDD's storage blocks stay resident
    * until the ContextCleaner notices (advisor r9). A cut result's
    * analyzed plan is exactly one `LogicalRDD` leaf; unpersist that RDD
    * directly. Only the TOP-LEVEL node is matched, never deep leaves: a
    * derived frame may share a live cut result's RDD in its lineage, and
    * a locally-checkpointed RDD cannot be recomputed once its blocks are
    * dropped. Callers must not touch `df` again afterwards.
    *
    * On the RELIABLE path (checkpoint dir configured — the cluster
    * deployment), a cut's data is FILES, not storage blocks, and
    * `rdd.unpersist` frees nothing (advisor r10). Pass
    * `deleteFiles = true` to also delete the dead cut's checkpoint
    * directory — safe ONLY when every frame that could still recompute
    * through this cut is itself an eager cut (the Bpe/pageRank/
    * star-contraction loops, which cut every round before freeing the
    * predecessor). Loops whose successors are merely PERSISTED between
    * cuts (the min-label CC loop) must keep the default: a persisted
    * successor falls back to the predecessor's checkpoint files on
    * executor loss, so those deployments rely on
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` — set on
    * every session `graft.Sessions` builds — to let the ContextCleaner
    * delete files once the RDD is unreachable.
    */
  def free(df: DataFrame, deleteFiles: Boolean = false): Unit = {
    df.unpersist(blocking = false)
    forget(df)
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
        if (deleteFiles) lr.rdd.getCheckpointFile.foreach { dir =>
          try {
            val p = new org.apache.hadoop.fs.Path(dir)
            p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
              .delete(p, true)
          } catch {
            // best-effort cleanup — but only for genuinely recoverable
            // failures: swallowing InterruptedException would clear the
            // interrupt flag and a VM error (OOM) must propagate
            case _: InterruptedException =>
              Thread.currentThread().interrupt()
            case e if scala.util.control.NonFatal(e) => ()
          }
        }
      case _ => ()
    }
  }

  /** Run `body`, then unpersist exactly the frames tracked while it ran —
    * the operator-scoped release for eager compositions
    * ([[SpanStore.ingestCurate]], [[LshIndex.ingestDedup]]) that clean up
    * their own probe caches inside the call WITHOUT dropping sibling
    * operators' still-lazy intermediates the way a session-wide
    * [[release]] would. Frames are held by identity, so a [[release]]
    * inside `body` does not hide later ones from the scope. A frame
    * tracked by another thread of the same session while `body` runs is
    * freed too: a superset, which is safe (unpersisting is always safe),
    * just less precise.
    */
  def scoped[T](spark: SparkSession)(body: => T): T = {
    val mine = new ConcurrentLinkedQueue[DataFrame]()
    val open = scopes.computeIfAbsent(spark,
      _ => new ConcurrentLinkedQueue[ConcurrentLinkedQueue[DataFrame]]())
    open.add(mine)
    try body
    finally {
      open.removeIf(_ eq mine)
      mine.forEach { df => df.unpersist(false); forget(df) }
    }
  }

  /** Unpersist every intermediate operators persisted in this session.
    * Safe to call at any point — consumers that already ran keep their
    * results; re-running a returned DataFrame afterwards recomputes its
    * pipeline without the cache. [[pinned]] frames are not touched.
    */
  def release(spark: SparkSession): Unit = {
    val q = reg.remove(spark)
    if (q != null) q.forEach(_.unpersist(false))
  }

  /** The frame `build` returns, built on the first call for
    * (`spark`, `dir`, `name`) and the same instance on every later one,
    * for the life of the process. Pin only what [[release]] and
    * `catalog.clearCache` cannot evict: a [[cut]] result, or a
    * LocalRelation of driver-built rows.
    */
  def pinned(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    pins.computeIfAbsent((spark, dir, name), _ => build)
}
