package graft.util

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, GraftShims}
import org.apache.spark.storage.StorageLevel

/** Tracks persisted intermediates so composed pipelines can release them
  * deterministically. The dedup/corpus flows persist multiply-referenced
  * indexes by default; in a long-lived session (a service, or the
  * Verify/Bench loops) untracked persists accumulate until executor
  * storage evicts under pressure. Callers that run many pipeline
  * invocations pass a scope and `close()` it after the terminal action:
  *
  * {{{
  * val scope = new CacheScope
  * try Dedup.ngramJaccardPairs(docs, "id", "text", cache = scope.persist).count()
  * finally scope.close()
  * }}}
  *
  * The scope holds one release per thing it took — a persisted frame, or
  * the handle of a cut — so `close()` frees exactly those and nothing
  * another caller cached, whatever runs concurrently on the session.
  * The default `CacheScope.untracked` preserves the old behavior (persist
  * with no handle) for one-shot jobs where session teardown reclaims
  * everything anyway.
  */
final class CacheScope {
  private val releases = ArrayBuffer.empty[() => Unit]

  /** Persist and track `df`; released by [[close]]. */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist()
    synchronized { releases += (() => p.unpersist(false)) }
    p
  }

  /** [[CacheScope.truncate]], released by [[close]]. After close() a
    * truncated frame is NOT recomputable (lineage is cut) — callers must
    * be done with it, the same contract Bench's between-rep cleanup
    * already imposes.
    */
  def truncate(df: DataFrame): DataFrame = {
    val (c, release) = CacheScope.cut(df)
    synchronized { releases += release }
    c
  }

  /** Run every tracked release (non-blocking), forget them. */
  def close(): Unit = synchronized {
    releases.foreach(r => try r() catch { case NonFatal(_) => () })
    releases.clear()
  }
}

object CacheScope {
  /** Persist with no tracking — the one-shot-job default. */
  val untracked: DataFrame => DataFrame = (df: DataFrame) => df.persist()

  /** Persist AND truncate lineage (`localCheckpoint`) — for intermediates
    * referenced by several downstream branches whose LOGICAL plan would
    * otherwise carry a copy of the whole upstream tree per reference
    * (optimization guide §3.3/§5: materialise to truncate the plan; a
    * plain persist dedups EXECUTION but not per-action Catalyst
    * re-analysis, measured as ~25% of `corpus_clean`'s wall with its
    * ~1 MB formatted plan). Blocks are reclaimed by the ContextCleaner
    * when references expire, and Bench's between-rep cleanup unpersists
    * them like any tracked persist. The session's `spark.graft.noPlanCut`
    * ([[graft.GraftConf]]) restores the persist-only shape — the A/B switch.
    *
    * Fault-tolerance contract: `localCheckpoint` stores blocks
    * executor-locally with lineage CUT, so on a real cluster an executor
    * loss (or dynamic-allocation decommission) makes downstream jobs
    * unrecoverable instead of recomputing. That is safe in the local[N]
    * bench/verify harness (one process, no executor loss short of JVM
    * death) and on static-executor clusters that accept fail-and-retry
    * at the job level; deployments that need recomputability set
    * `spark.graft.reliableCheckpoint=true` to route the same cut through
    * reliable `checkpoint()` — same plan truncation, blocks on the
    * context's checkpoint dir (else `spark.graft.checkpointDir`, else a
    * local scratch dir) instead of executor memory. The eager checkpoint
    * job is the only evaluation of the upstream (CacheScopeSpec pins
    * once per row). Results are identical in all three modes
    * (OptimizationInvarianceSpec pins this).
    */
  val truncate: DataFrame => DataFrame = (df: DataFrame) => cut(df)._1

  /** No caching at all — for callers managing their own persistence. */
  val none: DataFrame => DataFrame = identity

  /** The [[truncate]] result and the release of exactly what it took: the
    * cut RDD and its checkpoint files, or under noPlanCut the persist
    * (none if `df` was already cached — that cache is someone else's). */
  private def cut(df: DataFrame): (DataFrame, () => Unit) = {
    val conf = graft.GraftConf(df.sparkSession)
    val sc = df.sparkSession.sparkContext
    if (conf.noPlanCut) {
      val owned = df.storageLevel == StorageLevel.NONE
      val p = df.persist()
      (p, () => if (owned) { p.unpersist(false); () })
    } else {
      val c = if (!conf.reliableCheckpoint) df.localCheckpoint() else {
        if (sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(conf.checkpointDir.getOrElse(Scratch.dir("graft_reliable_ckpt")))
        df.checkpoint()
      }
      val rdd = GraftShims.checkpointedRdd(c)
      (c, () => {
        rdd.unpersist(false)
        rdd.getCheckpointFile.foreach { f => // reliable mode only
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
        }
      })
    }
  }
}
