package graft.streaming

import scala.util.Try

import org.apache.hadoop.fs.{GlobFilter, Path}
import org.apache.spark.sql.{Dataset, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation

import graft.GraftConf
import graft.ops.Compact

/** The session a stateful streaming plan runs on.
  *
  * A stateful operator (aggregate, dedup, stream-stream join,
  * `flatMapGroupsWithState`) keeps one state store per shuffle partition,
  * per store kind and side, and commits every one of them on every
  * micro-batch, whether it holds a key or not. Its partition count is the
  * session's `spark.sql.shuffle.partitions` when the query first starts;
  * Spark then pins it in the checkpoint's offset metadata, so a restart
  * keeps it. The engine's stateful plans therefore carry their own count
  * on a clone of the caller's session ([[sized]]) instead of writing the
  * caller's conf, which every other query on that session would see.
  */
object StreamSession {

  /** The clones [[sized]] made, so a plan already on one is not cloned
    * again. */
  private val clones = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  /** `ds` re-bound to a clone of its session whose
    * `spark.sql.shuffle.partitions` is [[parts]]`(ds)`; a batch plan,
    * or one already on such a clone, is returned as it is. Results do
    * not depend on the count: stateful operators partition by key.
    *
    * The clone carries the caller's confs, temp views and functions as
    * they are now, and the streaming listeners registered on the caller
    * now are added to the clone's. What moves to the clone: a query
    * started from the returned plan is listed by the clone's
    * `spark.streams` (reach it as `query.sparkSession.streams`), not by
    * the caller's, so the caller's `active`, `get` and
    * `awaitAnyTermination` do not see it, and a listener added to the
    * caller later does not hear it; a memory sink's table is a temp view
    * of the clone (`query.sparkSession.table(name)`). A foreachBatch
    * body's batch runs on the clone's confs too. The caller's session is
    * never written. Each clone's streaming manager registers a listener
    * bus on the SparkContext, which Spark never removes.
    */
  def sized[T](ds: Dataset[T]): Dataset[T] =
    if (!ds.isStreaming || clones.containsKey(ds.sparkSession)) ds
    else {
      val caller = ds.sparkSession
      val clone = GraftShims.cloneSession(caller)
      clone.conf.set("spark.sql.shuffle.partitions", parts(ds).toString)
      // The clone's own manager already holds the listeners Spark adds
      // to every session (the UI's, `spark.sql.streaming.streamingQueryListeners`).
      val own = clone.streams.listListeners().map(_.getClass).toSet
      caller.streams.listListeners().filterNot(l => own(l.getClass))
        .foreach(clone.streams.addListener)
      clones.put(clone, true)
      GraftShims.withSession(ds, clone)
    }

  /** The shuffle partitions [[sized]] gives `ds`: the session's
    * `spark.graft.streamParts` ([[GraftConf]]) when set, otherwise
    * [[sizeStreamParts]] of its file sources' bytes on the session's
    * cores. */
  private[graft] def parts(ds: Dataset[_]): Int =
    GraftConf(ds.sparkSession).streamParts.getOrElse(
      sizeStreamParts(sourceBytes(ds), ds.sparkSession.sparkContext.defaultParallelism))

  /** `max(1, min(cores, bytes / 4 MB))`: one state store per 4 MB of
    * input, capped at the core count.
    *
    * The floor is 1 because a stateful operator's per-batch cost is its
    * stores, not its keys: the stream-stream join's state commit
    * measured 662 ms per micro-batch at 4 partitions against 65 ms at 1
    * (perfbench ingest_stream), and its stateful stage held every local
    * slot while the other sinks' stages queued behind it. Up to 4 MB a
    * source is one task's work. Above it the count widens with the
    * input: at sf10 (events 162 MB) the interval join ran 4.1x faster at
    * 32 partitions than at 8 on a 32-core box (SCALE.md "Streaming
    * shuffle partitions sized to the input"), because 8 partitions
    * capped the stateful stages at a quarter of the box. The cap keeps
    * the stores at one per core, the local-mode analogue of sizing
    * shuffle partitions to a cluster's cores (SCALE.md knobs table).
    */
  private[graft] def sizeStreamParts(bytes: Long, cores: Int): Int =
    math.max(1, math.min(cores, (bytes / (4L << 20)).toInt))

  /** The bytes of the data files under the file-stream sources of `ds`'s
    * plan, as listed now (one listing per source, no scan), honouring a
    * source's `pathGlobFilter`. A source that is not file-backed (memory,
    * rate) or cannot be listed counts 0.
    */
  private[graft] def sourceBytes(ds: Dataset[_]): Long = {
    val conf = ds.sparkSession.sparkContext.hadoopConfiguration
    ds.queryExecution.analyzed.collectLeaves().collect { case r: StreamingRelation => r.dataSource }
      .map { src =>
        val options = CaseInsensitiveMap(src.options)
        val glob = options.get("pathGlobFilter").map(new GlobFilter(_))
        (src.paths ++ options.get("path")).distinct.map { p =>
          Try {
            val path = new Path(p)
            val fs = path.getFileSystem(conf)
            Option(fs.globStatus(path)).toSeq.flatten
              .flatMap(s => Compact.listData(fs, s.getPath))
              .collect { case (f, len) if glob.forall(_.accept(f)) => len }.sum
          }.getOrElse(0L)
        }.sum
      }.sum
  }
}
