package graft

import org.apache.spark.sql.SparkSession

/** The engine's settings: the `spark.graft.*` keys of a session's conf,
  * read through `GraftConf(spark)` on the session library code already
  * holds, so a switch is scoped to that session. Set them like any Spark
  * conf; the entry points also map the `SPARK_GRAFT_*` harness env vars
  * onto them ([[GraftSession.harnessConfs]]).
  *
  *  - `noWiden`: skip `QueriesShared.widen`'s scan widening.
  *  - `noLmShare`: `CorpusPipeline.clean` scores its LM tiers apart.
  *  - `noPlanCut`: `CacheScope.truncate` persists instead of cutting.
  *  - `reliableCheckpoint`: cut through `checkpoint()`, not `localCheckpoint()`.
  *  - `checkpointDir`: reliable checkpoints' dir when the context has none.
  *  - `streamParts`: fixed shuffle partitions for stateful streaming plans
  *    (`streaming.StreamSession.sized`).
  *  - `seedState`: `util.StateSeed` builds fixtures once per JVM (Bench).
  */
final case class GraftConf(
    noWiden: Boolean = false,
    noLmShare: Boolean = false,
    noPlanCut: Boolean = false,
    reliableCheckpoint: Boolean = false,
    checkpointDir: Option[String] = None,
    streamParts: Option[Int] = None,
    seedState: Boolean = false)

object GraftConf {
  val NoWiden = "spark.graft.noWiden"
  val NoLmShare = "spark.graft.noLmShare"
  val NoPlanCut = "spark.graft.noPlanCut"
  val ReliableCheckpoint = "spark.graft.reliableCheckpoint"
  val CheckpointDir = "spark.graft.checkpointDir"
  val StreamParts = "spark.graft.streamParts"
  val SeedState = "spark.graft.seedState"

  /** A malformed value fails here with its key named, not deep in a gate. */
  def apply(spark: SparkSession): GraftConf = {
    def get(key: String): Option[String] = spark.conf.getOption(key).map(_.trim)
    def flag(key: String): Boolean = get(key).exists(v => v.toBooleanOption.getOrElse(
      throw new IllegalArgumentException(s"$key must be true or false, got '$v'")))
    GraftConf(flag(NoWiden), flag(NoLmShare), flag(NoPlanCut), flag(ReliableCheckpoint),
      checkpointDir = get(CheckpointDir).filter(_.nonEmpty),
      streamParts = get(StreamParts).map(v => v.toIntOption.filter(_ >= 1).getOrElse(
        throw new IllegalArgumentException(s"$StreamParts must be a positive integer, got '$v'"))),
      seedState = flag(SeedState))
  }
}
