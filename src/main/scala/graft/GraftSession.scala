package graft

import org.apache.spark.sql.SparkSession

/** What the entry points (`Main`, `Bench`, `Verify`) share: one session
  * builder and the harness env vars. */
private[graft] object GraftSession {

  private val EnvFlags = Seq(
    "SPARK_GRAFT_NO_WIDEN" -> GraftConf.NoWiden,
    "SPARK_GRAFT_NO_LMSHARE" -> GraftConf.NoLmShare,
    "SPARK_GRAFT_NO_PLANCUT" -> GraftConf.NoPlanCut,
    "SPARK_GRAFT_RELIABLE_CHECKPOINT" -> GraftConf.ReliableCheckpoint)

  /** [[GraftConf]] confs for the harness env vars: a present switch is on,
    * stream parts pass through for GraftConf to validate, and `seedState`
    * (Bench) seeds unless `SPARK_GRAFT_NO_SEED` is present. */
  def harnessConfs(env: Map[String, String], seedState: Boolean = false): Map[String, String] =
    EnvFlags.collect { case (e, key) if env.contains(e) => key -> "true" }.toMap ++
      env.get("SPARK_GRAFT_STREAM_PARTS").map(GraftConf.StreamParts -> _) ++
      Option.when(seedState)(GraftConf.SeedState -> (!env.contains("SPARK_GRAFT_NO_SEED")).toString)

  /** `SPARK_GRAFT_ONLY=a,b`: the gate subset to run (None = the whole
    * contract). A name outside the contract fails loudly instead of
    * running an empty subset. */
  def onlyGates(): Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).map { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"SPARK_GRAFT_ONLY names not in the contract: ${unknown.mkString(", ")}")
      names
    }

  /** `local[cpus]` (or `master`), one shuffle partition per core, UTC,
    * NANOS parquet timestamps read as longs (`io.Tables` normalizes
    * them), the UI off unless `ui`, plus [[harnessConfs]]. */
  def apply(cpus: String, master: Option[String] = None, ui: Boolean = false,
            seedState: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (!ui) b.config("spark.ui.enabled", "false")
    harnessConfs(sys.env, seedState).foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
}
