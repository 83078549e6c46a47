package graft

import org.apache.spark.sql.functions.col

/** [[GraftConf]]: typed reads from the session conf, validation that
  * names the key, per-session scoping, and the entry points' env→conf
  * mapping ([[GraftSession.harnessConfs]]). */
class GraftConfSpec extends SparkSpec {

  /** Whether [[QueriesShared.widen]] repartitioned a one-partition scan. */
  private def widened(s: org.apache.spark.sql.SparkSession): Boolean = {
    val df = s.range(0, 100, 1, 1).select(col("id"))
    !(QueriesShared.widen(s, df) eq df)
  }

  test("defaults: every switch off, no paths, no stream-parts override") {
    assert(GraftConf(spark) == GraftConf())
    assert(widened(spark))
  }

  test("every field reads its spark.graft.* key") {
    val conf = withConf(GraftConf.NoWiden -> "true", GraftConf.NoLmShare -> "TRUE",
        GraftConf.NoPlanCut -> "true", GraftConf.ReliableCheckpoint -> "true",
        GraftConf.CheckpointDir -> "/ckpt", GraftConf.StreamParts -> " 32 ",
        GraftConf.SeedState -> "true")(GraftConf(spark))
    assert(conf == GraftConf(noWiden = true, noLmShare = true, noPlanCut = true,
      reliableCheckpoint = true, checkpointDir = Some("/ckpt"),
      streamParts = Some(32), seedState = true))
  }

  test("a bad spark.graft.streamParts fails with the key named") {
    val rate = spark.readStream.format("rate").load()
    for (bad <- Seq("x", "0", "-3")) {
      val e = intercept[IllegalArgumentException](
        withConf(GraftConf.StreamParts -> bad)(GraftConf(spark)))
      assert(e.getMessage.contains(GraftConf.StreamParts), e.getMessage)
      val e2 = intercept[IllegalArgumentException](
        withConf(GraftConf.StreamParts -> bad)(streaming.StreamSession.parts(rate)))
      assert(e2.getMessage.contains(GraftConf.StreamParts), e2.getMessage)
    }
    assert(withConf(GraftConf.StreamParts -> "32")(streaming.StreamSession.parts(rate)) == 32)
  }

  test("a switch that is not a boolean fails with the key named") {
    val e = intercept[IllegalArgumentException](
      withConf(GraftConf.NoWiden -> "yes")(GraftConf(spark)))
    assert(e.getMessage.contains(GraftConf.NoWiden), e.getMessage)
  }

  test("noWiden=false keeps widening on; noWiden=true turns it off") {
    withConf(GraftConf.NoWiden -> "false") {
      assert(!GraftConf(spark).noWiden)
      assert(widened(spark), "an explicit false must not read as set")
    }
    withConf(GraftConf.NoWiden -> "true")(assert(!widened(spark)))
  }

  test("a switch set on one session does not reach spark.newSession()") {
    val other = spark.newSession()
    withConf(GraftConf.NoWiden -> "true") {
      assert(GraftConf(spark).noWiden)
      assert(!GraftConf(other).noWiden)
      assert(!widened(spark))
      assert(widened(other))
    }
  }

  test("harness env vars map onto session confs") {
    import GraftSession.harnessConfs
    assert(harnessConfs(Map.empty) == Map.empty)
    assert(harnessConfs(Map("PATH" -> "/bin", "SPARK_GRAFT_CPUS" -> "8")) == Map.empty)
    // Presence semantics: any value, even "0" or empty, switches on.
    assert(harnessConfs(Map("SPARK_GRAFT_NO_WIDEN" -> "0", "SPARK_GRAFT_NO_LMSHARE" -> "",
        "SPARK_GRAFT_NO_PLANCUT" -> "1", "SPARK_GRAFT_RELIABLE_CHECKPOINT" -> "yes")) ==
      Map(GraftConf.NoWiden -> "true", GraftConf.NoLmShare -> "true",
        GraftConf.NoPlanCut -> "true", GraftConf.ReliableCheckpoint -> "true"))
    // Stream parts pass through verbatim; GraftConf validates them.
    assert(harnessConfs(Map("SPARK_GRAFT_STREAM_PARTS" -> "x")) ==
      Map(GraftConf.StreamParts -> "x"))
    // Seeding is Bench's mode: on unless SPARK_GRAFT_NO_SEED is present,
    // and never set for the other entry points.
    assert(harnessConfs(Map.empty, seedState = true) == Map(GraftConf.SeedState -> "true"))
    assert(harnessConfs(Map("SPARK_GRAFT_NO_SEED" -> "0"), seedState = true) ==
      Map(GraftConf.SeedState -> "false"))
    assert(harnessConfs(Map("SPARK_GRAFT_NO_SEED" -> "1")) == Map.empty)
  }
}
