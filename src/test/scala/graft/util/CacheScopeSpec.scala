package graft.util

import java.nio.file.{Files, Paths}

import graft.{GraftConf, SparkSpec}
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Focused tests for the round-18 CacheScope internals: the tracked
  * truncate (labelWave's sink-fold optimization needs close() to
  * release localCheckpoint blocks at wave end) and the
  * reliable-checkpoint escape. These pin the RELEASE semantics the
  * gate-level invariance spec cannot see.
  */
class CacheScopeSpec extends SparkSpec {

  private def persistentCount: Int =
    spark.sparkContext.getPersistentRDDs.size

  test("scope.truncate materializes, preserves rows, and close() releases the blocks") {
    val before = persistentCount
    val scope = new CacheScope
    val df = spark.range(1000).select(col("id"), (col("id") * 2).as("v"))
    val cut = scope.truncate(df)
    // localCheckpoint registers the checkpointed RDD in getPersistentRDDs
    assert(persistentCount > before, "truncate should register persistent blocks")
    assert(cut.collect().map(_.getLong(1)).sum === 999000L * 2 / 2)
    scope.close()
    assert(persistentCount === before,
      "close() should release the tracked checkpoint blocks")
  }

  test("scope.truncate cuts the plan to a scan of the materialized blocks") {
    val scope = new CacheScope
    try {
      val deep = (1 to 5).foldLeft(
        spark.range(100).select(col("id"), col("id").as("v"))) {
        (d, i) => d.withColumn(s"c$i", col("v") + i)
      }
      val cut = scope.truncate(deep)
      val plan = cut.queryExecution.optimizedPlan.toString
      assert(!plan.contains("Range"), s"lineage not cut: $plan")
    } finally scope.close()
  }

  test("scope.truncate falls back to a tracked persist under noPlanCut") {
    withConf(GraftConf.NoPlanCut -> "true") {
      val scope = new CacheScope
      val df = spark.range(100).select(col("id"))
      val cut = scope.truncate(df)
      assert(cut.count() === 100)
      assert(cut.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"))
      scope.close() // must not throw; unpersists the tracked frame
      assert(df.storageLevel === StorageLevel.NONE)
    }
  }

  test("reliable-checkpoint mode produces the same rows with a reliably-checkpointed plan") {
    withConf(GraftConf.ReliableCheckpoint -> "true") {
      val df = spark.range(50).select(col("id"), (col("id") % 7).as("m"))
      val expected = df.collect().map(_.toString).sorted.toSeq
      val cut = CacheScope.truncate(df)
      assert(cut.collect().map(_.toString).sorted.toSeq === expected)
      assert(spark.sparkContext.getCheckpointDir.isDefined,
        "reliable mode must establish a checkpoint dir")
    }
  }

  test("an outer lazy cache first materialized inside the cut survives close()") {
    val outer = spark.range(500).select(col("id"), (col("id") % 3).as("m")).persist()
    try {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val scope = new CacheScope
      val cut = scope.truncate(outer.where(col("m") === 0))
      val during = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(during.size === 2, "the cut materializes the outer cache and its own blocks")
      scope.close()
      val kept = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(kept.size === 1 && kept.subsetOf(during),
        "close() must release the cut's blocks and only those")
      assert(!kept.contains(GraftShims.checkpointedRdd(cut).id))
      assert(outer.storageLevel !== StorageLevel.NONE)
      assert(outer.where(col("m") === 0).count() === 167)
    } finally { outer.unpersist(true); () }
  }

  test("reliable mode leaves no checkpoint file after close()") {
    withConf(GraftConf.ReliableCheckpoint -> "true") {
      val scope = new CacheScope
      val cut = scope.truncate(spark.range(100).select(col("id"), (col("id") * 3).as("v")))
      val file = GraftShims.checkpointedRdd(cut).getCheckpointFile
        .getOrElse(fail("a reliable cut must be checkpointed to files"))
      val path = Paths.get(new java.net.URI(file))
      assert(Files.isDirectory(path) && Files.list(path).count() > 0)
      assert(cut.count() === 100)
      scope.close()
      assert(!Files.exists(path), s"checkpoint files left at $path")
    }
  }

  test("reliable mode evaluates its upstream once per row") {
    val evaluated = spark.sparkContext.longAccumulator("cachescope_upstream")
    val counted = udf((x: Long) => { evaluated.add(1); x }).asNondeterministic()
    withConf(GraftConf.ReliableCheckpoint -> "true") {
      val scope = new CacheScope
      try {
        val cut = scope.truncate(spark.range(0, 200, 1, 4).select(counted(col("id")).as("id")))
        assert(cut.count() === 200)
        assert(evaluated.value === 200L, "the cut recomputed its upstream")
      } finally scope.close()
    }
  }
}
