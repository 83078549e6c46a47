package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.ops.Merge
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** Crash-restart contract of the one state swap
  * ([[graft.io.Sinks.atomicSwapWrite]] over [[graft.ops.Compact]]'s
  * protocol), for flat and hive-partitioned merge state alike. Each case
  * leaves on disk what a process death at one step of a batch's swap
  * leaves, then re-runs that batch — as a caller's retry or a streaming
  * replay of the uncommitted batch would — and asserts the state equals
  * the uninterrupted run's, with no staging dir left.
  */
class StateSwapRecoverySpec extends SparkSpec {
  import spark.implicits._

  private val Stages = Seq(
    "rewrite staged, table untouched",
    "table staged aside, no table",
    "rewrite published, old table still present")

  /** A swap that carries files over, interrupted after the swap-in moved
    * the first of them back into the table and before it moved the rest. */
  private val HalfMoved = "rewrite published, kept files half moved"

  /** Leaves `statePath` as a swap of `rewrite` (hive-partitioned by
    * `partitionBy`) over it, carrying the table's data files `keep` (paths
    * relative to the table) over, leaves it when the process dies after
    * `stage`. The swap's steps: stage the rewrite and its carry-over
    * manifest in `__compact_tmp`; move the table to `__compact_old`; move
    * the rewrite in; move each kept file from `__compact_old` back in. */
  private def interrupt(statePath: String, rewrite: DataFrame, stage: String,
                        keep: Seq[String] = Nil, partitionBy: Seq[String] = Nil): Unit = {
    val (table, tmp, old) =
      (new Path(statePath), new Path(statePath + "__compact_tmp"), new Path(statePath + "__compact_old"))
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    rewrite.write.partitionBy(partitionBy: _*).parquet(tmp.toString)
    val manifest = fs.create(new Path(tmp, "_GRAFT_KEEP"), true)
    try manifest.write(keep.map(k => s"$k\t$k\n").mkString.getBytes("UTF-8"))
    finally manifest.close()
    if (stage != Stages(0)) assert(fs.rename(table, old))
    if (stage == Stages(2) || stage == HalfMoved) assert(fs.rename(tmp, table))
    if (stage == HalfMoved) {
      assert(keep.size >= 2, keep)
      fs.mkdirs(new Path(table, keep.head).getParent)
      assert(fs.rename(new Path(old, keep.head), new Path(table, keep.head)))
    }
    assert(fs.exists(tmp) || fs.exists(old))
  }

  /** Data file names directly under `dir`. */
  private def dataFiles(dir: String): Set[String] =
    new java.io.File(dir).list().filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet

  private def assertNoStaging(statePath: String): Unit =
    for (suffix <- Seq("__compact_tmp", "__compact_old"))
      assert(!Files.exists(Paths.get(statePath + suffix)), s"$suffix left behind")

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private def bronze(lines: String*): String = {
    val dir = Files.createTempDirectory("graft_swap_bronze")
    Files.write(dir.resolve("income.json"), lines.mkString("\n").getBytes)
    dir.toString
  }

  // Batch A seeds three quarters; batch B revises one and adds one.
  private lazy val bronzeA = bronze(
    """{"date": "2025-03-31", "symbol": "TSLA", "revenue": 19300000000, "eps": 0.27, "grossProfit": 3200000000}""",
    """{"date": "2025-06-30", "symbol": "TSLA", "revenue": 22500000000, "eps": 0.40, "grossProfit": 5000000000}""",
    """{"date": "2025-06-30", "symbol": "RIVN", "revenue": 1300000000, "eps": -0.97, "grossProfit": 200000000}""")
  private lazy val bronzeB = bronze(
    """{"date": "2025-06-30", "symbol": "TSLA", "revenue": 22600000000, "eps": 0.41, "grossProfit": 5100000000}""",
    """{"date": "2025-06-30", "symbol": "LCID", "revenue": 259000000, "eps": -0.24, "grossProfit": -300000000}""")

  for (stage <- Stages)
    test(s"Pipeline.run retry after an interrupted swap: $stage") {
      val expectedPath = Files.createTempDirectory("graft_swap_ref").toString + "/s"
      Pipeline.run(spark, bronzeA, expectedPath)
      val expected = rows(Pipeline.run(spark, bronzeB, expectedPath)._1)

      val statePath = Files.createTempDirectory("graft_swap_pipe").toString + "/s"
      Pipeline.run(spark, bronzeA, statePath)
      interrupt(statePath, spark.read.parquet(expectedPath), stage)
      val (state, _) = Pipeline.run(spark, bronzeB, statePath)
      assert(rows(state) == expected)
      assert(expected.size == 4)
      assertNoStaging(statePath)
    }

  // Two 2024 quarters, each merged alone: files no later batch can touch.
  private lazy val bronze2024 = Seq("2024-03-31", "2024-06-30").map(d => bronze(
    s"""{"date": "$d", "symbol": "TSLA", "revenue": 21300000000, "eps": 0.45, "grossProfit": 4000000000}"""))

  test(s"Pipeline.run retry after an interrupted swap: $HalfMoved") {
    val expectedPath = Files.createTempDirectory("graft_swap_ref").toString + "/s"
    (bronze2024 :+ bronzeA).foreach(Pipeline.run(spark, _, expectedPath))
    val expected = rows(Pipeline.run(spark, bronzeB, expectedPath)._1)

    val statePath = Files.createTempDirectory("graft_swap_pipe").toString + "/s"
    bronze2024.foreach(Pipeline.run(spark, _, statePath))
    val kept = dataFiles(statePath).toSeq.sorted
    Pipeline.run(spark, bronzeA, statePath)
    assert(kept.size == 2 && kept.toSet.subsetOf(dataFiles(statePath)))
    // Batch B's swap rewrites the 2025 rows and carries both 2024 files over.
    val rewrite = spark.read.parquet(expectedPath)
      .except(spark.read.parquet(kept.map(statePath + "/" + _): _*))
    interrupt(statePath, rewrite, HalfMoved, kept)
    val (state, _) = Pipeline.run(spark, bronzeB, statePath)
    assert(rows(state) == expected && state.count() == 6)
    assert(expected.size == 6)
    assertNoStaging(statePath)
  }

  private def ev(id: Long, t: String, user: Long, typ: String, v: Double) =
    Event(id, java.sql.Timestamp.valueOf(t), user, typ, v)

  private val Keys = Seq("user_id", "event_type")
  private val Precedence = Seq(col("ts").desc, col("event_id").desc)
  private val wavesA = Seq(
    ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
    ev(2, "2024-01-01 10:00:00", 2, "view", 2.0),
    ev(3, "2024-01-01 10:00:00", 3, "click", 3.0))
  // One newer click for user 1, one OLDER one that must not win, a new key.
  private val wavesB = Seq(
    ev(4, "2024-01-01 11:00:00", 1, "click", 4.0),
    ev(5, "2024-01-01 09:00:00", 3, "click", 5.0),
    ev(6, "2024-01-01 11:00:00", 4, "view", 6.0))

  // Users no later wave touches, each merged alone.
  private val wavesOld = Seq(
    Seq(ev(7, "2024-01-01 08:00:00", 10, "click", 7.0), ev(8, "2024-01-01 08:00:00", 11, "view", 8.0)),
    Seq(ev(9, "2024-01-01 08:00:00", 20, "click", 9.0), ev(10, "2024-01-01 08:00:00", 21, "view", 10.0)))

  /** Runs `waves` through one `mergeSink` replay batch into `statePath`. */
  private def sinkBatch(statePath: String, waves: Seq[Event]): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(waves: _*)
    val ckpt = Files.createTempDirectory("graft_swap_ckpt").toString
    val q = EventStreams.mergeSink(input.toDF(), statePath, Keys, Precedence, ckpt)
    q.awaitTermination(60000)
    assert(q.exception.isEmpty, q.exception)
  }

  test(s"mergeSink replay after an interrupted swap: $HalfMoved") {
    val expected = Merge.lastWriteWins((wavesOld.flatten ++ wavesA ++ wavesB).toDF(), Keys, Precedence)
    val statePath = Files.createTempDirectory("graft_swap_sink").toString + "/s"
    wavesOld.foreach(w =>
      Merge.mergeInto(spark, statePath, w.toDF(), Keys, Precedence, incomingWins = false))
    val kept = dataFiles(statePath).toSeq.sorted
    Merge.mergeInto(spark, statePath, wavesA.toDF(), Keys, Precedence, incomingWins = false)
    assert(kept.size == 2 && kept.toSet.subsetOf(dataFiles(statePath)))
    val cols = expected.columns.toIndexedSeq.map(col)
    val rewrite = expected.except(spark.read.parquet(kept.map(statePath + "/" + _): _*).select(cols: _*))
    interrupt(statePath, rewrite, HalfMoved, kept)
    sinkBatch(statePath, wavesB)
    val state = spark.read.parquet(statePath)
    assert(rows(state.select(cols: _*)) == rows(expected))
    assert(state.count() == 8)
    assertNoStaging(statePath)
  }

  for (stage <- Stages)
    test(s"mergeSink replay after an interrupted swap: $stage") {
      val expected = Merge.lastWriteWins((wavesA ++ wavesB).toDF(), Keys, Precedence)
      val statePath = Files.createTempDirectory("graft_swap_sink").toString + "/s"
      Merge.mergeInto(spark, statePath, wavesA.toDF(), Keys, Precedence, incomingWins = false)
      interrupt(statePath, expected, stage)
      sinkBatch(statePath, wavesB)
      val state = spark.read.parquet(statePath)
      assert(rows(state.select(expected.columns.toIndexedSeq.map(col): _*)) == rows(expected))
      assert(state.count() == 4)
      assertNoStaging(statePath)
    }

  /** One `mergeInto` of `df` into the state at `path`, partitioned by `part`. */
  private def mergeParts(path: String, df: DataFrame): DataFrame = Merge.mergeInto(spark, path,
    df, Seq("k"), Seq(col("v").desc), partitionCol = Some("part")).select("k", "part", "v")
  private def parts(rows: (Long, String, Double)*): DataFrame = rows.toDF("k", "part", "v")

  private val partsA = parts((1L, "A", 10.0), (2L, "B", 20.0), (3L, "B", 30.0), (5L, "C", 50.0))
  private val partsB = parts((2L, "B", 99.0), (4L, "B", 40.0))

  // Two partitions no later batch touches, each merged alone: every
  // swap of batch B carries both files over, and a half-moved carry-over
  // re-homes the first into a new part=X dir.
  private val partsOld = Seq(parts((10L, "X", 1.0)), parts((20L, "Y", 2.0)))

  for (stage <- Stages :+ HalfMoved)
    test(s"partitioned mergeInto retry after an interrupted swap: $stage") {
      val expectedPath = Files.createTempDirectory("graft_pswap_ref").toString + "/s"
      (partsOld :+ partsA).foreach(mergeParts(expectedPath, _))
      val expected = rows(mergeParts(expectedPath, partsB))

      val statePath = Files.createTempDirectory("graft_pswap").toString + "/s"
      partsOld.foreach(mergeParts(statePath, _))
      val kept = Seq("X", "Y").flatMap(p => dataFiles(s"$statePath/part=$p").map(f => s"part=$p/$f"))
      mergeParts(statePath, partsA)
      assert(kept.size == 2 && kept.forall(f => Files.exists(Paths.get(statePath, f))), kept)
      val rewrite = spark.read.parquet(expectedPath).where(!col("part").isin("X", "Y"))
      interrupt(statePath, rewrite, stage, kept, Seq("part"))
      val state = mergeParts(statePath, partsB)
      assert(expected.size == 7 && rows(state) == expected && state.count() == 7)
      assertNoStaging(statePath)
    }

  test("partitioned mergeInto fails, state unchanged, on a marked staging dir of an older build") {
    val statePath = Files.createTempDirectory("graft_pswap_legacy").toString + "/s"
    val before = rows(mergeParts(statePath, partsA))
    partsB.write.parquet(statePath + "_staging")
    val e = intercept[java.io.IOException](mergeParts(statePath, partsB))
    assert(e.getMessage.contains(statePath + "_staging"), e.getMessage)
    assert(rows(spark.read.parquet(statePath).select("k", "part", "v")) == before)
  }
}
