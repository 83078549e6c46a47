package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.ops.Merge
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** Crash-restart contract of the whole-table state swap
  * ([[graft.io.Sinks.atomicSwapWrite]] over [[graft.ops.Compact]]'s
  * protocol). Each case leaves on disk what a process death at one step
  * of a batch's swap leaves, then re-runs that batch — as a caller's retry
  * or a streaming replay of the uncommitted batch would — and asserts the
  * state equals the uninterrupted run's, with no staging dir left.
  */
class StateSwapRecoverySpec extends SparkSpec {
  import spark.implicits._

  private val Stages = Seq(
    "rewrite staged, table untouched",
    "table staged aside, no table",
    "rewrite published, old table still present")

  /** Leaves `statePath` as a swap of `rewrite` over it leaves it when the
    * process dies after `stage`. The swap's steps: stage the rewrite and
    * its (empty) carry-over manifest in `__compact_tmp`; move the table
    * to `__compact_old`; move the rewrite in. */
  private def interrupt(statePath: String, rewrite: DataFrame, stage: String): Unit = {
    val (table, tmp, old) =
      (new Path(statePath), new Path(statePath + "__compact_tmp"), new Path(statePath + "__compact_old"))
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    rewrite.write.parquet(tmp.toString)
    fs.create(new Path(tmp, "_GRAFT_KEEP"), true).close()
    if (stage != Stages(0)) assert(fs.rename(table, old))
    if (stage == Stages(2)) assert(fs.rename(tmp, table))
    assert(fs.exists(tmp) || fs.exists(old))
  }

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

  for (stage <- Stages)
    test(s"mergeSink replay after an interrupted swap: $stage") {
      val expected = Merge.lastWriteWins((wavesA ++ wavesB).toDF(), Keys, Precedence)
      val statePath = Files.createTempDirectory("graft_swap_sink").toString + "/s"
      Merge.mergeInto(spark, statePath, wavesA.toDF(), Keys, Precedence, incomingWins = false)
      interrupt(statePath, expected, stage)

      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Event]
      input.addData(wavesB: _*)
      val ckpt = Files.createTempDirectory("graft_swap_ckpt").toString
      val q = EventStreams.mergeSink(input.toDF(), statePath, Keys, Precedence, ckpt)
      q.awaitTermination(60000)
      assert(q.exception.isEmpty, q.exception)
      val state = spark.read.parquet(statePath)
      assert(rows(state.select(expected.columns.toIndexedSeq.map(col): _*)) == rows(expected))
      assert(state.count() == 4)
      assertNoStaging(statePath)
    }
}
