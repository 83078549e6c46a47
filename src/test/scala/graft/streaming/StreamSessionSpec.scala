package graft.streaming

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.{GraftConf, SparkSpec}

/** [[StreamSession.sized]]: a stateful plan carries its own partition
  * count on a session clone; the caller's session is never written, its
  * streaming listeners still hear the query, and a restart keeps the
  * count the checkpoint pinned. */
class StreamSessionSpec extends SparkSpec {

  private val Schema = "event_id BIGINT, user_id BIGINT, event_type STRING, ts TIMESTAMP, value DOUBLE"

  /** A JSON event file of `n` rows under `dir`, each padded by `pad`
    * bytes the declared schema does not read (source bytes without rows). */
  private def land(dir: Path, name: String, ids: Range, pad: Int = 0): Unit =
    Files.writeString(dir.resolve(name), ids.map { i =>
      s"""{"event_id":$i,"user_id":${i % 3},"event_type":"click",""" +
        s""""ts":"2024-01-01T10:${"%02d".format(i % 60)}:00Z","value":1.0,"pad":"${"x" * pad}"}"""
    }.mkString("", "\n", "\n"))

  private def events(dir: Path): DataFrame = spark.readStream.schema(Schema).json(dir.toString)

  /** Starts `plan` into a fresh Parquet sink, checkpointed at `ckpt`. */
  private def start(plan: DataFrame, ckpt: Path, out: Path): StreamingQuery =
    plan.writeStream.outputMode("append").format("parquet")
      .option("checkpointLocation", ckpt.toString).option("path", out.toString)
      .trigger(Trigger.AvailableNow()).start()

  /** The partition counts the query's stateful operators reported. */
  private def stateParts(q: StreamingQuery): Set[Long] =
    q.recentProgress.flatMap(_.stateOperators.map(_.numShufflePartitions)).toSet

  test("two stateful queries at once on one session each keep their own count") {
    val (small, big) = (Files.createTempDirectory("ss_small"), Files.createTempDirectory("ss_big"))
    land(small, "a.json", 0 until 3)
    // 9 rows over 9 MB: two state stores' worth of input on 4 cores.
    land(big, "a.json", 0 until 9, pad = 1 << 20)
    val cores = spark.sparkContext.defaultParallelism
    val bigParts = StreamSession.sizeStreamParts(Files.size(big.resolve("a.json")), cores)
    assert(bigParts > 1, s"the fixture must size above the floor on $cores cores")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val tmp = Files.createTempDirectory("ss_two")
    val qs = Seq(small, big).zipWithIndex.map { case (src, i) =>
      start(EventStreams.dedupStream(events(src)), tmp.resolve(s"ck$i"), tmp.resolve(s"out$i"))
    }
    qs.foreach(_.awaitTermination())
    assert(stateParts(qs(0)) == Set(1L))
    assert(stateParts(qs(1)) == Set(bigParts.toLong))
    assert(spark.read.parquet(tmp.resolve("out0").toString).count() == 3)
    assert(spark.read.parquet(tmp.resolve("out1").toString).count() == 9)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      "the caller's session must not be written")
    assert(qs.forall(q => !(q.sparkSession eq spark)), "each query runs on a clone")
    assert(!spark.streams.active.exists(q => qs.exists(_.id == q.id)))
    // A batch plan stays on its session.
    val batch = spark.range(3).toDF()
    assert(StreamSession.sized(batch) eq batch)
  }

  test("a listener on the caller's session hears the clone's progress and state operators") {
    val heard = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        heard.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val src = Files.createTempDirectory("ss_listen")
    land(src, "a.json", 0 until 5)
    val tmp = Files.createTempDirectory("ss_listen_out")
    spark.streams.addListener(listener)
    try {
      val q = start(EventStreams.clickPurchaseJoin(events(src)), tmp.resolve("ck"), tmp.resolve("out"))
      q.awaitTermination()
      eventually(timeout(Span(30, Seconds))) {
        val mine = heard.asScala.filter(_.runId == q.runId)
        assert(mine.nonEmpty, "no progress reached the caller's listener")
        assert(mine.exists(_.stateOperators.map(_.numShufflePartitions).toSet == Set(1L)),
          mine.map(_.json).mkString("\n"))
      }
    } finally spark.streams.removeListener(listener)
  }

  test("a restart keeps the partition count its checkpoint pinned") {
    val src = Files.createTempDirectory("ss_restart")
    land(src, "a.json", 0 until 4)
    val tmp = Files.createTempDirectory("ss_restart_out")
    val q1 = start(EventStreams.dedupStream(events(src)), tmp.resolve("ck"), tmp.resolve("out"))
    q1.awaitTermination()
    assert(stateParts(q1) == Set(1L))
    land(src, "b.json", 4 until 8)
    withConf(GraftConf.StreamParts -> "3") {
      val plan = EventStreams.dedupStream(events(src))
      assert(StreamSession.parts(plan) == 3, "a fresh start would size to 3")
      val q2 = start(plan, tmp.resolve("ck"), tmp.resolve("out"))
      q2.awaitTermination()
      assert(q2.recentProgress.exists(_.numInputRows == 4), "the restart must read the new file")
      assert(stateParts(q2) == Set(1L))
    }
    assert(spark.read.parquet(tmp.resolve("out").toString).count() == 8)
  }
}
