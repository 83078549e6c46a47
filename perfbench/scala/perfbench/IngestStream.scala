package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventStreams

/** ingest_stream: an open loop. A generator thread lands one doc wave and
  * one event wave every `PeriodMs`, whatever the sinks are doing. The
  * driver loop drains all landed waves whenever some are pending — the
  * incremental corpus dedup against the standing index, the events MERGE
  * and the watermarked click/purchase join — and between drains serves
  * read queries on the state. A wave's latency runs from its due time to
  * the end of the drain that committed it in all three sinks.
  */
object IngestStream {
  val PeriodMs = 8000L
  val WarmupWaves = 1
  val MinReads = 100
  private val DocSchema = "doc_id BIGINT, text STRING"
  private val EventSchema = "event_id BIGINT, user_id BIGINT, event_type STRING, ts TIMESTAMP, value DOUBLE"

  final case class Landed(wave: Int, dueMs: Double, lateMs: Double)

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val t = ctx.tracer
    val srcDocs = ctx.dir("src/docs")
    val srcEvents = ctx.dir("src/events")
    val landing = ctx.dir("landing")
    val state = ctx.dir("state")
    val index = state + "/index"
    val accepted = state + "/accepted"
    val merged = state + "/merge"
    val joined = state + "/join"
    val ck = ctx.dir("checkpoints")
    var stagedFiles = 0L

    /** Move landed files into the sources, oldest first, with increasing
      * modification times (the file source orders by them). */
    def stage(files: Seq[(java.nio.file.Path, String)]): Unit = files.foreach { case (f, dest) =>
      val target = Paths.get(dest, f.getFileName.toString)
      Files.move(f, target, StandardCopyOption.ATOMIC_MOVE)
      stagedFiles += 1
      target.toFile.setLastModified(System.currentTimeMillis() + stagedFiles)
    }

    /** Starts the three sinks together and waits until each has committed
      * every staged file (AvailableNow), as one micro-batch per sink. */
    def drain(): Unit = {
      val docs = spark.readStream.schema(DocSchema).json(srcDocs)
      val events = spark.readStream.schema(EventSchema).json(srcEvents)
      val qs = Seq(
        t.span("streaming", "dedup")(t.started(t.span("streaming", "start")(
          EventStreams.corpusDedupSink(docs, "doc_id", "text", index, accepted,
            ck + "/dedup")))),
        t.span("streaming", "merge")(t.started(t.span("streaming", "start")(
          EventStreams.mergeSink(
            events.select("user_id", "event_type", "event_id", "ts", "value"), merged,
            Seq("user_id", "event_type"), Seq(col("ts").desc, col("event_id").desc),
            ck + "/merge")))),
        t.span("streaming", "join")(t.started(t.span("streaming", "start")(
          EventStreams.clickPurchaseJoin(events, "2 hours")
            .writeStream.outputMode("append").format("parquet")
            .option("path", joined).option("checkpointLocation", ck + "/join")
            .trigger(Trigger.AvailableNow()).start()))))
      t.span("streaming", "await")(qs.foreach(_.awaitTermination()))
      if (t.active) Seq("dedup", "merge", "join").zip(qs).foreach { case (k, q) =>
        t.record(s"streaming.${k}_wave_s",
          q.recentProgress.map(_.durationMs.getOrDefault("triggerExecution", 0L).toDouble)
            .sum / 1000.0)
      }
    }

    // Readers see a committed drain through snapshots the driver refreshes
    // after it: the merge state, the join output and the accepted docs.
    var snapshots = Map.empty[String, org.apache.spark.sql.DataFrame]
    def refresh(): Unit = {
      snapshots.values.foreach(_.unpersist())
      snapshots = Map("merge" -> merged, "join" -> joined, "accepted" -> accepted)
        .map { case (k, p) =>
          val df = spark.read.parquet(p).cache()
          df.count()
          k -> df
        }
    }

    var lastWave = 0
    var drains = 0 // the sinks' micro-batch id of the last drain; 0 is the standing state
    var readNo = 0L
    val users = 200
    def readOnce(record: Boolean): Unit = {
      readNo += 1
      val u = ((ctx.seed * 7919L + readNo * 104729L) % users + users) % users
      val param = Map("as_of" -> lastWave, "batch" -> drains, "user" -> u)
      def q(kind: String)(body: => Seq[Seq[Any]]): Unit =
        if (record) ctx.read(kind, param)(body) else body
      (readNo % 3) match {
        case 0 => q("merge_user")(Util.rows(snapshots("merge")
          .where(col("user_id") === u)
          .select("user_id", "event_type", "event_id", "ts", "value")))
        case 1 => q("accepted_wave")(Util.rows(snapshots("accepted")
          .where(col("wave") === drains).agg(count(lit(1)))))
        case _ => q("join_user")(Util.rows(snapshots("join")
          .where(col("user_id") === u).agg(count(lit(1)))))
      }
    }

    // Set-up: the standing corpus and event history become wave 0 of
    // every sink: the standing index, merge state and join state.
    Util.write(ctx.work + "/oracle_corpus_clean.sql", graft.Queries.oracleSql("corpus_clean"))
    val t0 = ctx.nowMs
    stage(Seq(Paths.get(ctx.input, "standing/docs/part-00000.jsonl") -> srcDocs,
      Paths.get(ctx.input, "standing/events/part-00000.jsonl") -> srcEvents)
      .map { case (f, d) =>
        val copy = Paths.get(landing, d.split('/').last + "-0000.jsonl")
        Files.copy(f, copy)
        copy -> d
      })
    drain()
    refresh()
    (0 until 3).foreach(_ => readOnce(record = false))
    ctx.setup("state_build_s") = (ctx.nowMs - t0) / 1000.0
    val standingBytes = Util.fileBytes(srcDocs) + Util.fileBytes(srcEvents)

    /** Land wave `w`'s two files in the landing directory. */
    def land(w: Int): Unit = Seq("docs", "events").foreach { k =>
      val name = f"$k-$w%04d.jsonl"
      val tmp = Paths.get(landing, "." + name)
      Files.copy(Paths.get(ctx.input, "waves", name), tmp)
      Files.move(tmp, Paths.get(landing, name), StandardCopyOption.ATOMIC_MOVE)
    }

    /** One drain of the landed `waves`, timed as an op of `kind`. */
    def drainOp(kind: String, waves: Seq[Landed], records: Long): Unit = {
      val traced = kind == "drain" && ctx.trace && drains % 2 == 0
      if (traced) t.attach()
      val probe = s"${ctx.work}/probe/clean-${drains + 1}"
      ctx.op(kind, records) {
        if (traced) TextProbes.run(ctx, spark.read.schema(DocSchema).json(
          waves.map(l => f"${ctx.input}/waves/docs-${l.wave}%04d.jsonl"): _*), probe)
        snapshots.values.foreach(_.unpersist())
        stage(waves.flatMap { l =>
          Seq(Paths.get(landing, f"docs-${l.wave}%04d.jsonl") -> srcDocs,
            Paths.get(landing, f"events-${l.wave}%04d.jsonl") -> srcEvents)
        })
        val m0 = ctx.nowMs
        drain()
        val mainMs = ctx.nowMs - m0
        if (traced) {
          val sc = spark.sparkContext
          t.record("util.cached_blocks",
            sc.getRDDStorageInfo.map(_.numCachedPartitions).sum.toDouble)
          t.record("util.cached_bytes",
            sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)
          t.record("util.rdds_left_after_close", sc.getPersistentRDDs.size.toDouble)
        }
        refresh()
        Map("waves" -> waves.map(l => Map("wave" -> l.wave, "due_ms" -> l.dueMs,
          "late_ms" -> l.lateMs)), "main_ms" -> mainMs, "traced" -> traced,
          "probe" -> (if (traced) probe else null))
      }
      if (traced) {
        waves.foreach(l => t.record("gen.late_ms", l.lateMs))
        t.record("gen.records", records.toDouble / waves.size)
        t.detach()
      }
      drains += 1
      lastWave = waves.map(_.wave).max
    }

    def records(w: Int): Long =
      Seq("docs", "events").map(k => Util.lineCount(f"${ctx.input}/waves/$k-$w%04d.jsonl")).sum
    // Warm-up: the first waves drain one by one before the timed phase.
    (1 to WarmupWaves).foreach { w =>
      land(w)
      drainOp("warmup", Seq(Landed(w, 0.0, 0.0)), records(w))
    }
    ctx.setup("warmup_s") = (ctx.nowMs - t0) / 1000.0 - ctx.setup("state_build_s").asInstanceOf[Double]

    val lastDue = math.min(Util.listFiles(ctx.input + "/waves").size / 2,
      WarmupWaves + math.ceil(ctx.seconds * 1000 / PeriodMs).toInt)
    val timedWaves = (WarmupWaves + 1) to lastDue
    val waveRecords = timedWaves.map(w => w -> records(w)).toMap
    def bytes(w: Int): Long = Seq("docs", "events").map(k =>
      Files.size(Paths.get(ctx.input, "waves", f"$k-$w%04d.jsonl"))).sum
    val landed = new ConcurrentLinkedQueue[Landed]()
    @volatile var genDone = false
    val generator = new Thread(() => {
      val start = ctx.timedStartMs
      timedWaves.zipWithIndex.foreach { case (w, i) =>
        val due = start + i * PeriodMs
        val wait = due - ctx.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        land(w)
        landed.add(Landed(w, due - start, ctx.nowMs - due))
      }
      genDone = true
    }, "perfbench-generator")

    ctx.timed {
      generator.start()
      try {
        var committed = 0
        while (committed < timedWaves.size) {
          val pending = ArrayBuffer.empty[Landed]
          while (!landed.isEmpty) pending += landed.poll()
          if (pending.nonEmpty) {
            val waves = pending.toSeq.sortBy(_.wave)
            drainOp("drain", waves, waves.map(l => waveRecords(l.wave)).sum)
            committed += waves.size
          } else if (!genDone || ctx.reads.size < MinReads) {
            readOnce(record = true)
          } else Thread.sleep(1)
        }
        while (ctx.reads.size < MinReads) readOnce(record = true)
      } finally generator.join()
    }
    snapshots.values.foreach(_.unpersist())
    Map("input_bytes" -> timedWaves.map(bytes).sum,
      "all_input_bytes" -> (standingBytes + (1 to lastDue).map(bytes).sum),
      "final_bytes" -> Util.fileBytes(state), "waves_done" -> lastDue,
      "timed_waves" -> timedWaves.size, "period_ms" -> PeriodMs)
  }
}
