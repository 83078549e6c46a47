package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec
import EventStreams.{Event, Session}

class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def event(id: Long, t: String, user: Long, typ: String, v: Double) =
    Event(id, ts(t), user, typ, v)

  test("streaming tumbling agg matches the batch twin on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val events = Seq(
      event(1, "2024-01-01 10:05:00", 1, "click", 1.0),
      event(2, "2024-01-01 10:55:00", 1, "click", 2.0),
      event(3, "2024-01-01 11:05:00", 2, "view", 3.0),
      event(4, "2024-01-01 11:20:00", 1, "click", 4.0))
    input.addData(events: _*)

    val agg = EventStreams.tumblingAgg(input.toDF())
    val q = agg.writeStream.format("memory").queryName("tumbling_test")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("tumbling_test")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        BigDecimal(r.getDecimal(3)))).toSet
    val batch = EventStreams.tumblingAgg(events.toDF())
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        BigDecimal(r.getDecimal(3)))).toSet
    assert(streamed == batch)
    assert(streamed == Set(
      (ts("2024-01-01 10:00:00"), "click", 2L, BigDecimal("3.000000")),
      (ts("2024-01-01 11:00:00"), "click", 1L, BigDecimal("4.000000")),
      (ts("2024-01-01 11:00:00"), "view", 1L, BigDecimal("3.000000"))))
  }

  test("sessionize: gap splits sessions; state emits on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // user 1: two events 1 min apart (one session), then a 2-hour gap, one more
    input.addData(
      event(1, "2024-01-01 10:00:00", 1, "click", 1.0),
      event(2, "2024-01-01 10:01:00", 1, "click", 2.0),
      event(3, "2024-01-01 12:30:00", 1, "click", 4.0))

    val sessions = EventStreams.sessionize(input.toDS(), gapMs = 30 * 60 * 1000)
    val q = sessions.writeStream.format("memory").queryName("session_test")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    q.stop()

    // The first session closes when event 3 arrives past the gap; the
    // second stays open in state (no timeout fired in AvailableNow-style run).
    val got = spark.table("session_test").as[Session].collect()
    assert(got.length == 1)
    assert(got.head.user_id == 1L)
    assert(got.head.n_events == 2L)
    assert(got.head.total_value == 3.0)
    assert(got.head.session_start == ts("2024-01-01 10:00:00"))
    assert(got.head.session_end == ts("2024-01-01 10:01:00"))
  }

  test("dedupStream: duplicate keys within the watermark emit once") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      event(1, "2024-01-01 10:00:00", 1, "click", 1.0),
      event(1, "2024-01-01 10:00:00", 1, "click", 1.0), // exact duplicate
      event(2, "2024-01-01 10:01:00", 1, "click", 2.0))
    val q = EventStreams.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup_stream_test")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_stream_test").collect()
    assert(got.length == 2)
  }

  test("clickPurchaseJoin: interval-bounded stream-stream join") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      event(1, "2024-01-01 09:30:00", 1, "purchase", 50.0), // within 1h of click
      event(2, "2024-01-01 08:00:00", 1, "purchase", 99.0), // too old
      event(3, "2024-01-01 10:00:00", 1, "click", 0.0),
      event(4, "2024-01-01 10:00:00", 2, "click", 0.0))     // no purchase
    val q = EventStreams.clickPurchaseJoin(input.toDF())
      .writeStream.format("memory").queryName("cpjoin_test")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cpjoin_test").collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"))).toSet
    assert(got == Set((3L, 1L)))
  }

  test("mergeSink: micro-batches merge incrementally with last-write-wins") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val statePath = Files.createTempDirectory("graft_stream_state").toString + "/state"
    val ckpt = Files.createTempDirectory("graft_ckpt").toString

    // AvailableNow runs drain what's queued then stop — run the sink once
    // per micro-batch wave, resuming from the same checkpoint (the
    // production incremental pattern).
    input.addData(
      event(1, "2024-01-01 10:00:00", 1, "click", 1.0),
      event(2, "2024-01-01 10:05:00", 1, "click", 2.0), // beats event 1 (later ts)
      event(3, "2024-01-01 10:00:00", 2, "view", 9.0))
    val q1 = EventStreams.mergeSink(input.toDF(), statePath,
      Seq("user_id", "event_type"), Seq(col("ts").desc, col("event_id").desc), ckpt)
    q1.awaitTermination(60000)

    input.addData(
      event(4, "2024-01-01 11:00:00", 1, "click", 7.0)) // beats event 2
    val q2 = EventStreams.mergeSink(input.toDF(), statePath,
      Seq("user_id", "event_type"), Seq(col("ts").desc, col("event_id").desc), ckpt)
    q2.awaitTermination(60000)

    val state = spark.read.parquet(statePath)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")) ->
        r.getAs[Double]("value")).toMap
    assert(state == Map((1L, "click") -> 7.0, (2L, "view") -> 9.0))
  }

  test("mergeSink by partitionCol: touched-partition merge; an old replayed wave cannot regress state") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val statePath = Files.createTempDirectory("graft_pmerge_stream").toString + "/state"
    val ckpt = Files.createTempDirectory("graft_pmerge_ck").toString
    val keys = Seq("user_id", "event_type")
    val prec = Seq(col("ts").desc, col("event_id").desc)
    def run(): Unit =
      EventStreams.mergeSink(input.toDF(), statePath, keys, prec, ckpt,
        partitionCol = Some("event_type")).awaitTermination(60000)

    input.addData(
      event(1, "2024-01-01 10:00:00", 1, "click", 1.0),
      event(2, "2024-01-01 10:00:00", 2, "view", 5.0))
    run()
    input.addData(
      event(3, "2024-01-01 11:00:00", 1, "click", 7.0)) // newer click beats event 1
    run()
    def state() = spark.read.parquet(statePath)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("event_id"), r.getAs[Double]("value"))).toMap
    val afterWaves = state()
    assert(afterWaves == Map(
      (1L, "click") -> (3L, 7.0), (2L, "view") -> (2L, 5.0)))
    // At-least-once worst case: the OLD wave replays AFTER the newer one.
    // Total-order precedence (incomingWins = false) must keep event 3.
    graft.ops.Merge.mergeInto(spark, statePath,
      Seq(event(1, "2024-01-01 10:00:00", 1, "click", 1.0)).toDF(),
      keys, prec, incomingWins = false, partitionCol = Some("event_type"))
    assert(state() == afterWaves, "replayed old wave regressed the state")
  }

  test("corpusLabelSink composes across four waves; untouched labels are never rewritten") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // Sliding 16-token windows, stride 4 (adjacent trigram Jaccard
    // 10/18 >= 0.5, skip-one < 0.5): a 16-doc chain whose position-i doc
    // arrives in wave i % 4 — every near-dup pair straddles waves, so the
    // component only fully merges at the last wave. Doc 1 (an exact copy
    // of position 0's text) arrives in the FINAL wave and is the merged
    // component's new minimum, forcing every settled label to move. Doc
    // 200 is a wave-0 singleton no later wave touches.
    val chain = (0 until 16).map { i =>
      (10L + i, (4 * i until 4 * i + 16).map(k => s"w$k").mkString(" "))
    }
    val waves: Seq[Seq[(Long, String)]] = (0 until 4).map { w =>
      chain.zipWithIndex.collect { case (d, i) if i % 4 == w => d } ++
        (if (w == 0) Seq((200L, "lone wave zero document with private vocabulary")) else Nil) ++
        (if (w == 3) Seq((1L, chain.head._2)) else Nil)
    }
    val input = MemoryStream[(Long, String)]
    val statePath = Files.createTempDirectory("graft_lblspec_state").toString + "/index"
    val labelsPath = Files.createTempDirectory("graft_lblspec_lbl").toString + "/labels"
    val ckpt = Files.createTempDirectory("graft_lblspec_ck").toString
    waves.foreach { docs =>
      input.addData(docs: _*)
      EventStreams.corpusLabelSink(input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", statePath, labelsPath, ckpt).awaitTermination(120000)
    }
    val labels = graft.ops.Windows.topKPerGroup(spark.read.parquet(labelsPath),
        Seq("doc_id"), Seq(col("wave").desc), k = 1)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rep")).toMap
    val all = (chain ++ Seq((1L, chain.head._2),
      (200L, "lone wave zero document with private vocabulary"))).toDF("doc_id", "text")
    val full = graft.text.Dedup.clusterRepresentatives(all.select(col("doc_id")), "doc_id",
        graft.text.Dedup.ngramJaccardPairs(all, "doc_id", "text", n = 3,
          threshold = 0.5, maxDocFreq = 100L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == full)
    assert(labels.values.forall(r => r == 1L || r == 200L)) // one chain component + the singleton
    // O(touched) writes: the untouched singleton's label was written once
    // (wave 0) and never again.
    val deltas200 = spark.read.parquet(labelsPath)
      .where(col("doc_id") === 200L).count()
    assert(deltas200 == 1L)
  }

  test("wave state replay: a re-run wave leaves one run's rows; a crashed dedup wave converges on restart") {
    implicit val sqlCtx = spark.sqlContext
    def text(from: Int) = (from until from + 16).map(k => s"w$k").mkString(" ")
    val wave0 = Seq((10L, text(0)), (20L, "lone wave zero document with private vocabulary"),
      (30L, text(100)))
    // Wave 1: an exact copy of doc 10 with a smaller id (doc 10's label
    // moves to 5), a near-dup of doc 30, and a new doc with an in-batch copy.
    val wave1 = Seq((5L, text(0)), (31L, text(104)), (40L, text(200)), (41L, text(200)))
    def tmp(prefix: String) = Files.createTempDirectory(prefix).toString
    def rows(path: String) = spark.read.parquet(path).collect().map(_.toString).sorted.toSeq

    def labelRuns(wave1Runs: Int): Seq[Seq[String]] = {
      val index = tmp("graft_wsl_state") + "/index"
      val labels = tmp("graft_wsl_lbl") + "/labels"
      EventStreams.labelWave(wave0.toDF("doc_id", "text"), "doc_id", "text", 0, index, labels)
      (1 to wave1Runs).foreach(_ =>
        EventStreams.labelWave(wave1.toDF("doc_id", "text"), "doc_id", "text", 1, index, labels))
      Seq(labels, index + "/membership", index + "/rep_index").map(rows)
    }
    val once = labelRuns(1)
    assert(once.head.contains("[10,5,1]"), s"wave 1 must relabel doc 10: ${once.head}")
    assert(labelRuns(2) == once, "a replayed wave changed the label state")

    def dedupRun(crash: Boolean): Set[Long] = {
      val input = MemoryStream[(Long, String)]
      val index = tmp("graft_wsd_state") + "/index"
      val accepted = tmp("graft_wsd_acc") + "/accepted"
      val ckpt = tmp("graft_wsd_ck")
      val tripped = new java.util.concurrent.atomic.AtomicBoolean(false)
      val chaos: Long => Unit = b =>
        if (crash && b == 1L && tripped.compareAndSet(false, true))
          throw new RuntimeException("injected: accepted wave committed, index waves lost")
      def run(): Unit = EventStreams.corpusDedupSink(input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", index, accepted, ckpt, chaosAfterAccept = chaos).awaitTermination(120000)
      input.addData(wave0: _*)
      run()
      input.addData(wave1: _*)
      if (crash) intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
      run()
      spark.read.parquet(accepted).select("doc_id").as[Long].collect().toSet
    }
    val uninterrupted = dedupRun(crash = false)
    assert(uninterrupted == Set(10L, 20L, 30L, 40L), uninterrupted)
    assert(dedupRun(crash = true) == uninterrupted)
  }

  test("bm25IndexSink: compaction cadence bounds state files; consolidated index scores like a rebuild") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // Four waves of 12 docs; every doc carries query terms so every wave
    // contributes tf slices. Cadence 2: the batch-1 tick consolidates
    // wave 0 into wave=-1; the batch-3 tick folds {-1, 1, 2}, leaving
    // exactly {wave=-1, wave=3} — the steady-state shape of an
    // unattended stream.
    val docsByWave = (0 until 4).map { w =>
      (0 until 12).map(i =>
        ((w * 12 + i).toLong, s"hash join doc w$w i$i scan filter u${w * 12 + i}"))
    }
    val input = MemoryStream[(Long, String)]
    val statePath = Files.createTempDirectory("graft_bm25spec_state").toString
    val ckpt = Files.createTempDirectory("graft_bm25spec_ck").toString
    val queries = Seq("q1" -> "hash join", "q2" -> "scan filter")
    val terms = graft.text.Bm25.queryTerms(queries)
    docsByWave.foreach { docs =>
      input.addData(docs: _*)
      EventStreams.bm25IndexSink(input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", terms, statePath, ckpt).awaitTermination(120000)
    }
    val tfDir = new java.io.File(statePath + "/tf")
    val waveDirs = tfDir.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(waveDirs == Set("wave=-1", "wave=3"),
      s"committed waves not consolidated: $waveDirs")
    def dataFiles(d: java.io.File): Int =
      if (d.isDirectory) d.listFiles().map(dataFiles).sum
      else if (!d.getName.startsWith("_") && !d.getName.startsWith(".")) 1 else 0
    // Bounded: the merged wave=-1 file(s) plus the live wave's slices
    // (<= 4 shuffle partitions in this spec session).
    assert(dataFiles(tfDir) <= 5, s"tf file count unbounded: ${dataFiles(tfDir)}")
    // Result-transparency: the consolidated index scores EXACTLY like a
    // one-shot rebuild over all 48 docs.
    val streamed = graft.text.Bm25.scoreIndex(
        spark.read.parquet(statePath + "/tf").drop("wave"),
        graft.text.Bm25.foldStats(spark.read.parquet(statePath + "/stats").drop("wave")),
        queries, k = 5)
      .orderBy("query_id", "rank").collect().toSeq
    val rebuilt = graft.text.Bm25.bm25TopK(
        docsByWave.flatten.toDF("doc_id", "text"), "doc_id", "text", queries, k = 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(streamed == rebuilt)
  }

  test("lmBigramIndexSink: both slices consolidate on cadence; folded index scores like a rebuild") {
    import org.apache.spark.sql.functions.{col, count_distinct}
    implicit val sqlCtx = spark.sqlContext
    // Four waves; wave contents include a 1-token doc (contributes to
    // the unigram vocabulary but no bigrams — exactly the case the
    // bigram slice alone cannot reconstruct).
    val docsByWave = (0 until 4).map { w =>
      (0 until 8).map { i =>
        val id = (w * 8 + i).toLong
        val text = if (i == 0) s"solo$w"
                   else s"the quick fox w$w jumps over dog u$id the quick"
        (id, text)
      }
    }
    val input = MemoryStream[(Long, String)]
    val statePath = Files.createTempDirectory("graft_lmbspec_state").toString
    val ckpt = Files.createTempDirectory("graft_lmbspec_ck").toString
    docsByWave.foreach { docs =>
      input.addData(docs: _*)
      EventStreams.lmBigramIndexSink(input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", statePath, ckpt).awaitTermination(120000)
    }
    // Steady-state wave shape on BOTH slices: {wave=-1, wave=3}.
    Seq("/bitf", "/tf").foreach { sub =>
      val waveDirs = new java.io.File(statePath + sub).listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(waveDirs == Set("wave=-1", "wave=3"),
        s"$sub committed waves not consolidated: $waveDirs")
    }
    val all = docsByWave.flatten.toDF("doc_id", "text")
    val utf = spark.read.parquet(statePath + "/tf").drop("wave")
    val streamed = graft.text.LanguageModel.bigramSurprisalFromTf(
        spark.read.parquet(statePath + "/bitf").drop("wave"),
        utf.agg(count_distinct(col("term")).as("v")),
        all.select(col("doc_id")))
      .orderBy("doc_id").collect().toSeq
    val rebuilt = graft.text.LanguageModel.bigramSurprisal(all, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(streamed == rebuilt)
    // The solo docs really carried vocabulary: dropping the unigram
    // slice's vocab for a bigram-derived one would change the model.
    val vFull = utf.agg(count_distinct(col("term"))).collect().head.getLong(0)
    val vBigramOnly = spark.read.parquet(statePath + "/bitf")
      .select(col("w1").as("t")).union(
        spark.read.parquet(statePath + "/bitf").select(col("w2").as("t")))
      .agg(count_distinct(col("t"))).collect().head.getLong(0)
    assert(vFull == vBigramOnly + 4, "solo tokens missing from the unigram vocabulary")
  }

  test("spanIndexSink: waves consolidate on cadence; folded slice scores like a rebuild") {
    implicit val sqlCtx = spark.sqlContext
    // Four waves; a CROSS-WAVE duplicated window ("a b c d" shared by
    // wave 0 and wave 3 docs) proves the fold checks new docs against
    // the whole standing corpus, not just their own batch.
    val docsByWave = (0 until 4).map { w =>
      (0 until 4).map { i =>
        val id = (w * 4 + i).toLong
        val text = if (i == 0) "a b c d tail" + w
                   else s"u$id v$id w$id x$id y$id"
        (id, text)
      }
    }
    val input = MemoryStream[(Long, String)]
    val statePath = Files.createTempDirectory("graft_spanspec_state").toString
    val ckpt = Files.createTempDirectory("graft_spanspec_ck").toString
    docsByWave.foreach { docs =>
      input.addData(docs: _*)
      EventStreams.spanIndexSink(input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", w = 4, statePath, ckpt).awaitTermination(120000)
    }
    val waveDirs = new java.io.File(statePath + "/win").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(waveDirs == Set("wave=-1", "wave=3"),
      s"committed waves not consolidated: $waveDirs")
    val all = docsByWave.flatten.toDF("doc_id", "text")
    val streamed = graft.text.SpanDedup.ngramSpanStatsFromSlice(
        spark.read.parquet(statePath + "/win").drop("wave"),
        all, "doc_id", "text", w = 4)
      .orderBy("doc_id").collect().toSeq
    val rebuilt = graft.text.SpanDedup.ngramSpanStats(all, "doc_id", "text", w = 4)
      .orderBy("doc_id").collect().toSeq
    assert(streamed == rebuilt)
    // The cross-wave duplicate was really found: every "a b c d ..."
    // doc (one per wave) has its first 4 tokens covered.
    val covered = streamed.filter(_.getLong(3) > 0) // dup_windows > 0
    assert(covered.map(_.getLong(0)).toSet == Set(0L, 4L, 8L, 12L),
      s"cross-wave dup docs wrong: ${covered.map(_.getLong(0))}")
    assert(covered.forall(_.getLong(4) == 4L), "covered_tokens must be the 4-token span")
  }

  test("tumbling late semantics: drop keys on window END vs watermark, emit closed windows") {
    // Pins the drop/fold/emit boundary rules the streaming_tumbling_late
    // oracle encodes: a late row is dropped iff its WINDOW END is at or
    // below the watermark (not its raw ts), and a window is emitted in
    // Append mode once its end is at or below the final watermark.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val agg = EventStreams.tumblingAgg(input.toDF(), watermark = "0 seconds")
    val q = agg.writeStream.format("memory").queryName("tumbling_late_probe")
      .outputMode(OutputMode.Append()).start()
    def batch(evs: Event*): Unit = { input.addData(evs: _*); q.processAllAvailable() }

    batch(event(1, "2024-01-01 10:05:00", 1, "click", 1.0),
          event(2, "2024-01-01 11:30:00", 1, "click", 1.0)) // watermark -> 11:30
    // ts 11:10 < watermark 11:30 BUT window [11,12) end 12:00 > 11:30:
    // FOLDS (the late filter keys on window end). ts 10:30 has window end
    // 11:00 <= 11:30: DROPPED.
    batch(event(3, "2024-01-01 11:10:00", 1, "click", 1.0),
          event(4, "2024-01-01 10:30:00", 1, "click", 1.0))
    batch(event(5, "2024-01-01 13:00:00", 1, "click", 1.0)) // watermark -> 13:00
    // Exact boundary: watermark lands exactly on window [13,14)'s end.
    batch(event(6, "2024-01-01 14:00:00", 1, "click", 1.0))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("tumbling_late_probe")
      .collect().map(r => (r.getTimestamp(0), r.getLong(2))).toMap
    assert(got(ts("2024-01-01 10:00:00")) == 1L, s"late row behind closed window must drop: $got")
    assert(got(ts("2024-01-01 11:00:00")) == 2L, s"in-watermark late row must fold: $got")
    assert(got.contains(ts("2024-01-01 13:00:00")),
      s"window whose end equals the watermark must emit: $got")
    assert(!got.contains(ts("2024-01-01 14:00:00")), s"open window must not emit: $got")
  }

  test("sliding late semantics: one late row folds into its open window and drops from its closed one") {
    // Pins the per-(row, window) rule the streaming_sliding_late oracle
    // encodes: an event expands into BOTH its overlapping windows before
    // the late filter, so each assignment is judged against its own
    // window end — a single late row can land in exactly one of its two
    // windows.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val agg = EventStreams.slidingAgg(input.toDF(), watermark = "0 seconds")
    val q = agg.writeStream.format("memory").queryName("sliding_late_probe")
      .outputMode(OutputMode.Append()).start()
    def batch(evs: Event*): Unit = { input.addData(evs: _*); q.processAllAvailable() }

    batch(event(1, "2024-01-01 10:05:00", 1, "click", 1.0),
          event(2, "2024-01-01 12:30:00", 1, "click", 1.0)) // watermark -> 12:30
    // Late row at 10:30 belongs to windows [09,11) and [10,12).
    // [09,11) end 11:00 <= wm 12:30: that assignment DROPS.
    // [10,12) end 12:00 <= wm 12:30: DROPS too.
    // Late row at 11:10 belongs to [10,12) (end 12:00 <= wm: drops) and
    // [11,13) (end 13:00 > wm: FOLDS) — one row, one window kept, one lost.
    batch(event(3, "2024-01-01 10:30:00", 1, "click", 1.0),
          event(4, "2024-01-01 11:10:00", 1, "click", 1.0))
    batch(event(5, "2024-01-01 15:00:00", 1, "click", 1.0)) // close everything through [13,15)
    q.processAllAvailable()
    q.stop()

    val got = spark.table("sliding_late_probe")
      .collect().map(r => (r.getTimestamp(0), r.getLong(2))).toMap
    assert(got(ts("2024-01-01 09:00:00")) == 1L, s"closed [09,11) must not see the late row: $got")
    assert(got(ts("2024-01-01 10:00:00")) == 1L, s"closed [10,12) must not see either late row: $got")
    assert(got(ts("2024-01-01 11:00:00")) == 2L,
      s"late 11:10 must fold into still-open [11,13) next to event 2: $got")
    assert(got(ts("2024-01-01 12:00:00")) == 1L, s"[12,14) holds only event 2: $got")
    assert(!got.contains(ts("2024-01-01 14:00:00")), s"open [14,16) must not emit: $got")
  }

  test("sessionize late semantics: sub-watermark rows drop, in-watermark late rows fold backward") {
    // Pins the fMGWS late rules the streaming_sessionize_late oracle
    // encodes: rows behind the watermark are filtered before the state
    // function; surviving out-of-order rows fold at ARRIVAL position
    // (state.last moves backward to the late row's ts).
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = EventStreams.sessionize(input.toDS(), gapMs = 30 * 60 * 1000,
      watermark = "1 hour")
    val q = sessions.writeStream.format("memory").queryName("session_late_probe")
      .outputMode(OutputMode.Append()).start()
    def batch(evs: Event*): Unit = { input.addData(evs: _*); q.processAllAvailable() }

    batch(event(1, "2024-01-01 11:30:00", 1, "click", 1.0),
          event(900, "2024-01-01 12:00:00", 9, "click", 5.0)) // watermark -> 11:00
    // u1 11:15 is out-of-order (behind u1's 11:30) but above the
    // watermark: folds, last moves BACK to 11:15. u2 10:30 is behind the
    // watermark: dropped entirely (u2 must never emit).
    batch(event(2, "2024-01-01 11:15:00", 1, "click", 1.0),
          event(20, "2024-01-01 10:30:00", 2, "click", 9.0))
    // 11:40 is 25 min after the moved-back last=11:15: still folds.
    batch(event(3, "2024-01-01 11:40:00", 1, "click", 1.0))
    batch(event(901, "2024-01-01 20:00:00", 9, "click", 5.0)) // watermark -> 19:00
    q.processAllAvailable()
    q.stop()

    val got = spark.table("session_late_probe").as[Session].collect()
      .map(s => (s.user_id, s.session_start, s.session_end, s.n_events)).toSet
    assert(got == Set(
      (1L, ts("2024-01-01 11:30:00"), ts("2024-01-01 11:40:00"), 3L),
      (9L, ts("2024-01-01 12:00:00"), ts("2024-01-01 12:00:00"), 1L)), got.toString)
  }

  test("stream-stream join late semantics: each side drops sub-watermark inputs, in-watermark late rows still match state") {
    // Pins the drop-vs-match rules the streaming_join_late oracle
    // encodes: a late input is dropped iff its RAW event time is behind
    // the global watermark (per side, on that side's event-time column);
    // a surviving late row still joins the other side's state (whose
    // eviction bounds cannot have removed a matchable partner).
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val joined = EventStreams.clickPurchaseJoin(input.toDF(), watermark = "1 hour")
    val q = joined.writeStream.format("memory").queryName("join_late_probe")
      .outputMode(OutputMode.Append()).start()
    // Batch 1 (all on time): one click/purchase pair emits immediately;
    // unpaired state rows for each side; max ts 20:00 on both sides ->
    // watermark 19:00 in force for batch 2.
    input.addData(
      event(1, "2024-01-01 10:00:00", 1, "purchase", 5.0),
      event(2, "2024-01-01 10:30:00", 1, "click", 0.0),
      event(7, "2024-01-01 19:00:00", 2, "purchase", 7.0),
      event(9, "2024-01-01 11:00:00", 3, "click", 0.0),
      event(11, "2024-01-01 19:40:00", 4, "click", 0.0),
      event(3, "2024-01-01 20:00:00", 9, "click", 0.0),
      event(4, "2024-01-01 20:00:00", 9, "purchase", 9.0))
    q.processAllAvailable()
    // Batch 2 (all event-time late): click 5 and purchase 8 are behind
    // the 19:00 watermark -> dropped on their own side (no pair with the
    // state rows they would otherwise match); click 6 and purchase 10
    // are late but in-watermark -> each matches the other side's state.
    input.addData(
      event(5, "2024-01-01 10:40:00", 1, "click", 0.0),
      event(6, "2024-01-01 19:30:00", 2, "click", 0.0),
      event(8, "2024-01-01 10:50:00", 3, "purchase", 3.0),
      event(10, "2024-01-01 19:10:00", 4, "purchase", 4.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("join_late_probe")
      .select("click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 1L), (3L, 4L), (6L, 7L), (11L, 10L)), got.toString)
  }

  test("lateWavedEventsStream displaces exactly the event_id % 10 rows one wave later") {
    val dir = "/root/testdata/sf0.001"
    val st = graft.io.Tables.lateWavedEventsStream(spark, dir, nWaves = 4)
    val q = st.writeStream.format("memory").queryName("late_waves_test")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(q.recentProgress.count(_.numInputRows > 0) == 4)
    val total = graft.io.Tables.events(spark, dir).count()
    assert(spark.table("late_waves_test").count() == total,
      "displacement must not lose or duplicate rows")
  }

  test("wavedEventsStream delivers one time-ordered micro-batch per wave") {
    val st = graft.io.Tables.wavedEventsStream(spark, "/root/testdata/sf0.001", 3)
    val q = st.writeStream.format("memory").queryName("waves_test")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 3, "each wave must arrive as its own micro-batch")
    val total = graft.io.Tables.events(spark, "/root/testdata/sf0.001").count()
    assert(spark.table("waves_test").count() == total)
    // Waves are time-ordered: sessions spanning batches stay correct, so
    // the multi-wave sessionize must equal the single-wave (live) result —
    // the cross-micro-batch state contract graded by the *_waves gates.
    import org.apache.spark.sql.functions.col
    val live = graft.Queries.queries("streaming_sessionize_live")(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSet
    val waves = graft.Queries.queries("streaming_sessionize_waves")(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSet
    assert(waves == live)
  }
}
