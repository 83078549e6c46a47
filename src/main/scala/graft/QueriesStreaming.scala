package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}
import org.apache.spark.sql.types._

import graft.io.Tables
import graft.ops.{AsOf, BloomPrune, Merge, Normalize, Quality, Recall, Reshape, Summary, Windows}
import graft.text.{Dedup, TextAnalysis}
import graft.vector.Similarity
import graft.multimodal.BinaryOps

/** Gate registry — event-time batch twins and Structured Streaming gates (SURVEY.md §2.10).
  * Entries moved verbatim from the former monolithic [[Queries]];
  * [[Queries]] merges the family registries. */
private[graft] object QueriesStreaming {

  import QueriesShared._

  /** Whether `needle` appears in the message of `e` or any of its causes.
    * The restart gates match their injected failure this way because
    * Spark versions differ in whether StreamingQueryException.getMessage
    * embeds the cause's message — matching the top message alone would
    * turn the planned crash into a raw gate failure on versions that
    * don't.
    */
  private def causeChainContains(e: Throwable, needle: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .exists(t => String.valueOf(t.getMessage).contains(needle))

  /** The one start path of the streaming gates: `start` starts the
    * gate's query over `stream` re-bound by
    * [[graft.streaming.StreamSession.sized]], so the query, its
    * foreachBatch bodies included, plans at the partition count sized to
    * the stream's input; the query it returns is then drained.
    */
  private def runStream(stream: DataFrame)(start: DataFrame => StreamingQuery): Unit =
    start(graft.streaming.StreamSession.sized(stream)).awaitTermination()

  /** A sink-to-Parquet gate: `stream` appended (Append mode, AvailableNow)
    * to a fresh Parquet table, checkpointed and stored under scratch
    * dirs named by `tag`, and read back once drained.
    */
  private def appendParquet(s: SparkSession, tag: String)(stream: DataFrame): DataFrame = {
    val ckpt = graft.util.Scratch.dir(tag + "_ck")
    val out = graft.util.Scratch.dir(tag + "_out") + "/t"
    runStream(stream)(_.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", out).start())
    s.read.parquet(out)
  }

  /** A restart gate: `sink(stream, chaos)` runs until `chaos` throws at
    * batch 1 (`what` names the point it fails at) and must die of
    * exactly that failure; the same sink then restarts from the
    * unchanged checkpoint, which REPLAYS batch 1 (foreachBatch is
    * at-least-once), and drains.
    */
  private def crashAndReplay(stream: DataFrame, gate: String, what: String)
                            (sink: (DataFrame, Long => Unit) => StreamingQuery): Unit = {
    val tripped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val chaos: Long => Unit = b =>
      if (b == 1L && tripped.compareAndSet(false, true))
        throw new RuntimeException(s"injected: $what")
    runStream(stream) { st =>
      val q1 = sink(st, chaos)
      try { q1.awaitTermination(); throw new IllegalStateException(
        s"$gate: the injected failure never fired")
      } catch {
        case e: StreamingQueryException if causeChainContains(e, "injected") => () // the planned crash
      }
      sink(st, chaos)
    }
  }

  /** The compaction cadence ran: wave 0 of each table in `subs` under
    * `statePath` was consolidated into `wave=-1`. */
  private def requireConsolidated(statePath: String, subs: String*): Unit =
    subs.foreach { sub =>
      require(new java.io.File(statePath + sub + "/wave=-1").isDirectory &&
        !new java.io.File(statePath + sub + "/wave=0").exists(),
        s"compaction cadence did not consolidate $sub wave 0")
    }

  /** Two-wave document staging as a StateSeed fixture: the wave split is
    * pure fixture construction, deterministic in (sfDir, tag), so Bench
    * (seeding on) builds it once per JVM and reps time the streaming
    * maintainer against the staged files — the deployment shape, and the
    * same policy + artifact provenance (`seeded_queries`) as the
    * event-wave fixtures in [[graft.io.Tables]]. Verify never seeds, so
    * correctness gates stay self-contained. Per-rep re-staging also
    * re-wrote the corpus to scratch every rep — the dirty-page churn
    * that arms this box's reclaim storms (SCALE.md round-14).
    *
    * Returns a stream over the staged docs that delivers one wave per
    * micro-batch: `filesPerWave` salted files per wave, matched by
    * `maxFilesPerTrigger` (more than one file per wave parallelizes the
    * fixture write and the batch read at scale — the round-10 fix for
    * the event gates).
    */
  private def docWaves(s: SparkSession, dir: String, docs: DataFrame,
                       tag: String, filesPerWave: Int = 1): DataFrame = {
    val root = graft.util.StateSeed.root(s, tag, dir) { root =>
      Tables.stageWaves(s, docs, pmod(col("doc_id"), lit(2)), 2, tag,
        filesPerWave = filesPerWave, destDir = Some(root))
      ()
    }
    s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", filesPerWave.toString).parquet(root)
  }

  /** A streaming MERGE gate: `events` merged by
    * [[graft.streaming.EventStreams.mergeSink]] into a fresh state table
    * on (user_id, event_type), the latest (ts, event_id) winning — the
    * order every merge oracle replicates.
    */
  private def mergeEvents(s: SparkSession, tag: String, events: DataFrame,
                          partitionCol: Option[String] = None): DataFrame = {
    val ckpt = graft.util.Scratch.dir(tag + "_ck")
    val statePath = graft.util.Scratch.dir(tag + "_state") + "/state"
    val cols = Seq("user_id", "event_type", "event_id", "ts", "value").map(col)
    runStream(events.select(cols: _*))(graft.streaming.EventStreams.mergeSink(_, statePath,
      keys = Seq("user_id", "event_type"),
      precedence = Seq(col("ts").desc, col("event_id").desc),
      checkpoint = ckpt, partitionCol = partitionCol))
    s.read.parquet(statePath).select(cols: _*)
  }

  /** The sessions [[graft.streaming.EventStreams.sessionize]] emits over
    * `events` at the 30-minute gap the batch twin uses. */
  private def streamSessions(s: SparkSession, events: DataFrame,
                             watermark: String = "0 seconds"): DataFrame = {
    import s.implicits._
    graft.streaming.EventStreams.sessionize(
      events.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).as[graft.streaming.EventStreams.Event],
      gapMs = 30L * 60 * 1000, watermark).toDF()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_tumbling" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("cnt"), col("sum_value"))),

    // REAL Structured Streaming execution in the gate (not just the batch
    // twin): file-stream source over the events table, watermarked
    // tumbling aggregate, AvailableNow trigger, parquet sink. Append mode
    // emits exactly the windows the final watermark (= max event time at
    // 0s delay) has closed, so the oracle is the batch aggregate minus
    // windows whose end is past the last event.
    "streaming_tumbling_live" -> ((s, dir) =>
      appendParquet(s, "graft_stream")(graft.streaming.EventStreams
          .tumblingAgg(Tables.eventsStream(s, dir), watermark = "0 seconds"))
        .select(col("hour_start"), col("event_type"), col("cnt"),
          col("sum_value").cast(DoubleType).as("sum_value"))),

    // LIVE twin of events_sliding: watermarked sliding aggregate over the
    // file stream, AvailableNow, Append mode — emits exactly the windows
    // the final watermark (= max event time at 0s delay) has closed. Each
    // event expands into two overlapping windows BEFORE the stateful agg,
    // so emission is per-window: the younger of an event's two windows
    // can stay open (unemitted) while the older one closes.
    "streaming_sliding_live" -> ((s, dir) =>
      appendParquet(s, "graft_sslide")(graft.streaming.EventStreams
          .slidingAgg(Tables.eventsStream(s, dir), watermark = "0 seconds"))
        .select(col("win_start"), col("event_type"), col("cnt"),
          col("sum_value").cast(DoubleType).as("sum_value"))),

    // Late/out-of-order twin of the sliding aggregate: displaced rows are
    // late-filtered PER (row, window) assignment — an in-watermark late
    // row folds into its still-open window(s) while its already-closed
    // older window drops it, the overlap behavior the tumbling late gate
    // can never exercise (EventStreamsSpec pins the two-window boundary).
    "streaming_sliding_late" -> ((s, dir) =>
      appendParquet(s, "graft_sslate2")(graft.streaming.EventStreams
          .slidingAgg(Tables.lateWavedEventsStream(s, dir, nWaves = 4),
            watermark = "96 hours"))
        .select(col("win_start"), col("event_type"), col("cnt"),
          col("sum_value").cast(DoubleType).as("sum_value"))),

    // Sliding 2-hour windows on a 1-hour slide: each event lands in two
    // overlapping windows (streaming-compatible semantics in batch).
    "events_sliding" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("cnt"), col("sum_value"))),

    // Batch gap sessions; oracle: the lag + running-sum session SQL.
    "events_sessionize" -> ((s, dir) => batchSessions(s, dir)),

    // Streaming retrieval-index maintenance: the LIVE twin of
    // text_bm25_incremental. Two document waves (even ids, then odd)
    // flow through bm25IndexSink — each micro-batch appends its (tf,
    // stats) slice to the persisted index (O(batch) per wave, history
    // never re-tokenized, waves replay-safe via dynamic partition
    // overwrite) — with the sink's COMPACTION CADENCE: wave 1's tick
    // consolidates wave 0's slice files into the reserved wave=-1
    // partition (size-tiered Compact.consolidateWaves; the current wave
    // is never touched, it may still replay), so an unattended stream
    // stays bounded in file count. Scoring the consolidated index must
    // STILL reproduce the full-corpus rebuild ranking bit-for-bit: same
    // oracle as text_bm25_topk — the result-transparency proof for the
    // cadence.
    "streaming_bm25_live" -> ((s, dir) => {
      import graft.text.Bm25
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val terms = Bm25.queryTerms(QueriesText.Bm25Queries)
      val stream = docWaves(s, dir, docs, "graft_bm25w", filesPerWave = Tables.WaveStageFiles)
      val statePath = graft.util.Scratch.dir("graft_bm25w_state")
      val ckpt = graft.util.Scratch.dir("graft_bm25w_ck")
      runStream(stream)(graft.streaming.EventStreams.bm25IndexSink(_, "doc_id", "text",
        terms, statePath, ckpt))
      requireConsolidated(statePath, "/tf")
      Bm25.scoreIndex(
        s.read.parquet(statePath + "/tf").drop("wave"),
        Bm25.foldStats(s.read.parquet(statePath + "/stats").drop("wave")),
        QueriesText.Bm25Queries, k = 10)
    }),

    // The SAME BM25 index maintenance killed mid-stream and restarted —
    // the bm25 twin of streaming_span_dedup_restart, and the harder
    // replay: this sink writes TWO sidecars (tf + stats) and the stats
    // row feeds df/avgdl, so a non-idempotent replay would double-count
    // every wave-1 document in the corpus statistics and shift EVERY
    // score, not just the replayed docs'. The injected failure lands at
    // the worst point — both sidecars written AND consolidated, tick
    // commit lost — and the replayed tick (dynamic wave overwrite;
    // consolidation re-entering via the manifest recover protocol, on
    // both sidecars) must converge to the identical folded index: the
    // oracle is the uninterrupted full-rebuild ranking, same as
    // streaming_bm25_live / text_bm25_topk.
    "streaming_bm25_restart" -> ((s, dir) => {
      import graft.text.Bm25
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val terms = Bm25.queryTerms(QueriesText.Bm25Queries)
      val stream = docWaves(s, dir, docs, "graft_bm25rw", filesPerWave = Tables.WaveStageFiles)
      val statePath = graft.util.Scratch.dir("graft_bm25rw_state")
      val ckpt = graft.util.Scratch.dir("graft_bm25rw_ck")
      crashAndReplay(stream, "streaming_bm25_restart",
          "both sidecars written and compacted, tick commit lost") { (st, chaos) =>
        graft.streaming.EventStreams.bm25IndexSink(st, "doc_id", "text",
          terms, statePath, ckpt, chaosAfterTick = chaos)
      }
      requireConsolidated(statePath, "/tf", "/stats")
      Bm25.scoreIndex(
        s.read.parquet(statePath + "/tf").drop("wave"),
        Bm25.foldStats(s.read.parquet(statePath + "/stats").drop("wave")),
        QueriesText.Bm25Queries, k = 10)
    }),

    // Streaming corpus-LM maintenance: the LIVE twin of
    // text_lm_surprisal. Two document waves flow through lmIndexSink —
    // each micro-batch appends its (doc, term, tf) slice (O(batch) per
    // wave, history never re-tokenized, replay-safe, the cadence
    // consolidating wave 0 into wave=-1). Scoring the FOLDED index must
    // reproduce the one-shot corpus surprisal bit-for-bit: same oracle
    // as text_lm_surprisal.
    "streaming_lm_live" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val stream = docWaves(s, dir, docs, "graft_lmw", filesPerWave = Tables.WaveStageFiles)
      val statePath = graft.util.Scratch.dir("graft_lmw_state")
      val ckpt = graft.util.Scratch.dir("graft_lmw_ck")
      runStream(stream)(graft.streaming.EventStreams.lmIndexSink(_, "doc_id", "text",
        statePath, ckpt))
      requireConsolidated(statePath, "/tf")
      graft.text.LanguageModel.surprisalFromTf(
        graft.util.CacheScope.untracked(
          s.read.parquet(statePath + "/tf").drop("wave")),
        docs.select(col("doc_id")))
    }),

    // Streaming ORDER-1 LM maintenance: the LIVE twin of text_lm_bigram.
    // The same two document waves flow through lmBigramIndexSink — each
    // micro-batch appends its (doc, w1, w2, tf) bigram slice plus the
    // unigram slice the smoothing vocabulary derives from (O(batch) per
    // wave, history never re-tokenized, replay-safe, the cadence
    // consolidating wave 0 into wave=-1 on BOTH slices). Scoring the
    // folded index must reproduce the one-shot corpus bigram surprisal
    // bit-for-bit: same oracle as text_lm_bigram.
    "streaming_lm_bigram_live" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val stream = docWaves(s, dir, docs, "graft_lmbw", filesPerWave = Tables.WaveStageFiles)
      val statePath = graft.util.Scratch.dir("graft_lmbw_state")
      val ckpt = graft.util.Scratch.dir("graft_lmbw_ck")
      runStream(stream)(graft.streaming.EventStreams.lmBigramIndexSink(_, "doc_id", "text",
        statePath, ckpt))
      requireConsolidated(statePath, "/bitf", "/tf")
      val utf = s.read.parquet(statePath + "/tf").drop("wave")
      graft.text.LanguageModel.bigramSurprisalFromTf(
        graft.util.CacheScope.untracked(
          s.read.parquet(statePath + "/bitf").drop("wave")),
        utf.agg(count_distinct(col("term")).as("v")),
        docs.select(col("doc_id")))
    }),

    // Streaming exact-substring maintenance: the LIVE twin of
    // dedup_ngram_spans. The same two document waves flow through
    // spanIndexSink — each micro-batch appends its 20-byte
    // window-fingerprint slice (O(batch) per wave; history never
    // re-tokenized; replay-safe wave overwrite; the cadence
    // consolidating wave 0 into wave=-1). Scoring the folded index must
    // reproduce the one-shot span stats bit-for-bit — this is what
    // makes ExactSubstr dedup deployable on an ingest stream: a new
    // doc's spans are checked against the WHOLE standing corpus at
    // append cost.
    "streaming_span_dedup_live" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val stream = docWaves(s, dir, docs, "graft_spanw", filesPerWave = Tables.WaveStageFiles)
      val statePath = graft.util.Scratch.dir("graft_spanw_state")
      val ckpt = graft.util.Scratch.dir("graft_spanw_ck")
      runStream(stream)(graft.streaming.EventStreams.spanIndexSink(_, "doc_id", "text",
        w = 8, statePath, ckpt))
      requireConsolidated(statePath, "/win")
      graft.text.SpanDedup.ngramSpanStatsFromSlice(
        graft.util.CacheScope.untracked(
          s.read.parquet(statePath + "/win").drop("wave")),
        docs, "doc_id", "text", w = 8)
    }),

    // The SAME span-index maintenance killed mid-stream and restarted,
    // with the compaction cadence: the injected failure lands at
    // the worst replay point — wave 1 is written AND wave 0 is already
    // consolidated into wave=-1, but the checkpoint never commits the
    // tick — then a second run from the unchanged checkpoint REPLAYS
    // the whole compaction tick (foreachBatch is at-least-once). The
    // replay-safe sink (wave-keyed dynamic overwrite; consolidation
    // re-entering idempotently via the manifest recover protocol) must
    // converge to the identical folded index: the oracle is the
    // uninterrupted one-shot span stats'.
    "streaming_span_dedup_restart" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val stream = docWaves(s, dir, docs, "graft_spanrw", filesPerWave = Tables.WaveStageFiles)
      val statePath = graft.util.Scratch.dir("graft_spanrw_state")
      val ckpt = graft.util.Scratch.dir("graft_spanrw_ck")
      crashAndReplay(stream, "streaming_span_dedup_restart",
          "wave written and compacted, tick commit lost") { (st, chaos) =>
        graft.streaming.EventStreams.spanIndexSink(st, "doc_id", "text",
          w = 8, statePath, ckpt, chaosAfterTick = chaos)
      }
      requireConsolidated(statePath, "/win")
      graft.text.SpanDedup.ngramSpanStatsFromSlice(
        graft.util.CacheScope.untracked(
          s.read.parquet(statePath + "/win").drop("wave")),
        docs, "doc_id", "text", w = 8)
    }),

    "streaming_dedup_incremental_live" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val stream = docWaves(s, dir, docs, "graft_incw")
      val statePath = graft.util.Scratch.dir("graft_incw_state") + "/index"
      val acceptedPath = graft.util.Scratch.dir("graft_incw_acc") + "/accepted"
      val ckpt = graft.util.Scratch.dir("graft_incw_ck")
      runStream(stream)(graft.streaming.EventStreams.corpusDedupSink(_, "doc_id", "text",
        statePath, acceptedPath, ckpt))
      s.read.parquet(acceptedPath)
    }),

    // Streaming cluster-label maintenance: the LIVE twin of
    // dedup_cluster_reps_incremental. The same two waves (evens, then
    // odds) flow through corpusLabelSink — wave 0 with empty state is a
    // full CC over the history half, wave 1 folds the batch through the
    // contracted graph and writes only the batch + changed-label rows.
    // The reconstructed latest-delta-per-doc labeling must hash-match
    // the SAME full-recompute fixpoint oracle as the batch gate.
    "streaming_cluster_labels_live" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val stream = docWaves(s, dir, docs, "graft_lblw")
      val statePath = graft.util.Scratch.dir("graft_lblw_state") + "/index"
      val labelsPath = graft.util.Scratch.dir("graft_lblw_lbl") + "/labels"
      val ckpt = graft.util.Scratch.dir("graft_lblw_ck")
      runStream(stream)(graft.streaming.EventStreams.corpusLabelSink(_, "doc_id", "text",
        statePath, labelsPath, ckpt))
      graft.ops.Windows.topKPerGroup(s.read.parquet(labelsPath),
          Seq("doc_id"), Seq(col("wave").desc), k = 1)
        .select(col("doc_id"), col("rep"))
    }),

    // The SAME ingest killed mid-run and restarted: an injected failure
    // in wave 1 lands at the worst point — the accepted wave is already
    // committed, the index waves are not — then a second run from the
    // unchanged checkpoint REPLAYS wave 1 (foreachBatch is
    // at-least-once). The replay-safe sink (wave-keyed dynamic
    // overwrite, state reads excluding the current wave) must converge
    // to the identical accepted set: the oracle is the same as the
    // uninterrupted run's.
    "streaming_dedup_restart" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val stream = docWaves(s, dir, docs, "graft_rsw")
      val statePath = graft.util.Scratch.dir("graft_rsw_state") + "/index"
      val acceptedPath = graft.util.Scratch.dir("graft_rsw_acc") + "/accepted"
      val ckpt = graft.util.Scratch.dir("graft_rsw_ck")
      crashAndReplay(stream, "streaming_dedup_restart",
          "accepted wave committed, index waves lost") { (st, chaos) =>
        graft.streaming.EventStreams.corpusDedupSink(st, "doc_id", "text",
          statePath, acceptedPath, ckpt, chaosAfterAccept = chaos)
      }
      s.read.parquet(acceptedPath)
    }),

    // Events joined to their batch sessions by time range; oracle: the
    // session SQL joined on the [session_start, session_end] interval.
    "interval_join_sessions" -> ((s, dir) => {
      val sess = batchSessions(s, dir)
        .select(col("user_id"), col("session_seq"),
          col("session_start"), col("session_end"))
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_id"), col("ts"))
      graft.ops.RangeJoin.intervalJoin(ev, sess, Seq("user_id"), "ts",
          "session_start", "session_end", binWidth = 3600L * 1000000L)
        .select(col("event_id"), col("user_id"), col("ts"), col("session_seq"))
    }),

    // Watermarked streaming dedup on the natural key; oracle: every
    // events row once.
    "streaming_dedup_live" -> ((s, dir) =>
      appendParquet(s, "graft_sdedup")(graft.streaming.EventStreams
        .dedupStream(Tables.eventsStream(s, dir), watermark = "2 hours")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"), col("value")))),

    // ---- live custom-state sessionization ----------------------------------
    // flatMapGroupsWithState executed for real. A session emits either
    // when a later event of its user arrives past the gap, or when the
    // trailing no-data batch fires its event-time timeout (set to last
    // event ms + gap; Spark fires on timeout STRICTLY below the
    // watermark — verified against FlatMapGroupsWithStateExec) — so only
    // final sessions ending within the gap of the stream's max timestamp
    // stay in state. The oracle expresses exactly that set. total_value
    // is a sequential fold in (ts, event_id) order on both engines
    // (DuckDB's ordered SUM is the same left fold — verified). The gate
    // relies on the file source delivering all files in ONE batch
    // (maxFilesPerTrigger unset — see EventStreams.sessionize's
    // single-wave ordering contract).
    "streaming_sessionize_live" -> ((s, dir) =>
      appendParquet(s, "graft_ssess")(streamSessions(s, Tables.eventsStream(s, dir)))),

    // ---- live incremental MERGE sink ---------------------------------------
    // foreachBatch MERGE into Parquet state, executed for real: the
    // winner per key is a total order over state AND batch, so the final
    // state equals a batch last-write-wins dedup over all events no
    // matter how the stream micro-batched (the convergence contract).
    "streaming_merge_live" -> ((s, dir) =>
      mergeEvents(s, "graft_smerge", Tables.eventsStream(s, dir))),

    // ---- multi-wave delivery twins ----------------------------------------
    // The same sessionize / merge pipelines driven through the waved
    // fixture (Tables.wavedEventsStream): three time-ordered micro-batches
    // via maxFilesPerTrigger=1, so sessions span batches, event-time
    // timeouts fire BETWEEN batches as the watermark advances wave to
    // wave, and the merge folds three partial states. The oracles are
    // IDENTICAL to the _live twins: re-batching must not change a single
    // answer — that is the cross-micro-batch state contract.
    "streaming_sessionize_waves" -> ((s, dir) =>
      appendParquet(s, "graft_ssessw")(
        streamSessions(s, Tables.wavedEventsStream(s, dir, nWaves = 3)))),

    // Partition-scoped streaming MERGE: each of the three waves rewrites
    // only the state files it can touch, pruned by their partition
    // directory and key ranges, and carries the rest over by the manifest
    // swap. One total order over state+batch rows, so re-batching and
    // replays cannot change a winner: the oracle is the identical batch
    // LWW dedup the other merge gates share.
    "streaming_merge_partitioned" -> ((s, dir) =>
      mergeEvents(s, "graft_smergep", Tables.wavedEventsStream(s, dir, nWaves = 3),
        partitionCol = Some("event_type"))),

    "streaming_merge_waves" -> ((s, dir) =>
      mergeEvents(s, "graft_smergew", Tables.wavedEventsStream(s, dir, nWaves = 3))),

    // ---- late/out-of-order delivery twins ---------------------------------
    // The same pipelines driven through the LATE fixture
    // (Tables.lateWavedEventsStream): every event_id % 10 == 0 row is
    // delivered one wave after its event-time wave, so it arrives BEHIND
    // the watermark the in-order waves advanced. With a 96-hour allowed
    // lateness over ~7.5-day waves, roughly half the displaced rows are
    // within the watermark (they must FOLD into open state) and half are
    // beyond it (they must be DROPPED) — the two late-data behaviors the
    // time-ordered waves fixture can never exercise. The oracles replicate
    // the delivery schedule and per-wave watermark sequence exactly
    // (boundary rules pinned by EventStreamsSpec's late-semantics probes).
    "streaming_tumbling_late" -> ((s, dir) =>
      appendParquet(s, "graft_stlate")(graft.streaming.EventStreams
          .tumblingAgg(Tables.lateWavedEventsStream(s, dir, nWaves = 4),
            watermark = "96 hours"))
        .select(col("hour_start"), col("event_type"), col("cnt"),
          col("sum_value").cast(DoubleType).as("sum_value"))),

    "streaming_sessionize_late" -> ((s, dir) =>
      appendParquet(s, "graft_sslate")(streamSessions(s,
        Tables.lateWavedEventsStream(s, dir, nWaves = 4), watermark = "96 hours"))),

    "streaming_merge_late" -> ((s, dir) =>
      mergeEvents(s, "graft_smlate", Tables.lateWavedEventsStream(s, dir, nWaves = 4))),

    // ---- live heavy-hitter sketch maintenance -----------------------------
    // Three waved micro-batches each write their one-row Misra-Gries
    // summary (wave-keyed, replay-safe); the read-time resolve folds the
    // wave summaries in ONE merge level and exactly recounts the
    // candidates. Must equal the single-shot exact groupBy-count-filter
    // over the full stream — micro-batching cannot lose a heavy hitter.
    "streaming_heavy_hitters_live" -> ((s, dir) => {
      val ckpt = graft.util.Scratch.dir("graft_shh_ck")
      val statePath = graft.util.Scratch.dir("graft_shh_state") + "/state"
      runStream(Tables.wavedEventsStream(s, dir, nWaves = 3).select(col("user_id")))(
        graft.streaming.EventStreams.heavyHittersSink(_, "user_id", k = 120 * 16, statePath, ckpt))
      graft.ops.Profile.hhResolve(
        Tables.events(s, dir).select(col("user_id")),
        graft.ops.Profile.hhMergeAll(
          s.read.parquet(statePath).select(col("cand"), col("total"), col("nulls")),
          k = 120 * 16),
        "user_id", num = 1L, den = 120L)
    }),

    // ---- live stream-stream interval join ---------------------------------
    // Clicks joined to same-user purchases within the prior hour, both
    // sides watermarked (bounded join state) — the streaming as-of window,
    // executed for real and graded against the batch theta-join oracle.
    "streaming_join_live" -> ((s, dir) =>
      appendParquet(s, "graft_sjoin")(graft.streaming.EventStreams
        .clickPurchaseJoin(Tables.eventsStream(s, dir), watermark = "2 hours"))),

    // Late/out-of-order twin of the stream-stream interval join: rows
    // displaced two waves arrive behind the in-order waves' watermark.
    // Each SIDE drops its sub-watermark late inputs (raw event time vs
    // the global watermark — the min over both sides' per-type maxima);
    // surviving late rows still match the other side's state, whose
    // eviction bounds (click_ts < wm; purchase_ts < wm - 1h) provably
    // never remove a row a surviving input could need (see the oracle's
    // derivation comment). EventStreamsSpec pins the drop-vs-match rule
    // per side on a controlled fixture.
    "streaming_join_late" -> ((s, dir) =>
      appendParquet(s, "graft_sjlate")(graft.streaming.EventStreams
        .clickPurchaseJoin(Tables.lateWavedEventsStream(s, dir, nWaves = 4),
          watermark = "96 hours")))
  )

  val oracleSql: Map[String, String] = Map(
    "events_tumbling" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type, count(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "streaming_tumbling_live" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
        |  count(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2
        |HAVING CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR
        |  <= (SELECT max(CAST(ts AS TIMESTAMP)) FROM events)""".stripMargin,

    // Append emission: a sliding window is emitted iff its END (start +
    // 2h) is at or below the final watermark = max event time (0s delay;
    // window ends are hour-aligned so ms flooring can't flip the cut).
    "streaming_sliding_live" ->
      """SELECT CAST(ws AS TIMESTAMP) AS win_start, event_type, count(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
        |                 date_trunc('hour', ts)]) AS ws,
        |         event_type, value
        |  FROM events)
        |GROUP BY ws, event_type
        |HAVING ws + INTERVAL 2 HOUR
        |  <= (SELECT max(CAST(ts AS TIMESTAMP)) FROM events)""".stripMargin,

    "streaming_sliding_late" -> slidingLateOracleSql,

    "events_sliding" ->
      """SELECT CAST(ws AS TIMESTAMP) AS win_start, event_type, count(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
        |                 date_trunc('hour', ts)]) AS ws,
        |         event_type, value
        |  FROM events)
        |GROUP BY 1, 2""".stripMargin,

    "events_sessionize" ->
      """WITH f AS (
        |  SELECT user_id, ts, event_id, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |g AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN prev_ts IS NULL
        |           OR epoch_ms(ts) - epoch_ms(prev_ts) >= 1800000 THEN 1 ELSE 0 END AS new_session
        |  FROM f),
        |h AS (
        |  SELECT user_id, ts, event_id, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM g)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  CAST(MIN(ts) AS TIMESTAMP) AS session_start,
        |  CAST(MAX(ts) AS TIMESTAMP) AS session_end,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM h GROUP BY 1, 2""".stripMargin,

    "streaming_dedup_incremental_live" -> incrementalLiveOracleSql,
    // The streaming fold must score exactly like the full rebuild.
    "streaming_bm25_live" -> QueriesText.bm25TopKOracleSql,
    "streaming_bm25_restart" -> QueriesText.bm25TopKOracleSql,

    // The streamed LM fold must score exactly like the one-shot corpus
    // surprisal — the oracle IS text_lm_surprisal's full replica.
    "streaming_lm_live" ->
      s"""WITH ${QueriesText.lmScoreCte(0)}
         |SELECT doc_id, lm_n AS n_tokens, lm_anl AS avg_neg_logprob
         |FROM lmscore""".stripMargin,

    // The streamed bigram fold (with the smoothing vocabulary derived
    // from the maintained unigram slice) must score exactly like the
    // one-shot corpus model.
    "streaming_lm_bigram_live" -> QueriesText.bigramLmOracleSql,

    // The streamed window-fingerprint fold must reproduce the one-shot
    // exact-substring span stats — the oracle IS dedup_ngram_spans'.
    "streaming_span_dedup_live" -> QueriesText.ngramSpanOracleSql,
    "streaming_span_dedup_restart" -> QueriesText.ngramSpanOracleSql,
    // Crash + replay must converge to the UNINTERRUPTED run's result —
    // the whole point of the replay-safe sink. Same oracle by
    // construction.
    "streaming_dedup_restart" -> incrementalLiveOracleSql,

    // Incremental replica: per-half indexes with per-half hot caps
    // (matching the Spark side's independently-built state/batch
    // indexes), batch self-pairs plus state x batch cross pairs.
    "streaming_cluster_labels_live" -> incrementalClusterRepsOracleSql,


    // Reachability fixpoint over the same pair graph: min reachable id
    // per node == the propagation-converged representative.
    "interval_join_sessions" ->
      """WITH f AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev_ts IS NULL
        |           OR epoch_ms(ts) - epoch_ms(prev_ts) >= 1800000 THEN 1 ELSE 0 END AS new_session
        |  FROM f),
        |h AS (
        |  SELECT user_id, ts, event_id,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM g),
        |sess AS (
        |  SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |    MIN(ts) AS session_start, MAX(ts) AS session_end
        |  FROM h GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts, s.session_seq
        |FROM events e JOIN sess s
        |  ON e.user_id = s.user_id
        | AND e.ts >= s.session_start AND e.ts <= s.session_end""".stripMargin,

    "streaming_dedup_live" ->
      """SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
        |FROM events""".stripMargin,

    // Emitted sessions = sessions closed by a later event PLUS final
    // sessions whose event-time timeout (last event ms + gap) fell
    // STRICTLY before the final watermark (max event ms) — Spark's
    // timeout predicate is `timeoutTimestamp < watermark`. Final
    // sessions at or within the gap of the stream's max timestamp stay
    // open. total_value replicated as DuckDB's ordered SUM (same left
    // fold).
    "streaming_sessionize_live" -> sessionizeEmittedOracleSql,
    // Multi-wave delivery emits the SAME session set (see the gate).
    "streaming_sessionize_waves" -> sessionizeEmittedOracleSql,


    // The streaming merge converges to the batch last-write-wins dedup
    // regardless of micro-batch boundaries.
    "streaming_merge_live" -> mergeLwwOracleSql,
    // Micro-batch boundaries (three waves here) cannot change the state.
    "streaming_merge_waves" -> mergeLwwOracleSql,
    // Partition scoping cannot change the state either — same total order.
    "streaming_merge_partitioned" -> mergeLwwOracleSql,

    // Late/out-of-order delivery: watermark semantics graded for real —
    // beyond-watermark rows dropped, in-watermark late rows folded, the
    // per-wave watermark sequence replicated in SQL.
    "streaming_tumbling_late" -> tumblingLateOracleSql,
    "streaming_sessionize_late" -> sessionizeLateOracleSql,
    // No watermark on the merge path: out-of-order delivery must
    // CONVERGE — precedence is a total order, so displaced rows cannot
    // change the winner per key.
    "streaming_merge_late" -> mergeLwwOracleSql,

    // The wave-keyed sketch fold converges to the single-shot exact
    // answer — same oracle as profile_heavy_hitters.
    "streaming_heavy_hitters_live" ->
      """WITH c AS (SELECT user_id AS item, count(*) AS cnt FROM events GROUP BY 1)
        |SELECT item, cnt FROM c
        |WHERE cnt * 120 >= (SELECT sum(cnt) FROM c) * 1""".stripMargin,

    // AvailableNow drains the source before the watermark can evict
    // unmatched state, so the live join emits exactly the batch theta-join.
    "streaming_join_live" ->
      """SELECT c.event_id AS click_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS click_ts,
        |  p.event_id AS purchase_id, CAST(p.ts AS TIMESTAMP) AS purchase_ts,
        |  p.value AS purchase_value
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.user_id = c.user_id
        | AND p.ts <= c.ts AND p.ts >= c.ts - INTERVAL 1 HOUR""".stripMargin,

    // Late-delivery interval join. The join's global watermark is the
    // MIN over the two sides' per-operator maxima (each side only sees
    // its own event_type), with the same two-wave lag and ms flooring as
    // the shared late CTEs. A delivered row is dropped iff its raw event
    // time is behind the watermark in force at its delivered wave; a
    // surviving pair is emitted iff BOTH endpoints survived their own
    // delivery-time filter. State eviction needs no modeling: a
    // surviving click has click_ts >= wm(v) >= every earlier eviction
    // bound, and its purchases sit >= click_ts - 1h >= wm - 1h, above
    // the purchase-side bound; symmetrically for late purchases — so no
    // needed row is ever evicted before its partner arrives at these
    // wave/watermark parameters.
    "streaming_join_late" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |        CAST(ts AS TIMESTAMP) AS tsv, epoch_ns(ts) AS tns,
        |        epoch_us(CAST(ts AS TIMESTAMP)) AS tus
        |      FROM events),
        |b AS (SELECT min(tns) AS tmin, max(tns) - min(tns) + 1 AS span FROM e),
        |d AS (SELECT e.*,
        |        CASE WHEN event_id % 10 = 0
        |             THEN least(CAST(((tns - b.tmin) * 4) // b.span AS INT) + 2, 3)
        |             ELSE CAST(((tns - b.tmin) * 4) // b.span AS INT) END AS wv
        |      FROM e, b),
        |m AS (SELECT wv,
        |        max(CASE WHEN event_type = 'click' THEN tus END) AS mxc,
        |        max(CASE WHEN event_type = 'purchase' THEN tus END) AS mxp
        |      FROM d GROUP BY wv),
        |w AS (SELECT wv,
        |        (least(max(mxc) OVER lag2, max(mxp) OVER lag2) // 1000
        |          - 345600000) * 1000 AS wm_us
        |      FROM m
        |      WINDOW lag2 AS (ORDER BY wv
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)),
        |s AS (SELECT d.*, w.wm_us FROM d JOIN w ON d.wv = w.wv),
        |surv AS (SELECT * FROM s WHERE wm_us IS NULL OR tus >= wm_us)
        |SELECT c.event_id AS click_id, c.user_id, c.tsv AS click_ts,
        |  p.event_id AS purchase_id, p.tsv AS purchase_ts,
        |  p.value AS purchase_value
        |FROM surv c JOIN surv p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.user_id = c.user_id
        | AND p.tsv <= c.tsv AND p.tsv >= c.tsv - INTERVAL 1 HOUR""".stripMargin
  )
}
