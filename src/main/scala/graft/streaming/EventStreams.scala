package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.io.StateFiles
import graft.ops.{Compact, Merge}
import graft.text.Dedup.CollapsedIndex

/** Structured Streaming operators over the events stream (SURVEY.md §2.10
  * stretch scope): the reference is pure batch, so these are the engine's
  * forward path — the same MERGE semantics (O-M1) applied incrementally.
  *
  * Scale notes: every operator is keyed state over (user_id / window), so
  * state partitions across executors; watermarks bound state size — an
  * unbounded-state streaming agg is the 100 TB failure mode these guard
  * against.
  */
object EventStreams {

  /** Waves between compaction ticks of the index sinks' state. */
  private val CompactEvery = 2

  /** One micro-batch as a wave of wave-partitioned state: the batch, and
    * its id as the `wave=N` partition each of its writes lands in. The
    * one handle every wave-partitioned sink reads, writes and compacts
    * its state through, so all of them share one replay contract
    * (foreachBatch is AT-LEAST-ONCE):
    *  - a write dynamically overwrites its own wave, so a retried batch
    *    REPLACES its rows instead of appending a second copy;
    *  - a read sees only the committed waves before this one, so a retry
    *    after a partial failure never reads its own half-written rows;
    *  - a compaction tick folds only those committed waves into
    *    `wave=-1` and never touches the current wave, which may still
    *    replay.
    */
  private final case class WaveState(batch: DataFrame, wave: Int) {
    private def spark = batch.sparkSession

    /** The rows of the waves before this one at `path` (none on a first
      * run), with their `wave` column. */
    def prior(path: String, schema: StructType): DataFrame =
      Merge.readStateOrEmpty(spark, path, schema.add("wave", IntegerType))
        .where(col("wave") < wave)

    /** Writes `df` as this wave of the table at `path`. */
    def write(path: String, df: DataFrame): Unit = StateFiles.writeWave(df, path, wave)

    /** The compaction cadence: on every [[CompactEvery]]-th wave, each
      * table in `paths` folds its committed waves into `wave=-1`
      * ([[graft.ops.Compact.consolidateWaves]], size-tiered, so the
      * rewrite is bounded by the span appended since the last tick). */
    def compact(paths: String*): Unit =
      if (wave % CompactEvery == CompactEvery - 1)
        paths.foreach(p => Compact.consolidateWaves(spark, p, currentWave = wave))
  }

  /** The one start path of the foreachBatch sinks: Update mode, the
    * checkpoint, and an AvailableNow trigger (drain what the source
    * holds, then stop), with `body` run once per micro-batch. */
  private def drive(stream: DataFrame, checkpoint: String)(body: WaveState => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, batchId: Long) => body(WaveState(batch, batchId.toInt)))
      .trigger(Trigger.AvailableNow())
      .start()

  /** The collapsed near-dup index the waves before `w` wrote under
    * `stateIndexPath`: the state side of the dedup and label folds. */
  private def priorIndex(w: WaveState, stateIndexPath: String, bi: CollapsedIndex): CollapsedIndex =
    CollapsedIndex(
      w.prior(stateIndexPath + "/rep_index", bi.repIdx.schema).drop("wave"),
      w.prior(stateIndexPath + "/membership", bi.membership.schema).drop("wave"))

  /** Continuous corpus ingestion with incremental near-dup dedup: each
    * micro-batch of documents is paired against the PERSISTED
    * accepted-corpus shingle index plus itself, both collapsed to
    * representatives ([[graft.text.Dedup.incrementalNearDupPairsCollapsed]]),
    * surviving docs are appended to `acceptedPath` (tagged with their
    * micro-batch id) and their index edges appended to `stateIndexPath`
    * — so the accepted corpus's history is never re-paired against
    * itself, and a crawl can dedup-ingest forever at per-batch cost.
    *
    * Replay safety is [[WaveState]]'s: every output is one wave of a
    * wave-partitioned table and the state reads exclude the current
    * wave, so a retry after a partial failure (accepted wave committed,
    * index wave not) replaces its own rows and never pairs the batch
    * against them. The accepted-ids read-back is still re-read from
    * disk (partition-pruned to the current wave) before the index writes
    * so no write races its own input plan.
    */
  def corpusDedupSink(docs: DataFrame, idCol: String, textCol: String,
                      stateIndexPath: String, acceptedPath: String,
                      checkpoint: String, threshold: Double = 0.5,
                      maxDocFreq: Long = 100L,
                      hashFn: Column => Column = graft.text.Dedup.Md5Hash60,
                      chaosAfterAccept: Long => Unit = _ => ()): StreamingQuery =
    drive(docs, checkpoint) { w =>
      val batch = w.batch
      val scope = new graft.util.CacheScope
      try {
        // Collapsed on BOTH sides: candidate generation runs at
        // representative grain (a duplicate-heavy stream would
        // otherwise pay quadratic candidates per wave), and the state
        // stores the rep index plus the doc->rep membership.
        //
        // scope.persist, NOT scope.truncate: the round-18 paired A/B
        // (streaming_dedup_incremental_live 6.59 vs 6.53 s mean-of-2
        // medians, _restart 9.22 vs 8.83) measured the eager per-wave
        // checkpoints flat-to-worse here — this sink's downstream per
        // wave is short (pairs -> accept -> two writes), so the persist
        // pipeline overlaps what eager cuts serialize. labelWave below
        // is the fold where truncation measured a real win.
        val bi = graft.text.Dedup.collapsedIndex(
          batch, idCol, textCol, n = 3, maxDocFreq, hashFn, cache = scope.persist)
        val pairs = graft.text.Dedup.incrementalNearDupPairsCollapsed(
          bi, priorIndex(w, stateIndexPath, bi), threshold)
        w.write(acceptedPath,
          graft.text.Dedup.incrementalAccept(batch.select(col(idCol)), pairs))
        // Fault-injection seam for the restart gate: a throw HERE is
        // the worst partial failure — accepted wave committed, index
        // waves not — and replay after restart must converge anyway.
        chaosAfterAccept(w.wave)
        // Re-read survivors from disk so the state writes never race
        // their own input plan.
        val acceptedIds = batch.sparkSession.read.parquet(acceptedPath)
          .where(col("wave") === w.wave)
          .select(col(idCol).as("doc_id"))
        val accMembership = bi.membership.join(acceptedIds, Seq("doc_id"))
        w.write(stateIndexPath + "/membership", accMembership)
        w.write(stateIndexPath + "/rep_index",
          bi.repIdx.join(accMembership.select(col("rep_id").as("doc_id")).distinct(), Seq("doc_id"))
            .select(col("doc_id"), col("shingle"), col("nsh")))
      } finally scope.close()
    }

  /** Streaming CLUSTER-LABEL maintenance ("registry mode"): every wave is
    * ingested, and the persisted near-dup cluster labeling is folded
    * forward via [[graft.text.Dedup.clusterRepresentativesIncrementalCollapsed]] —
    * batch pairs map through the prior labels, CC runs over the
    * contracted graph only, so the fold costs O(batch + touched
    * components) whatever the corpus's age.
    *
    * State: the accumulated collapsed index (as [[corpusDedupSink]]) plus
    * a label DELTA table — wave w writes (doc_id, rep) rows only for the
    * batch and for history docs whose label CHANGED (components can merge
    * when a batch bridges them), so the label write is O(batch + touched)
    * too; the current labeling is the latest delta per doc. Wave 0 with
    * empty state degenerates to full CC over the first batch — no special
    * bootstrap path.
    *
    * The state READS are not bounded that way: each wave scans every
    * prior wave's `rep_index` and `membership` files, and the prior
    * labeling is a top-1 per doc over every label delta ever written, so
    * a wave costs more as the stream ages (these tables have no
    * compaction cadence).
    *
    * Replay safety is [[WaveState]]'s, as in [[corpusDedupSink]].
    */
  def corpusLabelSink(docs: DataFrame, idCol: String, textCol: String,
                      stateIndexPath: String, labelsPath: String,
                      checkpoint: String, threshold: Double = 0.5,
                      maxDocFreq: Long = 100L,
                      hashFn: Column => Column = graft.text.Dedup.Md5Hash60): StreamingQuery =
    drive(docs, checkpoint) { w =>
      labelWave(w.batch, idCol, textCol, w.wave, stateIndexPath,
        labelsPath, threshold, maxDocFreq, hashFn)
    }

  /** One wave of the label-maintenance fold — the foreachBatch body of
    * [[corpusLabelSink]], callable directly so batch-mode backfills (and
    * specs) can drive waves without the Structured Streaming machinery.
    * Its costs are [[corpusLabelSink]]'s: the fold and the label write
    * scale with the batch and the components it touches, the state reads
    * with every wave written before `wave`.
    */
  def labelWave(batch: DataFrame, idCol: String, textCol: String, wave: Int,
                stateIndexPath: String, labelsPath: String,
                threshold: Double = 0.5, maxDocFreq: Long = 100L,
                hashFn: Column => Column = graft.text.Dedup.Md5Hash60): Unit = {
    val w = WaveState(batch, wave)
    val scope = new graft.util.CacheScope
    try {
      // scope.truncate (round-18): same rationale as corpusDedupSink —
      // the wave's index/pairs/prior/fold intermediates are each read by
      // several downstream branches, and the persist-only shape re-paid
      // Catalyst analysis of the whole upstream per consumer.
      val bi = graft.text.Dedup.collapsedIndex(
        batch, idCol, textCol, n = 3, maxDocFreq, hashFn,
        cache = scope.truncate)
      val pairs = scope.truncate(graft.text.Dedup.incrementalNearDupPairsCollapsed(
        bi, priorIndex(w, stateIndexPath, bi), threshold))
      val deltas = w.prior(labelsPath,
        new StructType().add("doc_id", LongType).add("rep", LongType))
      val prior = scope.truncate(graft.ops.Windows.topKPerGroup(
        deltas, Seq("doc_id"), Seq(col("wave").desc), k = 1).drop("wave"))
      // Batch side pre-contracted through its exact-dup membership:
      // the fold iterates over unique batch texts, not batch docs.
      val updated = scope.truncate(
        graft.text.Dedup.clusterRepresentativesIncrementalCollapsed(
          prior, bi.membership.select(col("doc_id"), col("rep_id")), pairs,
          cache = scope.persist))
      val changed = updated
        .join(prior.select(col("doc_id"), col("rep").as("_old")), Seq("doc_id"))
        .where(col("rep") =!= col("_old"))
        .select(col("doc_id"), col("rep"))
      val delta = updated
        .join(batch.select(col(idCol).as("doc_id")), Seq("doc_id"))
        .select(col("doc_id"), col("rep"))
        .unionByName(changed)
      w.write(labelsPath, delta)
      w.write(stateIndexPath + "/membership", bi.membership)
      w.write(stateIndexPath + "/rep_index", bi.repIdx)
    } finally scope.close()
  }

  /** Streaming hot-item profiling — the heavy-hitters member of the
    * incremental-state sinks: each micro-batch writes its ONE-ROW
    * Misra–Gries summary ([[graft.ops.Profile.hhSummarize]]) as its
    * wave, so an at-least-once retry REPLACES its own wave's summary
    * instead of double-counting it ([[WaveState]]). The current heavy
    * hitters resolve at READ time — [[graft.ops.Profile.hhMergeAll]]
    * folds the wave summaries in one merge level (error ≤ 2n/(k+1)
    * regardless of stream age), then [[graft.ops.Profile.hhResolve]]
    * recounts the ≤ k candidates exactly. State on disk is O(waves · k),
    * never the key space.
    */
  def heavyHittersSink(items: DataFrame, itemCol: String, k: Int,
                       statePath: String, checkpoint: String): StreamingQuery =
    drive(items, checkpoint)(w => w.write(statePath, graft.ops.Profile.hhSummarize(w.batch, itemCol, k)))

  /** Typed event row for streaming tests and stateful ops. */
  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)

  /** Session summary emitted by [[sessionize]]. */
  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Long,
                           total_value: Double)

  /** Internal per-key session accumulator (public: encoder codegen needs
    * constructor/accessor visibility from generated code). Times are
    * epoch MICROseconds — `Timestamp.getTime` is millis and silently
    * drops the sub-millisecond part of micro-precision event times.
    */
  final case class SessionState(start: Long, last: Long, n: Long, total: Double)

  private def tsMicros(t: java.sql.Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000L

  private def microsTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Tumbling-window aggregate with a watermark (the streaming twin of the
    * `events_tumbling` batch query): count + exact decimal sum per
    * (hour, event_type). Late rows beyond `watermark` are dropped, which
    * bounds state. A streaming result is on a [[StreamSession.sized]]
    * clone of the input's session, as are the other stateful operators'
    * below.
    */
  def tumblingAgg(events: DataFrame, watermark: String = "2 hours",
                  windowLen: String = "1 hour"): DataFrame =
    StreamSession.sized(events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DecimalType(20, 6)).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("cnt"), col("sum_value")))

  /** Sliding-window aggregate with a watermark (the streaming twin of the
    * `events_sliding` batch query): each event lands in windowLen/slide
    * overlapping windows — Spark EXPANDS the row into one (window, row)
    * pair per assignment before the stateful aggregate, so the late-data
    * filter applies PER WINDOW: a late row folds into every still-open
    * window it belongs to and is dropped from every closed one
    * independently (the boundary rule EventStreamsSpec pins). State is
    * bounded the same way as tumbling: a window's state is evicted once
    * its end passes the watermark.
    */
  def slidingAgg(events: DataFrame, watermark: String = "2 hours",
                 windowLen: String = "2 hours", slide: String = "1 hour"): DataFrame =
    StreamSession.sized(events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DecimalType(20, 6)).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("cnt"), col("sum_value")))

  /** Custom-state sessionization via flatMapGroupsWithState: a session is
    * a run of events per user with gaps < `gapMs`. A session closes either
    * when a later event of the same user arrives past the gap, or when the
    * event-time watermark passes session_end + gap (event-time timeout —
    * data-driven, so tests and backfills settle deterministically; a
    * processing-time timeout would re-trigger forever). State per key is a
    * fixed-size summary (start/last/n/total), not the event list — O(keys)
    * state, never O(events).
    *
    * Gap decisions compare MILLISECOND-floored event times (matching the
    * batch twin's `unix_millis` arithmetic and the timeout clock, which
    * is ms-granular) — sub-ms jitter can't flip a session split that the
    * batch form wouldn't. Session bounds keep full micro precision.
    *
    * Ordering contract: events are sorted (ts, event_id) WITHIN each
    * delivery wave; an event older than its user's current state that
    * arrives in a LATER wave would be folded at arrival position (and a
    * row older than the watermark is dropped before reaching state).
    * Single-wave delivery (AvailableNow over a snapshot, as in the live
    * gate) is therefore exactly the batch semantics; for at-least-once
    * multi-wave sources, [[mergeSink]]'s total-order merge is the
    * replay-correct path.
    */
  def sessionize(events: Dataset[Event], gapMs: Long,
                 watermark: String = "0 seconds"): Dataset[Session] = {
    import events.sparkSession.implicits._
    StreamSession.sized(events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, microsTs(s.start), microsTs(s.last), s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = tsMicros(e.ts)
              cur match {
                // ms-floored gap comparison (see scaladoc): aligns the
                // split decision with the batch twin and the ms-granular
                // timeout clock on sub-ms timestamps.
                case Some(s) if Math.floorDiv(t, 1000L) - Math.floorDiv(s.last, 1000L) < gapMs =>
                  cur = Some(s.copy(last = t, n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  closed += Session(userId, microsTs(s.start), microsTs(s.last), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // Timeout must be beyond the current watermark (millis API).
              state.setTimeoutTimestamp(
                math.max(s.last / 1000 + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.result().iterator
          }
      })
  }

  /** Watermarked streaming dedup on the natural key: exactly-once output
    * per (user_id, event_type, event_id) with state bounded by the
    * watermark (the unbounded-state dedup is the 100 TB failure mode).
    */
  def dedupStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    StreamSession.sized(events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type", "event_id"))

  /** Stream-stream interval join: each click joins purchases of the same
    * user within [-1h, 0] event time — both sides watermarked so join
    * state is bounded; the streaming form of the as-of window
    * (SURVEY.md §2.10).
    */
  def clickPurchaseJoin(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", watermark)
    StreamSession.sized(clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") <= col("click_ts") &&
        col("purchase_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"), col("purchase_value")))
  }

  /** Streaming BM25 retrieval-index maintenance: each micro-batch of
    * documents is tokenized ONCE and appended to the persisted index as
    * a slice — tf rows for the query vocabulary plus one exact-integer
    * stats row per wave ([[graft.text.Bm25]]'s fold contract: slices
    * over disjoint doc sets fold by tf append + stats sum, so the folded
    * index scores EXACTLY like a full rebuild, O(batch) per wave,
    * history never re-tokenized).
    *
    * The sink OWNS its compaction cadence ([[WaveState.compact]]):
    * every second wave the committed waves' small slice files
    * consolidate into the reserved `wave=-1` partition via the
    * size-tiered [[graft.ops.Compact.consolidateWaves]] — rewrite cost
    * bounded by the newly-appended span (top-tier files move by metadata
    * rename), so an unattended stream stays bounded in file count
    * without anyone remembering to run maintenance, and without the
    * per-tick O(history) rewrite a full compaction would cost. The
    * current wave is never consolidated (it may still replay — see
    * below); result-transparency is the fold contract the
    * `text_bm25_compacted` gate proves and `streaming_bm25_live`'s
    * full-rebuild oracle re-proves with the cadence running.
    *
    * Replay safety is [[WaveState]]'s: both outputs are waves of
    * wave-partitioned tables, so an at-least-once retry REPLACES its own
    * wave instead of double-counting its documents in df and avgdl —
    * and consolidation only touches waves whose batch has committed,
    * which can never re-fire.
    *
    * `chaosAfterTick(batchId)` is the same test-only failure-injection
    * hook as [[spanIndexSink]]'s, at the same worst replay point: both
    * slices written AND consolidated, checkpoint commit lost — the
    * whole two-sidecar compaction tick must replay idempotently.
    */
  def bm25IndexSink(docs: DataFrame, idCol: String, textCol: String,
                    terms: Seq[String], statePath: String, checkpoint: String,
                    chaosAfterTick: Long => Unit = _ => ()): StreamingQuery =
    drive(docs, checkpoint) { w =>
      val (tf, stats) = graft.text.Bm25.buildIndex(w.batch, idCol, textCol, terms)
      w.write(statePath + "/tf", tf)
      w.write(statePath + "/stats", stats)
      w.compact(statePath + "/tf", statePath + "/stats")
      chaosAfterTick(w.wave)
    }

  /** Streaming corpus-LM maintenance: each micro-batch of documents is
    * tokenized once and its (doc_id, term, tf) slice appended to the
    * persisted LM index ([[graft.text.LanguageModel.tfSlice]] — slices
    * over disjoint doc sets fold by plain append, term counts /
    * vocabulary / totals all derive from the folded table, so scoring
    * the fold equals the one-shot rebuild EXACTLY). The deployment
    * shape of the quality filter in an ingest stream: O(batch) per
    * wave, history never re-tokenized. Unlike BM25 there is no stats
    * sidecar; the full-vocabulary tf wire cost is the operator's
    * inherent cost (the LM must count everything once).
    *
    * Replay safety and compaction cadence are [[bm25IndexSink]]'s.
    */
  def lmIndexSink(docs: DataFrame, idCol: String, textCol: String,
                  statePath: String, checkpoint: String,
                  maxDocTokens: Int = 0): StreamingQuery =
    drive(docs, checkpoint) { w =>
      w.write(statePath + "/tf",
        graft.text.LanguageModel.tfSlice(w.batch, idCol, textCol, maxDocTokens))
      w.compact(statePath + "/tf")
    }

  /** Streaming ORDER-1 corpus-LM maintenance: each micro-batch is
    * tokenized once and appends TWO slices — the (doc_id, w1, w2, tf)
    * bigram slice ([[graft.text.LanguageModel.bigramTfSlice]]) to
    * `/bitf` and the unigram (doc_id, term, tf) slice to `/tf`. Both
    * fold by the disjoint-doc append argument; the unigram slice rides
    * along because the conditional model's smoothing base is the corpus
    * UNIGRAM vocabulary (distinct terms of the folded slice — including
    * 1-token docs that contribute no bigrams), which the bigram table
    * alone cannot reconstruct. As a bonus the `/tf` slice IS
    * [[lmIndexSink]]'s index, so one maintainer arms both LM tiers.
    * Scoring the fold ([[graft.text.LanguageModel.bigramSurprisalFromTf]]
    * with the vocab derived from `/tf`) equals the one-shot
    * [[graft.text.LanguageModel.bigramSurprisal]] exactly.
    *
    * Replay safety and compaction cadence are [[bm25IndexSink]]'s, both
    * slices on the same tick.
    */
  def lmBigramIndexSink(docs: DataFrame, idCol: String, textCol: String,
                        statePath: String, checkpoint: String,
                        maxDocTokens: Int = 0): StreamingQuery =
    drive(docs, checkpoint) { w =>
      w.write(statePath + "/bitf",
        graft.text.LanguageModel.bigramTfSlice(w.batch, idCol, textCol, maxDocTokens))
      w.write(statePath + "/tf",
        graft.text.LanguageModel.tfSlice(w.batch, idCol, textCol, maxDocTokens))
      w.compact(statePath + "/bitf", statePath + "/tf")
    }

  /** Streaming exact-substring window-index maintenance: each
    * micro-batch appends its [[graft.text.SpanDedup.windowSlice]]
    * (`(doc_id, pos, h1, h2, hl, w, v)` — 20-byte fingerprints plus the
    * constant width/scheme-version fence columns, never window text)
    * to `/win`. The slice IS the whole index: the duplicate
    * multiset and per-doc span positions derive from the fold, so like
    * the LM sinks (and unlike BM25) there is no stats sidecar and
    * history is never re-tokenized — O(batch) per wave. Scoring the
    * fold ([[graft.text.SpanDedup.ngramSpanStatsFromSlice]]) equals the
    * one-shot stats exactly (window rows are a per-doc function of the
    * text; waves partition the docs). Replay safety and compaction
    * cadence are [[bm25IndexSink]]'s.
    *
    * The live form is what makes ExactSubstr dedup deployable on an
    * ingest stream: a new document's spans are checked against the
    * WHOLE standing corpus (the folded multiset), not just its own
    * batch, at append cost.
    *
    * `chaosAfterTick(batchId)` is a test-only failure-injection hook
    * invoked at the END of the batch body — after the wave write AND
    * the compaction tick, before the checkpoint commits — so a gate
    * can kill the stream at the worst replay point (the whole
    * compaction tick re-executes on restart: the dynamic wave
    * overwrite must replace its own wave and the consolidation must
    * re-enter idempotently via the manifest recover protocol).
    */
  def spanIndexSink(docs: DataFrame, idCol: String, textCol: String, w: Int,
                    statePath: String, checkpoint: String,
                    chaosAfterTick: Long => Unit = _ => ()): StreamingQuery =
    drive(docs, checkpoint) { ws =>
      ws.write(statePath + "/win", graft.text.SpanDedup.windowSlice(ws.batch, idCol, textCol, w))
      ws.compact(statePath + "/win")
      chaosAfterTick(ws.wave)
    }

  /** Incremental MERGE sink: each micro-batch is last-write-wins-merged
    * into the Parquet state table on `keys` by one
    * [[graft.ops.Merge.mergeInto]] (streaming O-M1 — `readStream ->
    * foreachBatch { merge }`, the seam SURVEY.md §2.10 identified). The
    * winner per key is decided by `precedence`, which must be a total
    * order (e.g. event time desc + unique id desc), over state AND batch
    * rows in one window (`incomingWins = false`) — NOT by arrival order.
    * The total order carries the dedup (LWW(state ∪ LWW(batch)) =
    * LWW(state ∪ batch)), and replays/out-of-order micro-batches converge
    * to the same state as a batch dedup over all events (exactly-once-
    * equivalent semantics on top of an at-least-once source), also after
    * a process death mid-swap (the next batch recovers the swap first).
    *
    * With `partitionCol` the state is hive-partitioned by it: a batch
    * reads and rewrites only the files, within the partition directories
    * whose value it holds, whose key ranges overlap its own, plus their
    * small files; a partition the batch does not hold is never
    * rewritten. Replay convergence then additionally requires
    * `partitionCol` to be functionally dependent on `keys` (the
    * `streaming_merge_partitioned` gate passes `event_type`, which IS a
    * key; see [[graft.ops.Merge.mergeInto]]'s contract).
    */
  def mergeSink(stream: DataFrame, statePath: String, keys: Seq[String],
                precedence: Seq[Column], checkpoint: String,
                partitionCol: Option[String] = None): StreamingQuery =
    drive(stream, checkpoint) { w =>
      Merge.mergeInto(w.batch.sparkSession, statePath, w.batch, keys, precedence,
        incomingWins = false, partitionCol = partitionCol)
    }
}
