package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.SparkSpec

/** Plan-shape regression contract: the physical properties SCALE.md and
  * PLANS.md claim must actually hold for the headline queries. Each
  * assertion pins the plan FEATURE (broadcast, group-limit, pushdown,
  * kernel substitution), not the whole plan text, so unrelated plan
  * changes don't flap the suite — but losing a load-bearing property
  * (a broadcast silently becoming a sort-merge join, a WindowGroupLimit
  * disappearing, a custom kernel falling out of a plan) fails loudly.
  */
class PlanContractSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Queries.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def hasSort(p: String): Boolean =
    p.linesIterator.exists(l => l.matches(".*[+:]- Sort .*") || l.startsWith("Sort "))

  /** Runs `body` and returns the executed plans of the queries it ran
    * that satisfy `keep`. Listener delivery is async: polls until at
    * least one kept plan has arrived (or 15 s pass). */
  private def plansRunBy(keep: String => Boolean)(body: => Unit): Seq[SparkPlan] = {
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      def kept() = plans.iterator().asScala.toSeq.filter(p => keep(p.toString))
      val deadline = System.nanoTime() + 15000000000L
      while (System.nanoTime() < deadline && kept().isEmpty) Thread.sleep(100)
      kept()
    } finally spark.listenerManager.unregister(listener)
  }

  /** An executed adaptive plan prints its final plan and then its
    * initial one; keep the final plan only. */
  private def finalPlan(p: String): String = {
    val i = p.indexOf("== Final Plan ==")
    val j = p.indexOf("== Initial Plan ==")
    if (i < 0) p else p.substring(i, if (j > i) j else p.length)
  }

  test("join_fk_resolve broadcasts the dim side (hinted)") {
    assert(plan("join_fk_resolve").contains("BroadcastHashJoin"))
  }

  test("sql_revenue_rollup auto-broadcasts BOTH dim joins (stats-driven, no hints)") {
    // The SQL form carries no hints: this pins the threshold/stat-driven
    // broadcast decision itself, not a hint the planner must honor.
    val p = plan("sql_revenue_rollup")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p.take(400))
    assert(!p.contains("SortMergeJoin"))
  }

  test("merge_upsert is one window pass over one exchange on the key") {
    val p = plan("merge_upsert")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1)
    assert(p.contains("RunningWindowFunction") || p.contains("Window"))
  }

  test("the pipeline merge ranks state and batch over ONE exchange on the state key") {
    // The frame Merge.mergeInto writes: deduplicating the batch in its own
    // window before ranking it against the state would add a second
    // exchange on the key. Pinned for the pipeline's incoming-wins upsert
    // and for the streaming sinks' total order (incomingWins = false).
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val bronze = spark.read.schema(graft.model.Schemas.fmpIncome).json(Seq(
      """{"date": "2025-03-31", "symbol": "TSLA", "revenue": "21300000000", "eps": "0.45"}""",
      """{"date": "2025-03-31", "symbol": "TSLA", "revenue": "21000000000", "eps": "0.40"}""")
      .toDS())
    val (clean, _) = graft.ops.Quality.quarantine(
      Pipeline.normalizeIncome(bronze), Pipeline.validRow)
    val events = Seq((1L, "click", 1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (1L, "click", 2L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 2.0))
      .toDF("user_id", "event_type", "event_id", "ts", "value")
    val inputs = Seq(
      (clean, Pipeline.StateKeys, Pipeline.IncomePrecedence, true),
      (events, Seq("user_id", "event_type"), Seq(col("ts").desc, col("event_id").desc), false))
    def exchanges(p: String) = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(p).toSeq
    for ((batch, keys, precedence, incomingWins) <- inputs) {
      val statePath =
        java.nio.file.Files.createTempDirectory("pipe_merge_plan").toString + "/state"
      val keyed = keys.map(k => s"$k#\\d+L?").mkString("Exchange hashpartitioning\\(", ", ", ", \\d+\\)")
      // First run (no state yet), then against the written state, where
      // the same batch overlaps the stored file: the rewrite scans the
      // touched file beside the batch, still under the one exchange.
      for (run <- 1 to 2) {
        val written = plansRunBy(p => p.contains("InsertIntoHadoopFsRelationCommand") &&
            p.contains("state__compact_tmp")) {
          graft.ops.Merge.mergeInto(spark, statePath, batch, keys, precedence, incomingWins)
        }
        assert(written.size == 1, written)
        val p = finalPlan(written.head.toString)
        val ex = exchanges(p)
        assert(ex.size == 1, p)
        assert(ex.head.matches(keyed), p)
        if (run == 2) assert(p.contains("FileScan parquet"), p)
      }
    }
  }

  test("interval_join_sessions is an equi-join, never a nested-loop theta join") {
    val p = plan("interval_join_sessions")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(400))
  }

  test("sim_brute_topk_agg reduces map-side via the bounded-heap aggregate") {
    val p = plan("sim_brute_topk_agg")
    assert(p.contains("partial_graft_topk") ||
      (p.contains("graft_topk") && p.contains("ObjectHashAggregate")), p.take(400))
  }

  test("window_topk_quarters carries WindowGroupLimit (O(k) per group)") {
    assert(plan("window_topk_quarters").contains("WindowGroupLimit"))
  }

  test("dedup_canonical_quality ranks clusters through WindowGroupLimit") {
    assert(plan("dedup_canonical_quality").contains("WindowGroupLimit"))
  }

  test("text_top_tokens: the corpus pass is TakeOrderedAndProject, never a global window") {
    // The gate collects the bounded top-20 eagerly and ranks on the
    // driver (one corpus scan), so its RETURNED plan is a local
    // relation; the property to pin lives in the corpus pass itself —
    // build it exactly as the gate does.
    import org.apache.spark.sql.functions._
    val p = io.Tables.documents(spark, dir)
      .select(graft.text.TextAnalysis.tokens(col("text")).as("toks"))
      .select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc).limit(20)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Window "), "global window would single-partition the vocabulary")
    // And the gate's own plan must stay free of any second corpus scan.
    val g = plan("text_top_tokens")
    assert(!g.contains("FileScan"), s"rank stage re-reads the corpus:\n${g.take(400)}")
  }

  test("filter_golden_row pushes the key predicate into the parquet scan") {
    assert(plan("filter_golden_row").contains("PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,100)"))
  }

  test("events ts-normalization cast never blocks column pruning") {
    // Tables.events rewrites ts through an encoding-normalizing cast;
    // when a query never touches ts, Catalyst must prune the cast AND
    // the underlying column out of the parquet scan — at 100 TB, reading
    // a dead timestamp column on every event scan is a real cost.
    val p = io.Tables.events(spark, dir).groupBy("event_type").count()
      .queryExecution.executedPlan.toString
    val scan = p.linesIterator.filter(_.contains("FileScan")).mkString("\n")
    assert(scan.contains("ReadSchema: struct<event_type:string>"), scan)
  }

  test("unpivot_wide_long is Expand with zero exchanges") {
    val p = plan("unpivot_wide_long")
    assert(p.contains("Expand") && !p.contains("Exchange"))
  }

  test("similarity paths run on the codegen'd graft_dot kernel") {
    assert(plan("sim_brute_topk").contains("graft_dot"))
    assert(plan("sim_quantized_rescore").contains("graft_dot"))
    assert(plan("dedup_embedding_lsh").contains("graft_dot"))
  }

  test("text scans run on the single-pass kernels, not regex chains") {
    assert(plan("text_langid").contains("graft_text_stats"))
    assert(plan("text_repetition").contains("graft_ngram_stats"))
    assert(plan("dedup_ngram_jaccard").contains("graft_word_shingles"))
    assert(plan("vec_quantize_int8").contains("graft_int8_quantize"))
  }

  test("sampling is scan-side only (no exchange, no window)") {
    val p = plan("sample_hash_split")
    assert(!p.contains("Exchange") && !p.contains("Window"))
  }

  test("profile keeps the multi-distinct pipeline in HashAggregate") {
    val p = plan("profile_orders")
    assert(p.contains("HashAggregate"))
    // The only SortAggregates allowed are the keyless var-width min/max
    // side (no Sort operator may feed them, in ANY tree position).
    assert(!hasSort(p), s"unexpected sort in profile plan:\n$p")
  }

  test("ivf probe join: broadcast for query batches, shuffled hash for bulk labeling") {
    // Interactive path ships the probe rows to every corpus partition…
    assert(plan("sim_ivf_topk").contains("BroadcastHashJoin"))
    // …bulk path must NOT broadcast the (potentially corpus-sized) probe
    // set: the probe join is a shuffled hash join on centroid_id.
    val bulk = plan("sim_ivf_topk_bulk")
    assert(bulk.contains("ShuffledHashJoin"), bulk.take(600))
  }

  test("pack_chunks shuffles once on the shard key, no global window") {
    val p = plan("pack_chunks")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly one hash exchange, got $exchanges")
    assert(!p.contains("SinglePartition"), "packing must never single-partition")
  }

  test("quantile sketch windows are key-partitioned, never global") {
    val p = plan("incremental_quantiles")
    assert(p.contains("windowspecdefinition(o_orderstatus"),
      "cumulative-rank window must partition on the sketch key")
    assert(!p.contains("windowspecdefinition(bucket"),
      "a key-less window would funnel every bucket through one task")
  }

  test("embedding LSH verifies inline: one bucket self-join, no candidate re-attach") {
    // The candidate set scales as n^2*tables/2^nbits — materializing it
    // through a distinct and re-attaching vectors with two more joins
    // measured 2x SLOWER than the exact tier at 10x scale. Pin the
    // verified-inline shape: exactly ONE join (the bucket self-join);
    // the output dedup partitions on the pair, never a single partition.
    val p = plan("dedup_embedding_lsh")
    val joins = "Join|HashJoin|SortMergeJoin".r.findAllIn(p).size
    assert(joins == 1, s"expected the single bucket self-join, got $joins:\n${p.take(600)}")
    assert(!p.contains("SinglePartition"), "pair dedup must stay distributed")
  }

  test("heavy hitters: map-side sketching on the wire, broadcast semi-join recount") {
    import org.apache.spark.sql.functions.col
    // Pass 1: the Misra-Gries aggregate must run partial (map-side), so
    // the exchange carries <= k counters per partition, never the key
    // space — the property that prices the shuffle at sketch size.
    val p1 = io.Tables.events(spark, dir)
      .agg(graft.functions.HeavyHittersAggregate.misraGries(col("user_id"), 480))
      .queryExecution.executedPlan.toString
    assert(p1.contains("partial_graft_misra_gries") ||
      (p1.contains("graft_misra_gries") && p1.contains("ObjectHashAggregate")),
      p1.take(600))
    // Pass 2 (the gate's returned plan): exact recount reaches the scan
    // through a BROADCAST left-semi join on the candidates — the corpus
    // is filtered to candidate rows before the counting exchange, so the
    // count aggregate's exchange is bounded at k rows per partition.
    val p2 = plan("profile_heavy_hitters")
    assert(p2.contains("BroadcastHashJoin") && p2.contains("LeftSemi"), p2.take(600))
    assert(!p2.contains("SortMergeJoin"), "candidate probe must never shuffle the corpus")
    // The incremental resolve shares the same read-time shape.
    val p3 = plan("incremental_heavy_hitters")
    assert(p3.contains("BroadcastHashJoin") && p3.contains("LeftSemi"), p3.take(600))
  }

  test("LSH bucketing runs the fused one-pass kernel, once per table-set") {
    // The fused LshBuckets expression replaces tables x nbits unrolled
    // per-plane dot products: the plan must carry graft_lsh_buckets and
    // must NOT fall back to per-plane sign tests (which would show up as
    // dozens of graft_dot calls against literal plane arrays).
    val p = plan("dedup_embedding_lsh")
    assert(p.contains("graft_lsh_buckets"), p.take(600))
    // The verify stage's vector-vs-vector cosines legitimately use
    // graft_dot (a handful of references across projections); the
    // unfused bucketing form would add tables x nbits (~40+) more.
    val dots = "graft_dot".r.findAllIn(p).size
    assert(dots <= 12, s"unfused per-plane dot products leaked into the plan ($dots graft_dot)")
  }

  test("winsorize bounds join is broadcast; vec_mean pools map-side") {
    // The per-group percentile bounds table is |groups| rows — joining
    // it back must broadcast, never shuffle the fact side.
    val w = plan("quality_winsorize")
    assert(w.contains("BroadcastHashJoin"), w.take(400))
    assert(!w.contains("SortMergeJoin"), "bounds join must not shuffle the corpus")
    // Pooling must run its (sum[dim], n) buffer partial (map-side), so
    // the exchange carries one dim-length vector per group per partition.
    val p = plan("vec_mean_pool")
    assert(p.contains("partial_graft_vec_mean") ||
      (p.contains("graft_vec_mean") && p.contains("ObjectHashAggregate")), p.take(400))
  }

  // ---- streaming plan contracts (round 8): the 15+1 streaming gates'
  // load-bearing plan properties. Logical pins read the unstarted
  // stream's analyzed plan; runtime pins drive one micro-batch through
  // a MemoryStream and read the progress' state operators — the names
  // distinguish watermark-bounded state from the unbounded variants
  // (e.g. dedupeWithinWatermark vs dedupe), which is exactly the 100 TB
  // property a refactor could silently lose.

  test("streaming watermark nodes: present on every stateful path, both join sides") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val evs = io.Tables.eventsStream(spark, dir)
    def analyzed(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.analyzed.toString
    assert(analyzed(graft.streaming.EventStreams.tumblingAgg(evs))
      .contains("EventTimeWatermark"))
    assert(analyzed(graft.streaming.EventStreams.dedupStream(evs))
      .contains("EventTimeWatermark"))
    assert(analyzed(graft.streaming.EventStreams.sessionize(
        evs.select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value")).as[graft.streaming.EventStreams.Event],
        gapMs = 1800000L).toDF())
      .contains("EventTimeWatermark"))
    val join = analyzed(graft.streaming.EventStreams.clickPurchaseJoin(evs))
    assert("EventTimeWatermark".r.findAllIn(join).size == 2,
      "both join sides must carry a watermark (unbounded join state otherwise)")
  }

  test("streaming state operators: bounded-state names and counts; join is symmetric-hash, never cartesian") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.EventStreams
    import EventStreams.Event
    def ev(id: Long, t: String, u: Long, typ: String) =
      Event(id, java.sql.Timestamp.valueOf(t), u, typ, 1.0)
    def probe(name: String)(mk: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): (Seq[String], String) = {
      val input =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, "purchase"),
        ev(2, "2024-01-01 10:30:00", 1, "click"),
        ev(3, "2024-01-01 12:00:00", 2, "view"))
      val q = mk(input.toDF()).writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      q.processAllAvailable()
      val names = Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.map(_.operatorName))
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { q.explain() }
      q.stop()
      (names, buf.toString)
    }
    val (aggOps, _) = probe("sp_agg")(EventStreams.tumblingAgg(_))
    assert(aggOps == Seq("stateStoreSave"), s"agg state operators: $aggOps")
    val (dedupOps, _) = probe("sp_dedup")(EventStreams.dedupStream(_))
    assert(dedupOps == Seq("dedupeWithinWatermark"),
      s"dedup state must be watermark-bounded, got: $dedupOps")
    val (sessOps, _) = probe("sp_sess") { df =>
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      EventStreams.sessionize(
        df.select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value")).as[Event], gapMs = 1800000L).toDF()
    }
    assert(sessOps == Seq("flatMapGroupsWithState"), s"session state: $sessOps")
    val (joinOps, joinPlan) = probe("sp_join")(EventStreams.clickPurchaseJoin(_))
    assert(joinOps == Seq("symmetricHashJoin"), s"join state: $joinOps")
    assert(joinPlan.contains("StreamingSymmetricHashJoin"), joinPlan.take(400))
    assert(!joinPlan.contains("Cartesian") && !joinPlan.contains("BroadcastNestedLoop"),
      "stream-stream join must never degrade to a cartesian shape")
  }

  test("DSv2 source plan carries pruned columns and pruned symbols") {
    val p = plan("source_http_dsv2")
    // Column pruning reached the scan (4 of 9 bronze fields)…
    assert(p.contains("columns=date,symbol,revenue,eps"), p.take(600))
    // …and the filtered-out symbol was pruned at PLANNING time: its
    // partition (and in an HTTP transport, its fetch) does not exist.
    assert(p.contains("symbols=") && !p.substring(p.indexOf("symbols=")).take(60).contains("TK4"),
      p.take(600))
  }

  test("kmeans assignment runs the graft_nearest_centroid kernel, scan-side") {
    // The composed form (array_max over k typedLit cosine structs) blew
    // codegen size limits and ran the stage interpreted — 45 s vs 2 s on
    // the sf10 assignment. The kernel must be in the plan and the
    // corpus-side join input must stay a scan projection (no exchange
    // between the file scan and the candidates join build side).
    val p = plan("sim_ivf_kmeans")
    assert(p.contains("graft_nearest_centroid"), p.take(600))
    assert(!p.contains("array_max"), "composed assignment leaked back in")
  }

  test("income normalize + quarantine runs the normalize kernels in small classes") {
    // Written as composed trees the rules re-read their input 3-8 times and
    // the quarantine filter inlined the date parse again below the
    // projection: 72 regexp_replace in the optimized plan and a 4,649-line
    // generated class, compiled again on every market batch. The kernels
    // must be in the plan and keep every generated class small.
    import org.apache.spark.sql.functions.col
    val bronze = java.nio.file.Files.createTempDirectory("income_plan").toString + "/b"
    spark.read.schema(graft.model.Schemas.fmpIncome)
      .json(spark.createDataset(Seq(
        """{"date":"2024-03-31","symbol":"TSLA","revenue":"$1,200","eps":"0.5",""" +
          """"grossProfit":"300","netIncome":"100","calendarYear":"2024"}"""))(
        org.apache.spark.sql.Encoders.STRING))
      .write.json(bronze)
    val normalized = Pipeline.normalizeIncome(
      spark.read.schema(graft.model.Schemas.fmpIncome).json(bronze))
    val (clean, bad) = graft.ops.Quality.quarantine(normalized, Pipeline.validRow)
    for (df <- Seq(clean, bad)) {
      val p = df.queryExecution.optimizedPlan.toString
      Seq("graft_parse_date_multi", "graft_safe_decimal", "graft_millions",
        "graft_quarter_label", "graft_falsy")
        .foreach(k => assert(p.contains(k), s"$k missing:\n${p.take(1200)}"))
      assert(!p.contains("regexp_replace"), s"composed safeDecimal leaked back in:\n$p")
      val classes = org.apache.spark.sql.execution.debug.codegenStringSeq(
        df.queryExecution.executedPlan)
      assert(classes.nonEmpty)
      val largest = classes.map(_._2.linesIterator.size).max
      assert(largest <= 600, s"largest generated class has $largest lines")
    }
    assert(clean.count() == 1 && bad.count() == 0)
    assert(clean.select(col("revenue")).head().getDecimal(0) ==
      new java.math.BigDecimal("1200000000.00"))
  }

  test("withL2Normalized computes the norm ONCE per row, never per element") {
    // The 64-dim dot must sit in its own projection (SQRT(graft_dot) AS
    // _l2n) with the transform lambda dividing by the ATTRIBUTE — if a
    // refactor inlines it into the lambda body, the dot re-runs dim
    // times per row (64x the kernel work). Exactly two dots in the whole
    // gate plan: the norm and the is_unit tripwire.
    val p = plan("vec_l2_normalize")
    assert("graft_dot".r.findAllIn(p).size == 2,
      s"expected exactly 2 graft_dot (norm + is_unit tripwire):\n${p.take(800)}")
    assert(p.contains("/ _l2n"),
      s"lambda must divide by the projected norm attribute:\n${p.take(800)}")
  }

  test("partitioned merge rewrites only the touched partition's files under one key exchange") {
    // Merge.mergeInto's partitioned layout: per-batch cost is O(touched
    // files). The carry-over of untouched partitions is pinned in
    // MergeQualitySpec (their files stay byte-identical).
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val statePath =
      java.nio.file.Files.createTempDirectory("pmerge_plan").toString + "/state"
    Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0)).toDF("k", "part", "v")
      .write.partitionBy("part").parquet(statePath)
    // The batch's key range (2..4) overlaps the part=C file's key: only
    // its partition value proves that file untouched.
    val batch = Seq((2L, "B", 99.0), (4L, "B", 40.0)).toDF("k", "part", "v")
    val written = plansRunBy(p => p.contains("InsertIntoHadoopFsRelationCommand") &&
        p.contains("state__compact_tmp")) {
      graft.ops.Merge.mergeInto(spark, statePath, batch,
        Seq("k"), Seq(col("v").desc), partitionCol = Some("part"))
    }
    assert(written.size == 1, written)
    val p = finalPlan(written.head.toString)
    val ex = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(p).toSeq
    assert(ex.size == 1 && ex.head.matches("Exchange hashpartitioning\\(k#\\d+L?, \\d+\\)"), p)
    object Aqe extends AdaptiveSparkPlanHelper
    val scanned = Aqe.collect(written.head) {
      case s: FileSourceScanExec => s.relation.location.inputFiles.toSeq
    }.flatten
    assert(scanned.nonEmpty && scanned.forall(_.contains("/state/part=B/")), scanned)
  }

  test("dedup_prefix_contained: one materialized range partitioning, per-range window, " +
    "broadcast boundary map, narrow-key corpus re-join") {
    val p = plan("dedup_prefix_contained")
    // The range partitioning is persisted and read by every consumer —
    // the boundary map and the final query cannot see different bounds.
    assert(p.contains("InMemoryRelation"), "range partitioning must be persisted once")
    assert(p.contains("rangepartitioning(t"), "texts must be range-partitioned")
    // The range shuffle is the ONLY exchange that carries text bytes:
    // duplicate texts collapse inside the range sort (equal keys share a
    // range partition), so there is no upstream distinct hash shuffle of
    // the corpus.
    assert(!p.contains("hashpartitioning(t#"),
      "full texts must never hash-shuffle (the old distinct did)")
    // The successor probe is a per-range-partition window, never a
    // global single-partition sort of the corpus.
    assert(!p.contains("Exchange SinglePartition"), p.take(600))
    assert(p.contains("StartsWith"), "adjacency probe missing")
    // The corpus re-join keys on (xxhash64, length) — 12-byte keys on
    // the wire, not full document texts.
    assert("HashJoin \\[_h#\\d+L?, _hl#".r.findFirstIn(p).isDefined,
      s"corpus re-join is not keyed on the fingerprint:\n${p.take(800)}")
    assert(p.contains("xxhash64"))
  }

  test("dedup_suffix_contained: inherits the prefix shape over reversed text") {
    val p = plan("dedup_suffix_contained")
    assert(p.contains("InMemoryRelation"), "range partitioning must be persisted once")
    assert(p.contains("rangepartitioning("), "reversed texts must be range-partitioned")
    assert(!p.contains("Exchange SinglePartition"), p.take(600))
    assert(p.contains("StartsWith"), "adjacency probe missing")
    assert("HashJoin \\[_h#\\d+L?, _hl#".r.findFirstIn(p).isDefined,
      s"corpus re-join is not keyed on the fingerprint:\n${p.take(800)}")
  }

  test("corpus_clean: the LM tier composes without a cartesian or text-keyed shuffle join") {
    // Since r17 the post-exact frame is lineage-truncated
    // (CacheScope.truncate): the shipped gate's returned plan scans the
    // checkpointed blocks, and the LM tier executes inside the truncated
    // subplan. Pin the LM-tier properties on the COMPOSED plan via the
    // truncation escape hatch, then pin the shipped shape separately.
    val composed = withConf(GraftConf.NoPlanCut -> "true")(plan("corpus_clean"))
    // Multiply-read frames (post-exact corpus, LM tf) are persisted, not
    // re-derived per consumer (the round-12 lesson: the un-persisted tf
    // composition degraded 10x at sf10).
    assert(composed.contains("InMemoryRelation"), "multiply-read frames must persist")
    // The LM vocabulary/total row attaches as a broadcast.
    assert(composed.contains("IdentityBroadcastMode") || composed.contains("BroadcastNestedLoopJoin"),
      s"LM vocab/total row must broadcast:\n${composed.take(600)}")
    assert(!composed.contains("CartesianProduct"), "no unbounded cross anywhere in the flow")
    // The shipped (truncated) gate: post-exact frame consumed as
    // materialized blocks, index still persisted, still no cartesian.
    val p = plan("corpus_clean")
    assert(p.contains("ExistingRDD"), "post-exact frame must be lineage-truncated")
    assert(p.contains("InMemoryRelation"), "shingle index must persist")
    assert(!p.contains("CartesianProduct"))
  }

  test("text_lm_surprisal: broadcast stats attach, no single-partition exchange") {
    val p = plan("text_lm_surprisal")
    // The vocabulary/total row attaches as a broadcast, never a shuffle.
    assert(p.contains("IdentityBroadcastMode") || p.contains("BroadcastNestedLoopJoin"),
      s"LM stats row must broadcast:\n${p.take(600)}")
    // The per-doc fold happens in an aggregate keyed by doc_id (the only
    // single-partition collapse is the bounded one-row vocab/total agg,
    // which partial-aggregates map-side before the final row).
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate") ||
      p.contains("HashAggregate"), "per-doc fold must be an aggregate")
    assert(!p.contains("CartesianProduct"), "stats attach must not be a cartesian")
  }

  test("text_lm_bigram: model folded into the small side — the big tf crosses ONE join") {
    val p = plan("text_lm_bigram")
    // The vocabulary row attaches as a broadcast; the per-(w1,w2) model
    // (counts + context totals + lnP) is assembled on the
    // vocabulary-sized side BEFORE meeting the (doc, w1, w2) tf table,
    // so tf pays one join, not two (the two-join form cost a second
    // full tf shuffle+sort at 100x data).
    assert(p.contains("IdentityBroadcastMode") || p.contains("BroadcastNestedLoopJoin"),
      s"vocab row must broadcast:\n${p.take(600)}")
    assert(p.contains("lnp"), "model fold (lnp) must be computed pre-join on the count side")
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_ngram_spans: fingerprint-keyed exchanges only; multiset scan prunes to text") {
    val p = plan("dedup_ngram_spans")
    // The window-multiset count shuffles the 20-byte fingerprint with a
    // map-side partial count — never window text.
    assert("Exchange hashpartitioning\\(h1#\\d+L, h2#\\d+L, hl#\\d+".r.findFirstIn(p).isDefined,
      s"multiset count must shuffle on the fingerprint:\n${p.take(800)}")
    assert(p.contains("partial_count"), "fingerprint count must partial-aggregate map-side")
    // The fingerprint-only branch reads ONLY the text column (the
    // deliberate second scan — see SpanDedup scaladoc).
    assert(p.contains("ReadSchema: struct<text:string>"),
      "multiset scan must prune to the text column alone")
    assert(!p.contains("CartesianProduct") && !p.contains("Exchange SinglePartition"))
  }

  test("text_dup_lines: scan-side only — no exchange, no window, no explode") {
    val p = plan("text_dup_lines")
    assert(!p.contains("Exchange"), s"dup-line stats must not shuffle:\n${p.take(600)}")
    assert(!p.contains("Generate"), "no explode — per-row array HOFs only")
    assert(!p.contains("Window"), "no window — per-row computation only")
  }

  test("text_bm25_topk: query-term filter under tf agg, df/qterms/stats broadcast, " +
    "WindowGroupLimit top-k") {
    val p = plan("text_bm25_topk")
    // Corpus vocabulary never reaches an aggregation: the explode is
    // filtered to the query terms before the tf groupBy.
    assert("Filter \\(term#\\d+ IN \\(hash,join".r.findFirstIn(p).isDefined,
      s"query-term filter not pushed below the tf aggregation:\n${p.take(800)}")
    // df and qterms attach as broadcast hash joins; the one-row stats
    // attach is a broadcast cross, never a shuffled join.
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(600))
    assert(p.contains("IdentityBroadcastMode") || p.contains("BroadcastNestedLoopJoin"),
      "stats row must broadcast")
    assert(!p.contains("SortMergeJoin"))
    // Top-k via rank-limit pushdown: partial group limit before the
    // final, so each map task retains O(k) per query.
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, "partial+final group limit expected")
  }
}
