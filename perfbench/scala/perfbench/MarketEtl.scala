package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.io.Sinks
import graft.ops.{AsOf, Merge, Quality, Windows}

/** market_etl: the reference's own flow at whole-market scale, closed
  * loop with one client. Batch 0 (the bulk history) is loaded at setup;
  * each timed batch runs `Pipeline.runFromSource` (income, FmpSource file
  * transport) and `Pipeline.runEstimates` into Parquet state, then the
  * client's read queries: `healthCheck`, `goldenCheck`, and per sampled
  * ticker an estimate-vs-actual as-of join and the latest quarters.
  */
object MarketEtl {
  val TickersPerBatch = 12
  val WarmupBatches = 2
  val MinReads = 100
  val LatestQuarters = 8
  private val Keys = Seq("ticker", "quarter_date")
  private val IncomePrecedence: Seq[Column] = Seq(col("revenue").desc_nulls_last,
    col("eps").desc_nulls_last, col("gross_profit").desc_nulls_last, col("quarter_label").asc)

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val t = ctx.tracer
    def companies: DataFrame = spark.read.schema("ticker STRING, name STRING, sector STRING")
      .json(ctx.input + "/companies.jsonl")
    val incState = ctx.dir("state") + "/income"
    val estState = ctx.dir("state") + "/estimates"
    val shadow = ctx.dir("shadow") + "/income"
    val batches = Util.listFiles(ctx.input + "/fmp").map(_.toString)
    val golden = spark.read.json(ctx.input + "/golden.jsonl").collect()
      .map(r => r.getAs[Long]("batch").toInt -> r).toMap

    val t0 = ctx.nowMs
    val symbols = companies.select("ticker").collect().map(_.getString(0)).toSeq.sorted
    val rows = batches.map(Util.lineCount)
    val bytes = batches.map(Util.fileBytes)

    // Readers see a committed batch through snapshots of both state
    // tables, refreshed as the batch's last step.
    var snapshots = Seq.empty[DataFrame]
    def refresh(): Unit = {
      snapshots.foreach(_.unpersist())
      snapshots = Seq(incState, estState).map { p =>
        val df = spark.read.parquet(p).cache()
        df.count()
        df
      }
    }

    def ingest(b: Int, traced: Boolean): Map[String, Any] = {
      val dir = batches(b)
      if (traced) probes(ctx, dir, symbols, incState, shadow)
      snapshots.foreach(_.unpersist())
      val m0 = ctx.nowMs
      val bad = t.span("pipeline", "run") {
        Pipeline.runFromSource(spark, dir, symbols, incState)._2.count()
      }
      val badEst = t.span("pipeline", "run_estimates") {
        Pipeline.runEstimates(spark, dir + "/estimates", estState)._2.count()
      }
      val mainMs = ctx.nowMs - m0
      refresh()
      Map("batch" -> b, "quarantined" -> bad, "quarantined_estimates" -> badEst,
        "main_ms" -> mainMs, "traced" -> traced)
    }

    def readsAfter(b: Int, record: Boolean, nTickers: Int = TickersPerBatch): Unit = {
      val rng = new java.util.Random(ctx.seed * 1000003L + b)
      val tickers = rng.ints(0, symbols.size).distinct().limit(nTickers.toLong)
        .toArray.toSeq.map(symbols(_))
      val Seq(inc, est) = snapshots
      def q(kind: String, param: Map[String, Any])(body: => Seq[Seq[Any]]): Unit =
        if (record) ctx.read(kind, param + ("batch" -> b))(body) else body
      q("health", Map.empty)(t.span("pipeline", "health")(
        Util.rows(Pipeline.healthCheck(companies, inc))))
      golden.get(b).foreach { g =>
        val (tk, label) = (g.getAs[String]("ticker"), g.getAs[String]("label"))
        q("golden", Map("ticker" -> tk, "label" -> label))(t.span("pipeline", "golden")(
          Util.rows(Pipeline.goldenCheck(inc, tk, label,
            BigDecimal(g.getAs[String]("revenue")), BigDecimal(g.getAs[String]("eps"))))))
      }
      tickers.foreach { tk =>
        q("asof", Map("ticker" -> tk))(t.span("ops", "asof")(Util.rows(
          AsOf.asofJoinBackward(
            inc.where(col("ticker") === tk)
              .select("ticker", "quarter_date", "revenue", "eps"),
            est.where(col("ticker") === tk)
              .select("ticker", "quarter_date", "estimated_revenue", "estimated_eps"),
            Seq("ticker"), "quarter_date", Seq("estimated_revenue", "estimated_eps"),
            rightTiebreak = lit(0L)))))
        q("topk", Map("ticker" -> tk))(t.span("ops", "topk")(Util.rows(
          Windows.topKPerGroup(inc.where(col("ticker") === tk), Seq("ticker"),
            Seq(col("quarter_date").desc), LatestQuarters)
            .select("ticker", "quarter_date", "revenue"))))
      }
    }

    // Set-up: the bulk history load builds the standing state tables.
    val b0 = ctx.op("setup_load", rows(0))(ingest(0, traced = false))
    ctx.ops -= b0
    if (b0.error.nonEmpty) sys.error("bulk load failed: " + b0.error.get)
    readsAfter(0, record = false, nTickers = 2)
    ctx.setup("state_build_s") = (ctx.nowMs - t0) / 1000.0
    // Warm-up: the first batches run before the timed phase.
    (1 to WarmupBatches).foreach { b =>
      ctx.op("warmup", rows(b))(ingest(b, traced = false))
      readsAfter(b, record = false, nTickers = 1)
    }
    ctx.setup("warmup_s") = (ctx.nowMs - t0) / 1000.0 - ctx.setup("state_build_s").asInstanceOf[Double]

    var b = WarmupBatches + 1
    ctx.timed {
      val end = ctx.timedStartMs + ctx.seconds * 1000
      while ((ctx.nowMs < end || ctx.reads.size < MinReads) && b < batches.size) {
        val traced = ctx.trace && b % 2 == 0
        if (traced) t.attach()
        ctx.op("batch", rows(b))(ingest(b, traced))
        readsAfter(b, record = true)
        if (traced) t.detach()
        b += 1
      }
    }
    snapshots.foreach(_.unpersist())
    Map("input_bytes" -> bytes.slice(WarmupBatches + 1, b).sum,
      "all_input_bytes" -> bytes.take(b).sum,
      "final_bytes" -> Util.fileBytes(ctx.work + "/state"), "batches_done" -> (b - 1))
  }

  /** The composed batch split by layer on the same bronze: the DSv2 scan,
    * normalize + quarantine, the merge, and the swap write (to a shadow
    * table, so the real state is written once, by the real call). */
  private def probes(ctx: Ctx, dir: String, symbols: Seq[String], incState: String,
                     shadow: String): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val bronze = spark.read.format("graft.sources.FmpSource")
      .option("root", dir).option("endpoint", "income-statement")
      .option("symbols", symbols.mkString(",")).option("dataset", "income").load()
    t.probe("sources", "scan") {
      t.record("sources.partitions", bronze.rdd.getNumPartitions.toDouble)
      t.record("sources.rows", bronze.count().toDouble)
      bronze.write.format("noop").mode("overwrite").save()
    }
    val valid = col("quarter_date").isNotNull && Quality.labelValid(col("quarter_label")) &&
      Quality.tickerValid(col("ticker"))
    val (clean, bad) = Quality.quarantine(Pipeline.normalizeIncome(bronze), valid)
    t.probe("ops", "normalize") {
      val c = clean.count()
      val q = bad.count()
      t.record("ops.clean_ratio", if (c + q > 0) c.toDouble / (c + q) else 0.0)
    }
    val merged = t.probe("ops", "merge") {
      val deduped = Merge.lastWriteWins(clean, Keys, IncomePrecedence)
      val m = Merge.mergeUpsert(spark.read.parquet(incState), deduped, Keys).persist()
      val rewritten = m.count()
      t.record("ops.merge_rows_rewritten", rewritten.toDouble)
      val incoming = deduped.count()
      t.record("ops.merge_rewrite_ratio", if (incoming > 0) rewritten.toDouble / incoming else 0.0)
      m
    }
    t.probe("io", "swap_write")(Sinks.atomicSwapWrite(spark, merged, shadow))
    merged.unpersist()
  }
}
