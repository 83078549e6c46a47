package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.io.Sinks
import graft.model.Schemas

/** End-to-end flagship DAG (reference main.py:38-75): bronze JSON ->
  * normalize -> quarantine -> merge into Parquet state -> golden check,
  * plus merge idempotence and the CSV export/re-ingest round trip
  * (load.py:202-227).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  // FIXTURES.md §1 golden rows + edge variants (test_edge_cases.py:131-206).
  private val bronzeJson = Seq(
    """{"date": "2025-06-30", "symbol": "TSLA", "revenue": 22500000000, "eps": 0.40, "grossProfit": 5000000000}""",
    """{"date": "2025-03-31", "symbol": "TSLA", "revenue": 20000000000, "eps": 0.35, "grossProfit": 4500000000}""",
    """{"date": "2025-06-30", "symbol": "RIVN", "revenue": 1500000000, "eps": -0.50, "grossProfit": 300000000}""",
    """{"date": "invalid-date", "symbol": "LCID", "revenue": 800000000, "eps": -0.30, "grossProfit": 100000000}""",
    """{"date": "2025-06-30", "symbol": "BADTICKER99X", "revenue": "N/A", "eps": "null", "grossProfit": "TBD"}""")

  private def writeBronze(): String = {
    val dir = Files.createTempDirectory("graft_bronze").toString
    Files.write(java.nio.file.Paths.get(dir, "income.json"),
      bronzeJson.mkString("\n").getBytes)
    dir
  }

  test("full pipeline: bronze -> state table with golden Tesla row; invalid rows quarantined") {
    val bronzeDir = writeBronze()
    val statePath = Files.createTempDirectory("graft_state").toString + "/financials"
    val (state, quarantined) = Pipeline.run(spark, bronzeDir, statePath)

    // golden check (transform.py:232-262): TSLA 2025-Q2 revenue 22.5e9 ± 0.1%, eps 0.40 ± 0.01
    val golden = Pipeline.goldenCheck(state, "TSLA", "2025-Q2",
      BigDecimal("22500000000"), BigDecimal("0.40")).collect()
    assert(golden.length == 1)
    assert(golden.head.getAs[Boolean]("revenue_ok"))
    assert(golden.head.getAs[Boolean]("eps_ok"))

    // invalid-date LCID row and over-length ticker row are quarantined
    val badTickers = quarantined.select("ticker").collect().map(_.getString(0)).toSet
    assert(badTickers == Set("LCID", "BADTICKER99X"))
    val firstRows = state.collect().toSet // materialize before the next swap
    assert(firstRows.size == 3)

    // typed view: compile-time field access over the same state
    val typed = Pipeline.typedState(spark, statePath).collect()
    assert(typed.length == 3)
    assert(typed.find(_.ticker == "TSLA").exists(_.revenue.exists(_ > BigDecimal(0))))

    // re-running the same batch is a no-op (merge idempotence)
    val (state2, _) = Pipeline.run(spark, bronzeDir, statePath)
    assert(state2.collect().toSet == firstRows)
  }

  test("CSV export -> re-ingest round trip preserves the state table (load.py:202-227)") {
    val bronzeDir = writeBronze()
    val statePath = Files.createTempDirectory("graft_state2").toString + "/financials"
    val (state, _) = Pipeline.run(spark, bronzeDir, statePath)

    val csvDir = Files.createTempDirectory("graft_csv").toString + "/export"
    Sinks.exportCsv(state, csvDir, Seq(col("ticker").asc, col("quarter_date").desc))
    val back = spark.read.schema(Schemas.processedCsv)
      .option("header", "true").csv(csvDir)

    val a = state.select("ticker", "quarter_date", "quarter_label", "revenue", "eps", "gross_profit")
      .collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("exportCsv refuses oversized datasets; partitioned export preserves global order") {
    val big = spark.range(0, 100).toDF("id")
    val e = intercept[IllegalArgumentException] {
      Sinks.exportCsv(big, Files.createTempDirectory("graft_csv_cap").toString + "/x",
        Seq(col("id").asc), maxRows = 50L)
    }
    assert(e.getMessage.contains("exportCsvPartitioned"))
    // The pointer target: range-partitioned export, part files in filename
    // order concatenate to the global order.
    val dir = Files.createTempDirectory("graft_csv_part").toString + "/y"
    // Pin the file count explicitly — without it AQE may legitimately
    // coalesce a 100-row shuffle to one partition.
    Sinks.exportCsvPartitioned(big, dir, Seq(col("id").asc), numPartitions = Some(4))
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .sortBy(_.getName)
    assert(parts.length > 1, "range export should produce multiple part files")
    val ids = parts.flatMap(f =>
      scala.io.Source.fromFile(f).getLines().drop(1).map(_.toLong).toList)
    assert(ids.toList == (0L until 100L).toList,
      "filename-ordered concatenation must equal the global sort order")
  }

  test("atomic swap write never leaves a missing table") {
    val path = Files.createTempDirectory("graft_swap").toString + "/t"
    Sinks.atomicSwapWrite(spark, Seq((1, "a")).toDF("k", "v"), path)
    assert(spark.read.parquet(path).count() == 1)
    Sinks.atomicSwapWrite(spark, Seq((1, "a"), (2, "b")).toDF("k", "v"), path)
    assert(spark.read.parquet(path).count() == 2)
  }

  test("runFromSource: the full flow through the DSv2 extract equals run() on the same rows") {
    val root = Files.createTempDirectory("graft_fmp_pipe").toString
    val bronzeRows = Seq(
      """{"date": "2025-03-31", "symbol": "TSLA", "revenue": "21300000000", "eps": "0.45", "grossProfit": "4100000000", "netIncome": "1400000000", "calendarYear": "2025", "period": "Q1"}""",
      """{"date": "2025-06-30", "symbol": "TSLA", "revenue": "22500000000", "eps": "0.52", "grossProfit": "4500000000", "netIncome": "1700000000", "calendarYear": "2025", "period": "Q2"}""",
      """{"date": "2025-03-31", "symbol": "RIVN", "revenue": "1200000000", "eps": "", "grossProfit": "100000000", "netIncome": "-1400000000", "calendarYear": "2025", "period": "Q1"}""")
    // Stage as the DSv2 file transport expects AND as a flat bronze dir.
    val tslaDir = Files.createDirectories(
      java.nio.file.Paths.get(root, "income-statement", "sym_part=TSLA"))
    val rivnDir = Files.createDirectories(
      java.nio.file.Paths.get(root, "income-statement", "sym_part=RIVN"))
    Files.write(tslaDir.resolve("part-0.json"),
      bronzeRows.take(2).mkString("\n").getBytes)
    Files.write(rivnDir.resolve("part-0.json"), bronzeRows(2).getBytes)
    val flatDir = Files.createTempDirectory("graft_fmp_flat").toString
    Files.write(java.nio.file.Paths.get(flatDir, "bronze.json"),
      bronzeRows.mkString("\n").getBytes)

    val stateA = Files.createTempDirectory("graft_fmp_stateA").toString + "/s"
    val stateB = Files.createTempDirectory("graft_fmp_stateB").toString + "/s"
    val (viaSource, badA) = Pipeline.runFromSource(spark, root,
      Seq("TSLA", "RIVN"), stateA)
    val (viaFiles, badB) = Pipeline.run(spark, flatDir, stateB)
    assert(badA.count() == badB.count())
    val a = viaSource.collect().map(_.toSeq).toSet
    val b = viaFiles.collect().map(_.toSeq).toSet
    assert(a == b && a.size == 3, "source node must be the only difference")
  }

  test("one-shuffle merge folds batches into the state dedup-then-upsert produces") {
    def row(date: String, sym: String, rev: String, eps: String, gp: String) = {
      def q(v: String) = if (v == "null") v else s""""$v""""
      s"""{"date": "$date", "symbol": "$sym", "revenue": ${q(rev)}, "eps": ${q(eps)}, "grossProfit": ${q(gp)}}"""
    }
    val batches = Seq(
      // Bootstrap: an intra-batch duplicate key, a pair tying on every
      // column, and a revenue-null pair that eps decides.
      Seq(row("2025-03-31", "TSLA", "21000000000", "0.40", "4000000000"),
        row("2025-03-31", "TSLA", "21300000000", "0.45", "4100000000"),
        row("2025-03-31", "RIVN", "1200000000", "-0.50", "100000000"),
        row("2025-03-31", "RIVN", "1200000000", "-0.50", "100000000"),
        row("2025-06-30", "LCID", "null", "-0.30", "90000000"),
        row("2025-06-30", "LCID", "null", "-0.20", "90000000")),
      // Restatements (a lower revenue still replaces the stored row),
      // a duplicated restatement, a new key and a quarantined row.
      Seq(row("2025-03-31", "TSLA", "20900000000", "0.39", "3900000000"),
        row("2025-03-31", "RIVN", "1250000000", "-0.45", "110000000"),
        row("2025-03-31", "RIVN", "1240000000", "-0.44", "110000000"),
        row("2025-06-30", "TSLA", "22500000000", "0.52", "4500000000"),
        row("invalid-date", "TSLA", "1", "1", "1")),
      // An unchanged restatement, a null-revenue loser, and a new key
      // arriving as an exact duplicate pair.
      Seq(row("2025-06-30", "TSLA", "22500000000", "0.52", "4500000000"),
        row("2025-06-30", "LCID", "null", "-0.10", "95000000"),
        row("2025-06-30", "LCID", "800000000", "-0.25", "95000000"),
        row("2025-09-30", "RIVN", "1500000000", "-0.40", "300000000"),
        row("2025-09-30", "RIVN", "1500000000", "-0.40", "300000000")))
    val tmp = Files.createTempDirectory("graft_fold").toString
    val (stateRun, stateSrc) = (tmp + "/via_run", tmp + "/via_source")
    def sorted(rows: Seq[org.apache.spark.sql.Row]) = rows.map(_.toSeq).sortBy(_.toString)
    var expected = Seq.empty[org.apache.spark.sql.Row]
    batches.zipWithIndex.foreach { case (rows, i) =>
      val flat = Files.createDirectories(java.nio.file.Paths.get(tmp, s"flat$i"))
      Files.write(flat.resolve("bronze.json"), rows.mkString("\n").getBytes)
      val bySymbol = rows.groupBy(r => r.split("\"symbol\": \"")(1).takeWhile(_ != '"'))
      bySymbol.foreach { case (sym, rs) =>
        val d = Files.createDirectories(
          java.nio.file.Paths.get(tmp, s"src$i", "income-statement", s"sym_part=$sym"))
        Files.write(d.resolve("part-0.json"), rs.mkString("\n").getBytes)
      }
      val viaRun = Pipeline.run(spark, flat.toString, stateRun)._1.collect().toSeq
      val viaSrc = Pipeline.runFromSource(spark, s"$tmp/src$i",
        bySymbol.keys.toSeq.sorted, stateSrc)._1.collect().toSeq
      // The two-pass composition the merge replaced: deduplicate the
      // clean batch, then upsert it into the previous state.
      val bronze = spark.read.schema(Schemas.fmpIncome).json(flat.toString)
      val (clean, _) = graft.ops.Quality.quarantine(
        Pipeline.normalizeIncome(bronze), Pipeline.validRow)
      val current = spark.createDataFrame(
        java.util.Arrays.asList(expected: _*), clean.schema)
      expected = graft.ops.Merge.mergeUpsert(current,
        graft.ops.Merge.lastWriteWins(clean, Pipeline.StateKeys, Pipeline.IncomePrecedence),
        Pipeline.StateKeys).collect().toSeq
      assert(sorted(viaRun) == sorted(expected), s"Pipeline.run, batch $i")
      assert(sorted(viaSrc) == sorted(expected), s"Pipeline.runFromSource, batch $i")
    }
    assert(expected.size == 5)
    val latest = expected.map(r => (r.getString(0), r.getDate(1).toString) -> r).toMap
    assert(latest(("TSLA", "2025-03-31")).getDecimal(3) == new java.math.BigDecimal("20900000000.00"))
    assert(latest(("RIVN", "2025-03-31")).getDecimal(3) == new java.math.BigDecimal("1250000000.00"))
    assert(latest(("LCID", "2025-06-30")).getDecimal(3) == new java.math.BigDecimal("800000000.00"))
  }

  test("runEstimates: estimates flow merges into its own state table") {
    val dir = Files.createTempDirectory("graft_est").toString
    Files.write(java.nio.file.Paths.get(dir, "est.json"),
      Seq(
        """{"date": "2025-09-30", "symbol": "TSLA", "estimatedRevenueAvg": 26000000000, "estimatedEpsAvg": 0.45, "numberAnalystsEstimatedRevenue": 24}""",
        """{"date": "bad-date", "symbol": "TSLA", "estimatedRevenueAvg": 1, "estimatedEpsAvg": 1, "numberAnalystsEstimatedRevenue": 1}""")
        .mkString("\n").getBytes)
    val statePath = Files.createTempDirectory("graft_est_state").toString + "/estimates"
    val (state, bad) = Pipeline.runEstimates(spark, dir, statePath)
    assert(state.count() == 1)
    assert(bad.count() == 1)
    val row = state.collect().head
    assert(row.getAs[String]("quarter_label") == "2025-Q3")
    assert(row.getAs[Int]("analyst_count") == 24)
  }

  test("normalizeEstimates: estimate shape with non-negative analyst count") {
    val df = Seq(
      """{"date": "2025-09-30", "symbol": "TSLA", "estimatedRevenueAvg": 26000000000, "estimatedEpsAvg": 0.45, "numberAnalystsEstimatedRevenue": 24}""",
      """{"date": "2025-09-30", "symbol": "RIVN", "estimatedRevenueAvg": "N/A", "estimatedEpsAvg": -0.40, "numberAnalystsEstimatedRevenue": -3}""")
      .toDF("value")
    val bronze = spark.read.schema(Schemas.fmpEstimates).json(df.as[String])
    val got = Pipeline.normalizeEstimates(bronze).collect()
      .map(r => r.getAs[String]("ticker") -> r).toMap
    val tsla = got("TSLA")
    assert(tsla.getAs[String]("quarter_label") == "2025-Q3")
    assert(BigDecimal(tsla.getAs[java.math.BigDecimal]("estimated_revenue")) == BigDecimal("26000000000.00"))
    assert(tsla.getAs[Int]("analyst_count") == 24)
    val rivn = got("RIVN")
    assert(rivn.getAs[java.math.BigDecimal]("estimated_revenue") == null)
    assert(rivn.isNullAt(rivn.fieldIndex("analyst_count"))) // negative -> null
  }

  test("healthCheck: per-ticker fact counts keep zero-fact companies") {
    val companies = Seq(("TSLA", "Tesla Inc", "EV"), ("LCID", "Lucid Inc", "EV"))
      .toDF("ticker", "name", "sector")
    val state = Seq(("TSLA", "2025-Q1"), ("TSLA", "2025-Q2")).toDF("ticker", "quarter_label")
    val got = Pipeline.healthCheck(companies, state)
      .collect().map(r => r.getAs[String]("ticker") -> r.getAs[Long]("financial_records")).toMap
    assert(got == Map("TSLA" -> 2L, "LCID" -> 0L))
  }

  test("normalizeIncome derives eps from net income when eps is absent (O-P3+O-X4)") {
    val df = Seq(
      """{"date": "2025-06-30", "symbol": "TSLA", "revenue": 22500000000, "netIncome": 1000000000, "grossProfit": 5000000000}""")
      .toDF("value")
    val bronze = spark.read.schema(Schemas.fmpIncome).json(df.as[String])
    val got = Pipeline.normalizeIncome(bronze).collect().head
    // (1e9/1e6)/3160 shares = 0.3165
    assert(BigDecimal(got.getAs[java.math.BigDecimal]("eps")) == BigDecimal("0.3165"))
  }
}
