package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, In, IsNotNull}
import graft.SparkSpec
import graft.model.Schemas

class FmpSourceSpec extends SparkSpec {
  import spark.implicits._

  private def stage(): String = {
    val root = java.nio.file.Files.createTempDirectory("fmp_spec").toString
    Seq(
      ("2025-03-31", "AAA", "100.00", "1.5"),
      ("2025-06-30", "AAA", "200.00", "2.5"),
      ("2025-03-31", "BBB", "300.00", "3.5"))
      .toDF("date", "symbol", "revenue", "eps")
      .withColumn("sym_part", col("symbol"))
      .write.partitionBy("sym_part").json(root + "/income-statement")
    root
  }

  private def read(root: String, symbols: String) =
    spark.read.format("graft.sources.FmpSource")
      .option("root", root).option("endpoint", "income-statement")
      .option("symbols", symbols).option("dataset", "income").load()

  test("reads staged records per symbol with the declared bronze schema") {
    val df = read(stage(), "AAA,BBB")
    assert(df.schema == Schemas.fmpIncome)
    val got = df.select("date", "symbol", "revenue", "eps")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(got == Set(
      ("2025-03-31", "AAA", "100.00", "1.5"),
      ("2025-06-30", "AAA", "200.00", "2.5"),
      ("2025-03-31", "BBB", "300.00", "3.5")))
    // Unstaged fields come back null, not errors.
    assert(df.where(col("netIncome").isNotNull).count() == 0)
  }

  test("symbol predicates prune partitions; other filters stay residual") {
    val b = new FmpScanBuilder(Schemas.fmpIncome,
      Map("root" -> "/tmp/x", "endpoint" -> "e", "symbols" -> "AAA,BBB,CCC"))
    val residual = b.pushFilters(Array(
      In("symbol", Array("AAA", "BBB")), EqualTo("symbol", "BBB"),
      IsNotNull("revenue")))
    assert(residual.toSeq == Seq(IsNotNull("revenue"))) // symbol filters consumed
    val parts = b.build().asInstanceOf[FmpScan].planInputPartitions()
    assert(parts.toSeq.flatMap(_.asInstanceOf[FmpPartition].fetches.map(_.symbol)) == Seq("BBB"))
  }

  test("symbols pack into at most defaultParallelism contiguous groups, each planned once") {
    val cores = spark.sparkContext.defaultParallelism
    val symbols = (0 until 3 * cores + 1).map(i => f"S$i%03d")
    val pruned = Set("S001", symbols.last)
    def plan(keep: Seq[String]): Seq[Seq[FmpFetch]] = {
      val b = new FmpScanBuilder(Schemas.fmpIncome,
        Map("root" -> "/tmp/x", "endpoint" -> "e", "symbols" -> symbols.mkString(",")))
      b.pushFilters(Array(In("symbol", keep.toArray[Any])))
      b.build().asInstanceOf[FmpScan].planInputPartitions()
        .toSeq.map(_.asInstanceOf[FmpPartition].fetches)
    }
    val kept = symbols.filterNot(pruned)
    val groups = plan(kept)
    assert(groups.size == cores)
    // Every kept symbol once, in the option's order; pruned ones never.
    assert(groups.flatten == kept.map(s => FmpFetch(s, s"/tmp/x/e/sym_part=$s")))
    assert(groups.map(_.size).max - groups.map(_.size).min <= 1)
    // The plan is a function of the options: planning again is identical.
    assert(plan(kept) == groups)
    // Fewer symbols than cores: one group per symbol.
    assert(plan(Seq("S002", "S000")).map(_.map(_.symbol)) == Seq(Seq("S000"), Seq("S002")))
  }

  test("a full read leaves no descriptor open under the staging root") {
    val root = stage()
    assert(read(root, "AAA,BBB").collect().length == 3)
    val real = java.nio.file.Paths.get(root).toRealPath().toString
    val fds = java.nio.file.Paths.get("/proc/self/fd")
    val open = scala.util.Using.resource(java.nio.file.Files.list(fds)) { ls =>
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala.toList.flatMap(l =>
        scala.util.Try(java.nio.file.Files.readSymbolicLink(l).toString).toOption)
    }.filter(_.startsWith(real))
    assert(open.isEmpty, open.toString)
  }

  test("a symbol with no staged directory is an empty response") {
    val df = read(stage(), "AAA,ZZZ")
    assert(df.where(col("symbol") === "ZZZ").count() == 0)
    assert(df.count() == 2)
  }

  test("HTTP transport: real GETs, retry on first-attempt 500, pruned symbols never fetched") {
    val root = stage()
    val server = new LoopbackApiServer(root, failFirst = true)
    try {
      val df = spark.read.format("graft.sources.FmpSource")
        .option("url", server.url).option("endpoint", "income-statement")
        .option("symbols", "AAA,BBB,ZZZ").option("dataset", "income").load()
        .where(col("symbol").isin("AAA", "BBB"))
      val got = df.select("date", "symbol", "revenue", "eps")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
      assert(got == Set(
        ("2025-03-31", "AAA", "100.00", "1.5"),
        ("2025-06-30", "AAA", "200.00", "2.5"),
        ("2025-03-31", "BBB", "300.00", "3.5")))
      // Retry path: the injected first-attempt 500 forces TWO requests
      // per fetched symbol. Partition pruning: the isin predicate above
      // prunes ZZZ, so its GET must never be issued.
      assert(server.hitCount("/income-statement/AAA") == 2)
      assert(server.hitCount("/income-statement/BBB") == 2)
      assert(!server.requestedPaths.contains("/income-statement/ZZZ"),
        server.requestedPaths.toString)
    } finally server.stop()
  }

  test("HTTP transport: 429 with Retry-After is retried like the reference's policy") {
    // Reference retry set {429,500,502,503,504} (extract.py:52-56): a
    // rate-limited first attempt must be re-requested, honoring the
    // server's Retry-After before the second GET.
    val server = new LoopbackApiServer(stage(), failFirst = true,
      failStatus = 429, retryAfterSec = Some(0L))
    try {
      val df = spark.read.format("graft.sources.FmpSource")
        .option("url", server.url).option("endpoint", "income-statement")
        .option("symbols", "AAA,BBB").option("dataset", "income").load()
      assert(df.count() == 3)
      assert(server.hitCount("/income-statement/AAA") == 2)
      assert(server.hitCount("/income-statement/BBB") == 2)
    } finally server.stop()
  }

  test("HTTP transport: a 404 fails immediately, no retry") {
    val server = new LoopbackApiServer(stage(), failFirst = true, failStatus = 404)
    try {
      val df = spark.read.format("graft.sources.FmpSource")
        .option("url", server.url).option("endpoint", "income-statement")
        .option("symbols", "AAA").option("dataset", "income").load()
      val e = intercept[org.apache.spark.SparkException] { df.count() }
      assert(e.getMessage.contains("HTTP 404") ||
        Option(e.getCause).exists(_.getMessage.contains("HTTP 404")))
      // Exactly ONE request: the source-level retry loop must not
      // re-request a non-retryable status. (failFirst serves 200 after
      // the first failure, so a retry would have SUCCEEDED — the thrown
      // exception above already proves no retry happened; local mode
      // runs tasks with maxFailures=1, so no task-level re-run either.)
      assert(server.hitCount("/income-statement/AAA") == 1)
    } finally server.stop()
  }

  test("HTTP transport: an empty-array response is a symbol with no data") {
    val server = new LoopbackApiServer(stage())
    try {
      val df = spark.read.format("graft.sources.FmpSource")
        .option("url", server.url).option("endpoint", "income-statement")
        .option("symbols", "AAA,ZZZ").option("dataset", "income").load()
      assert(df.where(col("symbol") === "ZZZ").count() == 0)
      assert(df.count() == 2)
    } finally server.stop()
  }

  test("column pruning reaches the scan") {
    val df = read(stage(), "AAA").select("symbol", "revenue")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("columns=symbol,revenue"),
      s"pruned read schema should reach FmpScan.description:\n$scan")
    assert(df.collect().map(_.getString(1)).sorted.toSeq == Seq("100.00", "200.00"))
  }
}
