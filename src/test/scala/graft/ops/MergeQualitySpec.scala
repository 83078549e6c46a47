package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.SparkSpec

class MergeQualitySpec extends SparkSpec {
  import spark.implicits._

  private def batch(rows: (String, String, Double, Int)*) =
    rows.toDF("ticker", "quarter", "revenue", "prio")

  test("lastWriteWins keeps exactly one deterministic row per key") {
    val df = batch(("TSLA", "2025-Q1", 1.0, 1), ("TSLA", "2025-Q1", 2.0, 2),
      ("RIVN", "2025-Q1", 3.0, 1))
    val got = Merge.lastWriteWins(df, Seq("ticker", "quarter"), Seq(col("prio").desc))
      .collect().map(r => (r.getString(0), r.getDouble(2))).toSet
    assert(got == Set(("TSLA", 2.0), ("RIVN", 3.0)))
  }

  test("mergeUpsert: incoming beats current on key collision; union otherwise") {
    val current = batch(("TSLA", "2025-Q1", 1.0, 1), ("LCID", "2025-Q1", 5.0, 1))
    val incoming = batch(("TSLA", "2025-Q1", 9.0, 1), ("RIVN", "2025-Q1", 3.0, 1))
    val merged = Merge.mergeUpsert(current, incoming, Seq("ticker", "quarter"))
    val got = merged.collect().map(r => (r.getString(0), r.getDouble(2))).toMap
    assert(got == Map("TSLA" -> 9.0, "LCID" -> 5.0, "RIVN" -> 3.0))
  }

  test("mergeUpsert idempotence: merge(merge(s,b),b) == merge(s,b)") {
    val current = batch(("TSLA", "2025-Q1", 1.0, 1))
    val b = batch(("TSLA", "2025-Q1", 9.0, 2), ("RIVN", "2025-Q1", 3.0, 1))
    val once = Merge.mergeUpsert(current, b, Seq("ticker", "quarter"), Seq(col("prio").desc))
    val twice = Merge.mergeUpsert(once, b, Seq("ticker", "quarter"), Seq(col("prio").desc))
    assert(once.collect().toSet == twice.collect().toSet)
  }

  test("insertIfAbsent: existing rows win unchanged (ON CONFLICT DO NOTHING)") {
    val existing = batch(("TSLA", "2025-Q1", 1.0, 1))
    val incoming = batch(("TSLA", "2025-Q1", 9.0, 1), ("RIVN", "2025-Q1", 3.0, 1))
    val got = Merge.insertIfAbsent(existing, incoming, Seq("ticker"))
      .collect().map(r => (r.getString(0), r.getDouble(2))).toMap
    assert(got == Map("TSLA" -> 1.0, "RIVN" -> 3.0))
  }

  /** Data files under `dir`, in partition directories too: path relative
    * to `dir` -> length. */
  private def dataFiles(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    val files = java.nio.file.Files.walk(root)
    try files.iterator.asScala.map(_.toFile).filter(f => f.isFile && !f.getName.startsWith("_") &&
      !f.getName.startsWith(".")).map(f => root.relativize(f.toPath).toString -> f.length).toMap
    finally files.close()
  }

  private val Keys = Seq("ticker", "quarter")
  private def history = batch((for (t <- Seq("AAA", "BBB", "CCC"); q <- 1 to 4)
    yield (t, s"2024-Q$q", q.toDouble, 1)): _*)
  private def mergeQ(statePath: String, b: org.apache.spark.sql.DataFrame) =
    Merge.mergeInto(spark, statePath, b, Keys, Seq(col("prio").desc))
  /** Revenue per key; fails on a key held twice. */
  private def revenues(df: org.apache.spark.sql.DataFrame): Map[(String, String), Double] = {
    val got = df.collect().map(r => (r.getAs[String]("ticker"), r.getAs[String]("quarter")) ->
      r.getAs[Double]("revenue"))
    assert(got.map(_._1).distinct.length == got.length, s"a key is held twice: ${got.toSeq}")
    got.toMap
  }

  test("mergeInto: an insert-only batch leaves every stored file byte-identical " +
    "and writes only the batch") {
    val statePath = java.nio.file.Files.createTempDirectory("fmerge_insert").toString + "/state"
    mergeQ(statePath, history)
    val before = dataFiles(statePath)
    // Every batch quarter sorts after the stored ones: no stored file can hold its keys.
    val insert = batch(("AAA", "2025-Q1", 5.0, 1), ("CCC", "2025-Q1", 6.0, 1))
    val merged = mergeQ(statePath, insert)
    val after = dataFiles(statePath)
    assert(before.toSet.subsetOf(after.toSet), s"stored files changed: $before -> $after")
    val added = (after.keySet -- before.keySet).toSeq
    assert(added.nonEmpty && added.forall(_.endsWith(".zstd.parquet")), added)
    assert(spark.read.parquet(added.map(statePath + "/" + _): _*).count() == 2)
    assert(revenues(merged) == revenues(history) ++ revenues(insert))
  }

  test("mergeInto: a batch that overlaps one stored file rewrites only that file") {
    val statePath = java.nio.file.Files.createTempDirectory("fmerge_one").toString + "/state"
    mergeQ(statePath, history)
    val historyFiles = dataFiles(statePath).keySet
    mergeQ(statePath, batch(("AAA", "2025-Q1", 5.0, 1)))
    val before = dataFiles(statePath)
    val slice = before.keySet -- historyFiles
    assert(slice.size == 1)
    // Restates a 2024 key: only the history files' ranges hold 2024 quarters.
    val restate = batch(("BBB", "2024-Q2", 99.0, 1))
    val merged = mergeQ(statePath, restate)
    val after = dataFiles(statePath)
    assert(after(slice.head) == before(slice.head), "the 2025 slice must be carried over")
    assert(historyFiles.forall(f => !after.contains(f)), "the overlapped file must be rewritten")
    assert(after.size == 2, after)
    assert(revenues(merged) ==
      revenues(history) + ((("AAA", "2025-Q1"), 5.0)) + ((("BBB", "2024-Q2"), 99.0)))
  }

  test("mergeInto: a stored file whose footer has no key statistics is rewritten") {
    val statePath = java.nio.file.Files.createTempDirectory("fmerge_nostats").toString + "/state"
    history.write.option("parquet.column.statistics.enabled", "false").parquet(statePath)
    val before = dataFiles(statePath)
    val f = new org.apache.hadoop.fs.Path(statePath, before.keys.head)
    val footer = graft.io.StateFiles.footer(spark.sparkContext.hadoopConfiguration, f,
      history.schema.fields.toSeq.filter(s => Keys.contains(s.name)).map(s => s.name -> s.dataType))
    assert(footer.ranges.isEmpty && footer.schema.isDefined, footer)
    // Disjoint from the stored keys, yet nothing proves it: the file is touched.
    val insert = batch(("AAA", "2025-Q1", 5.0, 1))
    val merged = mergeQ(statePath, insert)
    assert(before.keySet.intersect(dataFiles(statePath).keySet).isEmpty)
    assert(revenues(merged) == revenues(history) ++ revenues(insert))
  }

  test("mergeInto: null keys in the batch touch a stored file with null keys") {
    val statePath = java.nio.file.Files.createTempDirectory("fmerge_null").toString + "/state"
    val stored = Seq((Option("AAA"), "2024-Q1", 1.0, 1), (Option.empty[String], "2024-Q1", 2.0, 1))
      .toDF("ticker", "quarter", "revenue", "prio")
    mergeQ(statePath, stored)
    // The batch's only ticker is null: its non-null ticker range is empty,
    // so only the null counts say the stored null-ticker row is its key.
    val merged = mergeQ(statePath, Seq((Option.empty[String], "2024-Q1", 9.0, 1))
      .toDF("ticker", "quarter", "revenue", "prio"))
    assert(revenues(merged) == Map((("AAA", "2024-Q1"), 1.0), ((null, "2024-Q1"), 9.0)))
  }

  for ((layout, partitionCol) <- Seq("" -> None, ", partitioned by quarter" -> Some("quarter")))
    test(s"mergeInto: a batch whose keys change between its evaluations fails the merge$layout") {
      val statePath = java.nio.file.Files.createTempDirectory("fmerge_drift").toString + "/state"
      def merge(b: DataFrame) =
        Merge.mergeInto(spark, statePath, b, Keys, Seq(col("prio").desc), partitionCol = partitionCol)
      merge(history)
      val before = dataFiles(statePath)
      val input = java.nio.file.Files.createTempDirectory("fmerge_drift_in").toString + "/b"
      batch(("AAA", "2025-Q1", 5.0, 1)).write.parquet(input)
      // The first evaluation sees 2025-Q1, which no stored file holds; every
      // later one restates 2024-Q1, whose stored row sits in a kept file.
      MergeQualitySpec.calls.set(0)
      val drift = udf((q: String) =>
        if (MergeQualitySpec.calls.getAndIncrement() == 0) q else "2024-Q1").asNondeterministic()
      val drifting = spark.read.parquet(input).withColumn("quarter", drift(col("quarter")))
      val e = intercept[Exception](merge(drifting))
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(messages.exists(m => m != null && m.contains("outside the key range")), e)
      assert(dataFiles(statePath) == before, "a failed merge must leave the state as it was")
      assert(revenues(spark.read.parquet(statePath)) == revenues(history))
    }

  test("mergeInto by partition keeps existing null-partition state rows") {
    val statePath = java.nio.file.Files.createTempDirectory("pmerge_null").toString + "/state"
    val seed = Seq((1L, Option("A"), 10.0), (2L, Option.empty[String], 20.0),
      (3L, Option.empty[String], 30.0)).toDF("k", "part", "v")
    seed.write.partitionBy("part").parquet(statePath)
    // The batch touches the null partition: existing null-partition rows
    // (k=2, k=3) must survive the merge, each key held once.
    def merge(rows: (Long, Option[String], Double)*) = values(Merge.mergeInto(spark, statePath,
      rows.toDF("k", "part", "v"), Seq("k"), Seq(col("v").desc), partitionCol = Some("part")))
    assert(merge((2L, None, 99.0)) == Map(1L -> 10.0, 2L -> 99.0, 3L -> 30.0))
    // Null and non-null partition values in one batch: both the default
    // partition and part=A are touched, and part=B is new.
    assert(merge((3L, None, 77.0), (1L, Some("A"), 11.0), (4L, Some("B"), 40.0)) ==
      Map(1L -> 11.0, 2L -> 99.0, 3L -> 77.0, 4L -> 40.0))
    // An empty string is stored in the default partition too (it reads back null).
    assert(merge((2L, Some(""), 55.0)) == Map(1L -> 11.0, 2L -> 55.0, 3L -> 77.0, 4L -> 40.0))
  }

  /** Merges `seed`, then `batch`, into a state keyed by `k` and
    * partitioned by `part`. Every file outside the partition directories
    * `touchedDirs` must stay byte-identical; returns `v` per key, failing
    * on a key held twice. */
  private def mergeParts(seed: DataFrame, batch: DataFrame, touchedDirs: String*): Map[Long, Double] = {
    val statePath = java.nio.file.Files.createTempDirectory("pmerge_dirs").toString + "/state"
    def merge(df: DataFrame) =
      Merge.mergeInto(spark, statePath, df, Seq("k"), Seq(col("v").desc), partitionCol = Some("part"))
    merge(seed)
    val untouched =
      dataFiles(statePath).filterNot(f => touchedDirs.exists(d => f._1.startsWith(d + "/")))
    assert(untouched.size >= 2, untouched)
    val got = values(merge(batch))
    assert(untouched.toSet.subsetOf(dataFiles(statePath).toSet), "untouched partition files changed")
    got
  }

  /** `v` per `k`; fails on a key held twice. */
  private def values(df: DataFrame): Map[Long, Double] = {
    val got = df.collect().map(r => r.getAs[Long]("k") -> r.getAs[Double]("v"))
    assert(got.map(_._1).distinct.length == got.length, s"a key is held twice: ${got.toSeq}")
    got.toMap
  }

  // In each batch below the key range overlaps the keys of an untouched
  // partition's file, so only the partition directory's value keeps that
  // file out of the rewrite.
  test("mergeInto by partition rewrites only touched partitions") {
    // Twelve partitions, eight of them far smaller than the other four.
    // The batch holds p05 and p09: the partitions between them, and the
    // small files of every partition it skips, stay as they are.
    val seed =
      for (k <- 0L until 3000L if k % 12 < 4 || k < 24) yield (k, f"p${k % 12}%02d", k.toDouble)
    val batch =
      Seq((17L, "p05", 99.0), (3005L, "p05", 1.0), (21L, "p09", 7.0)).toDF("k", "part", "v")
    assert(mergeParts(seed.toDF("k", "part", "v"), batch, "part=p05", "part=p09") ==
      seed.map(r => r._1 -> r._3).toMap ++ Map(17L -> 99.0, 3005L -> 1.0, 21L -> 7.0))
  }

  test("mergeInto by partition reads escaped string, date and timestamp directory values") {
    // Spark writes "a/b" as part=a%2Fb, "c:d" as part=c%3Ad, and a
    // timestamp's colons escaped too.
    for ((as, (x, y, z), dir) <- Seq[(Column => Column, (String, String, String), String)](
        (c => c, ("a/b", "c:d", "e"), "part=a%2Fb"),
        (to_date(_), ("2024-01-01", "2024-01-02", "2024-01-03"), "part=2024-01-01"),
        (to_timestamp(_), ("2024-01-01 10:30:00", "2024-01-01 11:00:00", "2024-01-02 00:00:00"),
          "part=2024-01-01 10%3A30%3A00"))) {
      def rows(r: (Long, String, Double)*) =
        r.toDF("k", "s", "v").select(col("k"), as(col("s")).as("part"), col("v"))
      val seed = rows((1L, x, 1.0), (2L, y, 2.0), (3L, z, 3.0))
      assert(mergeParts(seed, rows((1L, x, 9.0), (4L, x, 4.0)), dir) ==
        Map(1L -> 9.0, 2L -> 2.0, 3L -> 3.0, 4L -> 4.0))
    }
  }

  test("state bootstrap: missing path is first-run-empty, corrupt state FAILS the merge") {
    val base = java.nio.file.Files.createTempDirectory("graft_bootstrap").toString
    val schema = batch().schema
    // Missing path -> empty frame (genuine first run).
    val empty = Merge.readStateOrEmpty(spark, s"$base/nope", schema)
    assert(empty.count() == 0 && empty.schema == schema)
    // Existing-but-unreadable state (garbage where parquet footers should
    // be) must throw — empty-initializing here would let the subsequent
    // overwrite destroy the real state table.
    val corrupt = new java.io.File(s"$base/corrupt")
    corrupt.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/corrupt/part-00000.parquet"), "not parquet at all")
    val thrown = intercept[Exception] {
      Merge.readStateOrEmpty(spark, s"$base/corrupt", schema).count()
    }
    assert(thrown != null)
  }

  test("tolerance check edges (reference test_edge_cases.py:320-348)") {
    // revenue 22500000000.01 passes at tol 22500000 (0.1% of 22.5e9)
    val got = Seq(22500000000.01, 22522500000.01, 0.399999999)
      .toDF("v")
      .select(
        Quality.withinTolerance(col("v"), lit(22500000000.0), lit(22500000.0)).as("rev_ok"),
        Quality.withinTolerance(col("v"), lit(0.40), lit(0.01)).as("eps_ok"))
      .collect()
    assert(got(0).getBoolean(0))      // within 0.1%
    assert(!got(1).getBoolean(0))     // just past tolerance
    assert(got(2).getBoolean(1))      // 0.399999999 within 0.01 of 0.40
  }

  test("withinTolerance is false (not null) for null actuals (load.py:272)") {
    val got = Seq[java.lang.Double](null).toDF("v")
      .select(Quality.withinTolerance(col("v"), lit(1.0), lit(0.1)).as("ok"))
      .collect()
    assert(!got(0).getBoolean(0))
  }

  test("label and ticker validation (config.py:82-84)") {
    val got = Seq(("2025-Q1", "TSLA"), ("2025-Q5", "TSLA"), ("25-Q1", ""),
      ("2025-Q4", "ABCDEFGHIJK"))
      .toDF("label", "ticker")
      .select(Quality.labelValid(col("label")).as("lv"),
        Quality.tickerValid(col("ticker")).as("tv"))
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1)))
    assert(got.toSeq == Seq((true, true), (false, true), (false, false), (true, false)))
  }

  test("duplicateKeys finds only violated keys") {
    val df = batch(("TSLA", "2025-Q1", 1.0, 1), ("TSLA", "2025-Q1", 2.0, 2),
      ("RIVN", "2025-Q1", 3.0, 1))
    val dups = Quality.duplicateKeys(df, Seq("ticker", "quarter")).collect()
    assert(dups.length == 1 && dups(0).getString(0) == "TSLA" && dups(0).getLong(2) == 2L)
  }

  test("quarantine splits without losing rows; null predicate goes to quarantine") {
    val df = Seq(("a", java.lang.Double.valueOf(1.0)), ("b", null),
      ("c", java.lang.Double.valueOf(-1.0))).toDF("k", "v")
    val (clean, bad) = Quality.quarantine(df, col("v") > 0)
    assert(clean.collect().map(_.getString(0)).toSet == Set("a"))
    assert(bad.collect().map(_.getString(0)).toSet == Set("b", "c"))
  }

  test("topKPerGroup keeps k rows per group in order") {
    val df = Seq(("a", 1), ("a", 3), ("a", 2), ("b", 9)).toDF("g", "v")
    val got = Windows.topKPerGroup(df, Seq("g"), Seq(col("v").desc), 2)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(got == Set(("a", 3), ("a", 2), ("b", 9)))
  }

  test("dimFactCounts keeps zero-fact dims (load.py:236-241)") {
    val dim = Seq((1, "x"), (2, "y")).toDF("id", "name")
    val facts = Seq((1, "f1"), (1, "f2")).toDF("fid", "payload")
    val got = Summary.dimFactCounts(dim, facts, "id", "fid", "cnt")
      .collect().map(r => (r.getInt(0), r.getLong(2))).toMap
    assert(got == Map(1 -> 2L, 2 -> 0L))
  }

  test("winsorize clamps per group at the interpolated percentiles; nulls pass through") {
    // Group a: values 0..10 -> p10 = 1.0, p90 = 9.0 (linear interpolation
    // on the sorted values); group b is untouched by a's tail.
    val df = ((0 to 10).map(v => ("a", Some(v.toDouble))) ++
      Seq(("a", None), ("b", Some(100.0)), ("b", Some(200.0)))).toDF("g", "v")
    val got = Quality.winsorize(df, "v", Seq("g"), lo = 0.1, hi = 0.9)
      .collect().map(r => (r.getString(0),
        Option(r.get(1)).map(_.asInstanceOf[Double]),
        Option(r.get(2)).map(_.asInstanceOf[Double])))
    val a = got.filter(_._1 == "a")
    assert(a.filter(_._2.isDefined).forall { case (_, Some(v), Some(w)) =>
      w == math.min(math.max(v, 1.0), 9.0); case _ => false })
    assert(a.exists { case (_, v, w) => v.isEmpty && w.isEmpty }) // null passes through
    val b = got.filter(_._1 == "b").map(t => (t._2.get, t._3.get)).toSet
    assert(b == Set((100.0, 110.0), (200.0, 190.0))) // b's own p10/p90 band
    intercept[IllegalArgumentException](
      Quality.winsorize(df, "v", Seq("g"), lo = 0.9, hi = 0.1))
  }

  test("winsorize keeps null GROUP KEYS as their own clamped group (advice r9)") {
    // A null-keyed group must not vanish through the bounds join (a plain
    // equi-join never matches null keys); it clamps into its own band.
    val df = (Seq(("a", 1.0), ("a", 2.0), ("a", 3.0)) ++
      (0 to 10).map(v => (null.asInstanceOf[String], v.toDouble))).toDF("g", "v")
    val got = Quality.winsorize(df, "v", Seq("g"), lo = 0.1, hi = 0.9)
      .collect().map(r => (Option(r.getString(0)), r.getDouble(1), r.getDouble(2)))
    assert(got.length == 14) // no row lost
    val nullGrp = got.filter(_._1.isEmpty)
    assert(nullGrp.length == 11)
    // null group's own band: p10 = 1.0, p90 = 9.0 over 0..10
    assert(nullGrp.forall { case (_, v, w) => w == math.min(math.max(v, 1.0), 9.0) })
    // the named group is untouched by the null group's values
    // (compare at 1e-9: the interpolated percentile carries float error)
    val aClamped = got.filter(_._1.contains("a")).map(_._3).sorted.toSeq
    assert(aClamped.zip(Seq(1.2, 2.0, 2.8)).forall { case (g, e) => math.abs(g - e) < 1e-9 })
  }
}

object MergeQualitySpec {
  /** Calls of the drifting test's key function, across its evaluations. */
  val calls = new java.util.concurrent.atomic.AtomicInteger()
}
