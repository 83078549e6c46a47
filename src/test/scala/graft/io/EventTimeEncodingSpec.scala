package graft.io

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Regression pin for the events timestamp-encoding contract.
  *
  * The driver's testdata generator has shipped `events.ts` in three
  * different parquet encodings across regenerations — TIMESTAMP(NANOS)
  * (surfacing as LongType nanos under `nanosAsLong`), TIMESTAMP_NTZ
  * (micros, isAdjustedToUTC=0), and plain TIMESTAMP — and one such
  * regeneration silently broke 12 contract queries. This spec writes the
  * SAME fixture in all three encodings and runs every formerly-broken
  * path over each (reader normalization, sessionize gap arithmetic,
  * as-of tolerance, waved streaming delivery), asserting results are
  * identical across encodings, so the next encoding change fails HERE
  * with a named cause instead of erroring 12 gates at the driver.
  */
class EventTimeEncodingSpec extends SparkSpec {

  private val src = "/root/testdata/sf0.001"

  /** tag -> sf-style dir holding events.parquet in that encoding. */
  private lazy val encodings: Seq[(String, String)] = {
    val ref = Tables.events(spark, src) // normalized: ts TimestampType
    val base = graft.util.Scratch.dir("enc_fixture")
    def stage(tag: String, df: DataFrame): (String, String) = {
      val d = s"$base/$tag"
      df.coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
      tag -> d
    }
    Seq(
      // Legacy surface: nanosAsLong turns TIMESTAMP(NANOS) into LongType
      // nanos at the reader, which is exactly what a written LongType
      // `ts` column round-trips to.
      stage("nanos_long", ref.withColumn("ts", expr("unix_micros(ts) * 1000"))),
      stage("ntz", ref.withColumn("ts", col("ts").cast(TimestampNTZType))),
      stage("ltz", ref))
  }

  test("Tables.events normalizes ts to TimestampType for all three encodings") {
    val want = Tables.events(spark, src)
      .select(col("event_id"), col("ts")).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    encodings.foreach { case (tag, dir) =>
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType == TimestampType,
        s"$tag: ts must normalize to TimestampType, got ${df.schema("ts").dataType}")
      val got = df.select(col("event_id"), col("ts")).collect()
        .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
      assert(got == want, s"$tag: normalized instants must match the source")
    }
  }

  test("sessionize and as-of gates are encoding-invariant") {
    Seq("events_sessionize", "asof_join_tolerance").foreach { gate =>
      val results = encodings.map { case (tag, dir) =>
        tag -> graft.Queries.queries(gate)(spark, dir).collect().map(_.toSeq).toSet
      }
      val (refTag, want) = results.head
      assert(want.nonEmpty, s"$gate/$refTag produced no rows")
      results.tail.foreach { case (tag, got) =>
        assert(got == want, s"$gate: $tag result differs from $refTag")
      }
    }
  }

  test("waved streaming delivery is encoding-invariant") {
    val results = encodings.map { case (tag, dir) =>
      val name = s"enc_waves_$tag"
      val q = Tables.wavedEventsStream(spark, dir, nWaves = 3)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(q.recentProgress.count(_.numInputRows > 0) == 3,
        s"$tag: each wave must arrive as its own micro-batch")
      tag -> spark.table(name).collect().map(_.toSeq).toSet
    }
    val (refTag, want) = results.head
    assert(want.nonEmpty, s"waved delivery/$refTag produced no rows")
    results.tail.foreach { case (tag, got) =>
      assert(got == want, s"waved delivery: $tag differs from $refTag")
    }
  }

  test("NTZ events on a non-UTC session fail, naming the zone conf, and leave it unchanged") {
    val ntz = encodings.toMap.apply("ntz") // staged under the UTC session
    val zone = "spark.sql.session.timeZone"
    withConf(zone -> "America/New_York") {
      val e = intercept[IllegalStateException](Tables.events(spark, ntz))
      assert(e.getMessage.contains(zone) && e.getMessage.contains("GraftSession"), e.getMessage)
      assert(spark.conf.get(zone) == "America/New_York")
    }
  }
}
