package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Manual end-to-end drive of the streaming surface against real testdata
  * (run with `sbt 'Test/runMain graft.StreamDrive'`); prints comparison
  * against the equivalent batch computation.
  */
object StreamDrive {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ev = graft.io.Tables.events(spark, "/root/testdata/sf0.001")
    val src = java.nio.file.Files.createTempDirectory("sdrive").toString
    ev.write.parquet(src + "/b0")
    val stream = spark.readStream.schema(ev.schema).parquet(src + "/*")

    val q1 = streaming.EventStreams.dedupStream(stream)
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    q1.processAllAvailable(); q1.stop()
    println(s"DEDUP_ROWS=${q1.sparkSession.table("dd").count()} SRC=${ev.count()}")

    val q2 = streaming.EventStreams.clickPurchaseJoin(stream)
      .writeStream.format("memory").queryName("cp").outputMode("append").start()
    q2.processAllAvailable(); q2.stop()
    val streamed = q2.sparkSession.table("cp").count()
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val purch = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"), col("event_id").as("purchase_id"))
    val batch = clicks.join(purch,
      col("user_id") === col("pu") && col("pts") <= col("click_ts") &&
        col("pts") >= col("click_ts") - expr("INTERVAL 1 HOUR")).count()
    println(s"JOIN_STREAM=$streamed JOIN_BATCH=$batch MATCH=${streamed == batch}")

    // Streaming sessionize vs the batch twin: every CLOSED streamed
    // session (the open tail per user only closes on a later timeout)
    // must appear verbatim in the batch session set.
    import spark.implicits._
    val evStream = spark.readStream.schema(ev.schema).parquet(src + "/*")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[streaming.EventStreams.Event]
    val q3 = streaming.EventStreams.sessionize(evStream, gapMs = 30 * 60 * 1000)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    q3.processAllAvailable(); q3.stop()
    val streamedSessions = q3.sparkSession.table("sess")
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(_.toSeq).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val batchSessions = ev
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_s", when(col("prev_ts").isNull ||
        (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) >= 30 * 60 * 1000, 1L).otherwise(0L))
      .withColumn("seq", sum(col("new_s")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "seq")
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(_.toSeq).toSet
    val subset = streamedSessions.subsetOf(batchSessions)
    println(s"SESSIONS_STREAMED=${streamedSessions.size} SESSIONS_BATCH=${batchSessions.size} SUBSET=$subset")
    (streamedSessions -- batchSessions).take(3).foreach(s => println(s"ONLY_STREAM=$s"))
    (batchSessions -- streamedSessions).take(3).foreach(s => println(s"ONLY_BATCH=$s"))
    spark.stop()
  }
}
