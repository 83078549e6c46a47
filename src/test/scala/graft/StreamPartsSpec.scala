package graft

import java.nio.file.{Files, Paths}

import graft.streaming.StreamSession

/** Pins the streaming shuffle-partition sizing rule
  * (StreamSession.parts / sizeStreamParts:
  * `max(1, min(cores, bytes / 4 MB))`). The arithmetic is pinned as a
  * pure function at the production widths; the listing path is pinned
  * on the gates' event streams and with a sparse-file fixture (the rule
  * only LISTS the stream's source, so apparent length is what sizing
  * sees).
  */
class StreamPartsSpec extends SparkSpec {

  test("sizing arithmetic at the production widths") {
    val mb = 1L << 20
    // sf0.1 events (2 MB): one state store per operator.
    assert(StreamSession.sizeStreamParts(2 * mb, 32) == 1)
    // sf1 events (16 MB): one store per 4 MB.
    assert(StreamSession.sizeStreamParts(16 * mb, 32) == 4)
    // sf10 events (162 MB): 40 raw slices, capped at the 32-core box —
    // the width the 4.1x join measurement certified.
    assert(StreamSession.sizeStreamParts(162 * mb, 32) == 32)
    // sf10 documents (58 MB): between floor and cap.
    assert(StreamSession.sizeStreamParts(58 * mb, 32) == 14)
    // Narrow session: the core cap wins.
    assert(StreamSession.sizeStreamParts(200 * mb, 4) == 4)
    // Below 4 MB, and an empty or unlistable source: the floor of 1.
    assert(StreamSession.sizeStreamParts(4 * mb - 1, 32) == 1)
    assert(StreamSession.sizeStreamParts(0L, 32) == 1)
  }

  test("listing path: small SFs and missing tables resolve to the floor") {
    // The single-file events table streams from its SF dir through a
    // glob filter: only events.parquet counts (sf0.1's whole dir is
    // 17 MB, which would size to 4).
    assert(StreamSession.parts(io.Tables.eventsStream(spark, "/root/testdata/sf0.01")) == 1)
    assert(StreamSession.parts(io.Tables.eventsStream(spark, "/root/testdata/sf0.1")) == 1)
    val gone = Files.createTempDirectory("streamparts_gone")
    val stream = spark.readStream.schema("id BIGINT").parquet(gone.toString)
    Files.delete(gone)
    assert(StreamSession.parts(stream) == 1,
      "an unreadable source must fall back to the floor, never throw")
    // Sparse 200 MB fixture: listing sees the apparent length.
    val dir = graft.util.Scratch.dir("streamparts_fixture")
    val table = Paths.get(dir, "events.parquet")
    Files.createDirectories(table)
    val f = table.resolve("part-00000.bin")
    val ch = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      ch.position(200L * 1024 * 1024 - 1)
      ch.write(java.nio.ByteBuffer.wrap(Array(0: Byte)))
      ()
    } finally ch.close()
    val cores = spark.sparkContext.defaultParallelism
    assert(StreamSession.parts(spark.readStream.schema("id BIGINT").parquet(table.toString)) ==
      StreamSession.sizeStreamParts(200L * 1024 * 1024, cores))
  }
}
