package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CompactSpec extends SparkSpec {
  import spark.implicits._

  test("compactTiered: rows and content preserved, file count bounded") {
    val path = graft.util.Scratch.dir("compact_flat") + "/t"
    spark.range(0, 10000).select(col("id"), (col("id") % 7).as("k"))
      .repartition(40).write.parquet(path)
    val before = spark.read.parquet(path).orderBy("id").collect()
    // 40 similar files: a flat tier past 8, merged whole.
    val stats = Compact.compactTiered(spark, path)
    assert(stats.rowsRewritten === 10000L)
    assert(stats.filesBefore === 40)
    assert(stats.filesAfter === 1)
    val after = spark.read.parquet(path).orderBy("id").collect()
    assert(after === before)
  }

  test("compactTiered: second tick merges only the new span, keeps the big file") {
    val path = graft.util.Scratch.dir("compact_tiered") + "/t"
    spark.range(0, 20000).repartition(20).write.parquet(path)
    // First tick: flat tier of 20 equal files -> major merge to one.
    val first = Compact.compactTiered(spark, path)
    assert(first.filesAfter === 1 && first.rowsRewritten === 20000L)
    val content1 = spark.read.parquet(path).orderBy("id").collect()
    // Append a small slice; the tick must rewrite ONLY it.
    spark.range(20000, 21000).repartition(5).write.mode("append").parquet(path)
    val second = Compact.compactTiered(spark, path)
    assert(second.keptFiles === 1, s"big file was rewritten: $second")
    assert(second.rewrittenFiles === 1 && second.rowsRewritten === 1000L)
    assert(second.filesAfter === 2)
    val after = spark.read.parquet(path).orderBy("id").collect()
    assert(after.length === 21000)
    assert(after.take(20000) === content1)
  }

  test("compactTiered: a handful of flat-tier files is a no-op tick") {
    val path = graft.util.Scratch.dir("compact_tiered_noop") + "/t"
    spark.range(0, 3000).repartition(3).write.parquet(path)
    val stats = Compact.compactTiered(spark, path)
    assert(stats.rowsRewritten === 0L && stats.filesBefore === stats.filesAfter)
  }

  test("consolidateWaves: committed waves fold into wave=-1, current wave untouched") {
    val path = graft.util.Scratch.dir("compact_waves") + "/t"
    (0 until 4).foreach { w =>
      spark.range(w * 1000, (w + 1) * 1000)
        .withColumn("wave", lit(w)).repartition(6)
        .write.mode("append").partitionBy("wave").parquet(path)
    }
    val before = spark.read.parquet(path).drop("wave").orderBy("id").collect()
    val stats = Compact.consolidateWaves(spark, path, currentWave = 3)
    assert(stats.rowsRewritten === 3000L) // waves 0-2; wave 3 never read
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(path, "wave=-1")))
    (0 until 3).foreach { w =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(path, s"wave=$w")),
        s"committed wave=$w was not consolidated")
    }
    assert(fs.exists(new org.apache.hadoop.fs.Path(path, "wave=3")),
      "current wave dir must survive consolidation byte-identical")
    // Result-transparent for wave-dropping readers...
    val after = spark.read.parquet(path).drop("wave").orderBy("id").collect()
    assert(after === before)
    // ...and a replay of the CURRENT wave still dynamic-overwrites its
    // own partition (the rows sit under wave=3, not wave=-1).
    assert(spark.read.parquet(path).where(col("wave") === 3).count() === 1000L)
    // A follow-up tick with a fresh committed wave keeps the merged file.
    spark.range(4000, 5000).withColumn("wave", lit(4)).repartition(6)
      .write.mode("append").partitionBy("wave").parquet(path)
    val next = Compact.consolidateWaves(spark, path, currentWave = 5)
    assert(next.keptFiles >= 1, s"merged file was rewritten: $next")
    assert(next.rowsRewritten === 2000L) // waves 3 and 4 only
  }

  // --- crash-recovery protocol (the swapIn/recover contract) ---

  private def hfs(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  test("recover: crash between the two swap renames restores the original") {
    val path = graft.util.Scratch.dir("compact_crash_mid") + "/t"
    spark.range(0, 5000).repartition(10).write.parquet(path)
    val before = spark.read.parquet(path).orderBy("id").collect()
    val fs = hfs(path)
    // Simulate: rewrite staged in tmp (a copy), then p renamed aside and
    // the process died before tmp -> p.
    spark.read.parquet(path).repartition(1)
      .write.parquet(path + "__compact_tmp")
    assert(fs.rename(hp(path), hp(path + "__compact_old")))
    // The next tick must restore the complete original, then proceed.
    val stats = Compact.compactTiered(spark, path)
    assert(stats.rowsRewritten === 5000L)
    assert(spark.read.parquet(path).orderBy("id").collect() === before)
    assert(!fs.exists(hp(path + "__compact_old")))
    assert(!fs.exists(hp(path + "__compact_tmp")))
  }

  test("recover: crash after swap-in finishes the kept-file carry-over") {
    val dir = graft.util.Scratch.dir("compact_crash_keep")
    val path = dir + "/t"
    val fs = hfs(path)
    // Original = one big file B + small slice A. Simulate a crash right
    // after tmp -> p: p holds the rewrite-of-A plus a manifest naming B;
    // old holds the complete original (A-files + B).
    spark.range(0, 20000).repartition(1).write.parquet(dir + "/big")
    val bigFile = fs.listStatus(hp(dir + "/big"))
      .map(_.getPath).filter(_.getName.startsWith("part-")).head
    spark.range(20000, 21000).repartition(4).write.parquet(path)
    assert(fs.rename(bigFile, hp(path + "/" + bigFile.getName)))
    assert(fs.rename(hp(path), hp(path + "__compact_old")))
    spark.range(20000, 21000).repartition(1).write.parquet(path)
    val out = fs.create(hp(path + "/_GRAFT_KEEP"), true)
    out.write(s"${bigFile.getName}\t${bigFile.getName}\n".getBytes("UTF-8"))
    out.close()
    // Recovery must move B back in; then the tick sees big+small tiers.
    val stats = Compact.compactTiered(spark, path)
    assert(spark.read.parquet(path).count() === 21000L)
    assert(!fs.exists(hp(path + "__compact_old")))
    assert(!fs.exists(hp(path + "/_GRAFT_KEEP")))
    assert(stats.filesAfter >= 1)
  }

  test("recover: replay-recreated table dir merges history back, replayed wave wins") {
    val path = graft.util.Scratch.dir("compact_crash_replay") + "/t"
    val fs = hfs(path)
    (0 until 3).foreach { w =>
      spark.range(w * 1000, (w + 1) * 1000)
        .withColumn("wave", lit(w)).repartition(4)
        .write.mode("append").partitionBy("wave").parquet(path)
    }
    // Crash between the renames, THEN the streaming sink's batch replay
    // recreates p with a fresh (complete) copy of the current wave=2.
    assert(fs.rename(hp(path), hp(path + "__compact_old")))
    spark.range(2000, 3000).withColumn("wave", lit(2)).repartition(2)
      .write.mode("append").partitionBy("wave").parquet(path)
    val stats = Compact.consolidateWaves(spark, path, currentWave = 2)
    // All 3000 rows survive, exactly once (wave=2 from the replay copy).
    val got = spark.read.parquet(path).drop("wave").orderBy("id")
      .collect().map(_.getLong(0))
    assert(got === (0L until 3000L).toArray)
    assert(stats.rowsRewritten === 2000L) // waves 0-1 merged; wave 2 current
    assert(!fs.exists(hp(path + "__compact_old")))
  }

  test("recover: crash after a wave consolidation's swap-in finishes the re-homing moves") {
    val path = graft.util.Scratch.dir("compact_crash_rehome") + "/t"
    val fs = hfs(path)
    def wave(w: Int, from: Long, until: Long, files: Int): Unit =
      spark.range(from, until).withColumn("wave", lit(w)).repartition(files)
        .write.mode("append").partitionBy("wave").parquet(path)
    wave(0, 0, 1000, 4)      // small span: merged into wave=-1
    wave(1, 1000, 21000, 1)  // top tier: re-homes to wave=-1
    wave(2, 21000, 22000, 2) // current wave: carried over whole
    val big = fs.listStatus(hp(path + "/wave=1")).map(_.getPath)
      .filter(_.getName.startsWith("part-")).head.getName
    // The swap-in of consolidateWaves(currentWave = 2) completed: the
    // table is aside whole, the live dir holds the merged wave=0 rows and
    // a manifest whose moves are still pending, except wave=2's.
    assert(fs.rename(hp(path), hp(path + "__compact_old")))
    spark.range(0, 1000).repartition(1).write.parquet(path + "/wave=-1")
    assert(fs.delete(hp(path + "/wave=-1/_SUCCESS"), false))
    assert(fs.rename(hp(path + "__compact_old/wave=2"), hp(path + "/wave=2")))
    val out = fs.create(hp(path + "/_GRAFT_KEEP"), true)
    out.write(s"wave=1/$big\twave=-1/$big\nwave=2\twave=2\n".getBytes("UTF-8"))
    out.close()
    // The replayed batch's tick recovers first. Recovery alone must
    // re-home the big file, so the tick itself has nothing to move.
    val stats = Compact.consolidateWaves(spark, path, currentWave = 2)
    val got = spark.read.parquet(path).drop("wave").orderBy("id").collect().map(_.getLong(0))
    assert(got === (0L until 22000L).toArray)
    assert(stats === Compact.TieredStats(0L, 4, 4, 0, 4), "recovery left work for the tick")
    assert(fs.exists(hp(s"$path/wave=-1/$big")), "the kept big file must sit under wave=-1")
    assert(!fs.exists(hp(path + "/wave=1")))
    assert(!fs.exists(hp(path + "__compact_old")))
    assert(!fs.exists(hp(path + "/_GRAFT_KEEP")))
  }

  test("compactTiered: refuses a missing table") {
    val missing = graft.util.Scratch.dir("compact_missing") + "/nope"
    val e = intercept[IllegalArgumentException] {
      Compact.compactTiered(spark, missing)
    }
    assert(e.getMessage.contains("no table at"))
  }

  test("listData lists the data files in listFiles' order, markers and checksums left out") {
    val root = graft.util.Scratch.dir("compact_listdata") + "/t"
    spark.range(0, 40, 1, 4).withColumn("w", col("id") % 3)
      .write.partitionBy("w").parquet(root)
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(root + "/w=1/_marker")).close()
    val it = fs.listFiles(p, true)
    val expected = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(f => !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      .map(f => (f.getPath, f.getLen)).toSeq
    assert(expected.size == 12 && expected.forall(_._1.getName.endsWith(".parquet")), expected)
    assert(Compact.listData(fs, p) == expected)
  }
}
