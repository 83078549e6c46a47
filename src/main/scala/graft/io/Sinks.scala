package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.ops.Compact

/** Sinks: atomic Parquet state-table swap (the engine's replacement for
  * the reference's transactional upsert, load.py:36-48) and the ordered
  * single-file CSV export (transform.py:281-289). State tables are
  * written zstd-compressed through [[StateFiles.write]].
  */
object Sinks {

  /** Replace the table at `tablePath` with `df` plus the table's data
    * files named in `keep`, through [[graft.ops.Compact.swapIn]]: recover
    * any interrupted earlier swap, write `df` into
    * `<tablePath>__compact_tmp` with the one state writer
    * ([[StateFiles.write]], zstd; hive-partitioned by `partitionBy`), then
    * swap it in behind a manifest that lists the kept files, which move
    * over from the staged-aside table by rename, into their own partition
    * directories (or publish it directly when no table exists yet). This
    * is how [[graft.ops.Merge.mergeInto]] rewrites only the files a batch
    * can touch. A process death at any step leaves state the next write
    * or state read ([[graft.ops.Merge.readStateOrEmpty]]) completes or
    * rolls back, so the previous generation is never lost. It is NOT
    * atomic for CONCURRENT readers: between the swap's two directory
    * moves `tablePath` does not exist, and kept files join the table
    * after the swap-in — single-writer with reader-retry is the contract
    * (a real multi-reader deployment wants Delta/Iceberg or a manifest
    * indirection; SURVEY.md §4).
    */
  def atomicSwapWrite(spark: SparkSession, df: DataFrame, tablePath: String,
                      keep: Seq[Path] = Nil, partitionBy: Seq[String] = Nil): Unit = {
    Compact.swapIn(spark, tablePath, keep.map(Compact.Carry(_)))(StateFiles.write(df, _, partitionBy))
    // Invalidate cached file listings so subsequent reads see the new
    // generation. (DataFrames created BEFORE the swap hold the old file
    // list and will fail — swap semantics, same as any non-ACID overwrite;
    // collect or re-read after merging.)
    spark.catalog.refreshByPath(tablePath)
  }

  /** Ordered CSV export (reference S7+O-O1): global sort, then a single
    * header file. `coalesce(1)` is deliberate and ONLY valid at export
    * grain — state tables stay partition-parallel — so the sink REFUSES
    * datasets past `maxRows` (one task would write the world): the probe
    * is a short-circuiting `limit(maxRows+1)` count, not a full count.
    * Oversized exports belong in [[exportCsvPartitioned]].
    */
  def exportCsv(df: DataFrame, dir: String, sortCols: Seq[org.apache.spark.sql.Column],
                maxRows: Long = 10000000L): Unit = {
    val probe = df.limit((maxRows + 1).min(Int.MaxValue.toLong).toInt).count()
    if (probe > maxRows)
      throw new IllegalArgumentException(
        s"exportCsv: dataset exceeds $maxRows rows — a single-file export would " +
          "funnel the write through one task; use exportCsvPartitioned (range-" +
          "ordered multi-file) or raise maxRows deliberately")
    df.orderBy(sortCols: _*).coalesce(1)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(dir)
  }

  /** Scale-grade ordered CSV export: range-partition on the sort key and
    * sort within partitions — the concatenation of the part files in
    * filename order IS the global order, but every task writes its own
    * slice in parallel. The form to use when [[exportCsv]] refuses.
    * `numPartitions` pins the output file count (sized so one slice fits
    * a downstream consumer comfortably); left empty, Spark — including
    * AQE, which may coalesce small exports to fewer files — picks it.
    */
  def exportCsvPartitioned(df: DataFrame, dir: String,
                           sortCols: Seq[org.apache.spark.sql.Column],
                           numPartitions: Option[Int] = None): Unit = {
    val ranged = numPartitions match {
      case Some(n) =>
        require(n > 0, s"exportCsvPartitioned: numPartitions must be positive, got $n")
        df.repartitionByRange(n, sortCols: _*)
      case None => df.repartitionByRange(sortCols: _*)
    }
    ranged.sortWithinPartitions(sortCols: _*)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(dir)
  }

  /** Write a state table BUCKETED (+ sorted) by the merge key: every
    * subsequent merge/join keyed on `keys` reads co-located buckets and
    * skips the state-side shuffle entirely (verified shuffle-free in
    * LayoutSpec). Bucketing requires the table catalog (`saveAsTable`) —
    * Spark's bucketing metadata lives there, not in plain Parquet paths —
    * so callers address the state by `tableName` afterwards. `buckets`
    * should be sized so one bucket of the table fits an executor
    * comfortably at the target scale (buckets ≈ table_size / 1 GiB is a
    * sane start); it cannot change without a rewrite.
    */
  def writeBucketedState(df: DataFrame, tableName: String, buckets: Int,
                         keys: Seq[String], location: Option[String] = None): Unit = {
    require(keys.nonEmpty, "bucketed state needs at least one key column")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    if (location.isEmpty) {
      // A previous PROCESS may have left the managed location on disk
      // while this process's fresh metastore has never heard of the
      // table: DROP alone can't reclaim it and saveAsTable then fails
      // with LOCATION_ALREADY_EXISTS. Remove the orphaned directory.
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val orphan = new Path(new Path(wh), tableName.toLowerCase)
      val fs = orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(orphan) && !fs.delete(orphan, true))
        throw new java.io.IOException(
          s"writeBucketedState: cannot reclaim orphaned location $orphan")
    }
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
    location.fold(w)(p => w.option("path", p)).saveAsTable(tableName)
  }
}
