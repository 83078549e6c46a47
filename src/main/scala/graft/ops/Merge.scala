package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.{Sinks, StateFiles}

/** MERGE / dedup operators — the reference's most distinctive semantics
  * (SURVEY.md §2.7): last-write-wins upsert on a natural key
  * (load.py:122-154), insert-if-absent for dims (load.py:65-74), and
  * deterministic intra-batch dedup (the reference's is input-order
  * dependent; we impose an explicit priority, SURVEY.md §7.5.4).
  *
  * Scale notes: every operator here is a single hash-shuffle on the merge
  * key — no driver-side loops, no collect. At 100 TB the state table should
  * be written bucketed by the key (see [[graft.io.Sinks]]) so repeated
  * merges co-locate and skip the state-side shuffle.
  */
object Merge {

  /** Deterministic last-write-wins: keep exactly one row per key, the one
    * ranking first under `precedence` (e.g. source priority desc, event
    * time desc, then a unique tiebreaker). One window shuffle on `keys`.
    */
  def lastWriteWins(df: DataFrame, keys: Seq[String], precedence: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(precedence: _*)
    df.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn")
  }

  /** MERGE (upsert) of `incoming` into `current` on a natural key
    * (reference load.py:122-154 + schema.sql:30): incoming beats current on
    * key collision; within each side the caller's `precedence` breaks ties
    * (`incomingWins = false`: across both sides, see [[mergeInto]]).
    * Equivalent to SQL `MERGE ... WHEN MATCHED UPDATE WHEN NOT MATCHED
    * INSERT` with last-write-wins. Returns the merged state.
    */
  def mergeUpsert(current: DataFrame, incoming: DataFrame, keys: Seq[String],
                  precedence: Seq[Column] = Seq.empty,
                  incomingWins: Boolean = true): DataFrame = {
    val tagged = current.withColumn("_src", lit(0))
      .unionByName(incoming.withColumn("_src", lit(1)))
    val rank = if (incomingWins) col("_src").desc +: precedence else precedence
    lastWriteWins(tagged, keys, rank).drop("_src")
  }

  /** Read an existing state table, or an empty frame ONLY when the path
    * genuinely does not exist (first run). An interrupted swap is
    * recovered first ([[Compact.recover]]), so a table staged aside
    * mid-swap never reads as a first run. Every other failure —
    * permissions, transient FS error, corrupt footer — rethrows: treating
    * it as "first run" would let the subsequent overwrite replace real
    * state with batch-only contents, which at 100 TB is the incident that
    * deletes a state table.
    */
  private[graft] def readStateOrEmpty(spark: SparkSession, statePath: String,
                                      schema: StructType): DataFrame = {
    val p = new Path(statePath)
    Compact.recover(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    try spark.read.parquet(statePath)
    catch {
      case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }
  }

  /** MERGE `incoming` into the Parquet state table at `statePath` — the
    * one code path that writes merged state: stored and batch rows ranked
    * in ONE window ([[mergeUpsert]]), written zstd-compressed
    * ([[graft.io.StateFiles.write]]), and read back with the written
    * schema. The batch needs no dedup of its own: stored keys are unique,
    * so one window over state ∪ batch picks the winner a batch dedup
    * first would.
    *
    * `incomingWins = true` (default) is the reference's upsert contract:
    * a batch row replaces the stored row for its key outright, with
    * `precedence` breaking ties only WITHIN the batch. `false` ranks
    * state and batch rows together under `precedence` alone — the
    * TOTAL-ORDER form an at-least-once streaming sink needs, where a
    * replayed old wave must never regress a newer stored winner.
    *
    * Without `partitionCol` (a flat table) only the state files that can
    * hold a batch key are rewritten: each file's Parquet footer gives
    * its min/max per key column, the batch's range comes from one job
    * over the batch's key columns ([[graft.io.StateFiles.observeRanges]]),
    * and a file is left alone when some key column's ranges are disjoint.
    * The rule is conservative — a file without key statistics, or with
    * nulls in a key column when the batch has null keys, counts as
    * touched — so the result equals a whole-table merge. Touched files,
    * the small untouched files [[Compact.selectSmallSpan]] picks (so
    * appended slices fold back in) and the batch are merged and written;
    * every other file is carried over by
    * [[graft.io.Sinks.atomicSwapWrite]]'s manifest swap, which
    * [[Compact.recover]] completes or rolls back after a process death. The state schema comes from the footers too,
    * so the range job replaces Spark's schema-inference job one for one;
    * appended rows are written in the stored column order. The batch is
    * evaluated twice (key columns only for the range), so its keys must
    * be deterministic — as a file scan or a `foreachBatch` batch is; a
    * source read over HTTP is fetched twice. The rewrite checks every
    * batch row against the observed range and fails the merge, before
    * anything is swapped in, on a key outside it.
    *
    * With `partitionCol`, the merge is partition-scoped into a
    * hive-partitioned table: only partitions PRESENT IN THE BATCH are
    * read (partition-pruned scan), merged, and rewritten (dynamic
    * partition overwrite) — merge cost is proportional to touched
    * partitions, not table size; THIS is the form that holds at 100 TB,
    * where a daily batch touches a handful of date partitions.
    *
    * CONTRACT: `partitionCol` must be functionally dependent on `keys`
    * (typically it IS one of them, or a deterministic bucket of one) —
    * the state read is pruned to the batch's partitions, so a key whose
    * stored winner sits under a DIFFERENT partition value would be
    * invisible to the merge and end up duplicated across partitions
    * (and, under `incomingWins = false` replay, an old wave could
    * resurrect a loser the pruned read never saw). Membership in `keys`
    * (the gate's `event_type` usage) satisfies this trivially; a
    * derived-bucket caller owns the dependence — it is not statically
    * checkable here, and post-dedup batches are one row per key, so a
    * runtime probe could not see a cross-batch violation either.
    */
  def mergeInto(spark: SparkSession, statePath: String, incoming: DataFrame,
                keys: Seq[String], precedence: Seq[Column],
                incomingWins: Boolean = true,
                partitionCol: Option[String] = None): DataFrame = {
    val schema = partitionCol match {
      case None => mergeFiles(spark, statePath, incoming, keys, precedence, incomingWins)
      case Some(pc) => mergeTouched(spark, statePath, incoming, keys, precedence, incomingWins, pc)
    }
    spark.read.schema(schema).parquet(statePath)
  }

  /** [[mergeInto]]'s flat layout; returns the written schema. */
  private def mergeFiles(spark: SparkSession, statePath: String, incoming: DataFrame,
                         keys: Seq[String], precedence: Seq[Column],
                         incomingWins: Boolean): StructType = {
    val p = new Path(statePath)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    Compact.recover(fs, p)
    val files = if (fs.exists(p)) Compact.listData(fs, p) else Nil
    if (files.isEmpty) {
      // First run: nothing stored, nothing to compare the batch with.
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], incoming.schema)
      val merged = mergeUpsert(empty, incoming, keys, precedence, incomingWins)
      Sinks.atomicSwapWrite(spark, merged, statePath)
      return merged.schema
    }
    val qp = fs.makeQualified(p)
    require(files.forall(_._1.getParent == qp),
      s"mergeInto: $statePath is partitioned — pass its partitionCol")
    val keyTypes = keys.map(k => k -> incoming.schema(k).dataType)
    val footers = files.map { case (f, _) => f -> StateFiles.footer(conf, f, keyTypes) }
    val schema = footers.head._2.schema.getOrElse(spark.read.parquet(statePath).schema)
    // The range job reads only the key columns, so it prunes the batch's
    // scan to them; the rewrite evaluates the batch again in full. Not
    // persisting it measured faster on market_etl (the cache build cost
    // more than the second scan saved).
    val observed = StateFiles.observeRanges(incoming, keyTypes)
    val batch = StateFiles.batchRanges(observed, keyTypes)
    val touched = footers.collect {
      case (f, footer) if StateFiles.mayHold(footer, batch, keys) => f
    }.toSet
    val untouched = files.filterNot(f => touched(f._1))
    val (span, kept) = Compact.selectSmallSpan(untouched).getOrElse((Nil, untouched.map(_._1)))
    val rewrite = files.map(_._1).filter(touched) ++ span
    if (rewrite.isEmpty && observed.getAs[Long]("rows") == 0) schema // nothing to write
    else {
      val current =
        if (rewrite.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        else spark.read.schema(schema).parquet(rewrite.map(_.toString): _*)
      val guarded = incoming.where(StateFiles.inObservedRanges(observed, keyTypes))
      val merged = mergeUpsert(current, guarded, keys, precedence, incomingWins)
        .select(schema.fieldNames.toIndexedSeq.map(col): _*)
      Sinks.atomicSwapWrite(spark, merged, statePath, kept)
      merged.schema
    }
  }

  /** [[mergeInto]]'s partition-scoped layout; returns the written schema.
    *
    * The merged rows are staged in `<state>_staging` before the dynamic
    * overwrite publishes them. Spark's overwrite commit deletes each
    * touched partition before it moves the new one in, so a process
    * death between the two leaves the partition missing — with its only
    * surviving copy in the staging dir. So a complete staging dir (one
    * with `_SUCCESS`) found at entry is re-published before the pruned
    * read; an incomplete one never reached the overwrite and is dropped.
    * Dropping deletes `_SUCCESS` before the rest, so a delete cut short
    * leaves an incomplete dir, never a marked subset of the rows.
    */
  private def mergeTouched(spark: SparkSession, statePath: String, incoming: DataFrame,
                           keys: Seq[String], precedence: Seq[Column],
                           incomingWins: Boolean, partitionCol: String): StructType = {
    val staging = new Path(statePath + "_staging")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val success = new Path(staging, "_SUCCESS")
    def dropStaging(): Unit = { fs.delete(success, false); fs.delete(staging, true) }
    if (fs.exists(success)) {
      StateFiles.write(spark.read.parquet(staging.toString), statePath, Seq(partitionCol))
      spark.catalog.refreshByPath(statePath)
    }
    dropStaging()
    // The incoming plan is read THREE times below (touched-partition
    // collect, merge union, staging write) — uncached, a heavy upstream
    // (e.g. a streaming batch dedup) executes three times per merge
    // (measured 1.5× the whole sink wall at sf10). Persisted for exactly
    // this call; released before returning.
    val inc = incoming.persist()
    try {
    val touched = inc.select(partitionCol).distinct()
      .collect().map(_.get(0)).toSeq
    // Null-safe membership: a null partition value in the batch lands in
    // the hive default partition, which dynamic overwrite WILL rewrite —
    // `isin` alone never matches null, so without the isNull branch the
    // existing null-partition state rows would be silently dropped from
    // the merge input while still being overwritten.
    val nonNullTouched = touched.filter(_ != null)
    val touchedPred =
      if (nonNullTouched.length == touched.length) col(partitionCol).isin(touched: _*)
      else if (nonNullTouched.isEmpty) col(partitionCol).isNull
      else col(partitionCol).isin(nonNullTouched: _*) || col(partitionCol).isNull
    val current = readStateOrEmpty(spark, statePath, inc.schema)
      .where(touchedPred) // partition-pruned
      .select(inc.columns.map(col): _*)
    val merged = mergeUpsert(current, inc, keys, precedence, incomingWins)
    // The merged plan READS statePath and the commit below OVERWRITES the
    // same touched partitions: stage the merged rows to a sibling
    // directory and re-read THAT for the overwrite, so the write never
    // races its own input (some Spark paths reject the self-overwrite
    // outright). Unlike localCheckpoint, staging holds no executor cache
    // blocks whose release would be GC-driven, and a mid-commit failure
    // leaves the staged copy on disk for the next call to re-publish.
    // Cost: one extra write+read of the TOUCHED partitions only.
    StateFiles.write(merged, staging.toString)
    StateFiles.write(spark.read.parquet(staging.toString), statePath, Seq(partitionCol))
    // Success: drop the staging copy (left in place on failure).
    dropStaging()
    spark.catalog.refreshByPath(statePath)
    merged.schema
    } finally inc.unpersist()
  }

  /** Insert-if-absent (reference load.py:65-74, `ON CONFLICT DO NOTHING`
    * schema.sql:59): rows of `incoming` whose key is absent from `existing`
    * are appended; existing rows win unchanged. Anti-join + union — at
    * scale, if `existing` is a large state table, AQE converts the
    * anti-join to broadcast when `incoming` is small.
    */
  def insertIfAbsent(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    existing.unionByName(
      incoming.join(existing.select(keys.map(col): _*).distinct(), keys, "left_anti"))
}
