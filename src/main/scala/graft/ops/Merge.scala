package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

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
    * One algorithm for a flat table and a hive-partitioned one
    * (`partitionCol`): only the state files that can hold a batch key
    * are rewritten. Each file's Parquet footer gives its min/max per key
    * column; the batch's ranges of the same columns, and the partition
    * values it holds, come from one job over just those columns
    * ([[graft.io.StateFiles.observeRanges]]). A file is left alone when
    * its `<partitionCol>=<v>` directory holds a value the batch does not
    * (the default partition: null), or when some key column's ranges
    * are disjoint. The rule is conservative — a file without key
    * statistics, or with nulls in a key column when the batch has null
    * keys, counts as touched — so the result equals a whole-table merge.
    * Touched files, the small untouched files
    * [[Compact.selectSmallSpan]] picks in each directory the batch
    * writes to (so appended slices fold back in) and the batch are merged
    * and written; every other file is carried over by
    * [[graft.io.Sinks.atomicSwapWrite]]'s manifest swap, which
    * [[Compact.recover]] completes or rolls back after a process death.
    * The state schema comes from the footers too, so the range job
    * replaces Spark's schema-inference job one for one; appended rows are
    * written in the stored column order. The batch is evaluated twice
    * (key columns only for the range), so its keys must be deterministic
    * — as a file scan or a `foreachBatch` batch is; a source read over
    * HTTP is fetched twice. The rewrite checks every batch row against
    * the observed range and fails the merge, before anything is swapped
    * in, on a key or partition value outside it.
    *
    * CONTRACT: `partitionCol` must be functionally dependent on `keys`
    * (typically it IS one of them, or a deterministic bucket of one) —
    * a file is touched only if its partition value is one the batch
    * holds, so a key whose stored winner sits under a DIFFERENT
    * partition value would be invisible to the merge and end up
    * duplicated across partitions (and, under `incomingWins = false`
    * replay, an old wave could resurrect a loser the merge never saw).
    * Membership in `keys` (the gate's `event_type` usage) satisfies this
    * trivially; a derived-bucket caller owns the dependence — it is not
    * statically checkable here, and post-dedup batches are one row per
    * key, so a runtime probe could not see a cross-batch violation
    * either.
    */
  def mergeInto(spark: SparkSession, statePath: String, incoming: DataFrame,
                keys: Seq[String], precedence: Seq[Column],
                incomingWins: Boolean = true,
                partitionCol: Option[String] = None): DataFrame = {
    // Spark writes an empty partition string as the default partition,
    // which reads back null: merge the batch as the table will hold it.
    val batch = partitionCol.filter(incoming.schema(_).dataType == StringType)
      .fold(incoming)(pc => incoming.withColumn(pc, when(col(pc) =!= "", col(pc))))
    val schema = mergeFiles(spark, statePath, batch, keys, precedence, incomingWins, partitionCol)
    spark.read.schema(schema).parquet(statePath)
  }

  /** [[mergeInto]]'s rewrite; returns the written schema. */
  private def mergeFiles(spark: SparkSession, statePath: String, incoming: DataFrame,
                         keys: Seq[String], precedence: Seq[Column],
                         incomingWins: Boolean, partitionCol: Option[String]): StructType = {
    val p = new Path(statePath)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    Compact.recover(fs, p)
    val files = if (fs.exists(p)) Compact.listData(fs, p) else Nil
    val partitionBy = partitionCol.toSeq
    if (files.isEmpty) {
      // First run: nothing stored, nothing to compare the batch with.
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], incoming.schema)
      val merged = mergeUpsert(empty, incoming, keys, precedence, incomingWins)
      Sinks.atomicSwapWrite(spark, merged, statePath, partitionBy = partitionBy)
      return merged.schema
    }
    val qp = fs.makeQualified(p)
    partitionCol match {
      case None => require(files.forall(_._1.getParent == qp),
        s"mergeInto: $statePath is partitioned — pass its partitionCol")
      case Some(pc) => require(files.forall { case (f, _) =>
          f.getParent.getParent == qp && f.getParent.getName.startsWith(pc + "=") },
        s"mergeInto: $statePath is not partitioned by $pc alone")
    }
    val keyTypes = keys.map(k => k -> incoming.schema(k).dataType)
    val footers = files.map { case (f, _) => f -> StateFiles.footer(conf, f, keyTypes) }
    val stored = footers.head._2.schema.getOrElse(spark.read.parquet(statePath).schema)
    val schema = partitionCol.fold(stored)(pc =>
      StructType(stored.filterNot(_.name == pc) :+ incoming.schema(pc)))
    // The range job reads only the key columns, so it prunes the batch's
    // scan to them; the rewrite evaluates the batch again in full. Not
    // persisting it measured faster on market_etl (the cache build cost
    // more than the second scan saved).
    val observed = StateFiles.observeRanges(incoming, keyTypes, partitionCol)
    val batch = StateFiles.batchRanges(observed, keyTypes)
    // The directories the batch writes to: a flat table's root, or each
    // partition whose value the batch holds.
    val written = partitionCol.fold((_: Path) => true)(StateFiles.partitionHeld(observed, _))
    val touched = footers.collect {
      case (f, footer) if written(f.getParent) && StateFiles.mayHold(footer, batch, keys) => f
    }.toSet
    // Small untouched files fold back in within their own directory, and
    // only in one the batch writes to: a partition it skips keeps every file.
    val (span, kept) = files.filterNot(f => touched(f._1)).groupBy(_._1.getParent).toSeq
      .map { case (dir, in) =>
        Option.when(written(dir))(Compact.selectSmallSpan(in)).flatten
          .getOrElse((Nil, in.map(_._1)))
      }.unzip match { case (s, k) => (s.flatten, k.flatten) }
    val rewrite = files.map(_._1).filter(touched) ++ span
    if (rewrite.isEmpty && observed.getAs[Long]("rows") == 0) schema // nothing to write
    else {
      val current =
        if (rewrite.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        else spark.read.schema(schema).option("basePath", statePath)
          .parquet(rewrite.map(_.toString): _*)
      val guarded = incoming.where(StateFiles.inObservedRanges(observed, keyTypes, partitionCol))
      val merged = mergeUpsert(current, guarded, keys, precedence, incomingWins)
        .select(schema.fieldNames.toIndexedSeq.map(col): _*)
      Sinks.atomicSwapWrite(spark, merged, statePath, kept, partitionBy)
      merged.schema
    }
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
