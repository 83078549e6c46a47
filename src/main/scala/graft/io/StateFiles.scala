package graft.io

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Engine-owned Parquet state files: the one writer every state write
  * goes through, and what a state file's footer says about its keys.
  *
  * Every state file is zstd-compressed: on the market state it writes
  * about a quarter fewer bytes than Spark's snappy default (SCALE.md
  * "Merge writes proportional to the batch"). `ConfHygieneSpec` fails on
  * a Parquet write under `graft/ops`, `graft/io` or `graft/streaming`
  * that does not come through [[write]].
  */
object StateFiles {

  /** Codec of every engine-owned state file. */
  val Codec = "zstd"

  /** Writes `df` to `path` as zstd Parquet. Without `partitionBy` the
    * directory is replaced whole; with it only the partitions `df` holds
    * are (dynamic partition overwrite), which is what lets a replayed
    * wave or merge replace exactly its own partitions.
    */
  def write(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).option("compression", Codec)
    if (partitionBy.isEmpty) w.parquet(path)
    else w.option("partitionOverwriteMode", "dynamic").partitionBy(partitionBy: _*).parquet(path)
  }

  /** Writes `df` as wave `wave` of a `wave=N`-partitioned state table:
    * an at-least-once retry of the wave replaces its own partition
    * instead of appending a second copy.
    */
  def writeWave(df: DataFrame, path: String, wave: Long): Unit =
    write(df.withColumn("wave", lit(wave.toInt)), path, Seq("wave"))

  /** One key column's values in a file or a batch: the smallest and
    * largest non-null value (None when there is none) in the form
    * [[comparable]] gives, and whether nulls may occur.
    */
  final case class KeyRange(min: Option[Any], max: Option[Any], hasNulls: Boolean)

  /** A state file's footer: the Spark schema it was written with, and
    * the file's range of each key column whose statistics can be
    * compared (a column missing from `ranges` has none).
    */
  final case class Footer(schema: Option[StructType], ranges: Map[String, KeyRange])

  /** The comparable form of a key column of type `dt` — Spark's order on
    * it, matching the order of Parquet's statistics for its physical
    * type — or None for a type whose ranges are not compared (a file
    * then always counts as holding the batch's keys).
    */
  private def comparable(c: Column, dt: DataType): Option[Column] = dt match {
    case StringType => Some(c)
    case DateType => Some(unix_date(c).cast(LongType))
    case ByteType | ShortType | IntegerType | LongType => Some(c.cast(LongType))
    case _ => None
  }

  /** A value of a [[comparable]] column as [[KeyRange]] holds it. */
  private def rangeValue(v: Any): Any = v match {
    case s: String => s.getBytes(UTF_8)
    case n: Long => n
  }

  private def statValue(dt: DataType, v: Any): Option[Any] = (dt, v) match {
    case (StringType, b: Binary) => Some(b.getBytes)
    case (ByteType | ShortType | IntegerType | DateType, n: java.lang.Integer) => Some(n.longValue)
    case (LongType, n: java.lang.Long) => Some(n.longValue)
    case _ => None
  }

  private def compare(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.compareUnsigned(x, y)
    case _ => throw new IllegalArgumentException(s"incomparable key values $a and $b")
  }

  private def union(a: KeyRange, b: KeyRange): KeyRange = {
    def pick(x: Option[Any], y: Option[Any], keepFirst: Int => Boolean) = (x, y) match {
      case (Some(p), Some(q)) => Some(if (keepFirst(compare(p, q))) p else q)
      case _ => x.orElse(y)
    }
    KeyRange(pick(a.min, b.min, _ <= 0), pick(a.max, b.max, _ >= 0), a.hasNulls || b.hasNulls)
  }

  /** Whether a row of `batch` can equal a row of `file` on this column.
    * Null keys group together in the merge window, so nulls on both
    * sides overlap; an unknown null count counts as nulls.
    */
  private def mayOverlap(file: KeyRange, batch: KeyRange): Boolean =
    (file.hasNulls && batch.hasNulls) ||
      (for (fl <- file.min; fh <- file.max; bl <- batch.min; bh <- batch.max)
        yield compare(bl, fh) <= 0 && compare(fl, bh) <= 0).getOrElse(false)

  /** Whether `file` may hold a row whose `keys` equal a row of a batch
    * with key ranges `batch`: true unless some key column's ranges prove
    * them disjoint. A column without file statistics or without a batch
    * range proves nothing, so a file with no key statistics always may.
    */
  def mayHold(file: Footer, batch: Map[String, KeyRange], keys: Seq[String]): Boolean =
    keys.forall(k =>
      (for (f <- file.ranges.get(k); b <- batch.get(k)) yield mayOverlap(f, b)).getOrElse(true))

  /** Reads the footer of Parquet file `file` on the driver: its Spark
    * schema (from the metadata Spark's writer stores) and the file's
    * range of each of `keys` over all row groups. A key column drops out
    * of `ranges` when any non-empty row group lacks its statistics, or
    * when its type has no [[comparable]] form.
    */
  def footer(conf: Configuration, file: Path, keys: Seq[(String, DataType)]): Footer = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val meta = try reader.getFooter finally reader.close()
    val schema = Option(meta.getFileMetaData.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
    val blocks = meta.getBlocks.asScala.toSeq.filter(_.getRowCount > 0)
    def chunkRange(dt: DataType, s: Statistics[_]): Option[KeyRange] =
      if (s == null || s.isEmpty) None
      else {
        val nulls = !s.isNumNullsSet || s.getNumNulls > 0
        if (!s.hasNonNullValue) Some(KeyRange(None, None, nulls))
        else for (lo <- statValue(dt, s.genericGetMin); hi <- statValue(dt, s.genericGetMax))
          yield KeyRange(Some(lo), Some(hi), nulls)
      }
    val ranges = keys.flatMap { case (name, dt) =>
      val perBlock = blocks.map(_.getColumns.asScala
        .find(_.getPath.toArray.sameElements(Array(name)))
        .flatMap(c => chunkRange(dt, c.getStatistics)))
      if (perBlock.forall(_.isDefined))
        Some(name -> perBlock.flatten.foldLeft(KeyRange(None, None, hasNulls = false))(union))
      else None
    }
    Footer(schema, ranges.toMap)
  }

  /** Runs `batch`'s `keys` columns through one job and returns the row of
    * its key ranges that [[batchRanges]] reads, plus its row count
    * (`rows`) and, with `partitionCol`, the partition values that
    * [[partitionHeld]] reads. The ranges are aggregated in the scan's
    * tasks (`observe`) and read from the plan's metrics, so the job is a
    * plain Spark job, not a SQL execution: the driver builds no plan
    * description or graph for it, and Spark's SQL status store retains
    * none.
    */
  def observeRanges(batch: DataFrame, keys: Seq[(String, DataType)],
                    partitionCol: Option[String] = None): Row = {
    // A partition value as Spark's writer names its directory: cast to
    // a string in the session time zone (null is the default partition).
    val parts = partitionCol.toSeq.flatMap(pc =>
      Seq(collect_set(col(pc).cast(StringType)).as("parts"), max(col(pc).isNull).as("partNulls")))
    val qe = batch.select((keys.map(_._1) ++ partitionCol).distinct.map(col): _*)
      .observe("graft_key_ranges", count(lit(1)).as("rows"), rangeColumns(keys) ++ parts: _*)
      .queryExecution
    qe.toRdd.count()
    qe.observedMetrics("graft_key_ranges")
  }

  /** Whether the batch observed in `row` holds a row of a hive partition
    * directory `<partitionCol>=<value>` (the value path-escaped as Spark
    * writes it; the default partition holds the nulls).
    */
  def partitionHeld(row: Row, partitionCol: String): Path => Boolean = {
    val held = inPartitions(row)
    dir => {
      val v = ExternalCatalogUtils.unescapePathName(dir.getName.stripPrefix(partitionCol + "="))
      held(if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null else v)
    }
  }

  /** Membership in the partition values observed in `row`, null too. */
  private def inPartitions(row: Row): String => Boolean = {
    val parts = row.getAs[Seq[String]]("parts").toSet
    val nulls = Option(row.getAs[Any]("partNulls")).contains(true)
    v => if (v == null) nulls else parts(v)
  }

  /** The batch-side [[KeyRange]]s: `row` holds, for the i-th entry of
    * `keys` with a [[comparable]] form, the columns `lo<i>`, `hi<i>` and
    * `null<i>` that [[rangeColumns]] computes.
    */
  def batchRanges(row: Row, keys: Seq[(String, DataType)]): Map[String, KeyRange] =
    keys.zipWithIndex.collect { case ((name, dt), i) if comparable(col(name), dt).isDefined =>
      def opt(f: String) = Option(row.getAs[Any](f)).map(rangeValue)
      name -> KeyRange(opt(s"lo$i"), opt(s"hi$i"), Option(row.getAs[Any](s"null$i")).contains(true))
    }.toMap

  /** The rewrite's guard on the batch: a filter condition that holds for
    * a row whose `keys` lie inside the ranges observed in `row` (as
    * [[batchRanges]] reads it), and whose `partitionCol` value is one the
    * observation saw, and raises an error for any other row, also for a
    * null key where the observation saw none. The touched
    * files were chosen from those ranges, so a batch that evaluates to
    * other keys the second time fails the merge instead of holding a key
    * twice (its stored row sits in a carried-over file). The ranges sit
    * in functions, not literals: Spark inlines long literals into the
    * generated code, so each batch's bounds would compile the whole
    * batch-side stage anew.
    */
  def inObservedRanges(row: Row, keys: Seq[(String, DataType)],
                       partitionCol: Option[String] = None): Column = {
    val ranges = batchRanges(row, keys)
    val inPart = partitionCol.map(pc => udf(inPartitions(row)).apply(col(pc).cast(StringType)))
    val inside = keys.flatMap { case (name, dt) =>
      for (c <- comparable(col(name), dt); r <- ranges.get(name)) yield {
        def holds(v: Any): Boolean =
          if (v == null) r.hasNulls
          else (for (lo <- r.min; hi <- r.max) yield {
            val x = rangeValue(v)
            compare(lo, x) <= 0 && compare(x, hi) <= 0
          }).getOrElse(false)
        if (dt == StringType) udf((v: String) => holds(v)).apply(c)
        else udf((v: java.lang.Long) => holds(v)).apply(c)
      }
    }
    val checks = inside ++ inPart
    if (checks.isEmpty) lit(true)
    else when(!checks.reduce(_ && _), raise_error(lit(
      "mergeInto: a batch key lies outside the key range observed on the batch's " +
        "first evaluation; the batch must evaluate to the same keys each time")))
      .otherwise(lit(true))
  }

  /** Aggregates whose result row [[batchRanges]] reads. */
  private def rangeColumns(keys: Seq[(String, DataType)]): Seq[Column] =
    keys.zipWithIndex.flatMap { case ((name, dt), i) =>
      comparable(col(name), dt).toSeq.flatMap(c =>
        Seq(min(c).as(s"lo$i"), max(c).as(s"hi$i"), max(col(name).isNull).as(s"null$i")))
    }
}
