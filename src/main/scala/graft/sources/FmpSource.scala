package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.model.Schemas

/** DataSourceV2 implementation of the reference's per-symbol REST extract
  * (reference extract.py:69-95: one `GET {endpoint}/{symbol}` per ticker,
  * JSON records back) — the custom-source tier of SURVEY §2.1 S1, built
  * on the PUBLIC connector API: `TableProvider` -> `ScanBuilder` ->
  * `Batch` -> `PartitionReader`.
  *
  * Scale shape: the symbols left after pruning are PACKED into
  * `min(#symbols, defaultParallelism)` input partitions — contiguous
  * groups in the `symbols` option's order — and each task walks its
  * group one fetch at a time. A task per symbol would pay one scheduling
  * round per fetch for a few rows each; a task per core keeps every core
  * fetching with no driver bottleneck. Retry granularity is therefore
  * per request inside the task (HTTP backoff below) and per GROUP above
  * it: Spark's task retry re-fetches the failed task's whole group.
  * Pushdown is real: required-column pruning reaches the record parser
  * (unrequested fields are never materialized), and `symbol = 'X'` /
  * `symbol IN (...)` predicates drop symbols before packing (the fetch
  * for a filtered-out symbol never happens — the source-level twin of
  * parquet partition pruning).
  *
  * Transport is pluggable and BOTH transports are real:
  *
  *  - `root` option — file-backed: records for symbol S are the JSONL
  *    part files under `{root}/{endpoint}/sym_part=S/`, exactly what
  *    `df.write.partitionBy("sym_part").json(...)` stages.
  *  - `url` option — HTTP: one `GET {url}/{endpoint}/{symbol}` per
  *    symbol from the executor that owns its group (the reference's
  *    exact shape, extract.py:69-95), expecting a JSON array back; empty
  *    array = symbol with no data (extract.py:88-92); 5xx responses
  *    retried with backoff before failing the task (and Spark's task
  *    retry re-fetches the failed group on top). Exercised against a
  *    loopback [[LoopbackApiServer]] in-container (no egress), and
  *    pointable at any real endpoint outside.
  *
  * Every other layer (planning, pruning, parsing, row building) is
  * transport-independent.
  *
  * Usage: `spark.read.format("graft.sources.FmpSource")
  *   .option("root", dir).option("endpoint", "income-statement")
  *   .option("symbols", "TSLA,RIVN").option("dataset", "income").load()`
  * — or `.option("url", "http://host:port/api")` in place of `root`.
  */
class FmpSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FmpSource.schemaFor(options.getOrDefault("dataset", "income"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new FmpTable(schema, properties.asScala.toMap)
}

object FmpSource {
  def schemaFor(dataset: String): StructType = dataset match {
    case "income"    => Schemas.fmpIncome
    case "estimates" => Schemas.fmpEstimates
    case other => throw new IllegalArgumentException(
      s"FmpSource dataset must be income|estimates, got $other")
  }
}

final class FmpTable(tableSchema: StructType, props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"fmp(${props.getOrElse("endpoint", "?")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FmpScanBuilder(tableSchema, props ++ options.asScala)
}

final class FmpScanBuilder(fullSchema: StructType, opts: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var symbolKeep: Option[Set[String]] = None
  private var consumed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sym, residual) = filters.partition {
      case EqualTo("symbol", _: String) => true
      case In("symbol", vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    sym.foreach { f =>
      val vals = f match {
        case EqualTo(_, v: String) => Set(v)
        case In(_, vs) => vs.map(_.asInstanceOf[String]).toSet
        case _ => Set.empty[String]
      }
      symbolKeep = Some(symbolKeep.fold(vals)(_ intersect vals))
    }
    consumed = sym
    // Symbol predicates are FULLY satisfied by partition pruning; all
    // other predicates stay residual for Spark to evaluate post-scan.
    residual
  }
  override def pushedFilters(): Array[Filter] = consumed

  override def build(): Scan = new FmpScan(required, opts, symbolKeep)
}

final class FmpScan(requiredSchema: StructType, opts: Map[String, String],
                    symbolKeep: Option[Set[String]]) extends Scan with Batch {
  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"FmpScan(endpoint=${opts.getOrElse("endpoint", "?")}, " +
      s"symbols=${symbolKeep.map(_.mkString("|")).getOrElse("ALL")}, " +
      s"columns=${requiredSchema.fieldNames.mkString(",")})"

  override def planInputPartitions(): Array[InputPartition] = {
    val endpoint = opts.getOrElse("endpoint",
      throw new IllegalArgumentException("FmpSource requires option 'endpoint'"))
    val symbols = opts.getOrElse("symbols",
      throw new IllegalArgumentException("FmpSource requires option 'symbols'"))
      .split(",").map(_.trim).filter(_.nonEmpty)
    val locate: String => String = (opts.get("url"), opts.get("root")) match {
      case (Some(u), _) => s => s"${u.stripSuffix("/")}/$endpoint/$s"
      case (None, Some(r)) => s => s"$r/$endpoint/sym_part=$s"
      case (None, None) =>
        throw new IllegalArgumentException("FmpSource requires option 'root' or 'url'")
    }
    val kept = symbols.distinct.filter(s => symbolKeep.forall(_.contains(s)))
      .map(s => FmpFetch(s, locate(s))).toSeq
    // min(#symbols, cores) contiguous groups, sizes differing by at most one.
    val n = math.min(kept.size, SparkSession.active.sparkContext.defaultParallelism)
    Array.tabulate[InputPartition](n)(i =>
      FmpPartition(kept.slice(i * kept.size / n, (i + 1) * kept.size / n)))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new FmpReaderFactory(requiredSchema.fieldNames)
}

/** One symbol's fetch: the symbol and where its records live. */
final case class FmpFetch(symbol: String, location: String)

/** One read task: a contiguous group of fetches, read in order. */
final case class FmpPartition(fetches: Seq[FmpFetch]) extends InputPartition

final class FmpReaderFactory(fields: Array[String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FmpPartitionReader(partition.asInstanceOf[FmpPartition], fields)
}

final class FmpPartitionReader(partition: FmpPartition, fields: Array[String])
    extends PartitionReader[InternalRow] {
  private val mapper = new ObjectMapper()
  private val records = partition.fetches.iterator
    .flatMap(f => FmpPartitionReader.records(f.location, mapper))
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (!records.hasNext) return false
    val node = records.next()
    val values = fields.map { f =>
      val v = node.get(f)
      if (v == null || v.isNull) null else UTF8String.fromString(v.asText())
    }
    current = new GenericInternalRow(values.asInstanceOf[Array[Any]])
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

object FmpPartitionReader {
  import com.fasterxml.jackson.databind.JsonNode

  /** Records for one symbol, by transport (scheme-dispatched on the
    * planned location). */
  private[sources] def records(location: String,
                               mapper: ObjectMapper): Iterator[JsonNode] =
    if (location.startsWith("http://") || location.startsWith("https://"))
      httpRecords(location, mapper)
    else fileRecords(location, mapper)

  /** File transport: JSONL lines of every part file under the symbol's
    * staging directory, filename order. A missing directory is an empty
    * response (the reference treats a symbol with no data the same way,
    * extract.py:88-92). Each part file is read whole and closed before
    * the next opens, so a task holds at most one descriptor however many
    * symbols its group spans.
    */
  private def fileRecords(dir: String, mapper: ObjectMapper): Iterator[JsonNode] = {
    val d = new java.io.File(dir)
    if (!d.isDirectory) Iterator.empty
    else d.listFiles().filter(f => f.isFile && f.getName.startsWith("part-"))
      .sortBy(_.getName).iterator
      .flatMap(f => scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(
        _.getLines().toVector))
      .map(_.trim).filter(_.nonEmpty)
      .map(mapper.readTree)
  }

  /** The retryable status set (reference extract.py:52-56): 429 — the
    * status a rate-limited financial API actually returns — plus the
    * transient 5xx family. Other 4xx fail immediately; retrying a 404
    * would just hammer the endpoint.
    */
  private val RetryableStatuses = Set(429, 500, 502, 503, 504)

  /** HTTP transport: ONE GET per symbol returning a JSON array
    * (reference extract.py:69-95), parsed eagerly — the response is one
    * symbol's bounded record list, never the corpus. Statuses in
    * [[RetryableStatuses]] are retried with bounded linear backoff; a
    * 429's `Retry-After: <seconds>` header, when present and within the
    * cap, overrides the backoff (an HTTP-date Retry-After is ignored —
    * the linear backoff applies). A task-level failure after the
    * retries still gets Spark's own task retry, which re-fetches the
    * task's whole symbol group.
    */
  private def httpRecords(url: String, mapper: ObjectMapper,
                          maxAttempts: Int = 3): Iterator[JsonNode] = {
    val maxRetryAfterMs = 10000L
    var attempt = 0
    while (true) {
      attempt += 1
      val conn = java.net.URI.create(url).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("GET")
      conn.setConnectTimeout(5000)
      conn.setReadTimeout(30000)
      val code = conn.getResponseCode
      if (code == 200) {
        val body = new String(conn.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        val root = mapper.readTree(body)
        if (!root.isArray)
          throw new java.io.IOException(s"GET $url: expected a JSON array body")
        return scala.jdk.CollectionConverters.IteratorHasAsScala(root.elements()).asScala
      }
      // Clamp into [0, cap] BEFORE the seconds->millis multiply: a
      // negative header ("Retry-After: -1") would make Thread.sleep
      // throw, and a huge one would overflow sec * 1000.
      val retryAfterMs = Option(conn.getHeaderField("Retry-After"))
        .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
        .map(sec => math.max(0L, math.min(sec, maxRetryAfterMs / 1000L)) * 1000L)
      Option(conn.getErrorStream).foreach(_.close())
      if (!RetryableStatuses.contains(code) || attempt >= maxAttempts)
        throw new java.io.IOException(
          s"GET $url failed with HTTP $code after $attempt attempt(s)")
      Thread.sleep(retryAfterMs.getOrElse(50L * attempt))
    }
    Iterator.empty // unreachable; satisfies the type checker
  }
}
