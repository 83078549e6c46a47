package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: set up, time one workload for the
  * given seconds, then account for residue. Raw measurements go to
  * `<work>/result.json`; `run.py` turns them into metrics and checks the
  * outputs against the DuckDB reference.
  *
  * Usage: `perfbench.Main <workload> <inputDir> <workDir> <seconds> <trace 0|1> <cpus> <seed>`
  */
object Main {

  /** Engine switches that change what the program does; a run with any
    * of them set would not measure the default program. */
  val SwitchProps = Seq("spark.graft.noWiden", "spark.graft.noLmShare",
    "spark.graft.noPlanCut", "spark.graft.reliableCheckpoint",
    "spark.graft.seedState", "spark.graft.probePlanDir")
  val SwitchEnv = Seq("SPARK_GRAFT_NO_WIDEN", "SPARK_GRAFT_NO_LMSHARE",
    "SPARK_GRAFT_NO_PLANCUT", "SPARK_GRAFT_RELIABLE_CHECKPOINT",
    "SPARK_GRAFT_STREAM_PARTS")

  def main(args: Array[String]): Unit = {
    val Array(workload, input, work, seconds, trace, cpus, seed) = args
    val set = SwitchProps.filter(sys.props.contains) ++ SwitchEnv.filter(sys.env.contains)
    if (set.nonEmpty) {
      System.err.println(s"perfbench: engine switches set (${set.mkString(", ")}); refusing to run")
      sys.exit(3)
    }
    val ctx = new Ctx(workload, input, work, seconds.toDouble, trace == "1",
      cpus.toInt, seed.toLong)
    val result = workload match {
      case "market_etl" => MarketEtl.run(ctx)
      case "ingest_stream" => IngestStream.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    Files.writeString(Paths.get(work, "result.json"), Json.of(result ++ ctx.summary()))
    ctx.spark.stop()
  }
}

/** A timed operation: what it was, when it ran, records it processed,
  * and whether it failed (an exception, never a timing). */
final case class Op(kind: String, startMs: Double, endMs: Double, records: Long,
                    error: Option[String], extra: Map[String, Any] = Map.empty) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** Per-run context: the session, the work directory, and the always-on
  * measurements every workload shares (timed ops, written bytes, heap). */
final class Ctx(val workload: String, val input: String, val work: String,
                val seconds: Double, val trace: Boolean, val cpus: Int, val seed: Long) {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  val heap = new HeapPeak
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName(s"perfbench-$workload")
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", dir("spark-local"))
    .config("spark.sql.warehouse.dir", dir("warehouse"))
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  val bootSeconds: Double = (nowMs - jvmStartMs) / 1000.0
  val written = new WrittenBytes
  spark.sparkContext.addSparkListener(written)
  val tracer = new Tracer(spark, trace)

  val ops = ArrayBuffer.empty[Op]
  val reads = ArrayBuffer.empty[Map[String, Any]]
  val setup = scala.collection.mutable.LinkedHashMap[String, Any]("boot_s" -> bootSeconds)
  var timedStartMs = 0.0
  var timedEndMs = 0.0

  def nowMs: Double = Clock.nowMs

  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p)
    p.toString
  }

  /** Time `body` as an op; an exception is recorded as the op's failure. */
  def op(kind: String, records: => Long)(body: => Map[String, Any]): Op = {
    val t0 = nowMs
    val (err, extra) =
      try (None, tracer.op(kind)(body))
      catch { case e: Throwable => (Some(Ctx.describe(e)), Map.empty[String, Any]) }
    val o = Op(kind, t0, nowMs, if (err.isEmpty) records else 0L, err, extra)
    if (tracer.active) tracer.record("io.files_written", Residue.filesSince(work, t0))
    heap.sampleLive()
    ops += o
    o
  }

  /** Time one read query; its collected rows go to the reference check. */
  def read(kind: String, param: Map[String, Any])(body: => Seq[Seq[Any]]): Unit = {
    val t0 = nowMs
    val (rows, err) =
      try (tracer.op("read." + kind)(body), None)
      catch { case e: Throwable => (Seq.empty, Some(Ctx.describe(e))) }
    val ms = nowMs - t0
    reads += Map("kind" -> kind, "ms" -> ms, "param" -> param, "rows" -> rows,
      "error" -> err.orNull)
  }

  def timed[T](body: => T): T = {
    tracer.flush()
    written.reset()
    timedStartMs = nowMs
    try body finally {
      timedEndMs = nowMs
      tracer.flush()
    }
  }

  def summary(): Map[String, Any] = {
    tracer.flush()
    Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "trace" -> trace, "seconds" -> seconds,
      "setup" -> setup.toMap,
      "timed_s" -> (timedEndMs - timedStartMs) / 1000.0,
      "ops" -> ops.map(o => Map("kind" -> o.kind, "start_ms" -> (o.startMs - timedStartMs),
        "s" -> o.seconds, "records" -> o.records, "error" -> o.error.orNull) ++ o.extra).toSeq,
      "reads" -> reads.toSeq,
      "written_bytes" -> written.bytes,
      "peak_heap_mb" -> heap.peakMb,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version,
      "residue" -> Residue.count(spark, work),
      "layers" -> tracer.layerMetrics(ops.count(o =>
        o.kind == Ctx.ingestKind(workload) && o.extra.get("traced").contains(true))),
      "spans" -> tracer.spanRecords)
  }
}

/** Wall-clock milliseconds since the epoch at nanosecond resolution. */
object Clock {
  private val offsetMs = System.nanoTime() / 1e6 - System.currentTimeMillis()
  def nowMs: Double = System.nanoTime() / 1e6 - offsetMs
}

object Ctx {
  def describe(e: Throwable): String =
    (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(500)
  /** The op kind whose records count as ingested input. */
  def ingestKind(workload: String): String =
    if (workload == "market_etl") "batch" else "drain"
}

/** Sums Spark's output metrics (bytes written to storage) across tasks. */
final class WrittenBytes extends SparkListener {
  @volatile var bytes = 0L
  def reset(): Unit = bytes = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) synchronized {
      bytes += e.taskMetrics.outputMetrics.bytesWritten
    }
}

/** The live heap: after the full collection that ends every op, the
  * largest heap in use seen so far. */
final class HeapPeak {
  @volatile private var live = 0L
  def sampleLive(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { if (used > live) live = used }
  }
  def peakMb: Double = live / 1048576.0
}

/** What a run leaves behind, counted from outside the engine. */
object Residue {
  def bytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)

  private def leftoverDirs(f: File): Int =
    Option(f.listFiles()).map(_.filter(_.isDirectory).map { d =>
      val n = d.getName
      (if (n.endsWith("_tmp") || n.endsWith("_old") || n.endsWith("_staging")) 1 else 0) +
        leftoverDirs(d)
    }.sum).getOrElse(0)

  /** Data files under `work` modified since `sinceMs`: the engine's
    * storage writes, without the harness's own scratch, inputs and probes. */
  def filesSince(work: String, sinceMs: Double): Double = {
    val skip = Set("tmp", "spark-local", "warehouse", "src", "landing", "shadow", "probe")
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.lastModified() >= sinceMs.toLong) 1 else 0
    Option(new File(work).listFiles()).map(_.filterNot(f => skip(f.getName)).map(walk).sum)
      .getOrElse(0).toDouble
  }

  def count(spark: SparkSession, work: String): Map[String, Any] = {
    val sc = spark.sparkContext
    Map(
      "rdds_left" -> sc.getPersistentRDDs.size,
      "cached_blocks_left" -> sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum,
      "active_streams" -> spark.streams.active.length,
      "leftover_dirs" -> leftoverDirs(new File(work)),
      "checkpoint_bytes_left" -> sc.getCheckpointDir.map(d =>
        bytes(new File(new java.net.URI(d).getPath))).getOrElse(0L))
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def of(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => of(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => of(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.lang.Number => n.toString
    case b: BigDecimal => quote(b.bigDecimal.toPlainString)
    case b: java.math.BigDecimal => quote(b.toPlainString)
    case d: java.sql.Date => quote(d.toString)
    case t: java.sql.Timestamp => quote(t.toInstant.toString)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + of(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(of).mkString("[", ",", "]")
    case a: Array[_] => of(a.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** Small helpers shared by the workloads. */
object Util {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  def fileBytes(path: String): Long = Residue.bytes(new File(path))

  /** Lines in a file, or in every file under a directory. */
  def lineCount(path: String): Long = {
    val walk = Files.walk(Paths.get(path))
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      val lines = Files.lines(f)
      try lines.count() finally lines.close()
    }.sum
    finally walk.close()
  }

  def listFiles(dir: String): Seq[Path] =
    Option(new File(dir).listFiles()).map(_.toSeq.map(_.toPath).sortBy(_.getFileName.toString))
      .getOrElse(Seq.empty)

  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
}
