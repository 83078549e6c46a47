package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a layer. Spans of one op share `op`; `probe`
  * marks a span the traced run adds only to split a layer's time out of a
  * composed call, whose Spark work is kept out of the per-op Spark layers. */
final case class SpanRec(id: Long, op: Long, parent: Long, layer: String, name: String,
                         probe: Boolean, startMs: Double, var endMs: Double)

/** Spark's own reports for the work one span caused. */
final class Agg {
  var jobs, stages, tasks = 0L
  var schedDelayMs, runMs, gcMs, fetchWaitMs = 0L
  var cpuNs, shuffleWrite, shuffleRead, spill, outBytes, inBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var batches = 0L
  val stream = scala.collection.mutable.Map.empty[String, Long]
  var stateRows, stateBytes, stateCommitMs = 0L
  val stageTasks = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
}

/** Spans recorded around every call the benchmark makes into a layer,
  * with Spark's reports attached: a job group per span (so jobs, stages
  * and tasks attribute to the call that triggered them), the
  * QueryExecutionListener's Catalyst phases, SparkListener task metrics
  * and StreamingQueryListener progress. Spans stay in memory until the
  * run ends. A disabled tracer only runs the bodies.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[SpanRec]
  private var stack = List.empty[SpanRec]
  private var nextId = 1L
  private var opId = 0L
  private var attached = false
  private val runToSpan = TrieMap.empty[String, Long]
  private val stageToSpan = TrieMap.empty[Int, Long]
  private val aggs = TrieMap.empty[Long, Agg]
  private val recorded = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private val GroupPrefix = "perfbench-span-"

  private def now: Double = Clock.nowMs
  private def agg(span: Long): Agg = aggs.getOrElseUpdate(span, new Agg)

  /** Whether the current op is traced (the traced run alternates). */
  def active: Boolean = attached

  /** Attach the listeners; spans are recorded until [[detach]]. */
  def attach(): Unit = if (enabled && !attached) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Drain the listener bus, then remove the listeners. */
  def detach(): Unit = if (attached) {
    flush()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def flush(): Unit = org.apache.spark.PerfbenchBus.flush(sc)

  def op[T](name: String)(body: => T): T =
    if (!attached) body else { opId += 1; span("op", name)(body) }

  def span[T](layer: String, name: String)(body: => T): T = open(layer, name, probe = false)(body)

  /** A span that only exists in the traced run, to split a layer out. */
  def probe[T](layer: String, name: String)(body: => T): T =
    if (!attached) body else open(layer, name, probe = true)(body)

  private def open[T](layer: String, name: String, probe: Boolean)(body: => T): T =
    if (!attached) body else {
      val parent = stack.headOption
      val s = SpanRec(nextId, opId, parent.map(_.id).getOrElse(0L), layer, name,
        probe || parent.exists(_.probe), now, Double.NaN)
      nextId += 1
      spans.synchronized(spans += s)
      stack = s :: stack
      sc.setJobGroup(GroupPrefix + s.id, s"$layer.$name", interruptOnCancel = false)
      try body
      finally {
        s.endMs = now
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(GroupPrefix + p.id, s"${p.layer}.${p.name}", false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Bind a started streaming query's jobs and progress to the open span. */
  def started(q: StreamingQuery): StreamingQuery = {
    stack.headOption.foreach(s => runToSpan.put(q.runId.toString, s.id))
    q
  }

  /** A count or ratio measured at a layer boundary; reported as its mean. */
  def record(key: String, v: Double): Unit =
    if (attached) recorded.getOrElseUpdate(key, ArrayBuffer.empty) += v

  private def innermost(tMs: Double): Option[Long] = spans.synchronized {
    spans.filter(s => s.startMs <= tMs && (s.endMs.isNaN || tMs <= s.endMs))
      .sortBy(-_.startMs).headOption.map(_.id)
  }

  private def spanForJob(props: java.util.Properties, timeMs: Double): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
      case Some(g) if g.startsWith(GroupPrefix) => g.stripPrefix(GroupPrefix).toLongOption
      case Some(g) if runToSpan.contains(g) => runToSpan.get(g)
      case _ => innermost(timeMs)
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanForJob(e.properties, e.time.toDouble).foreach { id =>
        agg(id).synchronized(agg(id).jobs += 1)
        e.stageIds.foreach(st => stageToSpan.put(st, id))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageToSpan.get(e.stageInfo.stageId).foreach(id => agg(id).synchronized(agg(id).stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (id <- stageToSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val a = agg(id)
        val info = e.taskInfo
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.outBytes += m.outputMetrics.bytesWritten
          a.inBytes += m.inputMetrics.bytesRead
          a.stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += info.duration
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val at = ph.get("planning").orElse(ph.get("analysis")).map(_.endTimeMs.toDouble)
      for (t <- at; id <- innermost(t)) {
        val a = agg(id)
        a.synchronized {
          a.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
          a.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
          a.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      runToSpan.get(p.runId.toString).foreach { id =>
        val a = agg(id)
        a.synchronized {
          a.batches += 1
          p.durationMs.asScala.foreach { case (k, v) =>
            a.stream(k) = a.stream.getOrElse(k, 0L) + v.longValue }
          p.stateOperators.foreach { so =>
            a.stateRows = math.max(a.stateRows, so.numRowsTotal)
            a.stateBytes = math.max(a.stateBytes, so.memoryUsedBytes)
            a.stateCommitMs += so.commitTimeMs
          }
        }
      }
    }
  }

  /** Every per-layer metric of the traced ops; `ops` is the number of
    * traced ingest ops the per-op figures divide by. */
  def layerMetrics(ops: Int): Map[String, Double] = if (!enabled) Map.empty else {
    val done = spans.synchronized(spans.filter(!_.endMs.isNaN).toSeq)
    val byParent = done.groupBy(_.parent)
    val n = math.max(1, ops).toDouble
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // Mean span duration per layer call, e.g. text.lm_s.
    done.filter(s => s.layer != "op").groupBy(s => s"${s.layer}.${s.name}_s").foreach {
      case (k, ss) => out(k) = ss.map(s => s.endMs - s.startMs).sum / ss.size / 1000.0
    }
    // Self time per layer and traced ingest op: span time not covered by children.
    def self(s: SpanRec): Double = {
      val kids = byParent.getOrElse(s.id, Seq.empty).map(k => (k.startMs, k.endMs)).sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      kids.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      (s.endMs - s.startMs) - covered
    }
    done.filter(_.layer != "op").groupBy(_.layer).foreach { case (layer, ss) =>
      out(s"self.${layer}_s") = ss.map(self).sum / n / 1000.0
    }
    recorded.foreach { case (k, vs) => out(k) = vs.sum / vs.size }
    // Spark's layers over the work that is not a probe.
    val real = done.filter(!_.probe).map(_.id).toSet
    val as = aggs.collect { case (id, a) if real(id) => a }.toSeq
    def sum(f: Agg => Double): Double = as.map(a => a.synchronized(f(a))).sum
    // Wall time of the traced ops without their probes.
    val wallMs = done.filter(s => s.layer == "op" && s.parent == 0L).map { s =>
      (s.endMs - s.startMs) -
        byParent.getOrElse(s.id, Seq.empty).filter(_.probe).map(k => k.endMs - k.startMs).sum
    }.sum
    out("catalyst.analysis_ms") = sum(_.analysisMs) / n
    out("catalyst.optimization_ms") = sum(_.optimizationMs) / n
    out("catalyst.planning_ms") = sum(_.planningMs) / n
    out("spark.jobs") = sum(_.jobs) / n
    out("spark.stages") = sum(_.stages) / n
    out("spark.tasks") = sum(_.tasks) / n
    out("spark.sched_delay_ms") = sum(_.schedDelayMs) / n
    out("exec.run_ms") = sum(_.runMs) / n
    out("exec.cpu_ms") = sum(_.cpuNs) / 1e6 / n
    out("exec.gc_ms") = sum(_.gcMs) / n
    out("exec.busy_ratio") =
      if (wallMs > 0) sum(_.runMs) / (wallMs * sc.defaultParallelism) else 0.0
    out("shuffle.write_bytes") = sum(_.shuffleWrite) / n
    out("shuffle.read_bytes") = sum(_.shuffleRead) / n
    out("shuffle.fetch_wait_ms") = sum(_.fetchWaitMs) / n
    out("shuffle.spill_bytes") = sum(_.spill) / n
    val skews = as.flatMap(a => a.synchronized(a.stageTasks.values.toSeq.map(_.toSeq)))
      .filter(_.size >= 2).map { ts =>
        val med = Util.median(ts.map(_.toDouble))
        if (med > 0) ts.max / med else 1.0
      }
    out("shuffle.task_skew") = if (skews.isEmpty) 0.0 else skews.sum / skews.size
    out("io.bytes_written") = sum(_.outBytes) / n
    out("io.scan_bytes") = sum(_.inBytes) / n
    val batches = sum(_.batches)
    def perBatch(k: String): Double =
      if (batches > 0) sum(a => a.stream.getOrElse(k, 0L).toDouble) / batches else 0.0
    out("streaming.add_batch_ms") = perBatch("addBatch")
    out("streaming.query_planning_ms") = perBatch("queryPlanning")
    out("streaming.wal_commit_ms") = perBatch("walCommit")
    out("streaming.commit_offsets_ms") = perBatch("commitOffsets")
    out("streaming.get_batch_ms") = perBatch("getBatch")
    out("streaming.state_rows") = if (as.isEmpty) 0.0 else as.map(_.stateRows).max.toDouble
    out("streaming.state_bytes") = if (as.isEmpty) 0.0 else as.map(_.stateBytes).max.toDouble
    out("streaming.state_commit_ms") =
      if (batches > 0) sum(_.stateCommitMs) / batches else 0.0
    out.toMap
  }

  def spanRecords: Seq[Map[String, Any]] = spans.synchronized(spans.toSeq).map(s =>
    Map("id" -> s.id, "op" -> s.op, "parent" -> s.parent, "layer" -> s.layer,
      "name" -> s.name, "probe" -> s.probe, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
}
