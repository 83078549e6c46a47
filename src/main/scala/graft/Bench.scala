package graft

/** Benchmark main: runs every contract query against
  * `SPARK_GRAFT_SF_DIR`, forcing full execution through the `noop` sink
  * (unlike `count()`, noop cannot let Catalyst prune the projections being
  * measured), and prints one JSON line for the driver.
  */
object Bench {
  /** Re-measures one query in a fresh child JVM (same classpath and JVM
    * flags as this process — `run / fork := true` makes both real) and
    * returns its median, or `fallback` if the child fails. The child runs
    * `SPARK_GRAFT_ONLY=name` with forking disabled, writes its artifact
    * to a temp file, and this parses the single queries-map entry back.
    */
  /** Pulls one query's seconds out of a bench artifact line. The queries
    * map is the only place a bare `"name":number` pair appears (the
    * "query" per-line records quote the name as a VALUE, `"query":"name"`,
    * so the regex's `:[0-9]` tail cannot match them).
    */
  private[graft] def parseArtifactEntry(line: String, name: String): Option[Double] = {
    val entry = ("\"" + java.util.regex.Pattern.quote(name) + "\":([0-9.]+)").r
    entry.findFirstMatchIn(line).map(_.group(1).toDouble)
  }

  /** Locale-stable 3-decimal format: the artifact must be valid JSON on
    * any JVM default locale (f"%.3f" would emit "1,234" under de_DE).
    */
  private def fmt3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Host state at measurement start, as a JSON object fragment. The box
    * this runs on storms (SCALE.md round-14: guest-kernel proactive
    * reclaim re-faults pages at hypervisor-exit cost, inflating walls
    * 1.5-4x), so every artifact records the evidence needed to judge its
    * own weather: uptime, loadavg, and a ~500 ms system-CPU spot sample
    * (storms show as sys% 60-98). Linux-only reads; any failure degrades
    * to nulls rather than failing the artifact.
    */
  private def hostStateJson(): String = {
    def firstLine(p: String): Option[String] =
      try {
        val s = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p)), java.nio.charset.StandardCharsets.UTF_8)
        s.linesIterator.find(_.nonEmpty)
      } catch { case _: Throwable => None }
    val uptime = firstLine("/proc/uptime")
      .flatMap(_.split("\\s+").headOption).flatMap(_.toDoubleOption)
    val load = firstLine("/proc/loadavg").map(_.split("\\s+").take(3).toSeq)
      .filter(_.forall(_.toDoubleOption.isDefined))
    // Aggregate cpu line: user nice SYSTEM idle iowait irq softirq steal
    // guest guest_nice. Total sums only the first 8 fields (user..steal):
    // the kernel already folds guest/guest_nice into user/nice, so
    // including them double-counts guest ticks on VMs and understates
    // sys_pct_spot — the exact storm signal this field exists to capture.
    def cpuSysTotal(): Option[(Long, Long)] = firstLine("/proc/stat")
      .filter(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).flatMap(_.toLongOption))
      .filter(_.length >= 4)
      .map(f => (f(2), f.take(8).sum))
    val sysPct =
      try for {
        (s0, t0) <- cpuSysTotal()
        _ = Thread.sleep(500)
        (s1, t1) <- cpuSysTotal()
        if t1 > t0
      } yield 100.0 * (s1 - s0) / (t1 - t0)
      catch { case _: Throwable => None }
    val up = uptime.map(fmt3).getOrElse("null")
    val ld = load.map(_.mkString("[", ",", "]")).getOrElse("null")
    val sy = sysPct.map(fmt3).getOrElse("null")
    s"""{"uptime_sec":$up,"loadavg":$ld,"sys_pct_spot":$sy}"""
  }

  /** JSON string literal: escapes backslash, quote, and control chars. */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def refineForked(name: String, fallback: Double): Double = {
    import scala.jdk.CollectionConverters._
    try {
      val javaBin = java.nio.file.Paths.get(
        sys.props("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
      val out = java.nio.file.Files.createTempFile("graft_bench_fork", ".json")
      val cmd = (Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", sys.props("java.class.path"), "graft.Bench")).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_ONLY", name)
      pb.environment().put("SPARK_GRAFT_NO_FORK", "1")
      pb.environment().put("SPARK_GRAFT_WARM_TARGET", "1")
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.toString)
      pb.redirectErrorStream(true)
      pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
      val proc = pb.start()
      val finished = proc.waitFor(20, java.util.concurrent.TimeUnit.MINUTES)
      if (!finished) { proc.destroyForcibly(); sys.error("fork timed out") }
      require(proc.exitValue() == 0, s"fork exited ${proc.exitValue()}")
      val line = new String(java.nio.file.Files.readAllBytes(out),
        java.nio.charset.StandardCharsets.UTF_8)
      java.nio.file.Files.deleteIfExists(out)
      val sec = parseArtifactEntry(line, name)
        .getOrElse(sys.error("query missing from fork artifact"))
      // Two medians of the same workload from two sessions (shared-suite
      // and fresh-JVM): noise is strictly additive — cleanup() unpersists
      // everything between reps, so neither session can run FASTER than
      // true steady-state cost, but either can run slower (suite drag in
      // the parent, cold-JVM residue in the child). The smaller median is
      // therefore the closer estimate.
      val best = math.min(fallback, sec)
      System.err.println(s"[bench] $name refined: in-suite ${fmt3(fallback)}, " +
        s"fresh JVM ${fmt3(sec)} -> ${fmt3(best)}")
      best
    } catch { case e: Throwable =>
      System.err.println(s"[bench] fork refine failed for $name, keeping in-suite: $e")
      fallback
    }
  }

  /** `SPARK_GRAFT_CPUS` as a JSON value: a bare number when numeric
    * (the normal case), a JSON string otherwise (`local[*]`-style
    * masters must not make the artifact line unparseable).
    */
  private[graft] def cpusJson(cpus: String): String =
    if (cpus.toIntOption.isDefined) cpus else jsonStr(cpus)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Captured BEFORE any Spark work: the artifact must describe the host
    // as the measurement found it, not as the suite left it.
    val hostState = hostStateJson()
    // Bench seeds state fixtures once per JVM so reps time the incremental
    // operator (util.StateSeed); SPARK_GRAFT_NO_SEED rebuilds every rep.
    val spark = GraftSession(cpus, seedState = true)
    val seedState = GraftConf(spark).seedState
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: JVM/codegen/parquet-footer costs land here, not on the
    // alphabetically-first query.
    SparkEntry.queries.get("q1_agg").foreach { fn =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    val only = GraftSession.onlyGates()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Median-of-N per query (default 3, SPARK_GRAFT_REPS to override): a
    // single rep in a 122-query shared session absorbs 4-6× scheduling/GC
    // noise on the heaviest queries (round-5 artifact reported sf0.1
    // numbers ABOVE their own sf1 cost). The median discards the noisy
    // rep — including the first rep's one-time codegen compile — so the
    // artifact reports steady-state per-query cost.
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(3).max(1)
    def cleanup(): Unit = {
      // Release each query's untracked persists between measurements so
      // leaked cache blocks never skew (or accidentally speed up) later
      // queries. clearCache() only drops catalog-tracked relations —
      // localCheckpoint blocks (dedup_cluster_reps checkpoints per CC
      // round) and raw .persist()s live in getPersistentRDDs, and
      // shuffle/broadcast blocks are reclaimed by the ContextCleaner
      // only after their references are GC'd — hence all three steps.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      // Unload every loaded StateStore provider: each streaming rep's
      // fresh checkpoint creates NEW providers (the stream-stream join
      // holds 4 per partition), and terminated queries' providers — with
      // their full in-memory state maps — stay in StateStore's registry
      // until the 60 s maintenance cadence notices they are inactive.
      // Back-to-back reps outrun that cadence, so without this the JVM
      // retains every prior rep's join/agg state (measured as the
      // monotone in-JVM rep rise on streaming_join_late). stop() clears
      // the registry and the maintenance pool; both restart lazily on
      // the next streaming load. Internal API — a Spark upgrade degrades
      // to the old behavior instead of failing the run.
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case _: Throwable => () }
      System.gc()
    }
    // A fork-refinement child measures ONE query in a fresh JVM: without a
    // warm-up rep of that query the measurement absorbs the JIT compile of
    // every Spark code path the query touches (measured +30-90% at sf0.1,
    // where query cost is comparable to warm-up cost). The parent suite
    // doesn't need it — q1_agg plus the preceding queries warm the JVM.
    val warmTarget = sys.env.contains("SPARK_GRAFT_WARM_TARGET")
    // A query whose EVERY rep throws is a failure, never a timing:
    // recording elapsed-to-error would let a crash masquerade as a ~30x
    // speedup in round-over-round comparisons (this happened when a
    // testdata regeneration broke 12 queries — the artifact showed them
    // as 0.06 s "improvements"). Failed queries carry their error
    // instead of a number and are excluded from the total. A query with
    // SOME failing reps (a one-off flake: OOM pressure, scratch-dir
    // race) keeps the median of its successful reps and is surfaced in
    // the artifact's "flaky" map rather than discarded.
    val flaky = scala.collection.mutable.LinkedHashMap[String, Int]()
    // Per-query seeded-state provenance: which StateSeed fixtures each
    // query touched. Recorded whenever seeding is ON, so a downstream
    // round-over-round diff can auto-exclude mode-change drops (a query
    // first measured seeded looks 10x faster for measurement reasons, not
    // engine reasons).
    val seededBy = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
    // Per-gate whole-stage/projection compiles across its reps: a gate
    // whose plan shape changes per rep (or whose classes overflow the
    // codegen cache) pays compiles every rep, not just the first.
    val compiles = scala.collection.mutable.ArrayBuffer[(String, Long, Double)]()
    val inSuite: Seq[(String, Either[String, Double])] =
      selected.map { case (name, fn) =>
      if (warmTarget) {
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
        cleanup()
      }
      graft.util.StateSeed.drainTouched()  // discard warm-up/prior noise
      val (classes0, ms0) = compileCounter()
      var err: Option[String] = None
      var failedReps = 0
      val times = (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            failedReps += 1
            if (err.isEmpty)
              err = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        cleanup()
        if (ok) Some(dt) else None
      }.sorted
      val (classes1, ms1) = compileCounter()
      compiles += ((name, classes1 - classes0, ms1 - ms0))
      val touchedTags = graft.util.StateSeed.drainTouched()
      if (seedState && touchedTags.nonEmpty) seededBy(name) = touchedTags
      if (times.isEmpty) {
        val msg = err.getOrElse("no reps ran")
        System.err.println(s"[bench] $name FAILED (all $reps reps): $msg")
        println(s"""{"query":"$name","err":${jsonStr(msg)}}""")
        name -> Left(msg)
      } else {
        if (failedReps > 0) {
          flaky(name) = failedReps
          System.err.println(s"[bench] $name FLAKY: $failedReps/$reps reps threw " +
            s"(${err.getOrElse("")}); keeping median of the ${times.length} good reps")
        }
        val dt = times(times.length / 2)
        // One parse-safe line per query AS IT COMPLETES: a bounded stdout
        // tail capture that truncates the final summary line still keeps
        // the per-query timings (they're the most recent lines).
        val repsJson = times.map(fmt3).mkString("[", ",", "]")
        val flakyJson = if (failedReps > 0) s""","flaky_reps":$failedReps""" else ""
        println(s"""{"query":"$name","sec":${fmt3(dt)},"reps":$repsJson$flakyJson}""")
        name -> Right(dt)
      }
    }
    // Fork-refinement pass: median-of-reps inside ONE shared session still
    // overstates the late-alphabet heavy queries (every rep pays the
    // accumulated heap/old-gen drag of the 100+ queries before them —
    // measured ~1.6-2.4x vs isolated at sf1, reps rising monotonically).
    // Light queries don't care (absolute error is milliseconds), so only
    // the expensive tail is re-measured, each in a FRESH child JVM (fresh
    // heap, fresh code cache) running the same median-of-reps for just
    // that query. The child's number replaces the in-suite one; any child
    // failure falls back to the in-suite measurement. Startup is excluded
    // (the child warms up on q1_agg before timing, same as this process).
    val forkSec = sys.env.get("SPARK_GRAFT_FORK_SEC").map(_.toDouble).getOrElse(2.0)
    val forkEnabled = !sys.env.contains("SPARK_GRAFT_NO_FORK") && only.isEmpty
    val results = if (!forkEnabled) inSuite else inSuite.map {
      case (name, Right(dt)) if dt >= forkSec =>
        name -> Right(refineForked(name, dt)): (String, Either[String, Double])
      case kept => kept
    }
    val ok = results.collect { case (k, Right(v)) => k -> v }
    val failed = results.collect { case (k, Left(e)) => k -> e }
    val qs = ok.map { case (k, v) => "\"" + k + "\":" + fmt3(v) }
      .mkString("{", ",", "}")
    val failedJson = failed.map { case (k, e) => jsonStr(k) + ":" + jsonStr(e) }
      .mkString("{", ",", "}")
    val flakyJson = flaky.map { case (k, n) => jsonStr(k) + ":" + n }
      .mkString("{", ",", "}")
    val seededJson = seededBy.map { case (k, tags) =>
      jsonStr(k) + ":" + tags.map(jsonStr).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    // Self-describing methodology: which estimator produced each number
    // (flagged r13-r15: two artifacts from different estimators are not
    // comparable, and nothing in the JSON said which one ran). The
    // estimator label is the decision tree the code actually takes.
    val estimator =
      if (!forkEnabled && reps == 1) "single_rep"
      else if (!forkEnabled) s"median_of_${reps}_in_suite"
      else s"median_of_${reps}_in_suite_fork_refined_min"
    val methodology =
      s"""{"estimator":${jsonStr(estimator)},"reps":$reps,""" +
        s""""fork_enabled":$forkEnabled,"fork_refine_min_sec":${fmt3(forkSec)},""" +
        s""""warm_target":$warmTarget,"subset":${only.isDefined}}"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","cpus":${cpusJson(cpus)},""" +
        s""""queries":$qs,""" +
        s""""failed":$failedJson,"failed_count":${failed.size},""" +
        s""""flaky":$flakyJson,""" +
        s""""methodology":$methodology,"host_state":$hostState,""" +
        s""""seeded_state":$seedState,"seeded_queries":$seededJson,""" +
        s""""compiles":${compilesJson(compiles.toSeq)},"sf":"$sfDir"}"""
    if (failed.nonEmpty)
      System.err.println(s"[bench] *** ${failed.size}/${results.size} queries FAILED" +
        s" (excluded from total): ${failed.map(_._1).mkString(", ")} ***")
    // Durable copy of the full artifact: survives any stdout truncation.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_local.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[bench] full artifact written to $out")
    // Shut everything down BEFORE the final stdout lines: the streaming
    // gates leave a StateStore maintenance pool whose shutdown can log a
    // stack trace asynchronously, and rounds 9-11 showed that any noise
    // printed AFTER the artifact line pushes it out of a bounded stdout
    // tail capture. Two layers of defense: Spark's log4j console appender
    // targets STDERR and build.sbt's StdoutOutput strategy keeps the two
    // descriptors separate (sbt's default re-logged forked stderr onto
    // stdout behind "[error] "), so straggler log lines cannot land on
    // the artifact channel at all; the stop-then-quiesce below remains as
    // belt-and-braces for anything that prints to stdout directly. The
    // StateStore call is an internal API — the catch-all (Throwable, so
    // NoSuchMethodError too) makes a Spark upgrade degrade to the
    // pre-stop behavior instead of failing the artifact.
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    try spark.stop() catch { case _: Throwable => () }
    Thread.sleep(1500)
    println(line)
    // Trailing COMPACT line, printed last: the full artifact line above is
    // ~4.6 KB (153 queries) and cannot fit a 2000-char tail window, which
    // is exactly how rounds 9-11 recorded "parsed": null for successful
    // runs. This line carries the headline fields plus as many of the
    // most expensive queries as fit a conservative budget, and points at
    // the durable full artifact.
    println(compactLine(total, ok, failed, flakyJson, seedState, sfDir, out,
      cpus = cpus))
  }

  /** Generated classes compiled so far in this JVM and their total
    * compile milliseconds (Spark's own codegen counters; local mode, so
    * task-side compiles count too). */
  private[graft] def compileCounter(): (Long, Double) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6)

  /** The full artifact's per-gate compile record: classes compiled and
    * compile ms across the gate's reps. */
  private[graft] def compilesJson(c: Seq[(String, Long, Double)]): String =
    c.map { case (k, n, ms) => s"""${jsonStr(k)}:{"classes":$n,"ms":${fmt3(ms)}}""" }
      .mkString("{", ",", "}")

  /** The trailing compact artifact line: headline fields plus as many of
    * the most expensive queries as fit `budget` characters. Always valid
    * JSON regardless of how many entries fit (including zero).
    *
    * The budget is sized to the observed driver tail window: the round-17
    * driver artifact captured exactly 2000 trailing stdout chars, and the
    * old 1500 budget left ~40 of 167 gates in the parsed line — gates
    * that got FASTER fell below the cutoff and were mis-read as
    * "dropped_from_bench" (round-17 verdict "What's wrong" #2). 1950
    * (line + trailing newline = 1951 ≤ 2000) carries ~55-60 gates while
    * keeping the whole line inside the capture window; the full 167-gate
    * map still lives on the preceding full-artifact line and in
    * `full_artifact`. `cpus` is carried so driver runs at different core
    * counts are self-describing (round-17 scaling block, "suspect_cpus").
    *
    * The failed map is budget-bound too — the line exists for a bounded
    * stdout tail, and a failed RUN is exactly when it must parse: each
    * error message is cut to its first 60 chars (the full text lives in
    * the durable artifact and on stderr), and if enough queries fail
    * that even the truncated map blows the head past the budget, the map
    * degrades to `{}` with `failed_count` still carried.
    */
  private[graft] def compactLine(total: Double, ok: Seq[(String, Double)],
                                 failed: Seq[(String, String)], flakyJson: String,
                                 seedState: Boolean, sfDir: String, out: String,
                                 budget: Int = 1950, cpus: String = "32"): String = {
    val tailFixed = "}}"
    def head(failedJson: String): String =
      s"""{"metric":"total","value":${fmt3(total)},"unit":"sec","cpus":${cpusJson(cpus)},""" +
        s""""queries_total":${ok.size},"failed_count":${failed.size},""" +
        s""""failed":$failedJson,"flaky":$flakyJson,"seeded_state":$seedState,""" +
        s""""sf":${jsonStr(sfDir)},"full_artifact":${jsonStr(out)},""" +
        s""""queries_truncated_to_top":true,"queries":{"""
    // Truncate on a code-point boundary: take(60) can split a UTF-16
    // surrogate pair, and jsonStr passes non-control chars through raw,
    // so a lone high surrogate would make the line invalid UTF-8 exactly
    // on the failed-run path it exists to protect.
    def cut60(e: String): String = {
      val t = e.take(60)
      if (t.nonEmpty && Character.isHighSurrogate(t.last)) t.dropRight(1) else t
    }
    val failedJson = failed
      .map { case (k, e) => jsonStr(k) + ":" + jsonStr(cut60(e)) }
      .mkString("{", ",", "}")
    val h0 = head(failedJson)
    val h = if (h0.length + tailFixed.length <= budget) h0 else head("{}")
    val entries = ok.sortBy(-_._2).iterator
      .map { case (k, v) => jsonStr(k) + ":" + fmt3(v) }
      .scanLeft(("", 0)) { case ((_, len), e) => (e, len + e.length + 1) }
      .drop(1).takeWhile(_._2 <= budget - h.length - tailFixed.length)
      .map(_._1).toSeq
    h + entries.mkString(",") + tailFixed
  }
}
