package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-provided Parquet test tables (TESTDATA.md) and
  * generic declared-schema sources.
  *
  * Design (SURVEY.md §2.1): every production read declares its schema —
  * Parquet carries one natively; JSON/CSV readers require an explicit
  * [[org.apache.spark.sql.types.StructType]] (never `inferSchema`, which
  * costs an extra full scan and is non-deterministic at 100 TB).
  */
object Tables {

  /** Catalog types a timestamp-bearing driver column may surface as
    * across testdata regenerations (the three encodings observed on
    * `events.ts`): plain TIMESTAMP, TIMESTAMP_NTZ micros, and
    * TIMESTAMP(NANOS) surfacing as `bigint` under `nanosAsLong`. All
    * three normalize to TimestampType at the reader ([[normalizeTs]]).
    */
  private val TsEncodings = Set("timestamp", "timestamp_ntz", "bigint")

  /** The declared schema of every driver-generated table: column ->
    * acceptable parquet-surface catalog types, in no particular order.
    * [[table]] asserts reads against this so a regeneration that renames,
    * drops, adds, or retypes a column fails LOUDLY at the reader with one
    * named error — round 6 lost 12 gates to a silent `events.ts`
    * encoding change that surfaced only as downstream query errors.
    */
  private[graft] val declaredTables: Map[String, Seq[(String, Set[String])]] = Map(
    "region" -> Seq("r_regionkey" -> Set("int"), "r_name" -> Set("string")),
    "nation" -> Seq("n_nationkey" -> Set("int"), "n_name" -> Set("string"),
      "n_regionkey" -> Set("int")),
    "customer" -> Seq("c_custkey" -> Set("bigint"), "c_name" -> Set("string"),
      "c_nationkey" -> Set("int"), "c_acctbal" -> Set("double"),
      "c_mktsegment" -> Set("string")),
    "supplier" -> Seq("s_suppkey" -> Set("bigint"), "s_name" -> Set("string"),
      "s_nationkey" -> Set("int"), "s_acctbal" -> Set("double")),
    "part" -> Seq("p_partkey" -> Set("bigint"), "p_name" -> Set("string"),
      "p_brand" -> Set("string"), "p_type" -> Set("string"),
      "p_size" -> Set("int"), "p_retailprice" -> Set("double")),
    "orders" -> Seq("o_orderkey" -> Set("bigint"), "o_custkey" -> Set("bigint"),
      "o_orderstatus" -> Set("string"), "o_totalprice" -> Set("double"),
      "o_orderdate" -> TsEncodings, "o_orderpriority" -> Set("string")),
    "lineitem" -> Seq("l_orderkey" -> Set("bigint"), "l_partkey" -> Set("bigint"),
      "l_suppkey" -> Set("bigint"), "l_linenumber" -> Set("int"),
      "l_quantity" -> Set("double"), "l_extendedprice" -> Set("double"),
      "l_discount" -> Set("double"), "l_tax" -> Set("double"),
      "l_returnflag" -> Set("string"), "l_linestatus" -> Set("string"),
      "l_shipdate" -> TsEncodings),
    "events" -> Seq("event_id" -> Set("bigint"), "ts" -> TsEncodings,
      "user_id" -> Set("bigint"), "event_type" -> Set("string"),
      "value" -> Set("double"), "props" -> Set("string")),
    "documents" -> Seq("doc_id" -> Set("bigint"), "text" -> Set("string"),
      "lang" -> Set("string"), "source" -> Set("string"),
      "n_chars" -> Set("bigint")),
    "embeddings" -> Seq("vec_id" -> Set("bigint"),
      "embedding" -> Set("array<float>"), "label" -> Set("int")))

  /** Timestamp-bearing columns normalized at the reader per table. */
  private val tsColumns: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"), "orders" -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"))

  /** Assert `df` matches the declared schema of driver table `name`
    * (unknown names pass through — scratch tables are not driver
    * contract). Comparison is on `catalogString` (nullability-blind,
    * order-blind). Throws one line naming every drifted column.
    */
  private def assertDeclared(name: String, df: DataFrame): DataFrame =
    declaredTables.get(name) match {
      case None => df
      case Some(cols) =>
        val actual = df.schema.fields.map(f => f.name -> f.dataType.catalogString)
        val actualMap = actual.toMap
        val expNames = cols.map(_._1).toSet
        val problems =
          cols.collect { case (c, _) if !actualMap.contains(c) => s"$name.$c missing" } ++
          actual.collect { case (c, _) if !expNames.contains(c) => s"$name.$c unexpected" } ++
          cols.collect { case (c, ok) if actualMap.contains(c) && !ok(actualMap(c)) =>
            s"$name.$c ${ok.mkString("{", "|", "}")}->${actualMap(c)}" }
        if (problems.nonEmpty)
          throw new IllegalStateException(
            s"testdata drift: ${problems.mkString("; ")} — the driver's generator " +
              "changed this table; update Tables.declaredTables and the reader " +
              "normalization (io/Tables.scala) in ONE place instead of chasing " +
              "downstream gate errors")
        df
    }

  /** Read one of the TPC-H-ish test tables from an sf directory,
    * schema-asserted against [[declaredTables]] and with timestamp
    * columns normalized across parquet encodings ([[normalizeTs]]).
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    tsColumns.getOrElse(name, Nil).foldLeft(rawTable(spark, dir, name))(normalizeTs)

  /** [[table]] without the timestamp normalization: the parquet-surface
    * schema, asserted. Stream readers need this — their declared schema
    * must match the FILES' encoding, with normalization applied on top.
    */
  private def rawTable(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (tsColumns.contains(name))
      // Must be set before the read: a TIMESTAMP(NANOS) file otherwise
      // throws PARQUET_TYPE_ILLEGAL before any normalization could run.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assertDeclared(name, spark.read.parquet(s"$dir/$name.parquet"))
  }

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** Normalize the events `ts` column to a plain `TimestampType`,
    * whatever parquet encoding the driver's generator shipped. Three
    * encodings have been observed across testdata regenerations:
    *
    *  - TIMESTAMP(NANOS), which Spark has no native type for — sessions
    *    set `spark.sql.legacy.parquet.nanosAsLong` and the column
    *    surfaces as `LongType` nanos; converted via integral DIV (double
    *    division would lose precision above 2^53 ns; driver data is
    *    micro-aligned, so the conversion is lossless);
    *  - TIMESTAMP_NTZ (micros, isAdjustedToUTC=0) — the session timezone
    *    is pinned to UTC everywhere in this project, so casting to the
    *    instant type is a lossless reinterpretation of the same wall
    *    clock the DuckDB oracle reads natively;
    *  - plain TIMESTAMP (ltz) — already the normal form.
    *
    * Every event-time consumer (sessionize gap arithmetic, as-of
    * tolerance, watermarks, window()) runs on the normalized column, so
    * a future encoding change breaks exactly one function — this one —
    * and EventTimeEncodingSpec pins all three paths.
    */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    normalizeTs(df, "ts")

  /** [[normalizeEventTs]] for any declared timestamp column. */
  private[graft] def normalizeTs(df: DataFrame, c: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(c).dataType match {
      case LongType =>
        df.withColumn(c, expr(s"timestamp_micros(`$c` DIV 1000)"))
      case TimestampNTZType =>
        // The cast reinterprets NTZ wall-clock micros in the SESSION
        // timezone and is lossless only under UTC. Pin it here
        // (mirroring the nanosAsLong defense) so a session built
        // without the project's UTC conf reads correct instants
        // instead of silently shifted ones. Scoped to the NTZ branch:
        // the other encodings carry their own zone and don't need it.
        df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
        df.withColumn(c, col(c).cast(TimestampType))
      case _ => df
    }
  }

  /** The events table, with `ts` normalized across parquet timestamp
    * encodings — see [[normalizeEventTs]].
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events") // asserted + ts-normalized there
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Streaming twin of [[events]]: file-stream source with a DECLARED
    * schema (stream sources cannot infer) taken from the parquet footer,
    * plus the same [[normalizeEventTs]] encoding normalization.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Footer-only read; the RAW (pre-normalization) schema — the stream's
    // declared schema must match the files' actual encoding.
    val schema = rawTable(spark, dir, "events").schema
    // The file source requires a directory. When the events table IS a
    // directory (standard multi-part write layout) stream it directly; a
    // glob filter on the leaf name would match nothing and yield a
    // silently empty stream. A single-file table streams from the parent
    // dir with the glob restricting the listing.
    val eventsPath = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val fs = eventsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val df =
      if (fs.getFileStatus(eventsPath).isDirectory)
        spark.readStream.schema(schema).parquet(eventsPath.toString)
      else spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
    normalizeEventTs(df)
  }

  /** Multi-wave twin of [[eventsStream]]: stages the events table as
    * `nWaves` single-file parquet waves covering contiguous event-time
    * ranges (equal-width on the ts span, so equal timestamps can never
    * straddle a wave boundary), with strictly increasing file modification
    * times, and returns a stream reading them oldest-first ONE FILE PER
    * MICRO-BATCH (`maxFilesPerTrigger=1` + AvailableNow). Because waves
    * are time-ordered, the watermark advancing between batches never
    * classifies a later wave's rows as late — the fixture exercises
    * cross-micro-batch state (sessions spanning waves, timeout emission
    * between batches, merge convergence under re-batching) while keeping
    * the batch oracle exact.
    *
    * The global min/max collect and per-wave single-file writes are
    * fixture-side costs at fixture scale, not part of any operator.
    */
  def wavedEventsStream(spark: SparkSession, dir: String, nWaves: Int): DataFrame =
    stagedWaveStream(spark, dir, nWaves, "inorder", identity)

  /** Late/out-of-order twin of [[wavedEventsStream]]: rows with
    * `event_id % lateMod == 0` are DELIVERED `delayWaves` waves after
    * their event-time wave (capped at the last wave) while keeping their
    * original timestamps — so they arrive event-time-late, behind
    * whatever watermark the in-order waves have advanced. This is the
    * fixture the time-ordered waves cannot produce: it exercises the
    * watermark's actual job — dropping rows older than the allowed
    * lateness and folding in-watermark late rows — plus out-of-order
    * convergence for order-insensitive sinks. The displacement rule is a
    * pure function of (event_id, ts), so an oracle can replicate the
    * delivery schedule exactly.
    *
    * `delayWaves` defaults to 2 because of the watermark's update
    * timing in a continuous multi-batch run: the watermark applied in
    * data batch N is derived from stats through batch N-2 (batch N-1's
    * stats are folded in only after N-1 commits, which is after N's
    * metadata snapshot), so a row displaced ONE wave can never be
    * behind it — its timestamp sits a full wave above the two-batch-old
    * maximum. Two-wave displacement puts the displaced rows' timestamps
    * astride the in-force watermark, exercising both the drop and the
    * fold path. (MemoryStream tests don't see this lag because
    * `processAllAvailable` inserts a watermark-propagation batch after
    * every data batch.)
    */
  def lateWavedEventsStream(spark: SparkSession, dir: String, nWaves: Int,
                            lateMod: Int = 10, delayWaves: Int = 2): DataFrame = {
    import org.apache.spark.sql.functions._
    require(lateMod >= 2, s"lateMod must leave some rows on time, got $lateMod")
    require(delayWaves >= 1, s"delayWaves must displace, got $delayWaves")
    stagedWaveStream(spark, dir, nWaves, s"late_m${lateMod}_d$delayWaves",
      baseWave =>
        when(pmod(col("event_id"), lit(lateMod)) === 0,
          least(baseWave + delayWaves, lit(nWaves - 1))).otherwise(baseWave))
  }

  private def stagedWaveStream(spark: SparkSession, dir: String, nWaves: Int,
                               waveKey: String,
                               waveFor: org.apache.spark.sql.Column =>
                                 org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions._
    require(nWaves >= 2, s"a multi-wave fixture needs >= 2 waves, got $nWaves")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // table() normalizes BEFORE staging: the wave files then carry plain
    // TIMESTAMP whatever the source encoding, and the stream needs no
    // per-encoding branch of its own.
    val raw = table(spark, dir, "events")
    // Staging (the min/max collect + the full write) is FIXTURE
    // construction, not the operator any waved gate measures — in Bench
    // (StateSeed enabled) it runs once per (fixture, sfDir) per JVM and
    // reps measure the streaming operator against the staged files, the
    // deployment shape. Wave content is a pure function of (events
    // table, nWaves, waveKey-encoded knobs), so reuse cannot change any
    // result, only its timing; the artifact's `seeded_queries` records
    // the touch per gate. Per-rep re-staging also re-wrote the whole
    // events table to scratch every rep — cumulative dirty-page churn
    // that arms this box's reclaim storms (SCALE.md round-14) and was
    // the in-JVM monotone rep rise on streaming_join_late.
    val waveDir = graft.util.StateSeed.root(spark,
      s"graft_waves_n${nWaves}_$waveKey", dir) { root =>
      // Wave boundaries are computed in NANOS (micros * 1000) even though
      // the normalized column is micros: the DuckDB oracle's replica of the
      // displacement schedule uses epoch_ns, and span = max - min + 1
      // differs between the two units (off by 999 ns), which could flip a
      // boundary row's wave. Micro-aligned data makes micros*1000 exactly
      // the nanos the oracle sees.
      val tns = unix_micros(col("ts")) * 1000
      val Array(tsMin, tsMax) = raw
        .agg(min(tns), max(tns))
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
      val span = tsMax - tsMin + 1
      stageWaves(spark, raw,
        waveFor(((tns - tsMin) * nWaves / span).cast("int")), nWaves,
        "graft_waves", filesPerWave = WaveStageFiles, destDir = Some(root))
      ()
    }
    normalizeEventTs(spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", WaveStageFiles.toString)
      .parquet(waveDir))
  }

  /** Stage `df` as `nWaves` parquet waves of exactly `filesPerWave`
    * files each, keyed by the integer `wave` column (0-based), with
    * strictly increasing file modification times (all of wave i's files
    * older than all of wave i+1's), and return the wave directory: a
    * `maxFilesPerTrigger=filesPerWave` file stream over it delivers one
    * whole wave per micro-batch, oldest-first. Shared by the event-time
    * wave fixtures here and the document-wave streaming gates in Queries.
    *
    * ONE parallel job stages every wave, with `filesPerWave` write tasks
    * per wave: rows are salted by a row hash into (w, s) groups, hash-
    * repartitioned so each group lands in exactly one task, and the
    * hive-partitioned write then produces exactly one file per
    * `w=i/s=j` directory — the file-count invariant the trigger's
    * wave/batch alignment depends on. Which file of a wave a row lands
    * in is salt-dependent but irrelevant: a trigger always reads the
    * whole wave, so per-wave CONTENT (what every gate asserts on) is
    * salt-independent. `filesPerWave` is the staging write-parallelism
    * knob: at 1 (default) each wave funnels through a single writer
    * task, which the heavy-hitters stage split measured as the dominant
    * scale cost of every waved gate (SCALE.md round-10) — the event
    * fixture stages with [[WaveStageFiles]] instead.
    */
  private[graft] def stageWaves(spark: SparkSession, df: DataFrame,
                                wave: org.apache.spark.sql.Column,
                                nWaves: Int, tag: String,
                                filesPerWave: Int = 1,
                                destDir: Option[String] = None): String = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    require(filesPerWave >= 1, s"filesPerWave must be >= 1, got $filesPerWave")
    // destDir lets StateSeed-managed callers stage into the seed root so
    // the fixture is built once per JVM in Bench (see [[seededWaves]]).
    val waveDir = new org.apache.hadoop.fs.Path(
      destDir.getOrElse(graft.util.Scratch.dir(tag)))
    val fs = waveDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(
      graft.util.Scratch.dir(tag + "_tmp"), "waves")
    val salt =
      if (filesPerWave == 1) lit(0)
      else pmod(xxhash64(df.columns.map(col): _*), lit(filesPerWave.toLong)).cast("int")
    df.withColumn("w", wave.cast("int")).withColumn("s", salt)
      .repartition(nWaves * filesPerWave, col("w"), col("s"))
      .write.mode("overwrite").partitionBy("w", "s").parquet(tmp.toString)
    val base = System.currentTimeMillis()
    for (i <- 0 until nWaves; j <- 0 until filesPerWave) {
      val src = new org.apache.hadoop.fs.Path(tmp, s"w=$i/s=$j")
      val dest = new org.apache.hadoop.fs.Path(waveDir, f"wave-$i%04d-$j%02d.parquet")
      val part =
        if (fs.exists(src))
          fs.listStatus(src).map(_.getPath).filter(_.getName.startsWith("part-")).head
        else {
          // An empty (wave, salt) group still needs a file so the
          // files-per-trigger wave alignment (and the wave count the
          // gates assert) is independent of the data split.
          val empty = new org.apache.hadoop.fs.Path(tmp, s"empty$i-$j")
          df.limit(0).repartition(1).write.mode("overwrite").parquet(empty.toString)
          fs.listStatus(empty).map(_.getPath).filter(_.getName.startsWith("part-")).head
        }
      if (!fs.rename(part, dest))
        throw new java.io.IOException(s"stageWaves($tag): cannot stage $dest")
      // Oldest-first delivery order is decided by modification time;
      // distinct per-file times keep the within-trigger grouping stable.
      fs.setTimes(dest, base + (i.toLong * filesPerWave + j) * 1000L, -1L)
    }
    waveDir.toString
  }

  /** Write parallelism of the event-wave fixture staging: files per
    * wave, matched by the stream's `maxFilesPerTrigger` so one trigger
    * still consumes exactly one wave. */
  private[graft] val WaveStageFiles = 8
}
