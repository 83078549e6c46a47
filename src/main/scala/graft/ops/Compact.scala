package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.io.StateFiles

/** State-table compaction (SCALE.md "incremental ingestion"): every
  * incremental wave — `corpusDedupSink`'s per-micro-batch appends, the
  * batch gates' state writes — adds `shuffle.partitions` parquet files to
  * the persisted index. At one wave per minute a year of ingest is ~4 M
  * files: scan planning, footer reads, and namenode metadata dominate
  * long before data volume does (the classic small-file problem). This
  * rewrites a parquet directory down to a bounded file count as a fully
  * distributed job, preserving rows, schema, and any hive-style partition
  * layout, then swaps the rewrite in via two directory renames. Every
  * rewrite is written zstd-compressed through the one state writer
  * ([[graft.io.StateFiles.write]]).
  *
  * Crash-safety contract of the engine's one directory swap, which every
  * state rewrite goes through — the three compactions here and
  * [[Merge.mergeInto]] in both its flat and its hive-partitioned layout,
  * which rewrites only the files a batch can touch and carries the rest
  * over as kept files. [[recover]] is the only crash recovery merged or
  * compacted state has: original files NEVER leave the live table tree
  * until the swap has completed. The rewrite stages in
  * `<path>__compact_tmp` together with a `_GRAFT_KEEP` manifest naming
  * the untouched files to carry over; the swap renames
  * `<path>` aside to `<path>__compact_old` (the complete original) and
  * `tmp` in; only then do the kept files move `old -> <path>` by
  * metadata rename, after which `old` and the manifest are removed. A
  * crash at ANY point leaves either the intact original at `<path>` (or
  * whole at `__compact_old`) or a manifest recording exactly which moves
  * remain — [[recover]] runs at the top of every swap and before every
  * state read ([[graft.ops.Merge.readStateOrEmpty]]) and completes or
  * rolls back the interrupted swap before new work starts, so committed
  * history is never deleted. The swap is still NOT atomic versus
  * concurrent readers (plain parquet dirs have no transaction log):
  * callers run compaction from the single maintainer that owns the state
  * table — the same single-writer precondition the wave-keyed sinks
  * already require; a reader holding the OLD listing can lose files
  * mid-scan.
  */
object Compact {

  /** Post-compaction accounting, from the rewritten directory. */
  final case class Stats(rows: Long, filesBefore: Int, filesAfter: Int)

  /** Size-tiered accounting: `rowsRewritten`/`bytesRewritten` cover only
    * the merged small span; `keptFiles` moved untouched (metadata
    * renames, zero bytes read). A no-op tick returns
    * `filesBefore == filesAfter` with zero rewritten.
    */
  final case class TieredStats(rowsRewritten: Long, bytesRewritten: Long,
                               filesBefore: Int, filesAfter: Int,
                               rewrittenFiles: Int, keptFiles: Int)

  /** One post-swap carry-over: a path to move from the staged-aside
    * original into the live table, both '/'-relative to the table root
    * (may name a file or a whole directory, e.g. the current wave dir).
    */
  private final case class Keep(src: String, dst: String)

  /** Manifest file name; the leading underscore hides it from both our
    * own listings and Spark's parquet scans.
    */
  private val KeepManifest = "_GRAFT_KEEP"

  /** Rows per file a compaction writes. */
  private val TargetRows = 4000000L

  /** The file count past which [[consolidateWaves]] merges a flat tier
    * whole (see [[selectSmallSpan]]). */
  private val WaveMaxFiles = 4

  /** Every data file under `root` with its length (names starting with
    * `_` or `.` — markers, manifests, checksums — are not data). */
  private[graft] def listData(fs: FileSystem, root: Path): Seq[(Path, Long)] = {
    val it = fs.listFiles(root, true)
    val out = Seq.newBuilder[(Path, Long)]
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && !name.startsWith("_") && !name.startsWith("."))
        out += ((f.getPath, f.getLen))
    }
    out.result()
  }

  /** The size-tier policy shared by [[compactTiered]],
    * [[consolidateWaves]] and [[Merge.mergeInto]]: when at least two
    * files are below half the largest (the freshly-appended slices — a
    * previously compacted file towers over them), merge those and keep
    * the top tier untouched. A flat tier (all files within a factor of
    * each other, e.g. the very first compaction) degenerates to a full
    * merge once the file count exceeds `maxFiles` — the LSM "major
    * compaction", whose amortized cost stays bounded because it only
    * fires when minor merges have already accumulated `maxFiles`
    * top-tier outputs. Returns (toMerge, toKeep), or None for a no-op
    * tick.
    */
  private[graft] def selectSmallSpan(files: Seq[(Path, Long)], maxFiles: Int = 8)
      : Option[(Seq[Path], Seq[Path])] = {
    if (files.isEmpty) return None
    val largest = files.map(_._2).max
    val (small, big) = files.partition(_._2 < (largest * 0.5).toLong)
    if (small.size >= 2) Some((small.map(_._1), big.map(_._1)))
    else if (files.size > maxFiles) Some((files.map(_._1), Nil))
    else None
  }

  private def writeManifest(fs: FileSystem, at: Path, moves: Seq[Keep]): Unit = {
    val out = fs.create(at, true)
    try out.write(moves.map(m => s"${m.src}\t${m.dst}\n").mkString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readManifest(fs: FileSystem, at: Path): Seq[Keep] = {
    val in = fs.open(at)
    val text =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
    text.split("\n").toSeq.filter(_.nonEmpty).map { line =>
      val i = line.indexOf('\t')
      require(i > 0, s"compact: corrupt manifest line at $at: $line")
      Keep(line.substring(0, i), line.substring(i + 1))
    }
  }

  /** Completes or rolls back an interrupted swap before a tick starts.
    * Runs at the top of every swap and state read; a clean table is a
    * cheap no-op (a few existence checks). The cases, by surviving evidence:
    *
    *  - `<path>/_GRAFT_KEEP` exists: the swap-in completed but the
    *    post-swap carry-over was interrupted — finish the manifest's
    *    remaining moves (each entry is either still at `old/src` or
    *    already at `path/dst`), then drop `old`, `tmp`, the manifest.
    *  - no manifest, `__compact_old` exists, `<path>` absent: crashed
    *    between the two directory renames — restore `old` (the complete
    *    original) back to `<path>` and discard the rewrite.
    *  - no manifest, both `__compact_old` and `<path>` exist: `<path>`
    *    was recreated after such a crash (a streaming sink's batch
    *    replay re-fires its wave write). Merge history back from `old`;
    *    on a colliding `wave=` directory the recreated side wins — a
    *    replay rewrites exactly that batch's content — and any other
    *    collision fails loudly with both copies left on disk.
    *  - only `__compact_tmp` exists: a rewrite that never reached the
    *    swap; it holds only copies, so it is safe to drop.
    *
    * A marked (`_SUCCESS`) `<path>_staging` is a partitioned merge an
    * older build never published; it may hold the only copy of a
    * partition, so it fails the call.
    */
  private[ops] def recover(fs: FileSystem, p: Path): Unit = {
    val staging = new Path(p.toString + "_staging")
    if (fs.exists(new Path(staging, "_SUCCESS"))) throw new java.io.IOException(
      s"compact recover: publish $staging into $p by hand (StateFiles.write by its " +
        "partition column), then drop it")
    val (tmp, old) = staged(p)
    val manifest = new Path(p, KeepManifest)
    if (fs.exists(p) && fs.exists(manifest)) {
      readManifest(fs, manifest).foreach { case Keep(s, d) =>
        val src = new Path(old, s)
        val dst = new Path(p, d)
        if (fs.exists(src)) {
          if (fs.exists(dst))
            throw new java.io.IOException(
              s"compact recover: $src and $dst both exist; refusing to " +
                "overwrite — reconcile manually")
          fs.mkdirs(dst.getParent)
          if (!fs.rename(src, dst))
            throw new java.io.IOException(s"compact recover: cannot move $src to $dst")
        } else if (!fs.exists(dst))
          throw new java.io.IOException(
            s"compact recover: kept file $s missing from both $old and $p")
      }
      fs.delete(old, true)
      fs.delete(tmp, true)
      fs.delete(manifest, false)
    } else if (fs.exists(old)) {
      if (!fs.exists(p)) {
        if (!fs.rename(old, p))
          throw new java.io.IOException(s"compact recover: cannot restore $old to $p")
        fs.delete(tmp, true)
      } else {
        fs.listStatus(old).foreach { st =>
          val name = st.getPath.getName
          val dst = new Path(p, name)
          val hidden = name.startsWith("_") || name.startsWith(".")
          if (!fs.exists(dst)) {
            if (!fs.rename(st.getPath, dst))
              throw new java.io.IOException(
                s"compact recover: cannot move ${st.getPath} to $dst")
          } else if (!hidden && // _SUCCESS etc. are markers, not data
              !(st.isDirectory && name.startsWith("wave=")))
            throw new java.io.IOException(
              s"compact recover: ${st.getPath} collides with $dst; refusing to " +
                "overwrite — reconcile manually")
        }
        fs.delete(old, true)
        fs.delete(tmp, true)
      }
    } else fs.delete(tmp, true)
  }

  /** Table `p`'s rewrite dir and staged-aside original. */
  private def staged(p: Path): (Path, Path) =
    (new Path(p.toString + "__compact_tmp"), new Path(p.toString + "__compact_old"))

  /** The directory-level swap every rewrite goes through. `tmp` holds
    * the finished rewrite (copies only — no originals); `moves` are the
    * untouched files to carry over from the staged-aside original AFTER
    * the swap. Writes the manifest, swaps `p -> old, tmp -> p`, then
    * re-homes the kept files by metadata rename and clears `old`. If the
    * swap-in itself fails, `old` is still the complete original and the
    * rollback rename restores it whole.
    */
  private def stageAndSwap(fs: FileSystem, p: Path, moves: Seq[Keep]): Unit = {
    val (tmp, old) = staged(p)
    require(!fs.exists(old),
      s"compact: $old exists after recovery — refusing to overwrite history")
    writeManifest(fs, new Path(tmp, KeepManifest), moves)
    if (!fs.rename(p, old))
      throw new java.io.IOException(s"compact: cannot stage $p aside")
    if (!fs.rename(tmp, p)) {
      fs.rename(old, p) // complete rollback: nothing had left the original
      throw new java.io.IOException(s"compact: cannot swap in rewrite for $p")
    }
    moves.foreach { case Keep(s, d) =>
      val src = new Path(old, s)
      val dst = new Path(p, d)
      fs.mkdirs(dst.getParent)
      if (!fs.rename(src, dst))
        throw new java.io.IOException(s"compact: cannot carry over $src to $dst")
    }
    fs.delete(old, true)
    fs.delete(new Path(p, KeepManifest), false)
  }

  /** Replaces the table at `path` with what `write` stages in the tmp
    * dir plus the table's data files named in `keep`: [[recover]],
    * `write(tmp)`, then [[stageAndSwap]] carrying each kept file over
    * under its own relative path — or one publish rename when no table
    * exists yet (a crash before it leaves only tmp, which [[recover]]
    * drops). `keep` names files directly under `path` or one partition
    * directory down (`part=A/<file>`); Spark's part-file names are unique
    * per write, so a kept file never collides with a staged one. Returns
    * what `write` returns.
    */
  private[graft] def swapIn[T](spark: SparkSession, path: String, keep: Seq[Path] = Nil)
                              (write: String => T): T = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, p)
    val qp = fs.makeQualified(p)
    val moves = keep.map { f =>
      val q = fs.makeQualified(f)
      require(q.getParent == qp || q.getParent.getParent == qp,
        s"compact: kept file $f must sit at most one directory under $path")
      val rel = if (q.getParent == qp) q.getName else s"${q.getParent.getName}/${q.getName}"
      Keep(rel, rel)
    }
    val (tmp, _) = staged(p)
    val out = write(tmp.toString)
    if (fs.exists(p)) stageAndSwap(fs, p, moves)
    else if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"compact: cannot publish $tmp as $p")
    out
  }

  /** Size-tiered (LSM-style) compaction of an UNPARTITIONED parquet
    * directory: merges only the small-file span ([[selectSmallSpan]]),
    * carrying top-tier files over by metadata rename — so a periodic
    * compaction tick costs O(newly-appended slices), never
    * O(index history), which is what lets a long-lived incremental
    * index (the BM25 tf table) compact on every fold without its
    * rewrite bill growing with the index. [[compactParquet]] remains
    * the full-rewrite form for one-shot use and hive-partitioned
    * layouts.
    */
  def compactTiered(spark: SparkSession, path: String): TieredStats = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, p)
    require(fs.exists(p), s"compactTiered: no table at $path")
    val files = listData(fs, p)
    require(files.forall(_._1.getParent == fs.makeQualified(p)),
      s"compactTiered: $path is partitioned — use consolidateWaves/compactParquet")
    val before = files.size
    selectSmallSpan(files) match {
      case None =>
        TieredStats(0L, 0L, before, before, 0, before)
      case Some((small, big)) =>
        val smallSet = small.toSet
        val bytes = files.collect { case (f, len) if smallSet(f) => len }.sum
        val df = spark.read.parquet(small.map(_.toString): _*)
        val rows = df.count()
        val nOut = math.max(1L, (rows + TargetRows - 1) / TargetRows).toInt
        val rewritten = swapIn(spark, path, big) { tmp =>
          StateFiles.write(df.repartition(nOut), tmp)
          listData(fs, new Path(tmp)).map(_._1.getName)
        }
        val after = listData(fs, p).size
        val rowsBack = spark.read.parquet(
          rewritten.map(n => new Path(p, n).toString): _*).count()
        require(rowsBack == rows,
          s"compactTiered: rewritten rows changed $rows -> $rowsBack at $path")
        TieredStats(rows, bytes, before, after, rewritten.size, big.size)
    }
  }

  /** Size-tiered compaction of a WAVE-PARTITIONED streaming state dir
    * (`wave=N` hive layout, one partition appended per micro-batch by
    * the wave-keyed sinks): merges committed waves' small files into the
    * reserved `wave=-1` consolidated partition, keeps top-tier files by
    * rename, and leaves `currentWave`'s partition untouched.
    *
    * Replay safety: a wave can only re-fire while its batch is
    * UNCOMMITTED, i.e. only `currentWave` — every earlier wave is final
    * the moment the next batch starts. So folding waves < current into
    * `wave=-1` can never be overwritten by a replay (sinks write
    * `wave = batchId >= 0`), while the current wave keeps its own
    * partition precisely because the enclosing foreachBatch may still
    * fail after this call and dynamic-overwrite its wave on retry.
    * Readers drop the wave column, so re-homing rows to wave=-1 is
    * result-transparent (the `streaming_bm25_live` gate's oracle is the
    * full-rebuild SQL).
    *
    * The swap contract matches [[compactTiered]] (see [[stageAndSwap]]
    * and [[recover]]): kept files and the current-wave dir carry over
    * from the staged-aside original by post-swap metadata rename, so a
    * crash anywhere — including a batch replay recreating the table dir
    * before the next tick — is recovered without losing committed
    * history.
    */
  def consolidateWaves(spark: SparkSession, path: String, currentWave: Long): TieredStats = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, p)
    require(fs.exists(p), s"consolidateWaves: no table at $path")
    val qp = fs.makeQualified(p)
    val waveDirs = fs.listStatus(p).filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith("wave="))
    require(waveDirs.nonEmpty || listData(fs, p).isEmpty,
      s"consolidateWaves: $path is not wave-partitioned")
    val (currentDirs, committedDirs) = waveDirs.partition(
      _.getPath.getName == s"wave=$currentWave")
    val committed = committedDirs.flatMap(d => listData(fs, d.getPath)).toSeq
    val before = listData(fs, p).size
    // Re-homing is unconditional (directory count must not grow with
    // wave count — a no-op tick per wave would leave one wave=N dir per
    // micro-batch forever); only the REWRITE is size-tiered. A small
    // span merges; everything else — including the case where the tier
    // says nothing is worth merging, e.g. a single slice file per wave
    // under AQE-coalesced writes — carries over into wave=-1 by metadata
    // rename, zero bytes read.
    val outside = committed.filterNot(_._1.getParent.getName == "wave=-1")
    val (small, big) =
      selectSmallSpan(committed, WaveMaxFiles) match {
        case Some((s, b)) => (s, b)
        case None         => (Nil, committed.map(_._1))
      }
    if (small.isEmpty && outside.isEmpty)
      return TieredStats(0L, 0L, before, before, 0, before)
    val smallSet = small.toSet
    val bytes = committed.collect { case (f, len) if smallSet(f) => len }.sum
    val mergedDir = new Path(staged(p)._1, "wave=-1")
    val rows =
      if (small.isEmpty) { fs.mkdirs(mergedDir); 0L }
      else {
        // Files read by explicit path lose the directory-derived wave
        // column — exactly right: every consolidated row re-homes under
        // the wave=-1 dir the write lands in.
        val df = spark.read.parquet(small.map(_.toString): _*)
        val n = df.count()
        val nOut = math.max(1L, (n + TargetRows - 1) / TargetRows).toInt
        StateFiles.write(df.repartition(nOut), mergedDir.toString)
        fs.delete(new Path(mergedDir, "_SUCCESS"), false)
        n
      }
    val rewritten = listData(fs, mergedDir).map(_._1.getName)
    // Kept big files join the merged partition by post-swap rename
    // (their wave value was directory-derived, so re-homing is a pure
    // move); the current wave's whole dir carries over as one rename.
    val moves =
      big.map(f => Keep(s"${f.getParent.getName}/${f.getName}",
                        s"wave=-1/${f.getName}")) ++
        currentDirs.map(d => Keep(d.getPath.getName, d.getPath.getName)).toSeq
    stageAndSwap(fs, p, moves)
    val after = listData(fs, p).size
    if (rewritten.nonEmpty) {
      val rowsBack = spark.read.parquet(
        rewritten.map(n => new Path(new Path(qp, "wave=-1"), n).toString): _*).count()
      require(rowsBack == rows,
        s"consolidateWaves: rewritten rows changed $rows -> $rowsBack at $path")
    }
    TieredStats(rows, bytes, before, after, rewritten.size, big.size)
  }

  /** Rewrites the parquet table at `path` into ceil(rows / targetRows)
    * files (per partition-column tuple when `partitionCols` is set — the
    * wave-partitioned streaming state keeps its `wave=N` dirs, so the
    * sinks' dynamic-overwrite replay safety survives compaction).
    * Returns the row count and before/after data-file counts; row count
    * is read back from the REWRITTEN table so the stat doubles as a
    * cheap post-swap sanity check. Full rewrite, zero carry-overs — the
    * same [[swapIn]] the state-table writes go through.
    */
  def compactParquet(spark: SparkSession, path: String,
                     partitionCols: Seq[String] = Nil,
                     targetRows: Long = TargetRows): Stats = {
    require(targetRows > 0, "targetRows must be positive")
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (rows, before) = swapIn(spark, path) { tmp =>
      require(fs.exists(p), s"compactParquet: no table at $path")
      val before = listData(fs, p).size
      val df = spark.read.parquet(path)
      val rows = df.count()
      val nOut = math.max(1L, (rows + targetRows - 1) / targetRows).toInt
      // Repartition by the partition columns so each hive partition is
      // written by the tasks that own its rows (no thousand-task fan-out
      // of tiny files); unpartitioned tables get a plain nOut-way shuffle.
      val shaped =
        if (partitionCols.nonEmpty)
          df.repartition(nOut, partitionCols.map(df.col): _*)
        else df.repartition(nOut)
      StateFiles.write(shaped, tmp, partitionCols)
      (rows, before)
    }
    val after = listData(fs, p).size
    val rowsAfter = spark.read.parquet(path).count()
    require(rowsAfter == rows,
      s"compactParquet: row count changed $rows -> $rowsAfter at $path")
    Stats(rows, before, after)
  }
}
