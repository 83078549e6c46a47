package graft.ops

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.io.StateFiles

/** State-table compaction (SCALE.md "incremental ingestion"): every
  * incremental wave — `corpusDedupSink`'s per-micro-batch appends, the
  * batch gates' state writes — adds `shuffle.partitions` parquet files to
  * the persisted index. At one wave per minute a year of ingest is ~4 M
  * files: scan planning, footer reads, and namenode metadata dominate
  * long before data volume does (the classic small-file problem). The
  * two compaction entry points here — [[compactTiered]] for a flat
  * table, [[consolidateWaves]] for a wave-partitioned one — share one
  * size-tiered span rewrite: a fully distributed job that preserves rows
  * and schema, written zstd-compressed through the one state writer
  * ([[graft.io.StateFiles.write]]).
  *
  * Crash-safety contract of the engine's one directory swap,
  * [[swapIn]], which every state rewrite goes through — both
  * compactions here and [[Merge.mergeInto]] in both its flat and its
  * hive-partitioned layout, which rewrites only the files a batch can
  * touch and carries the rest over as kept files. [[recover]] is the
  * only crash recovery merged or compacted state has: original files
  * NEVER leave the live table tree until the swap has completed. The
  * rewrite stages in `<path>__compact_tmp` together with a
  * `_GRAFT_KEEP` manifest naming the untouched files to carry over; the
  * swap renames `<path>` aside to `<path>__compact_old` (the complete original) and
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

  /** Size-tiered accounting: `rowsRewritten` covers only the merged
    * small span; `keptFiles` moved untouched (metadata renames, zero
    * bytes read). A no-op tick returns `filesBefore == filesAfter` with
    * zero rewritten.
    */
  final case class TieredStats(rowsRewritten: Long, filesBefore: Int, filesAfter: Int,
                               rewrittenFiles: Int, keptFiles: Int)

  /** A carry-over handed to [[swapIn]]: a data file or directory of the
    * table, and where it goes, '/'-relative to the table root — by
    * default its own place. */
  private[graft] final case class Carry(src: Path, dst: Option[String] = None)

  /** One post-swap move in the manifest: from the staged-aside original
    * into the live table, both '/'-relative to the table root (may name a
    * file or a whole directory, e.g. the current wave dir).
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
    * `_` or `.` — markers, manifests, checksums — are not data), depth
    * first in listing order, as `fs.listFiles(root, true)` lists them.
    * The walk uses `listStatus`: `listFiles`' located statuses load each
    * file's permission, which the local file system reads by running
    * `ls -ld` per file. A directory that goes away mid-walk is skipped,
    * as `listFiles` skips it. */
  private[graft] def listData(fs: FileSystem, root: Path): Seq[(Path, Long)] = {
    val out = Seq.newBuilder[(Path, Long)]
    def walk(statuses: Array[FileStatus]): Unit = statuses.foreach { f =>
      val name = f.getPath.getName
      if (f.isFile) {
        if (!name.startsWith("_") && !name.startsWith(".")) out += ((f.getPath, f.getLen))
      } else try walk(fs.listStatus(f.getPath))
      catch { case _: java.io.FileNotFoundException => () }
    }
    walk(fs.listStatus(root))
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

  /** Replaces the table at `path` with what `write` stages in the tmp
    * dir plus the carry-overs in `keep` — the one swap every state
    * rewrite goes through. Runs [[recover]], then `write(tmp)`; when no
    * table exists yet, one publish rename (a crash before it leaves only
    * tmp, which [[recover]] drops). Otherwise it writes the manifest of
    * the moves into tmp, swaps `p -> old, tmp -> p`, moves each kept
    * file or directory from the staged-aside original to its
    * destination by metadata rename, and clears `old` and the manifest.
    * If the swap-in itself fails, `old` is still the complete original
    * and the rollback rename restores it whole. A kept path sits directly
    * under `path` or one partition directory down (`part=A/<file>`);
    * Spark's part-file names are unique per write, so a kept file never
    * collides with a staged one. Returns what `write` returns.
    */
  private[graft] def swapIn[T](spark: SparkSession, path: String, keep: Seq[Carry] = Nil)
                              (write: String => T): T = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, p)
    val qp = fs.makeQualified(p)
    val moves = keep.map { case Carry(f, dst) =>
      val q = fs.makeQualified(f)
      require(q.getParent == qp || q.getParent.getParent == qp,
        s"compact: kept file $f must sit at most one directory under $path")
      val rel = if (q.getParent == qp) q.getName else s"${q.getParent.getName}/${q.getName}"
      Keep(rel, dst.getOrElse(rel))
    }
    val (tmp, old) = staged(p)
    val out = write(tmp.toString)
    if (!fs.exists(p)) {
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"compact: cannot publish $tmp as $p")
      return out
    }
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
    out
  }

  /** The span rewrite both compactions share: reads the `small` files by
    * path, counts them, and writes their rows as ceil(rows /
    * [[TargetRows]]) files through [[swapIn]] into `into` (a partition
    * directory such as `wave=-1`; the table root when None). The `big`
    * files carry over into the same directory by rename, plus
    * `alsoKeep`. After the swap it reads the rewritten files back and
    * requires the same row count. A partition value lives only in the
    * directory name, so re-homing a kept file is a pure move, and files
    * read by explicit path lose it: every rewritten row lands under
    * `into`.
    */
  private def rewriteSpan(spark: SparkSession, path: String, before: Int, small: Seq[Path],
                          big: Seq[Path], into: Option[String],
                          alsoKeep: Seq[Carry] = Nil): TieredStats = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keep = big.map(f => Carry(f, into.map(d => s"$d/${f.getName}"))) ++ alsoKeep
    val (rows, rewritten) = swapIn(spark, path, keep) { tmp =>
      if (small.isEmpty) (0L, Nil)
      else {
        val df = spark.read.parquet(small.map(_.toString): _*)
        val n = df.count()
        val out = into.fold(new Path(tmp))(new Path(tmp, _))
        StateFiles.write(df.repartition(math.max(1L, (n + TargetRows - 1) / TargetRows).toInt),
          out.toString)
        // A partition directory holds no marker: the wave writes leave none.
        if (into.nonEmpty) fs.delete(new Path(out, "_SUCCESS"), false)
        (n, listData(fs, out).map(_._1.getName))
      }
    }
    val after = listData(fs, p).size
    if (rewritten.nonEmpty) {
      val back = into.fold(p)(new Path(p, _))
      val rowsBack = spark.read.parquet(rewritten.map(n => new Path(back, n).toString): _*).count()
      require(rowsBack == rows, s"compact: rewritten rows changed $rows -> $rowsBack at $path")
    }
    TieredStats(rows, before, after, rewritten.size, big.size)
  }

  /** Size-tiered (LSM-style) compaction of an UNPARTITIONED parquet
    * directory: merges only the small-file span ([[selectSmallSpan]]),
    * carrying top-tier files over by metadata rename — so a periodic
    * compaction tick costs O(newly-appended slices), never
    * O(index history), which is what lets a long-lived incremental
    * index (the BM25 tf table) compact on every fold without its
    * rewrite bill growing with the index. A fragmented table of more
    * than 8 similar files merges whole (the flat-tier case).
    */
  def compactTiered(spark: SparkSession, path: String): TieredStats = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, p)
    require(fs.exists(p), s"compactTiered: no table at $path")
    val files = listData(fs, p)
    require(files.forall(_._1.getParent == fs.makeQualified(p)),
      s"compactTiered: $path is partitioned — use consolidateWaves")
    val before = files.size
    selectSmallSpan(files) match {
      case None => TieredStats(0L, before, before, 0, before)
      case Some((small, big)) => rewriteSpan(spark, path, before, small, big, None)
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
    * The swap is [[swapIn]]'s: kept files re-home from `wave=N/<f>` to
    * `wave=-1/<f>` and the current-wave dir carries over whole, both
    * from the staged-aside original by post-swap metadata rename, so a
    * crash anywhere — including a batch replay recreating the table dir
    * before the next tick — is recovered ([[recover]]) without losing
    * committed history.
    */
  def consolidateWaves(spark: SparkSession, path: String, currentWave: Long): TieredStats = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, p)
    require(fs.exists(p), s"consolidateWaves: no table at $path")
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
    val (small, big) = selectSmallSpan(committed, WaveMaxFiles).getOrElse((Nil, committed.map(_._1)))
    if (small.isEmpty && committed.forall(_._1.getParent.getName == "wave=-1"))
      TieredStats(0L, before, before, 0, before)
    else rewriteSpan(spark, path, before, small, big, Some("wave=-1"),
      currentDirs.map(d => Carry(d.getPath)).toSeq)
  }
}
