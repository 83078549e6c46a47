package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Library code reads settings only through [[GraftConf]]: no file under
  * `src/main/scala` reads env vars or JVM properties except the entry
  * points and their one session builder. Session-conf writes are held
  * to a ratchet: only [[GraftSession]] may write confs, apart from the
  * per-file sites still pinned in `ConfWritesLeft`. Parquet writes under
  * `graft/ops`, `graft/io` and `graft/streaming` are held to a second
  * ratchet: they go through the one state writer
  * ([[graft.io.StateFiles]]), apart from the sites pinned in
  * `ParquetWritesLeft`. File-system renames and deletes there are held
  * to a third: state moves only through the one swap protocol
  * ([[graft.ops.Compact]]), apart from the sites pinned in
  * `FsMovesLeft`. Streaming has one start path, held to a fourth:
  * under `graft/streaming` and `graft/Queries*.scala`, a `foreachBatch`
  * sink starts only in `EventStreams`' driver, an AvailableNow trigger
  * only there and in `QueriesStreaming`'s gate runner, and a
  * shuffle-partition scope only in that runner; under `graft/streaming`,
  * a wave write and a wave consolidation happen only in the
  * `WaveState` handle (`StartPath`). */
class ConfHygieneSpec extends AnyFunSuite {

  private val EntryPoints =
    Set("graft/Main.scala", "graft/Bench.scala", "graft/Verify.scala", "graft/GraftSession.scala")

  private val Read = """sys\.env|sys\.props|System\.getenv|System\.getPropert""".r

  private val ConfWrite = """conf\.(set|unset)\b""".r

  /** Session-conf writes library code still makes, per file: the shuffle
    * partition count around the streaming gates. Lower a pin when a site
    * goes. */
  private val ConfWritesLeft = Map("graft/QueriesShared.scala" -> 2)

  /** A DataFrame write chain ending in a Parquet write, within one
    * statement: `.write`, then a `.` call (possibly lines later), and
    * `.parquet(` before any `;`, `{` or `}`. */
  private val ParquetWrite = """\.write(?=\s*\.)[^;{}]*?\.parquet\(""".r

  /** The directories whose Parquet writes must go through the writer. */
  private val StateDirs = Seq("graft/ops/", "graft/io/", "graft/streaming/")

  /** The one state writer. */
  private val Writer = "graft/io/StateFiles.scala"

  /** Parquet writes outside the writer, per file: the wave-fixture
    * staging of the event inputs. Lower a pin when a site goes. */
  private val ParquetWritesLeft = Map("graft/io/Tables.scala" -> 2)

  private val FsMove = """\.(rename|delete)\(""".r

  /** The one swap protocol, exempt from `FsMove`. */
  private val Swap = "graft/ops/Compact.scala"

  /** Renames and deletes outside the swap, per file: the wave-fixture
    * staging rename and the orphaned bucketed-table reclaim. */
  private val FsMovesLeft = Map("graft/io/Tables.scala" -> 1, "graft/io/Sinks.scala" -> 1)

  private val Driver = "graft/streaming/EventStreams.scala"
  private val Runner = "graft/QueriesStreaming.scala"

  /** The start-path calls, each with its one site per file, and whether
    * `graft/Queries*.scala` is held to it as well as `graft/streaming`. */
  private val StartPath: Seq[(Regex, String, Map[String, Int], Boolean)] = Seq(
    ("""\.foreachBatch""".r, "foreachBatch starts", Map(Driver -> 1), true),
    ("""Trigger\.AvailableNow""".r, "AvailableNow triggers", Map(Driver -> 1, Runner -> 1), true),
    ("""withShufflePartitions\(""".r, "shuffle-partition scopes", Map(Runner -> 1), true),
    ("""StateFiles\.writeWave\(""".r, "wave writes", Map(Driver -> 1), false),
    ("""consolidateWaves\(""".r, "wave consolidations", Map(Driver -> 1), false))

  /** `(path relative to root, file)` for every Scala file under `root`. */
  private def scalaFiles(root: Path): Seq[(String, Path)] = {
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
      .map(f => root.relativize(f).toString.replace('\\', '/') -> f)
    finally files.close()
  }

  /** `(file, "file:line: text")` for every line under `root` matching
    * `pattern`, outside the files in `exempt` (paths relative to root). */
  private def hits(root: Path, pattern: Regex, exempt: Set[String]): Seq[(String, String)] =
    scalaFiles(root).filterNot { case (rel, _) => exempt(rel) }.flatMap { case (rel, f) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).isDefined => rel -> s"$f:${i + 1}: ${line.trim}"
      }
    }

  /** Every file whose hit count differs from its pin in `pins` (zero for
    * files not pinned): a header line, then the file's hits. */
  private def ratchet(found: Seq[(String, String)], pins: Map[String, Int],
                      what: String): Seq[String] = {
    val byFile = found.groupBy(_._1)
    (byFile.keySet ++ pins.keySet).toSeq.sorted.flatMap { file =>
      val fileHits = byFile.getOrElse(file, Nil).map(_._2)
      val pinned = pins.getOrElse(file, 0)
      if (fileHits.size == pinned) Nil
      else s"$file: $pinned $what pinned, ${fileHits.size} found" +: fileHits
    }
  }

  /** Every env/property read under `root`, except in the entry points. */
  private def violations(root: Path): Seq[String] = hits(root, Read, EntryPoints).map(_._2)

  /** Every conf write in a file whose write count differs from its pin
    * (zero for files not in `ConfWritesLeft`), plus pinned files that
    * no longer have their count. */
  private def confWriteViolations(root: Path): Seq[String] =
    ratchet(hits(root, ConfWrite, Set("graft/GraftSession.scala")), ConfWritesLeft, "conf writes")

  /** Every Parquet write chain under the state dirs outside the writer,
    * reported at the line of its `.write`, held to `ParquetWritesLeft`. */
  private def parquetWriteViolations(root: Path): Seq[String] = {
    val found = scalaFiles(root)
      .filter { case (rel, _) => StateDirs.exists(rel.startsWith) && rel != Writer }
      .flatMap { case (rel, f) =>
        val text = Files.readString(f)
        ParquetWrite.findAllMatchIn(text).map { m =>
          val line = text.substring(0, m.start).count(_ == '\n')
          rel -> s"$f:${line + 1}: ${text.linesIterator.drop(line).next().trim}"
        }
      }
    ratchet(found, ParquetWritesLeft, "Parquet writes")
  }

  /** Every rename or delete under the state dirs, held to `FsMovesLeft`. */
  private def fsMoveViolations(root: Path): Seq[String] =
    ratchet(hits(root, FsMove, Set(Swap)).filter { case (rel, _) => StateDirs.exists(rel.startsWith) },
      FsMovesLeft, "renames/deletes")

  /** Every start-path call in a file whose count differs from its pin. */
  private def startPathViolations(root: Path): Seq[String] =
    StartPath.flatMap { case (pattern, what, pins, queriesToo) =>
      val found = hits(root, pattern, Set.empty).filter { case (rel, _) =>
        rel.startsWith("graft/streaming/") ||
          queriesToo && rel.matches("graft/Queries[^/]*\\.scala")
      }
      ratchet(found, pins, what)
    }

  private def mainRoot: Path = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    root
  }

  test("no library file reads env vars or JVM properties") {
    val found = violations(mainRoot)
    assert(found.isEmpty,
      "library code must read settings through GraftConf:\n" + found.mkString("\n"))
  }

  test("library code writes session confs only at the pinned sites") {
    val found = confWriteViolations(mainRoot)
    assert(found.isEmpty,
      "library code must not write the caller's session confs:\n" + found.mkString("\n"))
  }

  test("state Parquet writes go through the one writer, apart from the pinned sites") {
    val found = parquetWriteViolations(mainRoot)
    assert(found.isEmpty,
      "write state through graft.io.StateFiles (zstd, one writer):\n" + found.mkString("\n"))
  }

  test("state files move only through the one swap, apart from the pinned sites") {
    val found = fsMoveViolations(mainRoot)
    assert(found.isEmpty,
      "move or drop state through graft.ops.Compact's swap:\n" + found.mkString("\n"))
  }

  test("streaming starts, partition scopes and wave state go through the one start path") {
    val found = startPathViolations(mainRoot)
    assert(found.isEmpty,
      "start streams through EventStreams' driver or QueriesStreaming's runner, and " +
        "touch wave state through WaveState:\n" + found.mkString("\n"))
  }

  test("the start-path check names the file and line, within its scope only") {
    val root = Files.createTempDirectory("graft_hygiene_start")
    Seq("streaming", "ops").foreach(d => Files.createDirectories(root.resolve(s"graft/$d")))
    def put(rel: String, text: String) = Files.writeString(root.resolve(rel), text)
    put(Driver, ".foreachBatch(f)\n.trigger(Trigger.AvailableNow())\n" +
      "StateFiles.writeWave(df, p, w)\nCompact.consolidateWaves(s, p, w)\n")
    put("graft/streaming/Other.scala", "q.foreachBatch(f)\n")
    put(Runner, "withShufflePartitions(s, n)(a)\nwithShufflePartitions(s, n)(b)\n" +
      "Trigger.AvailableNow()\n")
    put("graft/QueriesShared.scala", "def withShufflePartitions[T](s: S, n: Int)\n" +
      "StateFiles.writeWave(df, p, w)\n")
    put("graft/QueriesText.scala", ".trigger(Trigger.AvailableNow())\n")
    put("graft/ops/Compact.scala", "def consolidateWaves(s: S)\nconsolidateWaves(s, p, w)\n")
    val found = startPathViolations(root).map(_.replace(s"$root/", ""))
    assert(found == Seq(
      "graft/streaming/Other.scala: 0 foreachBatch starts pinned, 1 found",
      "graft/streaming/Other.scala:1: q.foreachBatch(f)",
      "graft/QueriesText.scala: 0 AvailableNow triggers pinned, 1 found",
      "graft/QueriesText.scala:1: .trigger(Trigger.AvailableNow())",
      "graft/QueriesStreaming.scala: 1 shuffle-partition scopes pinned, 2 found",
      "graft/QueriesStreaming.scala:1: withShufflePartitions(s, n)(a)",
      "graft/QueriesStreaming.scala:2: withShufflePartitions(s, n)(b)"), found)
  }

  test("the rename/delete check names the file and line, and spares the swap") {
    val root = Files.createTempDirectory("graft_hygiene_moves")
    Seq("ops", "io", "streaming", "text")
      .foreach(d => Files.createDirectories(root.resolve(s"graft/$d")))
    def put(rel: String, text: String) = Files.writeString(root.resolve(rel), text)
    put("graft/ops/Merge.scala", "fs.exists(p)\nfs.delete(staging, true)\n")
    put(Swap, "fs.rename(p, old)\nfs.delete(old, true)\n")
    put("graft/io/Tables.scala", "fs.rename(part, dest)\n")
    put("graft/io/Sinks.scala", "fs.delete(a, true)\n" * 2)
    put("graft/streaming/Sink.scala", "f.renameTo(g)\n")
    put("graft/text/Index.scala", "fs.delete(a, true)\n")
    val found = fsMoveViolations(root).map(_.replace(s"$root/", ""))
    assert(found == Seq("graft/io/Sinks.scala: 1 renames/deletes pinned, 2 found",
      "graft/io/Sinks.scala:1: fs.delete(a, true)", "graft/io/Sinks.scala:2: fs.delete(a, true)",
      "graft/ops/Merge.scala: 0 renames/deletes pinned, 1 found",
      "graft/ops/Merge.scala:2: fs.delete(staging, true)"), found)
  }

  test("the Parquet-write check names the file and line of a write chain") {
    val root = Files.createTempDirectory("graft_hygiene_writes")
    Seq("graft/ops", "graft/io", "graft/text").foreach(d => Files.createDirectories(root.resolve(d)))
    Files.writeString(root.resolve("graft/ops/Sink.scala"),
      "object Sink {\n  spark.read.parquet(p)\n  out.write(bytes); x.parquet(q)\n" +
        "  df.writeStream.start()\n  df.withColumn(\"w\", lit(1))\n    .write.mode(\"overwrite\")\n" +
        "    .partitionBy(\"w\").parquet(p)\n}\n")
    Files.writeString(root.resolve(Writer), "df.write.option(\"compression\", c).parquet(p)\n")
    Files.writeString(root.resolve("graft/io/Tables.scala"), "df.write.parquet(a)\n" * 3)
    Files.writeString(root.resolve("graft/text/Index.scala"), "df.write.parquet(a)\n")
    val found = parquetWriteViolations(root)
    assert(found.head == "graft/io/Tables.scala: 2 Parquet writes pinned, 3 found", found)
    val sink = found.dropWhile(!_.startsWith("graft/ops/Sink.scala"))
    assert(sink.head == "graft/ops/Sink.scala: 0 Parquet writes pinned, 1 found", found)
    assert(sink(1).contains("graft/ops/Sink.scala:6: .write.mode"), found)
    assert(found.size == 6, found)
    assert(!found.exists(w => w.contains("StateFiles") || w.contains("Index.scala")), found)
  }

  test("the check names the file and line of a read, and spares the entry points") {
    val root = Files.createTempDirectory("graft_hygiene")
    Files.createDirectories(root.resolve("graft/util"))
    Files.writeString(root.resolve("graft/util/Knob.scala"),
      "object Knob {\n  val on = System.getProperty(\"x\") != null\n  spark.conf.unset(\"y\")\n}\n")
    Files.writeString(root.resolve("graft/Bench.scala"), "object Bench { sys.env }\n")
    Files.writeString(root.resolve("graft/GraftSession.scala"), "spark.conf.set(\"a\", \"b\")\n")
    val shared = root.resolve("graft/QueriesShared.scala")
    Files.writeString(shared, "s.conf.set(\"p\", n)\n" * 3)
    val found = violations(root)
    assert(found.size == 1, found)
    assert(found.head.contains("graft/util/Knob.scala:2:"), found.head)
    val writes = confWriteViolations(root)
    assert(writes.head == "graft/QueriesShared.scala: 2 conf writes pinned, 3 found", writes)
    assert(writes.exists(_.contains("graft/util/Knob.scala:3:")), writes)
    assert(!writes.exists(_.contains("GraftSession")), writes)
    // A file at its pin is spared.
    Files.writeString(shared, "s.conf.set(\"p\", n)\ns.conf.set(\"p\", prev)\n")
    assert(!confWriteViolations(root).exists(_.contains("QueriesShared")))
  }
}
