package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Library code reads settings only through [[GraftConf]]: no file under
  * `src/main/scala` reads env vars or JVM properties except the entry
  * points and their one session builder. Session-conf writes are held
  * to a ratchet: only [[GraftSession]] may write confs, apart from the
  * per-file sites still pinned in `ConfWritesLeft`. */
class ConfHygieneSpec extends AnyFunSuite {

  private val EntryPoints =
    Set("graft/Main.scala", "graft/Bench.scala", "graft/Verify.scala", "graft/GraftSession.scala")

  private val Read = """sys\.env|sys\.props|System\.getenv|System\.getPropert""".r

  private val ConfWrite = """conf\.(set|unset)\b""".r

  /** Session-conf writes library code still makes, per file: the shuffle
    * partition count around the streaming gates, and the nanosAsLong /
    * UTC settings of the events reads. Lower a pin when a site goes. */
  private val ConfWritesLeft = Map("graft/QueriesShared.scala" -> 2, "graft/io/Tables.scala" -> 4)

  /** `(file, "file:line: text")` for every line under `root` matching
    * `pattern`, outside the files in `exempt` (paths relative to root). */
  private def hits(root: Path, pattern: Regex, exempt: Set[String]): Seq[(String, String)] = {
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
      .map(f => root.relativize(f).toString.replace('\\', '/') -> f)
      .filterNot { case (rel, _) => exempt(rel) }
      .flatMap { case (rel, f) =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if pattern.findFirstIn(line).isDefined => rel -> s"$f:${i + 1}: ${line.trim}"
        }
      }
    finally files.close()
  }

  /** Every env/property read under `root`, except in the entry points. */
  private def violations(root: Path): Seq[String] = hits(root, Read, EntryPoints).map(_._2)

  /** Every conf write in a file whose write count differs from its pin
    * (zero for files not in `ConfWritesLeft`), plus pinned files that
    * no longer have their count. */
  private def confWriteViolations(root: Path): Seq[String] = {
    val byFile = hits(root, ConfWrite, Set("graft/GraftSession.scala")).groupBy(_._1)
    (byFile.keySet ++ ConfWritesLeft.keySet).toSeq.sorted.flatMap { file =>
      val found = byFile.getOrElse(file, Nil).map(_._2)
      val pinned = ConfWritesLeft.getOrElse(file, 0)
      if (found.size == pinned) Nil
      else s"$file: $pinned conf writes pinned, ${found.size} found" +: found
    }
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

  test("the check names the file and line of a read, and spares the entry points") {
    val root = Files.createTempDirectory("graft_hygiene")
    Files.createDirectories(root.resolve("graft/util"))
    Files.createDirectories(root.resolve("graft/io"))
    Files.writeString(root.resolve("graft/util/Knob.scala"),
      "object Knob {\n  val on = System.getProperty(\"x\") != null\n  spark.conf.unset(\"y\")\n}\n")
    Files.writeString(root.resolve("graft/Bench.scala"), "object Bench { sys.env }\n")
    Files.writeString(root.resolve("graft/GraftSession.scala"), "spark.conf.set(\"a\", \"b\")\n")
    Files.writeString(root.resolve("graft/QueriesShared.scala"),
      "s.conf.set(\"p\", n)\ns.conf.set(\"p\", prev)\n")
    Files.writeString(root.resolve("graft/io/Tables.scala"),
      "spark.conf.set(\"n\", \"true\")\n" * 5)
    val found = violations(root)
    assert(found.size == 1, found)
    assert(found.head.contains("graft/util/Knob.scala:2:"), found.head)
    val writes = confWriteViolations(root)
    assert(writes.head == "graft/io/Tables.scala: 4 conf writes pinned, 5 found", writes)
    assert(writes.exists(_.contains("graft/util/Knob.scala:3:")), writes)
    assert(!writes.exists(w => w.contains("GraftSession") || w.contains("QueriesShared")), writes)
  }
}
