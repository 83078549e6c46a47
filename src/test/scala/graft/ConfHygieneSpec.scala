package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Library code reads settings only through [[GraftConf]]: no file under
  * `src/main/scala` reads env vars or JVM properties except the entry
  * points and their one session builder. */
class ConfHygieneSpec extends AnyFunSuite {

  private val EntryPoints =
    Set("graft/Main.scala", "graft/Bench.scala", "graft/Verify.scala", "graft/GraftSession.scala")

  private val Read = """sys\.env|sys\.props|System\.getenv|System\.getPropert""".r

  /** `file:line: text` for every env/property read under `root`, except
    * in the entry points. */
  private def violations(root: Path): Seq[String] = {
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
      .filterNot(f => EntryPoints(root.relativize(f).toString.replace('\\', '/')))
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if Read.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
        }
      }
    finally files.close()
  }

  test("no library file reads env vars or JVM properties") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val found = violations(root)
    assert(found.isEmpty,
      "library code must read settings through GraftConf:\n" + found.mkString("\n"))
  }

  test("the check names the file and line of a read, and spares the entry points") {
    val root = Files.createTempDirectory("graft_hygiene")
    Files.createDirectories(root.resolve("graft/util"))
    Files.writeString(root.resolve("graft/util/Knob.scala"),
      "object Knob {\n  val on = System.getProperty(\"x\") != null\n}\n")
    Files.writeString(root.resolve("graft/Bench.scala"), "object Bench { sys.env }\n")
    val found = violations(root)
    assert(found.size == 1, found)
    assert(found.head.contains("graft/util/Knob.scala:2:"), found.head)
  }
}
