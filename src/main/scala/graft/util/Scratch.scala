package graft.util

import java.nio.file.{Files, Path}
import java.util.Comparator

/** Per-JVM scratch space for queries that stage data on local disk (CSV
  * round-trips, partitioned-state fixtures, streaming checkpoints). All
  * scratch dirs live under ONE per-process root that a shutdown hook
  * removes recursively — repeated Bench/Verify loops previously leaked a
  * fresh `/tmp/graft_*` directory per query invocation and never deleted
  * any of them. The root lives under `java.io.tmpdir`; point that at a
  * specific filesystem (a RAM-backed tmpfs, a fast local SSD on a
  * cluster node) with `-Djava.io.tmpdir=...`.
  */
object Scratch {

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft_scratch_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(r)))
    r
  }

  /** A fresh empty directory under the per-process scratch root. */
  def dir(prefix: String): String =
    Files.createTempDirectory(root, prefix).toString

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally stream.close()
    }
}
