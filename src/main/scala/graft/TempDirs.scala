package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

/** Temp directories that live as long as the JVM: created under
  * `java.io.tmpdir` and deleted, with everything in them, when the JVM
  * exits (a shutdown hook; a killed JVM still leaves them behind). */
object TempDirs {

  /** A fresh `<prefix><random>` directory, deleted at JVM exit. */
  def create(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(p)))
    p
  }

  private def deleteTree(p: Path): Unit =
    try {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach { f => Files.deleteIfExists(f); () }
      finally walk.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }
}
