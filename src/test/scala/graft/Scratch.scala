package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

/** Scratch directories for the specs: each is made under the system temp
  * directory and deleted, with everything in it, when the test JVM exits,
  * so repeated runs leave no fixture copies behind. */
object Scratch {
  private val made = new ConcurrentLinkedQueue[Path]()
  sys.addShutdownHook(made.forEach(d => delete(d)))

  /** A new empty directory whose name starts with `prefix`. */
  def dir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made.add(d)
    d
  }

  private def delete(root: Path): Unit = scala.util.Try {
    val paths = Files.walk(root)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
    finally paths.close()
  }
}
