package graft.testing

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils

/** Temporary directories for tests: each one is deleted with its whole
  * tree when the test JVM exits, so a run leaves nothing in the system
  * temp directory.
  */
object TempDirs {
  private val made = new ConcurrentLinkedQueue[Path]()
  private lazy val hook = sys.addShutdownHook(made.forEach(p => delete(p)))

  /** A new empty directory whose name starts with `prefix`. */
  def apply(prefix: String): Path = {
    hook
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir
  }

  /** Delete `root` and everything under it; a tree already gone is fine. */
  private[testing] def delete(root: Path): Unit = {
    FileUtils.deleteQuietly(root.toFile)
    ()
  }
}
