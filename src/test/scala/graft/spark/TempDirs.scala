package graft.spark

import org.scalatest.{BeforeAndAfterAll, Suite}

import java.nio.file.{Files, Path}

/** Scratch directories for a suite: each [[tempDir]] is a fresh directory
  * under the JVM temp dir, deleted with everything in it after the
  * suite's last test. A suite that overrides `afterAll` calls
  * `super.afterAll()` last, after it has stopped whatever writes there.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  protected def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made.add(d)
    d
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally made.forEach(d => TempDirs.deleteTree(d))
}

object TempDirs {
  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val paths = Files.walk(root)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
    finally paths.close()
  }
}
