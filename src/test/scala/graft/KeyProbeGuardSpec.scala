package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The key-cruise probe has one implementation, [[graft.core.KeyCruise]]:
  * three plates once carried their own copies of it, and the copies
  * drifted (two had no arrival-position cache).
  */
class KeyProbeGuardSpec extends AnyFunSuite {

  test("cruisableKey is implemented in one file under src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root)
    val defining = try files.iterator.asScala.toSeq
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("def cruisableKey"))
    finally files.close()
    assert(defining.map(_.getFileName.toString) == Seq("KeyProbe.scala"),
      s"plates supply wanted keys to graft.core.KeyCruise: ${defining.mkString(", ")}")
  }
}
