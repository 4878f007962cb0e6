package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every main gets its session from [[GraftSession]]: a second builder in
  * `src/main` is how the copies drifted apart before (one main without the
  * extension, others pinned to their own core counts).
  */
class SessionFactorySpec extends AnyFunSuite {

  test("SparkSession.builder appears in src/main only inside GraftSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root)
    val offenders = try files.iterator.asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala")
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
    finally files.close()
    assert(offenders.isEmpty, s"build sessions through GraftSession.local: ${offenders.mkString(", ")}")
  }
}
