package graft.spark

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._

/** The local filesystem (checksummed, like `file://`) under the
  * `graftcount://` scheme, counting `listStatus`, `open`, `create`,
  * `getFileStatus` and `exists` per path. `RawLocalFileSystem` reports
  * bytes but not calls; specs that pin what an operation asks of the
  * filesystem register this instead:
  * {{{
  *   .config("spark.hadoop.fs.graftcount.impl", classOf[CountingFs].getName)
  *   .config("spark.hadoop.fs.graftcount.impl.disable.cache", "true")
  * }}}
  * and address tables as `graftcount:///abs/path`. The FileSystem cache
  * is off so every lookup, on the driver and in tasks, resolves the
  * scheme through the conf. Counts are JVM-global (local-mode tasks run
  * in the driver's JVM): [[CountingFs.reset]] before the operation,
  * [[CountingFs.count]] after it.
  */
class CountingFs extends LocalFileSystem(new CountingFs.Raw) {
  import CountingFs.record

  override def getScheme: String = CountingFs.Scheme

  override def listStatus(f: Path): Array[FileStatus] = {
    record("listStatus", f); super.listStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    record("open", f); super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    record("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def getFileStatus(f: Path): FileStatus = {
    record("getFileStatus", f); super.getFileStatus(f)
  }

  // one `exists` call counts once, not also as the getFileStatus it makes
  override def exists(f: Path): Boolean = {
    record("exists", f)
    try { super.getFileStatus(f); true }
    catch { case _: java.io.FileNotFoundException => false }
  }
}

object CountingFs {
  val Scheme = "graftcount"

  /** The raw local filesystem answering to the counting scheme. */
  class Raw extends RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create(s"$Scheme:///")
    override def getScheme: String = Scheme
  }

  private val calls = new ConcurrentHashMap[(String, String), LongAdder]()

  private def record(op: String, f: Path): Unit =
    calls.computeIfAbsent((op, Path.getPathWithoutSchemeAndAuthority(f).toString),
      _ => new LongAdder).increment()

  def reset(): Unit = calls.clear()

  /** Calls of `op` on `path` itself (a scheme-less absolute path). */
  def count(op: String, path: String): Long =
    calls.asScala.collect { case ((o, p), n) if o == op && p == path => n.sum }.sum

  /** Calls of `op` on `prefix` or anything below it. */
  def countUnder(op: String, prefix: String): Long =
    calls.asScala.collect {
      case ((o, p), n) if o == op && (p == prefix || p.startsWith(prefix + "/")) => n.sum
    }.sum
}
