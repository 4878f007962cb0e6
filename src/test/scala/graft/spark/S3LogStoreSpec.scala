package graft.spark

import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths, StandardCopyOption}

/** [[GraftLogStore]] with MODERN OBJECT-STORE semantics (S3 after the
  * 2020 strong-consistency change, with 2024 conditional writes) — the
  * cloud deployment shape the protocol documents, faked over the local
  * filesystem so the contention/lifecycle soaks can actually exercise
  * its failure windows in this sandbox:
  *
  *   - NO atomic rename. [[publish]] is a full-object copy (PUT) of the
  *     staged bytes followed by a delete of the stage — a crash between
  *     the two leaves the stage behind (vacuumOrphans food), but the
  *     target appears ALL-OR-NOTHING (an object PUT is atomic), never
  *     torn.
  *   - PUT-IF-NONE-MATCH decided at CLOSE, not at open. [[createAtomic]]
  *     buffers the whole entry and runs the conditional PUT when the
  *     stream closes — so unlike POSIX O_EXCL, (a) two racing writers
  *     both think they hold the slot until the loser's close throws, and
  *     (b) readers NEVER observe a zero-byte/partial claimed entry (the
  *     "unwritten-entry window" disappears; the late-loss window appears
  *     in its place).
  *   - Listing / read-after-write are strongly consistent (modern S3),
  *     so no lag is injected on the read side.
  *
  * The local emulation of "atomic PUT" is a hidden unique stage +
  * ATOMIC_MOVE with REPLACE_EXISTING — internal mechanics; what the
  * protocol code observes is exactly the semantics above. A JVM-global
  * lock serializes same-JVM conditional PUTs (S3 serializes them
  * server-side).
  */
class S3SemanticsLogStore extends GraftLogStore {
  import S3SemanticsLogStore._

  override def createAtomic(fs: FileSystem, path: Path): java.io.OutputStream =
    new java.io.ByteArrayOutputStream() {
      private var done = false
      override def close(): Unit = if (!done) {
        done = true
        super.close()
        // the conditional PUT happens HERE: S3 completes (and can reject)
        // the object only when the upload finishes
        putObject(fs, path, toByteArray, ifNoneMatch = true)
        casPuts.incrementAndGet()
      }
    }

  override def publish(fs: FileSystem, tmp: Path, target: Path,
      overwrite: Boolean): Unit = {
    // no rename on an object store: copy the staged object as one
    // all-or-nothing PUT, then delete the stage
    val bytes = {
      val in = fs.open(tmp)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](64 * 1024)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toByteArray
      } finally in.close()
    }
    putObject(fs, target, bytes, ifNoneMatch = !overwrite)
    copyPublishes.incrementAndGet()
    if (dropStageDeleteOnce.getAndSet(false)) () // injected crash window:
      // the PUT landed, the stage delete never ran — the caller must
      // treat the lingering stage as an orphan, never as table state
    else fs.delete(tmp, false)
  }
}

object S3SemanticsLogStore {
  private val lock = new Object
  val casPuts = new java.util.concurrent.atomic.AtomicLong(0)
  val casLosses = new java.util.concurrent.atomic.AtomicLong(0)
  val copyPublishes = new java.util.concurrent.atomic.AtomicLong(0)
  val dropStageDeleteOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
  // round 15 (deepened fake): LIST-AFTER-WRITE LAG — when > 0, every PUT
  // object stays INVISIBLE to prefix listings (LagListingFileSystem) for
  // that many subsequent list inclusions, while exists()/open() stay
  // read-after-write consistent (the eventual-listing window of
  // pre-2020 S3 / several S3-compatible stores)
  val listLagCalls = new java.util.concurrent.atomic.AtomicInteger(0)
  // round 15: MULTIPART-ABORT DEBRIS — when > 0, every Nth PUT leaves an
  // orphaned `.s3mpu-*` part object next to the target (the visible-
  // debris analog of abandoned multipart uploads / GCS compose parts);
  // the protocol must ignore it everywhere and vacuum can reclaim it
  val multipartDebrisEvery = new java.util.concurrent.atomic.AtomicInteger(0)
  private val putCount = new java.util.concurrent.atomic.AtomicLong(0)

  private def putObject(fs: FileSystem, path: Path, bytes: Array[Byte],
      ifNoneMatch: Boolean): Unit = lock.synchronized {
    val target = Paths.get(path.toUri.getPath)
    if (ifNoneMatch && fs.exists(path)) {
      casLosses.incrementAndGet()
      throw new java.io.IOException(
        s"PreconditionFailed: if-none-match, object already exists: $path")
    }
    Option(target.getParent).foreach(Files.createDirectories(_))
    val stage = target.resolveSibling(
      s".s3put-${java.util.UUID.randomUUID().toString.take(8)}-${target.getFileName}")
    Files.write(stage, bytes)
    Files.move(stage, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    val n = putCount.incrementAndGet()
    val lag = listLagCalls.get()
    if (lag > 0) LagListingFileSystem.register(path.toUri.getPath, lag)
    val debris = multipartDebrisEvery.get()
    if (debris > 0 && n % debris == 0)
      Files.write(target.resolveSibling(
        s".s3mpu-${java.util.UUID.randomUUID().toString.take(8)}-part"),
        "abandoned multipart part".getBytes("UTF-8"))
  }
}

/** Local filesystem whose LISTINGS lag recently-PUT objects: paths the
  * [[S3SemanticsLogStore]] registers stay out of `listStatus` results for
  * N subsequent inclusions while `exists`/`open`/`getFileStatus` serve
  * them immediately (read-after-write consistent, list-after-write
  * eventually consistent). Registered under the `lags3` scheme.
  */
class LagListingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "lags3"
  override def getUri: java.net.URI = java.net.URI.create("lags3:///")
  override def listStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(p).filter(st =>
      LagListingFileSystem.visibleInListing(st.getPath.toUri.getPath))
}

object LagListingFileSystem {
  private val lag =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
  def register(rawPath: String, calls: Int): Unit =
    lag.put(rawPath, new java.util.concurrent.atomic.AtomicInteger(calls))
  def visibleInListing(rawPath: String): Boolean = {
    val c = lag.get(rawPath)
    if (c == null) true
    else if (c.getAndDecrement() > 0) false
    else { lag.remove(rawPath); true }
  }
  def reset(): Unit = lag.clear()
}

/** Direct unit pins of the fake's semantics (the soaks below are the
  * real payload — they rerun the full contention and COW-lifecycle
  * suites through it).
  */
class S3LogStoreSpec extends AnyFunSuite with TempDirs {
  private val conf = new org.apache.hadoop.conf.Configuration()
  private val store = new S3SemanticsLogStore
  private val dir = tempDir("graft-s3fake")

  private def fs = new Path(dir.toString).getFileSystem(conf)

  test("conditional PUT is decided at close: both writers stream, one loses") {
    val p = new Path(dir.toString, "entry-1")
    val a = store.createAtomic(fs, p)
    val b = store.createAtomic(fs, p) // S3: both uploads are in flight
    a.write("winner".getBytes("UTF-8"))
    b.write("loser".getBytes("UTF-8"))
    a.close() // first completed upload wins
    val e = intercept[java.io.IOException] { b.close() }
    assert(e.getMessage.contains("PreconditionFailed"))
    val content = new String(Files.readAllBytes(
      Paths.get(p.toUri.getPath)), "UTF-8")
    assert(content == "winner", "the losing upload must not clobber the winner")
  }

  test("no partial entry is ever visible before close") {
    val p = new Path(dir.toString, "entry-2")
    val out = store.createAtomic(fs, p)
    out.write("half".getBytes("UTF-8"))
    assert(!fs.exists(p), "S3 shows nothing until the PUT completes")
    out.close()
    assert(fs.exists(p))
  }

  test("publish copies all-or-nothing and leaves the stage on a crashed delete") {
    val tmp = new Path(dir.toString, "stage-1")
    Files.write(Paths.get(tmp.toUri.getPath), "payload".getBytes("UTF-8"))
    val target = new Path(dir.toString, "final-1")
    S3SemanticsLogStore.dropStageDeleteOnce.set(true)
    store.publish(fs, tmp, target, overwrite = false)
    assert(fs.exists(target))
    assert(fs.exists(tmp), "injected crash window: the stage lingers as an orphan")
    // publishing the SAME unique name again must lose the CAS
    val e = intercept[java.io.IOException] {
      store.publish(fs, tmp, target, overwrite = false)
    }
    assert(e.getMessage.contains("PreconditionFailed"))
    // overwrite publishes (checkpoints/manifests) replace atomically
    val tmp2 = new Path(dir.toString, "stage-2")
    Files.write(Paths.get(tmp2.toUri.getPath), "v2".getBytes("UTF-8"))
    store.publish(fs, tmp2, target, overwrite = true)
    assert(new String(Files.readAllBytes(
      Paths.get(target.toUri.getPath)), "UTF-8") == "v2")
    assert(!fs.exists(tmp2), "stage deleted after a clean publish")
  }
}

/** The full many-writer contention soak rerun through the S3-semantics
  * store: version allocation now serializes on a close-time conditional
  * PUT (late losses, no unwritten-entry window) and every artifact
  * publish is copy+delete. The serializable-history postconditions are
  * inherited unchanged — divergence here means the protocol leans on a
  * POSIX-only property.
  */
class S3CommitLogContentionSpec extends CommitLogContentionSpec {
  override protected def logStoreImpl: Option[String] =
    Some(classOf[S3SemanticsLogStore].getName)
}

/** The COW lifecycle differential fuzz rerun through the S3-semantics
  * store (same inherited model checks).
  */
class S3CowFuzzSpec extends CowFuzzSpec {
  override protected def logStoreImpl: Option[String] =
    Some(classOf[S3SemanticsLogStore].getName)
}

/** Round 15: the contention soak with LIST-AFTER-WRITE LAG and
  * MULTIPART-ABORT DEBRIS injected on top of the S3 semantics — just-PUT
  * commit entries, data files, checkpoints, and DV artifacts stay out of
  * prefix listings for several subsequent list calls (reads stay
  * consistent), and orphaned `.s3mpu-*` part objects accumulate next to
  * real objects. The serializable-history postconditions are inherited
  * unchanged: version allocation must converge through claim losses on
  * unlisted entries (createAtomic failure + entry await, never a
  * truncation or a livelock), snapshot folds must never silently drop an
  * unlisted-but-committed entry they already discovered, and debris must
  * be invisible to every protocol surface.
  */
class S3LagListingContentionSpec extends CommitLogContentionSpec {
  override protected def logStoreImpl: Option[String] =
    Some(classOf[S3SemanticsLogStore].getName)
  override protected def fsScheme: Option[String] = Some("lags3")
  override protected def extraHadoopConf: Map[String, String] =
    Map("fs.lags3.impl" -> classOf[LagListingFileSystem].getName)
  override def beforeAll(): Unit = {
    super.beforeAll()
    S3SemanticsLogStore.listLagCalls.set(3)
    S3SemanticsLogStore.multipartDebrisEvery.set(5)
  }
  override def afterAll(): Unit = {
    S3SemanticsLogStore.listLagCalls.set(0)
    S3SemanticsLogStore.multipartDebrisEvery.set(0)
    LagListingFileSystem.reset()
    super.afterAll()
  }
}

/** Round 15: the COW lifecycle fuzz under the same lag + debris faults. */
class S3LagListingCowFuzzSpec extends CowFuzzSpec {
  override protected def logStoreImpl: Option[String] =
    Some(classOf[S3SemanticsLogStore].getName)
  override protected def fsScheme: Option[String] = Some("lags3")
  override protected def extraHadoopConf: Map[String, String] =
    Map("fs.lags3.impl" -> classOf[LagListingFileSystem].getName)
  override def beforeAll(): Unit = {
    super.beforeAll()
    S3SemanticsLogStore.listLagCalls.set(3)
    S3SemanticsLogStore.multipartDebrisEvery.set(5)
  }
  override def afterAll(): Unit = {
    S3SemanticsLogStore.listLagCalls.set(0)
    S3SemanticsLogStore.multipartDebrisEvery.set(0)
    LagListingFileSystem.reset()
    super.afterAll()
  }
}
