package graft.spark

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Min-reader diagnostics (the Delta min-reader-version shape): a log
  * entry, checkpoint, or deletion-vector artifact whose WELL-FORMED
  * header declares a protocol NEWER than this build speaks must fail
  * loudly with an "upgrade graft" message — distinct from "corrupt
  * file", so an operator never "restores" a healthy table a newer writer
  * produced. Asserted on every read surface: direct entry parse, batch
  * versionAsOf, the tailing (followLog-admission) read, a LIVE followLog
  * stream, checkpoint folds, and DV artifact opens.
  */
class ProtocolCeilingSpec extends AnyFunSuite with TempDirs {

  private var spark: SparkSession = _
  private val root = tempDir("graft-protocol-ceiling")
  private val schema = "id BIGINT, v STRING"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("protocol-ceiling-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    super.afterAll()
  }

  private def conf = spark.sparkContext.hadoopConfiguration
  private def dir(name: String): String = root.resolve(name).toString

  private def mkTable(d: String, n: Long = 20L): Unit = {
    val s = spark
    import s.implicits._
    (0L until n).map(i => (i, s"r$i")).toDF("id", "v")
      .coalesce(1).write.format("graft-json").mode("overwrite").save(d)
  }

  /** Write a synthetic raw log entry at `v` (bytes verbatim). */
  private def writeEntry(d: String, v: Long, body: String): Unit = {
    val p = new Path(GraftCommitLog.logDir(new Path(d)), f"$v%020d")
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, false)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private def causeChain(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).toSeq

  private def assertUpgradeShaped(e: Throwable, declared: String,
      ceiling: String): Unit = {
    val msgs = causeChain(e).map(m => Option(m.getMessage).getOrElse(""))
    assert(msgs.exists(m =>
      m.contains(s"protocol $declared > max supported $ceiling") ||
        m.contains(s"format $declared > max supported $ceiling")),
      s"no upgrade-shaped message in: $msgs")
    assert(msgs.exists(_.contains("upgrade graft")), s"no remedy in: $msgs")
    assert(msgs.exists(_.contains("not corrupt")), s"no exoneration in: $msgs")
    assert(!msgs.exists(_.contains("malformed")),
      s"misclassified as corruption: $msgs")
  }

  test("a v9 entry fails as 'reader too old', not 'malformed'") {
    val d = dir("v9_entry")
    mkTable(d)
    val fs = new Path(d).getFileSystem(conf)
    writeEntry(d, 1L, "graft-commit v9\nt 1\nf future.jsonl\ne 1 00000000\n")
    val e = intercept[ProtocolTooNewException] {
      GraftCommitLog.entryActions(fs, new Path(d), 1L)
    }
    assertUpgradeShaped(e, "v9", "v8")
  }

  test("a v99 entry names its declared version in the diagnostic") {
    val d = dir("v99_entry")
    mkTable(d)
    val fs = new Path(d).getFileSystem(conf)
    writeEntry(d, 1L, "graft-commit v99\nf future.jsonl\n")
    val e = intercept[ProtocolTooNewException] {
      GraftCommitLog.entryActions(fs, new Path(d), 1L)
    }
    assertUpgradeShaped(e, "v99", "v8")
  }

  test("a genuinely foreign header stays 'malformed' — the classes are distinct") {
    val d = dir("foreign_entry")
    mkTable(d)
    val fs = new Path(d).getFileSystem(conf)
    writeEntry(d, 1L, "totally-not-a-graft-entry\n")
    val e = intercept[IllegalArgumentException] {
      GraftCommitLog.entryActions(fs, new Path(d), 1L)
    }
    assert(!e.isInstanceOf[ProtocolTooNewException])
    assert(e.getMessage.contains("malformed commit-log entry"), e.getMessage)
  }

  test("a torn v9 header prefix still classifies in-flight (prefix of the current header)") {
    // "graft-commit v" is a strict prefix of BOTH v8 and v9 headers — a
    // tear there is transient in-flight state, never an upgrade demand
    val d = dir("torn_header")
    mkTable(d)
    val fs = new Path(d).getFileSystem(conf)
    writeEntry(d, 1L, "graft-commit v")
    intercept[IncompleteCommitException] {
      GraftCommitLog.entryActions(fs, new Path(d), 1L)
    }
  }

  test("batch versionAsOf read surfaces the upgrade message") {
    val d = dir("v9_batch")
    mkTable(d)
    writeEntry(d, 1L, "graft-commit v9\nt 1\nf future.jsonl\ne 1 00000000\n")
    val e = intercept[Throwable] {
      spark.read.format("graft-json").schema(schema)
        .option("versionAsOf", "1").load(d).count()
    }
    assertUpgradeShaped(e, "v9", "v8")
  }

  test("the tailing read fails FAST on a newer protocol (no grace-period stall)") {
    val d = dir("v9_tailing")
    mkTable(d)
    val fs = new Path(d).getFileSystem(conf)
    writeEntry(d, 1L, "graft-commit v9\nf future.jsonl\n")
    val t0 = System.nanoTime()
    val e = intercept[ProtocolTooNewException] {
      GraftCommitLog.entryActionsTailing(fs, new Path(d), 1L, graceMs = 5000L)
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assertUpgradeShaped(e, "v9", "v8")
    // permanent state: must NOT be retried like an in-flight commit
    assert(elapsedMs < 3000L, s"tailing read stalled ${elapsedMs}ms on a permanent state")
  }

  test("a LIVE followLog stream dies with the upgrade message when a v9 entry lands") {
    val d = dir("v9_stream")
    mkTable(d, 50L)
    val ckpt = tempDir("graft-ceiling-ckpt")
    val q = spark.readStream.format("graft-json").schema(schema)
      .option("followlog", "true").load(d)
      .writeStream.format("memory").queryName("ceiling_stream")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      q.processAllAvailable() // seed batch delivered
      writeEntry(d, 1L, "graft-commit v9\nt 1\nf future.jsonl\ne 1 00000000\n")
      val e = intercept[Throwable] { q.processAllAvailable() }
      assertUpgradeShaped(e, "v9", "v8")
    } finally q.stop()
  }

  test("a newer checkpoint protocol fails the fold with the upgrade message") {
    val d = dir("v5_checkpoint")
    mkTable(d)
    val fs = new Path(d).getFileSystem(conf)
    val ckp = new Path(GraftCommitLog.logDir(new Path(d)), f"${0L}%020d.checkpoint")
    val out = fs.create(ckp, false)
    try out.write("graft-checkpoint v5\nf future.jsonl\n".getBytes("UTF-8"))
    finally out.close()
    val e = intercept[ProtocolTooNewException] {
      GraftCommitLog.readCheckpointState(fs, new Path(d), 0L)
    }
    assertUpgradeShaped(e, "v5", "v4")
    // and the batch snapshot path consulting checkpoints says the same
    val e2 = intercept[Throwable] {
      spark.read.format("graft-json").schema(schema)
        .option("versionAsOf", "0").load(d).count()
    }
    assertUpgradeShaped(e2, "v5", "v4")
  }

  test("a newer deletion-vector format fails the open with the upgrade message") {
    val d = dir("v3_dv")
    mkTable(d)
    val fs = new Path(d).getFileSystem(conf)
    val dvp = DeletionVectors.artifactPath(new Path(d), "future.dv")
    fs.mkdirs(dvp.getParent)
    val out = fs.create(dvp, false)
    try out.write("graft-dv v3\nsome.jsonl\n".getBytes("UTF-8"))
    finally out.close()
    val e = intercept[ProtocolTooNewException] {
      DeletionVectors.readMask(conf, dvp, "some.jsonl")
    }
    assertUpgradeShaped(e, "v3", "v2")
  }
}
