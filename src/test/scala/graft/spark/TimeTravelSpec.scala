package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import java.nio.file.Files

/** Snapshot time travel on graft batch sinks: each batch commit appends a
  * `.graft-log/<version>` entry (put-if-absent allocation), and readers
  * pin `option("versionAsOf", v)` to the union of commits ≤ v.
  *
  * Soundness properties under test:
  *  - version 0 / 1 reads return exactly the respective commits' rows
  *  - latest (un-pinned) reads are unaffected by the log
  *  - unknown versions and un-logged directories fail loudly
  *  - overwrite restarts history at version 0
  *  - a vacuumed (deleted) live file fails the snapshot read, never
  *    silently shrinks it
  *  - partitioned layouts record partition-relative paths correctly
  *  - in-flight/foreign files the log never committed stay invisible to a
  *    pinned read (concurrent-append coherence)
  */
class TimeTravelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val root = Files.createTempDirectory("graft-tt-spec")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("time-travel-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    Files.walk(root).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
  }

  private def df(range: Range) = {
    val s = spark
    import s.implicits._
    range.map(i => (i.toLong, s"name-$i")).toDF("id", "name")
  }

  private def readAsOf(dir: String, v: Long) =
    spark.read.format("graft-json").schema("id BIGINT, name STRING")
      .option("versionAsOf", v.toString).load(dir)

  private def readLatest(dir: String) =
    spark.read.format("graft-json").schema("id BIGINT, name STRING").load(dir)

  test("append history: each version is the union of commits so far") {
    val dir = root.resolve("basic").toString
    df(0 until 5).write.format("graft-json").mode("overwrite").save(dir)  // v0
    df(5 until 12).write.format("graft-json").mode("append").save(dir)    // v1
    df(12 until 20).write.format("graft-json").mode("append").save(dir)   // v2

    assert(readAsOf(dir, 0).count() === 5)
    assert(readAsOf(dir, 1).count() === 12)
    assert(readAsOf(dir, 2).count() === 20)
    assert(readLatest(dir).count() === 20)
    assert(readAsOf(dir, 1).agg(sum("id")).head.getLong(0) === (0 until 12).sum)
  }

  test("unknown version and un-logged directory fail loudly") {
    val dir = root.resolve("basic").toString
    val e1 = intercept[Exception](readAsOf(dir, 99).count())
    assert(e1.getMessage.contains("unknown version"))

    val bare = root.resolve("unlogged")
    Files.createDirectories(bare)
    Files.write(bare.resolve("x.json"), "{\"id\":1,\"name\":\"a\"}\n".getBytes)
    val e2 = intercept[Exception](readAsOf(bare.toString, 0).count())
    assert(e2.getMessage.contains("no graft commit log"))
  }

  test("overwrite restarts history at version 0") {
    val dir = root.resolve("rewrite").toString
    df(0 until 5).write.format("graft-json").mode("overwrite").save(dir)
    df(5 until 9).write.format("graft-json").mode("append").save(dir)
    df(100 until 103).write.format("graft-json").mode("overwrite").save(dir) // wipes log

    assert(readAsOf(dir, 0).count() === 3)
    val e = intercept[Exception](readAsOf(dir, 1).count())
    assert(e.getMessage.contains("unknown version"))
  }

  test("a deleted live file fails the snapshot read instead of shrinking it") {
    val dir = root.resolve("vacuumed")
    df(0 until 5).write.format("graft-json").mode("overwrite").save(dir.toString)
    val dataFile = Files.list(dir).filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }.findFirst().get()
    Files.delete(dataFile)
    val e = intercept[Exception](readAsOf(dir.toString, 0).count())
    assert(e.getMessage.contains("missing file"))
  }

  test("partitioned writes log partition-relative paths") {
    val s = spark
    import s.implicits._
    val dir = root.resolve("parted").toString
    val batch1 = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "name", "k")
    val batch2 = Seq((3L, "c", "x"), (4L, "d", "z")).toDF("id", "name", "k")
    batch1.write.format("graft-json").partitionBy("k").mode("overwrite").save(dir)
    batch2.write.format("graft-json").partitionBy("k").mode("append").save(dir)

    // no explicit schema: inference runs over the pinned listing and the
    // partition column k rides in from the directory names
    val v0 = spark.read.format("graft-json").option("versionAsOf", "0").load(dir)
    assert(v0.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    val v1 = spark.read.format("graft-json").option("versionAsOf", "1").load(dir)
    assert(v1.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L))
    // partition pruning still applies under a pinned version
    assert(v1.filter(col("k") === "x").count() === 2)
  }

  test("files the log never committed are invisible to a pinned read") {
    val dir = root.resolve("foreign")
    df(0 until 5).write.format("graft-json").mode("overwrite").save(dir.toString)
    // an in-flight/foreign file lands without a commit
    Files.write(dir.resolve("rogue.json"), "{\"id\":999,\"name\":\"zz\"}\n".getBytes)
    assert(readAsOf(dir.toString, 0).count() === 5)       // pinned: invisible
    // round 13: the DEFAULT read of a logged table is log-first — the
    // rogue file is invisible there too; raw listing is the opt-in
    assert(readLatest(dir.toString).count() === 5)
    assert(spark.read.format("graft-json").schema("id BIGINT, name STRING")
      .option("rawlisting", "true").load(dir.toString).count() === 6)
  }

  test("changesSinceVersion reads only newer commits") {
    val dir = root.resolve("incr").toString
    df(0 until 5).write.format("graft-json").mode("overwrite").save(dir)  // v0
    df(5 until 12).write.format("graft-json").mode("append").save(dir)    // v1
    df(12 until 20).write.format("graft-json").mode("append").save(dir)   // v2

    def since(v: Long) =
      spark.read.format("graft-json").schema("id BIGINT, name STRING")
        .option("changesSinceVersion", v.toString).load(dir)
    assert(since(0).count() === 15)
    assert(since(1).count() === 8)
    assert(since(2).count() === 0)    // caught up: nothing newer
    val s = spark; import s.implicits._
    assert(since(1).select("id").as[Long].collect().sorted.toSeq === (12L until 20L))
    // an unknown checkpoint (history rewritten) fails loudly
    val e = intercept[Exception](since(99).count())
    assert(e.getMessage.contains("unknown version"))
    // both options at once is an error
    val e2 = intercept[Exception](
      spark.read.format("graft-json").schema("id BIGINT, name STRING")
        .option("versionAsOf", "0").option("changesSinceVersion", "0")
        .load(dir).count())
    assert(e2.getMessage.contains("mutually exclusive"))
  }

  test("vacuum removes only orphans; live data, sidecars, and log survive") {
    val dir = root.resolve("vac")
    df(0 until 5).write.format("graft-json").mode("overwrite").save(dir.toString)
    df(5 until 9).write.format("graft-json").mode("append").save(dir.toString)
    Files.write(dir.resolve("rogue.json"), "{\"id\":99,\"name\":\"zz\"}\n".getBytes)
    Files.write(dir.resolve("stray.bin"), Array[Byte](1, 2, 3))

    // dry run reports but deletes nothing
    val dry = graft.api.TrainingData.vacuumOrphans(spark, dir.toString, dryRun = true)
    assert(dry === Seq("rogue.json", "stray.bin"))
    assert(Files.exists(dir.resolve("rogue.json")))

    val removed = graft.api.TrainingData.vacuumOrphans(spark, dir.toString)
    assert(removed === Seq("rogue.json", "stray.bin"))
    assert(!Files.exists(dir.resolve("rogue.json")))

    // an unlogged copy of a committed part, stats sidecar included: the
    // sidecar goes with the orphan, and a dry run deletes neither
    val part = Files.list(dir).filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().get()
    def sidecar(p: java.nio.file.Path) = dir.resolve(s".${p.getFileName}.stats")
    val orphan = dir.resolve(s"copy-${part.getFileName}")
    Files.copy(part, orphan)
    Files.copy(sidecar(part), sidecar(orphan))
    assert(graft.api.TrainingData.vacuumOrphans(spark, dir.toString, dryRun = true) ===
      Seq(orphan.getFileName.toString))
    assert(Files.exists(orphan) && Files.exists(sidecar(orphan)))
    assert(graft.api.TrainingData.vacuumOrphans(spark, dir.toString) ===
      Seq(orphan.getFileName.toString))
    assert(!Files.exists(orphan) && !Files.exists(sidecar(orphan)))
    assert(Files.exists(part) && Files.exists(sidecar(part)))

    // all committed rows still read back, pinned reads still work
    assert(readLatest(dir.toString).count() === 9)
    assert(readAsOf(dir.toString, 0).count() === 5)
    // the log and hidden artifacts are intact
    assert(Files.exists(dir.resolve(".graft-log")))
    // idempotent: second vacuum finds nothing
    assert(graft.api.TrainingData.vacuumOrphans(spark, dir.toString) === Nil)
  }

  test("vacuum in a partitioned layout spares k=v-nested committed files") {
    val s = spark; import s.implicits._
    val dir = root.resolve("vacpart")
    Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "name", "k")
      .write.format("graft-json").partitionBy("k").mode("overwrite").save(dir.toString)
    Files.write(dir.resolve("k=x").resolve("rogue.json"),
      "{\"id\":7,\"name\":\"zz\"}\n".getBytes)
    val removed = graft.api.TrainingData.vacuumOrphans(spark, dir.toString)
    assert(removed === Seq("k=x/rogue.json"))
    assert(spark.read.format("graft-json").load(dir.toString).count() === 2)
  }

  test("followLog stream tails commits across restarts; rogue files invisible") {
    val s = spark; import s.implicits._
    val dir = root.resolve("tail").toString
    val ckpt = root.resolve("tail-ckpt").toString
    df(0 until 5).write.format("graft-json").mode("overwrite").save(dir) // v0
    Files.write(root.resolve("tail").resolve("rogue.json"),
      "{\"id\":999,\"name\":\"zz\"}\n".getBytes)

    val outDir = root.resolve("tail-out").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft-json")
        .schema("id BIGINT, name STRING")
        .option("followLog", "true")
        .load(dir)
        .writeStream.format("graft-json")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def outIds() = {
      val s2 = spark; import s2.implicits._
      spark.read.format("graft-json").schema("id BIGINT, name STRING")
        .load(outDir).select("id").as[Long].collect().sorted.toSeq
    }

    drain()
    assert(outIds() === (0L until 5L), "rogue row must not be ingested")

    // appends land; a restarted query (same checkpoint) reads ONLY them
    df(5 until 9).write.format("graft-json").mode("append").save(dir) // v1
    drain()
    assert(outIds() === (0L until 9L), "second drain appends exactly v1's rows")
  }

  private def writeAt(dir: String, r: Range, mode: String, ts: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.setLong(GraftCommitLog.CommitTimestampKey, ts)
    try df(r).write.format("graft-json").mode(mode).save(dir)
    finally conf.unset(GraftCommitLog.CommitTimestampKey)
  }

  test("timestampAsOf: resolves between commits; loud on both out-of-range ends") {
    val dir = root.resolve("tsof").toString
    writeAt(dir, 0 until 5, "overwrite", 1000000L)  // v0 @ 1000000
    writeAt(dir, 5 until 9, "append", 2000000L)     // v1 @ 2000000
    writeAt(dir, 9 until 12, "append", 3000000L)    // v2 @ 3000000
    def at(ts: Long) =
      spark.read.format("graft-json").schema("id BIGINT, name STRING")
        .option("timestampAsOf", ts.toString).load(dir).count()
    assert(at(1000000L) === 5)   // exactly at v0
    assert(at(1500000L) === 5)   // between v0 and v1
    assert(at(2000000L) === 9)
    assert(at(2999999L) === 9)
    assert(at(3000000L) === 12)  // exactly at the latest
    val early = intercept[Exception](at(999999L))
    assert(early.getMessage.contains("precedes"), early.getMessage)
    val late = intercept[Exception](at(3000001L))
    assert(late.getMessage.contains("after the latest"), late.getMessage)
  }

  test("timestampAsOf: a skewed writer clock is clamped monotonic") {
    val dir = root.resolve("tsclamp").toString
    writeAt(dir, 0 until 3, "overwrite", 5000000L)  // v0 @ 5000000
    writeAt(dir, 3 until 7, "append", 4000000L)     // v1 claims EARLIER
    // v1 clamps to 5000001: the earlier raw time never reorders history
    def at(ts: Long) =
      spark.read.format("graft-json").schema("id BIGINT, name STRING")
        .option("timestampAsOf", ts.toString).load(dir).count()
    assert(at(5000000L) === 3)
    assert(at(5000001L) === 7)
    intercept[Exception](at(4000000L)) // before the FIRST resolved time
  }

  test("timestampAsOf survives expireLogHistory through the checkpoint") {
    val dir = root.resolve("tsexpire").toString
    writeAt(dir, 0 until 4, "overwrite", 1000000L)  // v0
    writeAt(dir, 4 until 6, "append", 2000000L)     // v1
    graft.api.TrainingData.checkpointLog(spark, dir) // checkpoint @ v1
    writeAt(dir, 6 until 9, "append", 3000000L)     // v2
    graft.api.TrainingData.expireLogHistory(spark, dir) // retires v0, v1
    def at(ts: Long) =
      spark.read.format("graft-json").schema("id BIGINT, name STRING")
        .option("timestampAsOf", ts.toString).load(dir).count()
    // the checkpoint carries v1's commit time: resolution at/after it works
    assert(at(2500000L) === 6)
    assert(at(3000000L) === 9)
    // below the checkpoint's time: expired, loud
    val e = intercept[Exception](at(1500000L))
    assert(e.getMessage.contains("expired"), e.getMessage)
  }

  test("versions are contiguous and the log survives many appends") {
    val dir = root.resolve("many")
    df(0 until 1).write.format("graft-json").mode("overwrite").save(dir.toString)
    (1 until 6).foreach(i =>
      df(i until i + 1).write.format("graft-json").mode("append").save(dir.toString))
    val fs = new org.apache.hadoop.fs.Path(dir.toString)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val vs = GraftCommitLog.versions(fs, new org.apache.hadoop.fs.Path(dir.toString))
    assert(vs === (0L until 6L))
    assert(readAsOf(dir.toString, 3).count() === 4)
  }
}
