package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

import graft.api.TrainingData

/** Deletion vectors — merge-on-read DELETE (docs/TABLE_FORMAT.md):
  * `TrainingData.deleteWhereDV` writes per-file ordinal masks instead of
  * rewriting files; log-mediated AND raw-listing reads apply them; time
  * travel before the delete still shows the rows; `materializeDeletes`
  * rewrites the masks away.
  */
class DeletionVectorSpec extends AnyFunSuite with TempDirs {

  private var spark: SparkSession = _
  private val root = tempDir("graft-dv")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("deletion-vector-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    super.afterAll()
  }

  private def dir(name: String): String = root.resolve(name).toString

  /** The table's `.graft-dv/` artifacts: name -> the file each targets. */
  private def artifacts(d: String): Map[String, String] = {
    val dvDir = java.nio.file.Paths.get(d, DeletionVectors.DirName)
    if (!Files.exists(dvDir)) Map.empty
    else Files.list(dvDir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".dv"))
      .map(p => p.getFileName.toString ->
        new String(Files.readAllBytes(p), "UTF-8").split("\n", 3)(1))
      .toMap
  }
  private val schema = "id BIGINT, v STRING"

  private def writeTable(d: String, n: Long = 100L, parts: Int = 3): Unit = {
    val s = spark
    import s.implicits._
    (0L until n).map(i => (i, s"r$i")).toDF("id", "v")
      .repartition(parts)
      .write.format("graft-json").mode("overwrite").save(d)
  }

  private def snap(d: String) =
    spark.read.format("graft-json").schema(schema)
      .option("snapshot", "true").load(d)

  test("lifecycle: delete masks rows without touching data files; cumulative; time travel exact") {
    val d = dir("life")
    writeTable(d)
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(d))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).sortBy(_._1)

    val affected = TrainingData.deleteWhereDV(spark, d, schema, "id % 10 = 0")
    assert(affected.nonEmpty)
    // no data file was rewritten, moved, or resized
    val after = fs.listStatus(new org.apache.hadoop.fs.Path(d))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).sortBy(_._1)
    assert(after.toSeq === dataFiles.toSeq)

    assert(snap(d).count() === 90L)
    assert(snap(d).filter(col("id") % 10 === 0).count() === 0L)
    // unpinned raw-listing reads apply the latest masks too
    assert(spark.read.format("graft-json").schema(schema).load(d).count() === 90L)
    // time travel BEFORE the delete still shows every row
    assert(spark.read.format("graft-json").schema(schema)
      .option("versionasof", "0").load(d).count() === 100L)

    // second delete on overlapping files: vectors accumulate (prior ∪ new)
    val affected2 = TrainingData.deleteWhereDV(spark, d, schema, "id % 7 = 0")
    assert(affected2.nonEmpty)
    val expected = (0L until 100L).count(i => i % 10 != 0 && i % 7 != 0)
    assert(snap(d).count() === expected.toLong)
    // residual filters over masked files stay exact
    assert(snap(d).filter(col("id") >= 50L).count() ===
      (50L until 100L).count(i => i % 10 != 0 && i % 7 != 0).toLong)
    // aggregates can't answer from (now overcounting) sidecar stats
    val ids = snap(d).agg(sum("id"), count(lit(1))).head()
    assert(ids.getLong(0) ===
      (0L until 100L).filter(i => i % 10 != 0 && i % 7 != 0).sum)
  }

  test("withRowIndex on a masked table: survivors keep their TRUE file ordinals") {
    val d = dir("addr")
    val s = spark
    import s.implicits._
    (0L until 50L).map(i => (i, s"r$i")).toDF("id", "v")
      .repartition(1).sortWithinPartitions("id")
      .write.format("graft-json").mode("overwrite").save(d)
    // sorted single file: ordinal == id before any delete
    TrainingData.deleteWhereDV(spark, d, schema, "id < 10")
    val got = spark.read.format("graft-json").schema(
        schema + ", _graft_row_index BIGINT")
      .option("withrowindex", "true").option("snapshot", "true").load(d)
      .select($"id", $"_graft_row_index").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    // rows 10..49 survive AND keep addresses 10..49 (stability: a delete
    // of other rows never renumbers the survivors)
    assert(got.toSeq === (10L until 50L).map(i => (i, i)))
  }

  test("csv: masks apply through the csv reader too") {
    val d = dir("csv")
    val s = spark
    import s.implicits._
    (0L until 60L).map(i => (i, s"c$i")).toDF("id", "v")
      .repartition(2)
      .write.format("graft-csv").mode("overwrite").save(d)
    TrainingData.deleteWhereDV(spark, d, schema, "id >= 40", format = "graft-csv")
    val df = spark.read.format("graft-csv").schema(schema)
      .option("snapshot", "true").load(d)
    assert(df.count() === 40L)
    assert(df.agg(max("id")).head().getLong(0) === 39L)
  }

  test("OCC: a racing delete aborts the stale commit loudly") {
    val d = dir("occ")
    writeTable(d, n = 20L, parts = 1)
    TrainingData.deleteWhereDV(spark, d, schema, "id = 1")
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val state = GraftCommitLog.liveStateAsOf(
      fs, new org.apache.hadoop.fs.Path(d), 1L)
    val (file, dv1) = state.find(_._2 != null).get
    // simulate a racer: attach a new vector claiming it merged from NO
    // prior vector (stale base) — must abort, not silently drop dv1
    val name = DeletionVectors.write(fs, new org.apache.hadoop.fs.Path(d),
      file, Iterator(5L), None)._1
    val e = intercept[java.util.ConcurrentModificationException] {
      GraftCommitLog.appendEntry(spark.sparkContext.hadoopConfiguration, d,
        adds = Nil, dvs = Seq((name, file)), dvBase = Map(file -> null))
    }
    assert(e.getMessage.contains("deletion vector"), e.getMessage)
    // and a remove-carrying rewrite racing the SAME file still validates
    // (the dv target is live, so removes against it are legal)
    assert(GraftCommitLog.liveStateAsOf(
      fs, new org.apache.hadoop.fs.Path(d), 1L)(file) === dv1)
  }

  test("materializeDeletes: physically purges masked rows, restores raw reads, atomic") {
    val d = dir("mat")
    writeTable(d)
    TrainingData.deleteWhereDV(spark, d, schema, "id < 30")
    val rewritten = TrainingData.materializeDeletes(spark, d, schema)
    assert(rewritten.nonEmpty)
    assert(snap(d).count() === 70L)
    // raw listing (no snapshot option) now also holds exactly 70 rows —
    // and no deletion vectors remain in the live state
    assert(spark.read.format("graft-json").schema(schema).load(d).count() === 70L)
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = GraftCommitLog.versions(fs, new org.apache.hadoop.fs.Path(d))
    val state = GraftCommitLog.liveStateAsOf(fs, new org.apache.hadoop.fs.Path(d), vs.max)
    assert(state.values.forall(_ == null))
    // count(*) may answer from sidecar stats again — still exact
    assert(snap(d).count() === 70L)
  }

  test("COW deleteWhere on a masked table never resurrects masked rows") {
    val d = dir("cowmix")
    writeTable(d, n = 40L, parts = 2)
    TrainingData.deleteWhereDV(spark, d, schema, "id >= 30") // mask 30..39
    // classic COW delete of 0..9: rewrites candidate files — the rewrite
    // must apply the masks or 30..39 would come back
    TrainingData.deleteWhere(spark, d, schema, "id < 10")
    val left = snap(d).select("id").collect().map(_.getLong(0)).sorted
    assert(left.toSeq === (10L until 30L))
    // raw listing agrees (rewritten files are physically clean)
    assert(spark.read.format("graft-json").schema(schema).load(d).count() === 20L)
  }

  test("incremental consumers refuse deletion-vector history loudly") {
    val d = dir("inc")
    writeTable(d, n = 10L, parts = 1)
    TrainingData.deleteWhereDV(spark, d, schema, "id = 3")
    val e1 = intercept[Exception] {
      spark.read.format("graft-json").schema(schema)
        .option("changessinceversion", "0").load(d).count()
    }
    assert(e1.getMessage.contains("deletion vector"), e1.getMessage)
  }

  test("checkpoint carries the masks across expireLogHistory") {
    val d = dir("ckpt")
    writeTable(d, n = 30L, parts = 1)
    TrainingData.deleteWhereDV(spark, d, schema, "id % 3 = 0")
    TrainingData.checkpointLog(spark, d)
    TrainingData.expireLogHistory(spark, d)
    assert(snap(d).count() === 20L)
    // and version 0 is correctly refused as expired, not wrongly served
    val e = intercept[Exception] {
      spark.read.format("graft-json").schema(schema)
        .option("versionasof", "0").load(d).count()
    }
    assert(e.getMessage.toLowerCase.contains("expired"), e.getMessage)
  }

  test("a missing or corrupt artifact fails the read loudly, never resurrects rows") {
    val d = dir("corrupt")
    writeTable(d, n = 10L, parts = 1)
    TrainingData.deleteWhereDV(spark, d, schema, "id = 5")
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvDir = new org.apache.hadoop.fs.Path(d, DeletionVectors.DirName)
    val art = fs.listStatus(dvDir).filter(_.getPath.getName.endsWith(".dv")).head.getPath
    // truncate mid-payload: 8-byte alignment check must reject it
    val bytes = {
      val in = fs.open(art)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      in.close(); out.toByteArray
    }
    val o = fs.create(art, true)
    o.write(bytes, 0, bytes.length - 3)
    o.close()
    val e = intercept[Exception] { snap(d).count() }
    assert(e.getMessage != null)
    // restore and verify the table still reads exactly
    val o2 = fs.create(art, true); o2.write(bytes); o2.close()
    assert(snap(d).count() === 9L)
  }

  test("rewrite OCC: a DV delete landing after the rewrite's read aborts the rewrite") {
    val d = dir("rewriteocc")
    writeTable(d, n = 20L, parts = 1) // v0
    TrainingData.deleteWhereDV(spark, d, schema, "id = 7") // v1 attaches a dv
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootP = new org.apache.hadoop.fs.Path(d)
    val file = GraftCommitLog.liveStateAsOf(fs, rootP, 1L).keys.head
    // a rewrite that READ at v0 (before the delete) must abort: its
    // rewritten file was built from pre-delete rows
    val e = intercept[java.util.ConcurrentModificationException] {
      GraftCommitLog.appendEntry(spark.sparkContext.hadoopConfiguration, d,
        adds = Seq("part-rewritten-00000.jsonl"), removes = Seq(file),
        removesBase = 0L)
    }
    assert(e.getMessage.contains("after the rewrite's read"), e.getMessage)
    // the same rewrite reading at v1 (mask applied) commits fine
    GraftCommitLog.appendEntry(spark.sparkContext.hadoopConfiguration, d,
      adds = Seq("part-rewritten-00000.jsonl"), removes = Seq(file),
      removesBase = 1L)
  }

  test("deleteWhere racing deleteWhereDV end-to-end: one of the two loses loudly") {
    // the API-level version of the rail: COW deleteWhere reads at latest
    // and passes commitremovesversion — simulate the race by attaching a
    // vector AFTER resolveCow would have pinned, via a direct interleave:
    // run deleteWhereDV, then a deleteWhere whose predicate hits the same
    // file. deleteWhere reads at the NEW latest (post-dv), so it applies
    // the mask and commits — proving the legal interleaving still works
    // and masked rows stay gone through a subsequent rewrite.
    val d = dir("race")
    writeTable(d, n = 30L, parts = 1)
    TrainingData.deleteWhereDV(spark, d, schema, "id >= 20")
    TrainingData.deleteWhere(spark, d, schema, "id < 5")
    assert(snap(d).select("id").collect().map(_.getLong(0)).sorted.toSeq
      === (5L until 20L))
  }

  test("non-ASCII target paths survive the artifact header round-trip") {
    // partition values pass through escapePathValue un-transliterated, so
    // a target like nation=日本/part-x.jsonl is legal; the header must
    // decode as UTF-8, not byte-as-char (the artifact NAME is an ASCII
    // uuid — this container's jnu encoding can't create non-ASCII local
    // paths, so the unit round-trip is the exercisable surface)
    val d = dir("utf8")
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootP = new org.apache.hadoop.fs.Path(d)
    fs.mkdirs(rootP)
    val target = "nation=日本/part-00000-España.jsonl"
    val name = DeletionVectors.write(fs, rootP, target, Iterator(2L, 5L), None)._1
    val got = DeletionVectors.readOrdinals(
      spark.sparkContext.hadoopConfiguration,
      DeletionVectors.artifactPath(rootP, name), target)
    assert(got.toSeq === Seq(2L, 5L))
    // and a WRONG expected target still fails the cross-check
    val e = intercept[IllegalArgumentException] {
      DeletionVectors.readOrdinals(spark.sparkContext.hadoopConfiguration,
        DeletionVectors.artifactPath(rootP, name), "nation=日本/other.jsonl")
    }
    assert(e.getMessage.contains("disagree"))
  }

  test("raw-listing streaming discovery refuses a dv-carrying table loudly") {
    val d = dir("rawstream")
    writeTable(d, n = 10L, parts = 1)
    TrainingData.deleteWhereDV(spark, d, schema, "id = 4")
    val e = intercept[Exception] {
      spark.readStream.format("graft-json").schema(schema).load(d)
        .writeStream.format("memory").queryName("dv_rawstream")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("deletion vector")), msgs(e).mkString(" | "))
  }

  test("deleteWhereDV refuses unknown formats (avro is supported — GraftAvroDvSpec)") {
    val e = intercept[IllegalArgumentException] {
      TrainingData.deleteWhereDV(spark, dir("parquetfmt"), schema, "id = 1",
        format = "parquet")
    }
    assert(e.getMessage.contains("graft-json/graft-csv/graft-avro"))
  }

  test("vacuum reclaims unreferenced artifacts, never referenced ones") {
    val d = dir("gc")
    writeTable(d, n = 30L, parts = 1)
    TrainingData.deleteWhereDV(spark, d, schema, "id < 5")  // artifact A
    TrainingData.deleteWhereDV(spark, d, schema, "id < 10") // B replaces A
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootP = new org.apache.hadoop.fs.Path(d)
    val dvDir = new org.apache.hadoop.fs.Path(d, DeletionVectors.DirName)
    assert(fs.listStatus(dvDir).count(_.getPath.getName.endsWith(".dv")) === 2)
    // A is still referenced by version 1's entry — vacuum keeps BOTH
    assert(TrainingData.vacuumOrphans(spark, d).isEmpty)
    // checkpoint + expire retires v1's entry; B (checkpoint + latest
    // entry) survives, A becomes debris and the expiry reclaims it
    TrainingData.checkpointLog(spark, d)
    TrainingData.expireLogHistory(spark, d)
    val left = fs.listStatus(dvDir).filter(_.getPath.getName.endsWith(".dv"))
    assert(left.length === 1)
    val vs = GraftCommitLog.versions(fs, rootP)
    val state = GraftCommitLog.liveStateAsOf(fs, rootP, vs.max)
    assert(state.values.toSet.filter(_ != null) === Set(left.head.getPath.getName))
    assert(snap(d).count() === 20L)
    // an orphan artifact nothing references (aborted commit debris) is
    // vacuum food — and reads stay exact after the sweep
    DeletionVectors.write(fs, rootP, "nonexistent.jsonl", Iterator(1L), None)
    val swept = TrainingData.vacuumOrphans(spark, d)
    assert(swept.exists(_.startsWith(DeletionVectors.DirName + "/")), swept)
    assert(fs.listStatus(dvDir).count(_.getPath.getName.endsWith(".dv")) === 1)
    assert(snap(d).count() === 20L)
  }

  // ---- round 10: mask-aware fast paths (the "vectorized cliff" closes) ----

  test("masked reads stay VECTORIZED: columnar plan, exact post-mask rows") {
    val d = dir("vec")
    writeTable(d, n = 200L, parts = 2)
    TrainingData.deleteWhereDV(spark, d, schema, "id % 3 = 0")
    val df = snap(d)
    // the scan must report columnar (Spark inserts ColumnarToRow above it)
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "a deletion-vector snapshot fell off the vectorized path:\n" +
        df.queryExecution.executedPlan)
    val got = df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    val want = (0L until 200L).filter(_ % 3 != 0).map(i => (i, s"r$i"))
    assert(got.toSeq === want)
  }

  test("pushdowns under masks: COUNT(*), min/max battery, TopN, OFFSET all exact") {
    val d = dir("push")
    val s = spark
    import s.implicits._
    // single sorted file so OFFSET is accepted (one-file listing)
    (0L until 100L).map(i => (i, s"r$i")).toDF("id", "v")
      .repartition(1).sortWithinPartitions("id")
      .write.format("graft-json").mode("overwrite").save(d)
    TrainingData.deleteWhereDV(spark, d, schema, "id % 10 < 2") // drops 20 rows
    // pushed COUNT(*): sidecar base − mask cardinality
    assert(snap(d).count() === 80L)
    // pushed grouped battery: masked files PARSE (metadata answers would
    // count masked rows) and fold post-mask values
    val agg = snap(d).agg(min("id"), max("id"), count("id")).collect()(0)
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) === ((2L, 99L, 80L)))
    // pushed TopN: heaps drain post-mask rows
    val top = snap(d).orderBy(col("id").asc).limit(3).collect().map(_.getLong(0))
    assert(top.toSeq === Seq(2L, 3L, 4L))
    // pushed OFFSET over the post-mask stream
    val page = snap(d).orderBy(col("id").asc).collect().map(_.getLong(0))
      .slice(5, 8)
    val viaOffset = snap(d).select("id").offset(5).limit(3).collect().map(_.getLong(0))
    assert(viaOffset.toSeq === page.toSeq)
  }

  test("file pruning stays sound under masks: prunes clean ranges, never resurrects") {
    val d = dir("prune")
    val s = spark
    import s.implicits._
    // 4 files tiling id ranges (clustered write → disjoint sidecar min/max)
    (0L until 400L).map(i => (i, s"r$i")).toDF("id", "v")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.format("graft-json").mode("overwrite").save(d)
    // mask EVERY row of the first range and some of the second
    TrainingData.deleteWhereDV(spark, d, schema, "id < 120")
    GraftScan.lastStatsPruned.set(-1)
    // filter targeting the last range: earlier files prune by min/max even
    // though they carry vectors (a mask only shrinks a file's row set)
    val hits = snap(d).filter(col("id") >= 350L).count()
    assert(hits === 50L)
    assert(GraftScan.lastStatsPruned.get >= 2,
      s"masked files should still stats-prune, pruned=${GraftScan.lastStatsPruned.get}")
    // the fully-masked range answers empty, never resurrects
    assert(snap(d).filter(col("id") < 100L).count() === 0L)
    assert(snap(d).count() === 280L)
  }

  test("a mask addressing rows the file does not have fails COUNT loudly") {
    val d = dir("badmask")
    writeTable(d, n = 10L, parts = 1)
    val root = new org.apache.hadoop.fs.Path(d)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = fs.listStatus(root)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
      .map(_.getPath.getName).head
    val art = DeletionVectors.write(fs, root, target, Iterator(999L), None)._1
    GraftCommitLog.appendEntry(spark.sparkContext.hadoopConfiguration, d,
      adds = Nil, removes = Nil, dvs = Seq((art, target)),
      dvBase = Map(target -> null))
    val e = intercept[Exception] { snap(d).count() }
    assert(e.getMessage != null)
  }

  test("artifact formats: v1 and v2 round-trip dense/sparse/run patterns identically") {
    val d = dir("fmt")
    writeTable(d, n = 5L, parts = 1) // just to have a root
    val rootP = new org.apache.hadoop.fs.Path(d)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    val patterns: Seq[Seq[Long]] = Seq(
      Seq.empty[Long],                          // empty
      Seq(0L),                                  // single at origin
      Seq(7L),                                  // single mid
      (0L until 1000L),                         // one dense run
      (0L until 1000L).filter(_ % 2 == 0),      // alternating (worst case)
      Seq(0L, 1L, 2L, 50L, 51L, 900L),          // mixed runs + singletons
      (0L until 100L) ++ (1000000L until 1000100L) // far-apart runs
    ).map(_.toSeq)
    for (pat <- patterns; ver <- Seq(1, 2)) {
      val name = DeletionVectors.write(fs, rootP, "t.jsonl",
        pat.iterator, None, formatVersion = ver)._1
      val got = DeletionVectors.readOrdinals(conf,
        DeletionVectors.artifactPath(rootP, name), "t.jsonl").toSeq
      assert(got === pat, s"pattern round-trip failed (v$ver): $pat")
      val mask = DeletionVectors.readMask(conf,
        DeletionVectors.artifactPath(rootP, name), "t.jsonl")
      assert(mask.cardinality === pat.length.toLong)
      // membership walk over a superset of probes, ascending
      val probeMax = (pat.lastOption.getOrElse(0L) + 2L).min(1100L)
      val expected = pat.toSet
      (0L to probeMax).foreach(o =>
        assert(mask.masked(o) === expected.contains(o), s"v$ver ord $o"))
    }
    // cross-format cumulative merge: v1 prior ∪ new ordinals → v2
    val v1 = DeletionVectors.write(fs, rootP, "m.jsonl",
      Iterator(1L, 5L, 6L), None, formatVersion = 1)._1
    val merged = DeletionVectors.write(fs, rootP, "m.jsonl",
      Iterator(0L, 5L, 7L), Some(v1), formatVersion = 2)._1
    assert(DeletionVectors.readOrdinals(conf,
      DeletionVectors.artifactPath(rootP, merged), "m.jsonl").toSeq ===
      Seq(0L, 1L, 5L, 6L, 7L))
  }

  test("v2 artifacts compress runs: contiguous delete >= 50x smaller than v1") {
    val d = dir("fmtsize")
    writeTable(d, n = 5L, parts = 1)
    val rootP = new org.apache.hadoop.fs.Path(d)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val contiguous = (0L until 1000000L)
    val v1 = DeletionVectors.write(fs, rootP, "big.jsonl",
      contiguous.iterator, None, formatVersion = 1)._1
    val v2 = DeletionVectors.write(fs, rootP, "big.jsonl",
      contiguous.iterator, None, formatVersion = 2)._1
    val s1 = fs.getFileStatus(DeletionVectors.artifactPath(rootP, v1)).getLen
    val s2 = fs.getFileStatus(DeletionVectors.artifactPath(rootP, v2)).getLen
    assert(s1 >= 8L * 1000000L)
    assert(s2 * 50 <= s1, s"v2=$s2 bytes vs v1=$s1 bytes — expected >= 50x smaller")
    // and the run-encoded mask reads back in O(runs) with exact bounds
    val mask = DeletionVectors.readMask(spark.sparkContext.hadoopConfiguration,
      DeletionVectors.artifactPath(rootP, v2), "big.jsonl")
    assert(mask.numRuns === 1)
    assert(mask.cardinality === 1000000L)
    assert(mask.last === 999999L)
  }

  test("legacy v1 artifacts keep reading end-to-end (mixed-format table)") {
    val d = dir("fmtcompat")
    writeTable(d, n = 60L, parts = 2)
    // force the legacy write format through the conf dial
    val conf = spark.sparkContext.hadoopConfiguration
    conf.setInt(DeletionVectors.FormatKey, 1)
    try TrainingData.deleteWhereDV(spark, d, schema, "id % 4 = 0")
    finally conf.unset(DeletionVectors.FormatKey)
    // second delete writes v2, MERGING each file's v1 prior
    TrainingData.deleteWhereDV(spark, d, schema, "id % 4 = 1")
    assert(snap(d).count() === 30L)
    assert(snap(d).agg(min(col("id"))).collect()(0).getLong(0) === 2L)
  }

  test("Mask.minus: run-level subtraction across overlap shapes") {
    val d = dir("minus")
    writeTable(d, n = 5L, parts = 1)
    val rootP = new org.apache.hadoop.fs.Path(d)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    def mk(ords: Seq[Long]): DeletionVectors.Mask = {
      val n = DeletionVectors.write(fs, rootP, "x.jsonl", ords.iterator, None)._1
      DeletionVectors.readMask(conf, DeletionVectors.artifactPath(rootP, n), "x.jsonl")
    }
    def diff(a: Seq[Long], b: Seq[Long]): Seq[Long] =
      mk(a).minus(mk(b)).toSeq.flatMap { case (s, e) => s until e }
    assert(diff(Seq(1, 2, 3, 10, 11), Seq(2, 10)) === Seq(1L, 3L, 11L))
    assert(diff(0L until 100L, 25L until 75L) === ((0L until 25L) ++ (75L until 100L)))
    assert(diff(Seq(5, 6, 7), Seq(5, 6, 7)) === Seq.empty)
    assert(diff(Seq(5, 6, 7), Seq.empty) === Seq(5L, 6L, 7L))
    assert(diff(Seq(0, 2, 4, 6, 8), Seq(2, 6)) === Seq(0L, 4L, 8L))
    // one other-run spanning multiple this-runs
    assert(diff(Seq(1, 2, 5, 6, 9), 0L until 8L) === Seq(9L))
  }

  test("changeFeed: DV deletes flow as row-level 'delete', in-range adds as net 'insert'") {
    val d = dir("cdf")
    val s = spark
    import s.implicits._
    // v0: ids 0..59
    (0L until 60L).map(i => (i, s"r$i")).toDF("id", "v")
      .repartition(2).write.format("graft-json").mode("overwrite").save(d)
    // v1: append ids 60..99
    (60L until 100L).map(i => (i, s"r$i")).toDF("id", "v")
      .repartition(2).write.format("graft-json").mode("append").save(d)
    // v2: DV-delete across BOTH vintages
    TrainingData.deleteWhereDV(spark, d, schema, "id % 4 = 1")
    val feed = TrainingData.changeFeed(spark, d, schema, sinceVersion = 0L)
      .collect().map(r => (r.getString(2), r.getLong(0))).sorted
    val wantDeletes = (0L until 60L).filter(_ % 4 == 1).map(("delete", _))
    val wantInserts = (60L until 100L).filter(_ % 4 != 1).map(("insert", _))
    assert(feed.toSeq === (wantDeletes ++ wantInserts).sorted)
    // incremental hand-off: a consumer at v1 sees ONLY the deletes
    val feed1 = TrainingData.changeFeed(spark, d, schema, sinceVersion = 1L)
      .collect().map(r => (r.getString(2), r.getLong(0))).sorted
    assert(feed1.toSeq ===
      (0L until 100L).filter(_ % 4 == 1).map(("delete", _)).sorted)
    // feed at the latest version is empty, with the right schema
    val feedLatest = TrainingData.changeFeed(spark, d, schema, sinceVersion = 2L)
    assert(feedLatest.count() === 0L)
    assert(feedLatest.columns.last === TrainingData.ChangeTypeCol)
    // cumulative second delete: the delta excludes the already-reported rows
    TrainingData.deleteWhereDV(spark, d, schema, "id % 4 = 2")
    val feed2 = TrainingData.changeFeed(spark, d, schema, sinceVersion = 2L)
      .collect().map(r => (r.getString(2), r.getLong(0))).sorted
    assert(feed2.toSeq ===
      (0L until 100L).filter(_ % 4 == 2).map(("delete", _)).sorted)
  }

  test("changeFeed refuses COW-retired history loudly") {
    val d = dir("cdfcow")
    writeTable(d, n = 40L, parts = 2)
    TrainingData.deleteWhere(spark, d, schema, "id < 5") // COW rewrite
    val e = intercept[IllegalStateException] {
      TrainingData.changeFeed(spark, d, schema, sinceVersion = 0L)
    }
    assert(e.getMessage.contains("full refresh"), e.getMessage)
  }

  test("followLog skipchangecommits: change commits skipped whole, appends flow") {
    val d = dir("skipcc")
    val s = spark
    import s.implicits._
    (0L until 10L).map(i => (i, s"r$i")).toDF("id", "v")
      .repartition(1).write.format("graft-json").mode("overwrite").save(d) // v0
    TrainingData.deleteWhereDV(spark, d, schema, "id = 3")                 // v1 (d)
    (10L until 15L).map(i => (i, s"r$i")).toDF("id", "v")
      .repartition(1).write.format("graft-json").mode("append").save(d)   // v2
    // retainHistory: the retired original stays on disk, as a live stream
    // over rewritten history needs (vacuum breaks streams, documented)
    TrainingData.deleteWhere(spark, d, schema, "id = 0", retainHistory = true) // v3 (r+f)
    def opts(extra: (String, String)*) = {
      val m = new java.util.HashMap[String, String]()
      m.put("path", d); m.put("followlog", "true")
      extra.foreach { case (k, v) => m.put(k, v) }
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(m)
    }
    // default: loud refusal at the first change commit
    val e = intercept[IllegalStateException] {
      GraftSources.logOrderedFiles(opts())
    }
    assert(e.getMessage.contains("deletion vector") || e.getMessage.contains("removes"))
    // opted in: v1 and v3 skip whole; v0's file and v2's file flow
    val files = GraftSources.logOrderedFiles(opts("skipchangecommits" -> "true"))
      .map(_._1.split('/').last)
    assert(files.length === 2, files)
  }

  test("a LIVE stream tails through deleteWhereDV -> materializeDeletes, appends once") {
    // the operational curation cycle end-to-end: a running memory-sink
    // stream polls WHILE the curator deletes and purges — appends before,
    // between, and after the cycle deliver exactly once; both change
    // commits (DV attach; purge rewrite whose adds are old rows) skip
    // whole; the concurrent poller never trips on an in-flight commit
    // (the v7 footer + tailing grace)
    val d = dir("stream_cycle")
    val s = spark
    import s.implicits._
    (0L until 20L).map(i => (i, s"r$i")).toDF("id", "v")
      .repartition(1).write.format("graft-json").mode("overwrite").save(d) // v0
    val ckpt = tempDir("graft-dvstream-ckpt")
    val q = s.readStream.format("graft-json").schema(schema)
      .option("followlog", "true").option("skipchangecommits", "true")
      .load(d)
      .writeStream.format("memory").queryName("dv_cycle_stream")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      q.processAllAvailable()
      (20L until 30L).map(i => (i, s"r$i")).toDF("id", "v")
        .repartition(1).write.format("graft-json").mode("append").save(d)  // v1
      q.processAllAvailable()
      TrainingData.deleteWhereDV(spark, d, schema, "id % 5 = 0")           // v2
      q.processAllAvailable()
      TrainingData.materializeDeletes(spark, d, schema)                    // v3
      q.processAllAvailable()
      (30L until 35L).map(i => (i, s"r$i")).toDF("id", "v")
        .repartition(1).write.format("graft-json").mode("append").save(d)  // v4
      q.processAllAvailable()
    } finally q.stop()
    val delivered = s.table("dv_cycle_stream").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(delivered === (0L until 35L), s"delivered: $delivered")
    // while the batch snapshot shows the curated state
    val snap = spark.read.format("graft-json").schema(schema)
      .option("snapshot", "true").load(d).collect().map(_.getLong(0)).toSet
    assert((0L until 30L).filter(_ % 5 == 0).forall(!snap.contains(_)))
    assert(snap.contains(31L))
  }

  test("dvMaxRatio: dense files escalate to COW in the SAME atomic entry, light files vector") {
    val d = dir("escalate")
    val s = spark
    import s.implicits._
    // two files with very different hit densities: file A = ids 0..9
    // (90% hit), file B = ids 100..199 (5% hit)
    (0L until 10L).map(i => (i, s"r$i")).toDF("id", "v").repartition(1)
      .write.format("graft-json").mode("overwrite").save(d)
    (100L until 200L).map(i => (i, s"r$i")).toDF("id", "v").repartition(1)
      .write.format("graft-json").mode("append").save(d)
    val rootP = new org.apache.hadoop.fs.Path(d)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0 = GraftCommitLog.versions(fs, rootP).max
    val before = GraftCommitLog.liveFilesAsOf(fs, rootP, v0)
    val affected = TrainingData.deleteWhereDV(spark, d, schema,
      "id < 9 OR id % 20 = 19", dvMaxRatio = 0.5)
    assert(affected.length === 2)
    // exactly ONE version landed (atomic: removes + adds + dvs together)
    assert(GraftCommitLog.versions(fs, rootP).max === v0 + 1)
    val state = GraftCommitLog.liveStateAsOf(fs, rootP,
      GraftCommitLog.versions(fs, rootP).max)
    val dvCount = state.values.count(_ != null)
    assert(dvCount === 1, s"expected exactly the light file vectored: $state")
    // the escalating file's task withdrew its vector: `.graft-dv/` holds
    // exactly the artifacts the log references, none for that file
    val escalated = before -- state.keySet
    assert(escalated.size === 1, s"$before -> $state")
    assert(artifacts(d).keySet === GraftCommitLog.allReferenced(fs, rootP)._2)
    assert(!artifacts(d).values.exists(escalated.contains), artifacts(d))
    // the dense file was rewritten: survivors live in a NEW file, no mask
    val got = snap(d).collect().map(_.getLong(0)).sorted
    val want = ((0L until 10L) ++ (100L until 200L))
      .filterNot(i => i < 9 || i % 20 == 19).sorted
    assert(got.toSeq === want)
    // cumulative escalation: a second delete pushing the light file's
    // cumulative density over the bar escalates IT too — and, every match
    // escalating, writes no artifact
    val artifactsBefore = artifacts(d)
    TrainingData.deleteWhereDV(spark, d, schema,
      "id >= 100 AND id < 155", dvMaxRatio = 0.5)
    assert(artifacts(d) === artifactsBefore)
    val state2 = GraftCommitLog.liveStateAsOf(fs, rootP,
      GraftCommitLog.versions(fs, rootP).max)
    assert(state2.values.forall(_ == null),
      s"cumulative density crossed the bar — expected a clean rewrite: $state2")
    val got2 = snap(d).collect().map(_.getLong(0)).sorted
    assert(got2.toSeq === want.filterNot(i => i >= 100 && i < 155))
  }

  test("block skipping engages under masks: pruned ranges, ordinal-exact results") {
    val d = dir("dvblocks")
    val s = spark
    import s.implicits._
    (0L until 5000L).map(i => (i, s"r$i")).toDF("id", "v")
      .repartition(1).sortWithinPartitions("id")
      .write.format("graft-json").mode("overwrite")
      .option("blockbytes", "2048").save(d)
    TrainingData.deleteWhereDV(spark, d, schema, "id % 7 = 0")
    GraftScan.lastBlocksPruned.set(-1)
    val got = snap(d).filter(col("id") >= 4000L).orderBy("id")
      .collect().map(_.getLong(0))
    assert(got.toSeq === (4000L until 5000L).filterNot(_ % 7 == 0))
    assert(GraftScan.lastBlocksPruned.get > 0,
      "a masked sorted file should still block-skip")
    // withRowIndex over masked block ranges: survivors keep TRUE file
    // ordinals even when their range starts mid-file (the sorted 0..N
    // write makes ordinal == id independently derivable)
    GraftScan.lastBlocksPruned.set(-1)
    val prov = spark.read.format("graft-json")
      .schema("id BIGINT, v STRING, _graft_row_index BIGINT")
      .option("snapshot", "true").option("withrowindex", "true").load(d)
      .filter(col("id") >= 4000L)
      .select("id", "_graft_row_index").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(prov.nonEmpty)
    assert(prov.forall { case (id, ord) => ord == id },
      s"ordinal drift over block ranges: ${prov.find { case (id, o) => o != id }}")
    assert(GraftScan.lastBlocksPruned.get > 0,
      "withRowIndex should block-skip too when ordinals are derivable")
    // csv: same, gated on the hdr order
    val dc = dir("dvblocks-csv")
    (0L until 3000L).map(i => (i, s"r$i")).toDF("id", "v")
      .repartition(1).sortWithinPartitions("id")
      .write.format("graft-csv").mode("overwrite")
      .option("blockbytes", "2048").save(dc)
    TrainingData.deleteWhereDV(spark, dc, schema, "id % 5 = 0", format = "graft-csv")
    GraftScan.lastBlocksPruned.set(-1)
    val gotCsv = spark.read.format("graft-csv").schema(schema)
      .option("snapshot", "true").load(dc)
      .filter(col("id") >= 2500L).orderBy("id").collect().map(_.getLong(0))
    assert(gotCsv.toSeq === (2500L until 3000L).filterNot(_ % 5 == 0))
    assert(GraftScan.lastBlocksPruned.get > 0, "csv masked file should block-skip")
  }

  test("masked files split for parallelism on block boundaries (no filter needed)") {
    val d = dir("dvsplit")
    val s = spark
    import s.implicits._
    (0L until 6000L).map(i => (i, s"row-$i")).toDF("id", "v")
      .repartition(1).sortWithinPartitions("id")
      .write.format("graft-json").mode("overwrite")
      .option("blockbytes", "2048").save(d)
    TrainingData.deleteWhereDV(spark, d, schema, "id % 9 = 0")
    // a plain full scan (no pushable filter) must still fan out: block
    // boundaries give exact row starts AND each range's starting ordinal,
    // so the mask applies per-range — the file must not serialize into
    // one task
    val df = spark.read.format("graft-json").schema(schema)
      .option("snapshot", "true").option("maxsplitbytes", "16384").load(d)
    assert(df.rdd.getNumPartitions > 1,
      s"masked file read as ${df.rdd.getNumPartitions} partition(s) — " +
        "the parallelism split did not engage")
    val got = df.collect().map(_.getLong(0)).sorted
    assert(got.toSeq === (0L until 6000L).filterNot(_ % 9 == 0))
    // row ordinals stay exact across the split ranges
    val prov = spark.read.format("graft-json")
      .schema("id BIGINT, v STRING, _graft_row_index BIGINT")
      .option("snapshot", "true").option("withrowindex", "true")
      .option("maxsplitbytes", "16384").load(d)
    assert(prov.rdd.getNumPartitions > 1)
    val rows = prov.select("id", "_graft_row_index").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.forall { case (id, ord) => ord == id },
      s"ordinal drift: ${rows.find { case (id, o) => o != id }}")
    // pushed COUNT(*) stays whole-file (mask subtraction is whole-file
    // arithmetic) and still answers exactly
    assert(df.count() === (0L until 6000L).count(_ % 9 != 0))
  }

  test("pushed filters run under masks: plate counts filter-skipped ordinals") {
    val d = dir("dvfilter")
    val s = spark
    import s.implicits._
    // ONE file, sorted, default blockbytes (file < one block → no `blk`
    // recording, no range pruning): the pushed filter must be evaluated by
    // the PLATE itself, under the mask — before round 11 this combination
    // silently dropped the parse-level filter; the regression this pins is
    // ordinal drift (a filter-skipped row that is not counted shifts every
    // later row's mask address, deleting the wrong rows)
    (0L until 2000L).map(i => (i, s"row-$i")).toDF("id", "v")
      .repartition(1).sortWithinPartitions("id")
      .write.format("graft-json").mode("overwrite").save(d)
    TrainingData.deleteWhereDV(spark, d, schema, "id % 10 = 3")
    // the filter skips ids < 1000 at parse level; masked ordinals ≥ 1000
    // (1003, 1013, ...) must still be addressed exactly
    val got = snap(d).filter(col("id") >= 1000L)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === (1000L until 2000L).filterNot(_ % 10 == 3))
    // a mid-band predicate (drops rows on BOTH sides at parse level)
    val band = snap(d).filter(col("id") >= 500L && col("id") < 1500L)
      .collect().map(_.getLong(0)).sorted
    assert(band.toSeq === (500L until 1500L).filterNot(_ % 10 == 3))
    // string-typed filter through the same plate lane
    val sv = snap(d).filter(col("v") === "row-1003").collect()
    assert(sv.isEmpty, "row-1003 is deleted")
    assert(snap(d).filter(col("v") === "row-1004").count() === 1L)
    // csv twin (the CSV parser's SkipRow suppresses finishRow the same way)
    val dc = dir("dvfilter-csv")
    (0L until 2000L).map(i => (i, s"row-$i")).toDF("id", "v")
      .repartition(1).sortWithinPartitions("id")
      .write.format("graft-csv").mode("overwrite").save(dc)
    TrainingData.deleteWhereDV(spark, dc, schema, "id % 10 = 3", format = "graft-csv")
    val gotCsv = spark.read.format("graft-csv").schema(schema)
      .option("snapshot", "true").load(dc)
      .filter(col("id") >= 1000L).collect().map(_.getLong(0)).sorted
    assert(gotCsv.toSeq === (1000L until 2000L).filterNot(_ % 10 == 3))
  }

  test("row-path (nested schema) masked reads keep plate filters ordinal-exact") {
    val d = dir("dvfilter-nested")
    val s = spark
    import s.implicits._
    // a nested column forces the ROW path (no columnar support): the
    // RowPlate counts its SkipRow drops and the reader folds them into
    // the file ordinal, so masks address the right rows
    (0L until 2000L).map(i => (i, (s"tag-$i", i * 2))).toDF("id", "meta")
      .repartition(1).sortWithinPartitions("id")
      .write.format("graft-json").mode("overwrite").save(d)
    val ddl = "id BIGINT, meta STRUCT<_1: STRING, _2: BIGINT>"
    TrainingData.deleteWhereDV(spark, d, ddl, "id % 10 = 3")
    val got = spark.read.format("graft-json").schema(ddl)
      .option("snapshot", "true").load(d)
      .filter(col("id") >= 1000L)
      .select($"id", $"meta._2".as("m2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq ===
      (1000L until 2000L).filterNot(_ % 10 == 3).map(i => (i, i * 2)))
    // withRowIndex provenance + a pushed filter over the masked file:
    // surviving rows keep TRUE ordinals (ordinal == id by construction)
    val prov = spark.read.format("graft-json")
      .schema(ddl + ", _graft_row_index BIGINT")
      .option("snapshot", "true").option("withrowindex", "true").load(d)
      .filter(col("id") >= 1500L)
      .select($"id", $"_graft_row_index").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(prov.length === (1500L until 2000L).count(_ % 10 != 3))
    assert(prov.forall { case (id, ord) => ord == id },
      s"ordinal drift: ${prov.find { case (id, o) => o != id }}")
  }

  test("changeFeed untilVersion bounds the diff at a pinned version") {
    val d = dir("cdfuntil")
    writeTable(d, n = 100L, parts = 1)                          // v0
    TrainingData.deleteWhereDV(spark, d, schema, "id % 10 = 0") // v1
    TrainingData.deleteWhereDV(spark, d, schema, "id % 10 = 5") // v2
    val first = TrainingData.changeFeed(spark, d, schema, 0L, untilVersion = 1L)
      .collect().map(r => (r.getLong(0), r.getString(2))).sorted.toSeq
    assert(first === (0L until 100L).filter(_ % 10 == 0).map(i => (i, "delete")),
      "the bounded feed must stop at v1's masks")
    assert(TrainingData.changeFeed(spark, d, schema, 1L, untilVersion = 1L)
      .count() === 0L)
    val all = TrainingData.changeFeed(spark, d, schema, 0L).count()
    assert(all === 20L)
    val e = intercept[IllegalArgumentException] {
      TrainingData.changeFeed(spark, d, schema, 2L, untilVersion = 1L)
    }
    assert(e.getMessage.contains("after untilVersion"))
  }

  test("dataskipping=false disables the sidecar-derived split (file reads whole)") {
    val d = dir("dvsplitoff")
    val s = spark
    import s.implicits._
    (0L until 6000L).map(i => (i, s"row-$i")).toDF("id", "v")
      .repartition(1).sortWithinPartitions("id")
      .write.format("graft-json").mode("overwrite")
      .option("blockbytes", "2048").save(d)
    TrainingData.deleteWhereDV(spark, d, schema, "id % 9 = 0")
    // the dial means "don't trust sidecars" — a split derived from a stale
    // sidecar's block boundaries would shift mask ordinals, so the
    // parallelism split must honor the opt-out exactly like pruning does
    val df = spark.read.format("graft-json").schema(schema)
      .option("snapshot", "true").option("maxsplitbytes", "16384")
      .option("dataskipping", "false").load(d)
    assert(df.rdd.getNumPartitions === 1,
      "distrusted sidecars must not drive the parallelism split")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 6000L).filterNot(_ % 9 == 0))
  }

  test("streaming followLog refuses a dv-carrying checkpoint seed") {
    val d = dir("stream")
    writeTable(d, n = 10L, parts = 1)
    TrainingData.deleteWhereDV(spark, d, schema, "id = 2")
    TrainingData.checkpointLog(spark, d)
    TrainingData.expireLogHistory(spark, d)
    val e = intercept[Exception] {
      GraftSources.logOrderedFiles(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("path", d)))
    }
    assert(e.getMessage.contains("deletion vector"), e.getMessage)
  }
}
