package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import java.nio.file.Files

import graft.api.TrainingData

/** Avro joins the row-level maintenance surface: deletion vectors (mask
  * by whole-file record ordinal, count-star subtracts cardinality from
  * block-header sums), withRowIndex/withFilePath provenance, COW
  * rewrites through the commit-option riders, merge-on-read UPDATE,
  * materializeDeletes, changeFeed, dvMaxRatio escalation (density from
  * block headers — avro carries no stats sidecar), and restore.
  */
class GraftAvroDvSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val root = Files.createTempDirectory("graft-avro-dv")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-avro-dv-spec")
      .config("spark.sql.shuffle.partitions", "4")
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
      .write.format("graft-avro").mode("overwrite").save(d)
  }

  private def snap(d: String) =
    spark.read.format("graft-avro").schema(schema)
      .option("snapshot", "true").load(d)

  private def snapIds(d: String): Seq[Long] =
    snap(d).collect().map(_.getLong(0)).sorted.toSeq

  test("deleteWhereDV masks avro rows in place; time travel exact; files untouched") {
    val d = dir("life")
    writeTable(d)
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = fs.listStatus(new org.apache.hadoop.fs.Path(d))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
      .map(st => (st.getPath.getName, st.getLen)).sortBy(_._1)
    val affected = TrainingData.deleteWhereDV(
      spark, d, schema, "id % 10 = 0", format = "graft-avro")
    assert(affected.nonEmpty)
    val after = fs.listStatus(new org.apache.hadoop.fs.Path(d))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
      .map(st => (st.getPath.getName, st.getLen)).sortBy(_._1)
    assert(after.toSeq === before.toSeq, "no data file may be rewritten")
    assert(snapIds(d) === (0L until 100L).filterNot(_ % 10 == 0))
    assert(spark.read.format("graft-avro").schema(schema)
      .option("versionasof", "0").load(d).count() === 100L)
  }

  test("pushed COUNT(*) under a mask: block-header sum minus cardinality, no decode") {
    val d = dir("count")
    writeTable(d)
    TrainingData.deleteWhereDV(spark, d, schema, "id % 4 = 0", format = "graft-avro")
    assert(snap(d).count() === 75L)
    // cumulative second delete
    TrainingData.deleteWhereDV(spark, d, schema, "id % 10 = 5", format = "graft-avro")
    assert(snap(d).count() === 65L)
  }

  test("withRowIndex + withFilePath provenance on avro: whole-file ordinals") {
    val d = dir("prov")
    writeTable(d)
    val rows = spark.read.format("graft-avro")
      .schema("id BIGINT, v STRING, _graft_file STRING, _graft_row_index BIGINT")
      .option("withfilepath", "true").option("withrowindex", "true")
      .option("snapshot", "true").load(d)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    assert(rows.length === 100)
    // ordinals are dense per file starting at 0
    rows.groupBy(_._2).foreach { case (f, rs) =>
      assert(rs.map(_._3).sorted.toSeq === (0L until rs.length),
        s"file $f ordinals not dense")
    }
    // and stable under a mask: masked reads keep the surviving rows'
    // original ordinals
    TrainingData.deleteWhereDV(spark, d, schema, "id % 10 = 0", format = "graft-avro")
    val masked = spark.read.format("graft-avro")
      .schema("id BIGINT, v STRING, _graft_file STRING, _graft_row_index BIGINT")
      .option("withfilepath", "true").option("withrowindex", "true")
      .option("snapshot", "true").load(d)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
    assert(masked === rows.filterNot(_._1 % 10 == 0).toSet,
      "surviving rows must keep their pre-delete (file, ordinal) addresses")
  }

  test("updateWhereDV on avro: one atomic entry, masked originals + appended updates") {
    val d = dir("upd")
    writeTable(d)
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootP = new org.apache.hadoop.fs.Path(d)
    val v0 = GraftCommitLog.versions(fs, rootP).max
    TrainingData.updateWhereDV(spark, d, schema, "id < 5",
      Map("v" -> "concat(v, '!')"), format = "graft-avro")
    assert(GraftCommitLog.versions(fs, rootP).max === v0 + 1,
      "mask + append must land in ONE atomic entry")
    val got = snap(d).collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val want = (0L until 100L).map(i => (i, if (i < 5) s"r$i!" else s"r$i"))
    assert(got === want)
  }

  test("materializeDeletes purges avro masks (COW rider options on the avro sink)") {
    val d = dir("mat")
    writeTable(d)
    TrainingData.deleteWhereDV(spark, d, schema, "id % 10 = 0", format = "graft-avro")
    TrainingData.materializeDeletes(spark, d, schema, format = "graft-avro")
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootP = new org.apache.hadoop.fs.Path(d)
    val state = GraftCommitLog.liveStateAsOf(fs, rootP,
      GraftCommitLog.versions(fs, rootP).max)
    assert(state.values.forall(_ == null), "masks must be gone after purge")
    assert(snapIds(d) === (0L until 100L).filterNot(_ % 10 == 0))
  }

  test("COW deleteWhere on avro (phase-1 provenance + commitremoves rider)") {
    val d = dir("cow")
    writeTable(d)
    TrainingData.deleteWhere(spark, d, schema, "id >= 90", format = "graft-avro")
    assert(snapIds(d) === (0L until 90L))
  }

  test("changeFeed across avro DV history: deletes as pre-image rows") {
    val d = dir("cdf")
    writeTable(d)                                                    // v0
    TrainingData.deleteWhereDV(spark, d, schema, "id % 10 = 0",
      format = "graft-avro")                                         // v1
    val feed = TrainingData.changeFeed(spark, d, schema, 0L, format = "graft-avro")
      .collect().map(r => (r.getLong(0), r.getString(2))).sorted.toSeq
    assert(feed === (0L until 100L).filter(_ % 10 == 0).map(i => (i, "delete")))
  }

  test("dvMaxRatio escalation on avro: density assessed from block headers") {
    val d = dir("ratio")
    val s = spark
    import s.implicits._
    // two files: ids 0-49 (dense hit) and 50-99 (sparse hit)
    (0L until 50L).map(i => (i, s"r$i")).toDF("id", "v").repartition(1)
      .write.format("graft-avro").mode("overwrite").save(d)
    (50L until 100L).map(i => (i, s"r$i")).toDF("id", "v").repartition(1)
      .write.format("graft-avro").mode("append").save(d)
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootP = new org.apache.hadoop.fs.Path(d)
    val v0 = GraftCommitLog.versions(fs, rootP).max
    val before = GraftCommitLog.liveFilesAsOf(fs, rootP, v0)
    TrainingData.deleteWhereDV(spark, d, schema,
      "id < 40 OR id = 60", dvMaxRatio = 0.5, format = "graft-avro")
    assert(GraftCommitLog.versions(fs, rootP).max === v0 + 1,
      "escalation + vectors must land in ONE atomic entry")
    val state = GraftCommitLog.liveStateAsOf(fs, rootP, v0 + 1)
    assert(state.values.exists(_ != null), "sparse file must carry a vector")
    assert(state.values.exists(_ == null), "dense file must have escalated to COW")
    assert(snapIds(d) === (40L until 100L).filterNot(_ == 60L))
    // the escalating file's task withdrew its vector: `.graft-dv/` holds
    // exactly the artifacts the log references, none for that file
    val escalated = before -- state.keySet
    assert(escalated.size === 1, s"$before -> $state")
    assert(artifacts(d).keySet === GraftCommitLog.allReferenced(fs, rootP)._2)
    assert(!artifacts(d).values.exists(escalated.contains), artifacts(d))
    // a delete whose every match escalates (the vectored file's density
    // crosses the bar) writes no artifact
    val artifactsBefore = artifacts(d)
    TrainingData.deleteWhereDV(spark, d, schema,
      "id >= 50 AND id < 90", dvMaxRatio = 0.5, format = "graft-avro")
    assert(artifacts(d) === artifactsBefore)
    val state2 = GraftCommitLog.liveStateAsOf(fs, rootP, v0 + 2)
    assert(state2.values.forall(_ == null), s"expected a clean rewrite: $state2")
    assert(snapIds(d) === (40L until 50L) ++ (90L until 100L))
  }

  test("avro sink refuses partitionby loudly (no k=v layout path)") {
    val s = spark
    import s.implicits._
    val e = intercept[IllegalArgumentException] {
      (0L until 10L).map(i => (i, s"r$i")).toDF("id", "v")
        .write.format("graft-avro").option("partitionby", "id")
        .mode("overwrite").save(dir("partby"))
    }
    assert(e.getMessage.contains("partitionby"))
  }

  test("masked avro files split for parallelism on recorded block boundaries") {
    val d = dir("dvsplit")
    val s = spark
    import s.implicits._
    (0L until 6000L).map(i => (i, s"row-$i")).toDF("id", "v")
      .repartition(1).sortWithinPartitions("id")
      .write.format("graft-avro").mode("overwrite")
      .option("blockbytes", "2048").save(d)
    TrainingData.deleteWhereDV(spark, d, schema, "id % 9 = 0", format = "graft-avro")
    // a plain full scan must still fan out: the sidecar's sync-edge block
    // recording gives each range an exact starting ordinal, so the mask
    // applies per-range — the file must not serialize into one task
    val df = spark.read.format("graft-avro").schema(schema)
      .option("snapshot", "true").option("maxsplitbytes", "16384").load(d)
    assert(df.rdd.getNumPartitions > 1,
      s"masked avro file read as ${df.rdd.getNumPartitions} partition(s) — " +
        "the parallelism split did not engage")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 6000L).filterNot(_ % 9 == 0))
    // row ordinals stay exact across the split ranges (the sorted 0..N
    // write makes ordinal == id independently derivable)
    val prov = spark.read.format("graft-avro")
      .schema("id BIGINT, v STRING, _graft_row_index BIGINT")
      .option("snapshot", "true").option("withrowindex", "true")
      .option("maxsplitbytes", "16384").load(d)
    assert(prov.rdd.getNumPartitions > 1)
    val rows = prov.select("id", "_graft_row_index").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length === (0L until 6000L).count(_ % 9 != 0))
    assert(rows.forall { case (id, ord) => ord == id },
      s"ordinal drift: ${rows.find { case (id, o) => o != id }}")
    // pushed COUNT(*) stays whole-file (mask subtraction is whole-file
    // block-header arithmetic) and still answers exactly
    assert(df.count() === (0L until 6000L).count(_ % 9 != 0))
    // dataskipping=false means "don't trust sidecars": the split derived
    // from the recording must honor the opt-out (file reads whole)
    val off = spark.read.format("graft-avro").schema(schema)
      .option("snapshot", "true").option("maxsplitbytes", "16384")
      .option("dataskipping", "false").load(d)
    assert(off.rdd.getNumPartitions === 1,
      "distrusted sidecars must not drive the parallelism split")
    assert(off.collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 6000L).filterNot(_ % 9 == 0))
  }

  test("avro intra-file block skipping: selective filters prune sync-edge ranges") {
    val d = dir("blockskip")
    val s = spark
    import s.implicits._
    (0L until 6000L).map(i => (i, s"row-$i")).toDF("id", "v")
      .repartition(1).sortWithinPartitions("id")
      .write.format("graft-avro").mode("overwrite")
      .option("blockbytes", "2048").save(d)
    GraftScan.lastBlocksPruned.set(-1)
    val got = spark.read.format("graft-avro").schema(schema).load(d)
      .filter(org.apache.spark.sql.functions.col("id") >= 5000L)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === (5000L until 6000L))
    assert(GraftScan.lastBlocksPruned.get > 0,
      "a selective filter over a sorted avro file should prune blocks")
    // block skipping composes with a mask: pruned ranges carry exact
    // starting ordinals, so survivors keep their addresses
    TrainingData.deleteWhereDV(spark, d, schema, "id % 7 = 0", format = "graft-avro")
    GraftScan.lastBlocksPruned.set(-1)
    val masked = snap(d)
      .filter(org.apache.spark.sql.functions.col("id") >= 5000L)
      .collect().map(_.getLong(0)).sorted
    assert(masked.toSeq === (5000L until 6000L).filterNot(_ % 7 == 0))
    assert(GraftScan.lastBlocksPruned.get > 0,
      "a masked sorted avro file should still block-skip")
  }

  test("avro block lanes survive compression (positions are real file offsets)") {
    val d = dir("blockzip")
    val s = spark
    import s.implicits._
    (0L until 6000L).map(i => (i, s"row-$i")).toDF("id", "v")
      .repartition(1).sortWithinPartitions("id")
      .write.format("graft-avro").mode("overwrite")
      .option("codec", "deflate").option("blockbytes", "2048").save(d)
    GraftScan.lastBlocksPruned.set(-1)
    val got = spark.read.format("graft-avro").schema(schema).load(d)
      .filter(org.apache.spark.sql.functions.col("id") >= 5000L)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === (5000L until 6000L))
    assert(GraftScan.lastBlocksPruned.get > 0,
      "compressed avro blocks are still sync-edge addressable — unlike " +
        "the text lanes, compression must not void the recording")
    // and the masked-parallelism split works on the compressed file too
    TrainingData.deleteWhereDV(spark, d, schema, "id % 9 = 0", format = "graft-avro")
    val df = spark.read.format("graft-avro").schema(schema)
      .option("snapshot", "true").option("maxsplitbytes", "8192").load(d)
    assert(df.rdd.getNumPartitions > 1)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 6000L).filterNot(_ % 9 == 0))
  }

  test("restoreTable detaches an avro deletion vector") {
    val d = dir("restore")
    writeTable(d)                                                    // v0
    TrainingData.deleteWhereDV(spark, d, schema, "id % 10 = 0",
      format = "graft-avro")                                         // v1
    assert(TrainingData.restoreTable(spark, d, 0L) === 2L)
    assert(snapIds(d) === (0L until 100L))
  }
}
