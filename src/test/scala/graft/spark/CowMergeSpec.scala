package graft.spark

import graft.api.TrainingData
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import java.nio.file.Files

/** Join-shaped COW merge primitives ([[TrainingData.deleteMatching]] /
  * [[TrainingData.upsert]]): the key set stays a DataFrame end to end —
  * the merge loop performs ZERO driver-side key collects (the only
  * collected values are candidate FILE NAMES and one bounds row of
  * 2 scalars per key column), unlike the IN-list formulation the r8
  * review flagged.
  *
  * Under test:
  *  - deleteMatching removes exactly the keyed rows; null keys (either
  *    side) never match; absent keys are a no-op
  *  - the min/max bounds prefilter keeps out-of-range files un-rewritten
  *  - empty key sets commit nothing
  *  - multi-column keys
  *  - upsert = replace ∪ insert; replaying a batch is idempotent
  *  - partitioned layouts upsert within their k=v directories
  *  - a 20k-key merge runs through the join path (no IN-list limits)
  */
class CowMergeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val root = Files.createTempDirectory("graft-merge-spec")
  private val schema = "id BIGINT, grp STRING, v DOUBLE"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("cow-merge-spec")
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

  /** Two single-file commits with DISJOINT id ranges (0..49, 100..149);
    * one row per file has a NULL id (join-null semantics probe).
    */
  private def mkTable(name: String): String = {
    val dir = root.resolve(name).toString
    val s = spark; import s.implicits._
    def part(r: Range) =
      (r.map(i => (java.lang.Long.valueOf(i.toLong), s"g${i % 3}",
        java.lang.Double.valueOf(i * 1.5))) :+
        ((null: java.lang.Long), "gnull", java.lang.Double.valueOf(-1.0)))
        .toDF("id", "grp", "v").coalesce(1)
    part(0 until 50).write.format("graft-json").mode("overwrite").save(dir)  // v0
    part(100 until 150).write.format("graft-json").mode("append").save(dir)  // v1
    dir
  }

  private def read(dir: String) =
    spark.read.format("graft-json").schema(schema).load(dir)

  private def keysDf(ids: Seq[java.lang.Long]): DataFrame = {
    val s = spark; import s.implicits._
    ids.toDF("id")
  }

  private def versionsOf(dir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    GraftCommitLog.versions(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  test("deleteMatching removes exactly the keyed rows; null keys never match") {
    val dir = mkTable("basic")
    val rewritten = TrainingData.deleteMatching(spark, dir, schema,
      keysDf(Seq(3L, 7L, 110L, (null: java.lang.Long), 999L)), Seq("id"))
    assert(rewritten.size === 2) // both files held matches
    val ids = read(dir).select("id").collect().map(r =>
      if (r.isNullAt(0)) -1L else r.getLong(0)).sorted
    assert(!ids.contains(3L) && !ids.contains(7L) && !ids.contains(110L))
    assert(ids.count(_ == -1L) === 2, "table rows with NULL id must survive")
    assert(ids.length === 99) // 102 - 3 deleted
  }

  test("bounds prefilter: files outside the keys' min/max are never rewritten") {
    val dir = mkTable("bounds")
    val before = new java.io.File(dir).listFiles.map(_.getName)
      .filter(n => !n.startsWith(".") && !n.startsWith("_")).toSet
    val rewritten = TrainingData.deleteMatching(spark, dir, schema,
      keysDf(Seq(110L, 120L)), Seq("id"))
    assert(rewritten.size === 1, s"only the 100..149 file holds keys: $rewritten")
    // the 0..49 file survives on disk untouched
    val after = new java.io.File(dir).listFiles.map(_.getName)
      .filter(n => !n.startsWith(".") && !n.startsWith("_")).toSet
    assert((before -- after).size === 1)
    assert(read(dir).count() === 100) // 102 - 2
  }

  test("absent keys and empty key sets are no-ops (no new version)") {
    val dir = mkTable("noop")
    val v0 = versionsOf(dir).max
    assert(TrainingData.deleteMatching(spark, dir, schema,
      keysDf(Seq(999L, 888L)), Seq("id")).isEmpty)
    assert(TrainingData.deleteMatching(spark, dir, schema,
      keysDf(Nil), Seq("id")).isEmpty)
    assert(versionsOf(dir).max === v0)
    assert(read(dir).count() === 102)
  }

  test("multi-column keys match on the full tuple") {
    val dir = mkTable("multi")
    val s = spark; import s.implicits._
    // (3, g0) exists; (4, g0) does not ((4 % 3) = 1 → grp g1)
    val keys = Seq((3L, "g0"), (4L, "g0")).toDF("id", "grp")
    TrainingData.deleteMatching(spark, dir, schema, keys, Seq("id", "grp"))
    val ids = read(dir).filter($"id".isNotNull).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(!ids.contains(3L) && ids.contains(4L))
  }

  test("validation: unknown key columns fail loudly") {
    val dir = mkTable("valid")
    val e1 = intercept[IllegalArgumentException] {
      TrainingData.deleteMatching(spark, dir, schema, keysDf(Seq(1L)), Seq("nope"))
    }
    assert(e1.getMessage.contains("not in the table"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      TrainingData.deleteMatching(spark, dir, schema, keysDf(Seq(1L)), Seq("grp"))
    }
    assert(e2.getMessage.contains("not in the keys DataFrame"), e2.getMessage)
  }

  test("upsert replaces matched keys, inserts new ones; replay is idempotent") {
    val dir = mkTable("upsert")
    val s = spark; import s.implicits._
    val batch = Seq((3L, "gX", 100.0), (110L, "gX", 200.0), (777L, "gX", 300.0))
      .toDF("id", "grp", "v")
    def state() = read(dir).filter($"id".isNotNull)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

    TrainingData.upsert(spark, dir, schema, batch, Seq("id"))
    val after1 = state()
    assert(after1.contains((3L, "gX", 100.0)) && after1.contains((777L, "gX", 300.0)))
    assert(!after1.exists(r => r._1 == 3L && r._2 != "gX"), "old id=3 row must be gone")
    assert(after1.size === 101) // 100 original non-null - 2 replaced + 3 batch

    TrainingData.upsert(spark, dir, schema, batch, Seq("id")) // replay
    assert(state() === after1, "replaying the same batch must converge")
  }

  test("partitioned layout: upsert rewrites within k=v directories") {
    val dir = root.resolve("partup").toString
    val s = spark; import s.implicits._
    (0 until 30).map(i => (i.toLong, i * 1.0, s"p${i % 2}")).toDF("id", "v", "part")
      .coalesce(1).write.format("graft-json").partitionBy("part")
      .mode("overwrite").save(dir)
    val batch = Seq((4L, 400.0, "p0"), (99L, 990.0, "p1")).toDF("id", "v", "part")
    TrainingData.upsert(spark, dir, "id BIGINT, v DOUBLE", batch, Seq("id"))
    val got = spark.read.format("graft-json").schema("id BIGINT, v DOUBLE, part STRING")
      .load(dir).collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(got.contains((4L, 400.0, "p0")) && got.contains((99L, 990.0, "p1")))
    assert(got.size === 31)
    // the replaced row landed back under its partition directory
    assert(spark.read.format("graft-json").schema("id BIGINT, v DOUBLE, part STRING")
      .load(dir).filter($"part" === "p0" && $"id" === 4L)
      .head().getDouble(1) === 400.0)
  }

  test("partitioned layout: an upsert that replaces every row keeps the layout") {
    val dir = root.resolve("partall").toString
    val s = spark; import s.implicits._
    val readSchema = "id BIGINT, v DOUBLE, k STRING"
    (0 until 6).map(i => (i.toLong, i * 1.0, s"k${i % 2}")).toDF("id", "v", "k")
      .coalesce(1).write.format("graft-json").partitionBy("k")
      .mode("overwrite").save(dir)
    def state() = spark.read.format("graft-json").schema(readSchema).load(dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    // the delete half empties the snapshot; the insert half must still
    // find the table's k=v layout
    val batch1 = (0 until 6).map(i => (i.toLong, i * 10.0, s"k${i % 2}")).toDF("id", "v", "k")
    TrainingData.upsert(spark, dir, "id BIGINT, v DOUBLE", batch1, Seq("id"))
    assert(state() === (0 until 6).map(i => (i.toLong, i * 10.0, s"k${i % 2}")).toSet)
    val batch2 = Seq((1L, 7.0, "k1"), (9L, 9.0, "k0")).toDF("id", "v", "k")
    TrainingData.upsert(spark, dir, "id BIGINT, v DOUBLE", batch2, Seq("id"))
    val got = state()
    assert(got.size === 7 && got.contains((1L, 7.0, "k1")) && got.contains((9L, 9.0, "k0")))
    // every live file sits under its k=v directory
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = GraftCommitLog.liveStateAsOf(fs, p, versionsOf(dir).max).keys
    assert(live.nonEmpty && live.forall(f => f.startsWith("k=k0/") || f.startsWith("k=k1/")),
      live.mkString(", "))
  }

  test("a 20k-key merge runs through the join path") {
    val dir = root.resolve("big").toString
    val s = spark; import s.implicits._
    spark.range(20000).select($"id", ($"id" * 2.0).as("v"))
      .coalesce(4).write.format("graft-json").mode("overwrite").save(dir)
    val keys = spark.range(10000).select(($"id" * 2).as("id")) // evens
    TrainingData.deleteMatching(spark, dir, "id BIGINT, v DOUBLE", keys, Seq("id"))
    val back = spark.read.format("graft-json").schema("id BIGINT, v DOUBLE").load(dir)
    assert(back.count() === 10000)
    assert(back.filter($"id" % 2 === 0).count() === 0)
  }
}
