package graft.spark

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import java.nio.file.Files
import java.sql.Timestamp

/** graft-avro lane: full-fidelity round trips across the type lattice,
  * reader-schema projection pruning, sync-marker range splits (every row
  * exactly once at any split size), decode-free COUNT(*) from block
  * headers, and codec coverage.
  */
class GraftAvroSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = Files.createTempDirectory("graft-avro-spec")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-avro-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
  }

  private def path(name: String) = dir.resolve(name).toString

  // flatten through AQE wrappers so the collector sees the BatchScanExec
  private def flatten(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      p +: flatten(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: flatten(q.plan)
    case other => other +: other.children.flatMap(flatten)
  }

  private def scansOf(q: org.apache.spark.sql.DataFrame) =
    flatten(q.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }

  test("round trip across the type lattice, nulls everywhere") {
    val schema = StructType(Seq(
      StructField("b", BooleanType),
      StructField("i", IntegerType),
      StructField("l", LongType),
      StructField("f", FloatType),
      StructField("d", DoubleType),
      StructField("s", StringType),
      StructField("bin", BinaryType),
      StructField("dt", DateType),
      StructField("ts", TimestampType),
      StructField("dec", DecimalType(12, 3)),
      StructField("arr", ArrayType(LongType)),
      StructField("m", MapType(StringType, DoubleType)),
      StructField("st", StructType(Seq(
        StructField("x", LongType), StructField("y", StringType))))))
    val rows = Seq(
      Row(true, 7, 123456789012L, 1.5f, 2.25, "héllo \"q\" ☃",
        Array[Byte](0, 1, -1, 127), java.sql.Date.valueOf("2024-03-09"),
        Timestamp.valueOf("2024-03-09 12:34:56.789123"),
        new java.math.BigDecimal("12345.678"),
        Seq(1L, 2L, 3L), Map("a" -> 1.0, "b" -> -2.5), Row(9L, "in")),
      Row(null, null, null, null, null, null, null, null, null, null,
        null, null, null),
      Row(false, -1, -5L, -0.5f, Double.NaN, "", Array[Byte](),
        java.sql.Date.valueOf("1969-12-31"),
        Timestamp.valueOf("1969-12-31 23:59:59.999999"),
        new java.math.BigDecimal("-0.001"),
        Seq(), Map(), Row(null, null)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val p = path("lattice")
    df.write.format("graft-avro").mode("overwrite").save(p)
    val back = spark.read.format("graft-avro").load(p)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      schema.map(f => (f.name, f.dataType)))
    // binary renders by identity — compare through a hex projection
    def canon(q: org.apache.spark.sql.DataFrame) =
      q.withColumn("bin", hex(col("bin")))
        .orderBy(col("i").asc_nulls_last).collect().toSeq.map(_.toString)
    assert(canon(df) === canon(back))
  }

  test("projection pushdown prunes to the reader schema") {
    val sp = spark; import sp.implicits._
    val p = path("prune")
    (1 to 1000).map(i => (i.toLong, s"name$i", i * 1.5, s"pad$i" * 10))
      .toDF("id", "name", "v", "padding")
      .write.format("graft-avro").mode("overwrite").save(p)
    val q = spark.read.format("graft-avro").load(p).select("id", "v")
    // plan-shape: the scan's readSchema is exactly the projection
    val scans = scansOf(q)
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSeq === Seq("id", "v"))
    assert(q.agg(sum("id"), round(sum("v"), 2)).collect()(0) ===
      Row(500500L, 750750.0))
  }

  test("range splits: every row exactly once at any split size") {
    val sp = spark; import sp.implicits._
    val p = path("splits")
    // one writer partition -> one container file with many small blocks
    (1 to 50000).map(i => (i.toLong, s"v$i"))
      .toDF("id", "s").repartition(1)
      .write.format("graft-avro").mode("overwrite").save(p)
    for (split <- Seq(4 * 1024, 17 * 1024, 64 * 1024, 1 << 26)) {
      val back = spark.read.format("graft-avro")
        .option("maxsplitbytes", split.toString).load(p)
      val got = back.agg(count(lit(1)), sum("id"), countDistinct("id")).collect()(0)
      assert(got === Row(50000L, 50000L * 50001L / 2, 50000L),
        s"split=$split")
    }
  }

  test("COUNT(*) is answered from block headers (agg pushed into scan)") {
    val sp = spark; import sp.implicits._
    val p = path("count")
    (1 to 12345).map(i => (i, s"x$i")).toDF("id", "s")
      .write.format("graft-avro").mode("overwrite").save(p)
    val q = spark.read.format("graft-avro")
      .option("maxsplitbytes", (8 * 1024).toString).load(p)
      .agg(count(lit(1)).as("n"))
    val scans = scansOf(q)
    assert(scans.nonEmpty, "count should still read through the scan")
    assert(scans.head.scan.description().contains("count-only"),
      "aggregate was not pushed into the graft-avro scan")
    assert(q.collect()(0) === Row(12345L))
  }

  test("codecs: deflate and null round-trip; deflate compresses") {
    val sp = spark; import sp.implicits._
    val df = (1 to 5000).map(i => (i.toLong, "the quick brown fox " * 5))
      .toDF("id", "s").repartition(1)
    val pn = path("codec-null"); val pd = path("codec-deflate")
    df.write.format("graft-avro").mode("overwrite").save(pn)
    df.write.format("graft-avro").option("codec", "deflate").mode("overwrite").save(pd)
    def size(p: String): Long =
      Files.walk(java.nio.file.Paths.get(p)).filter(_.toString.endsWith(".avro"))
        .mapToLong(f => Files.size(f)).sum()
    assert(size(pd) < size(pn) / 2, "deflate should compress repetitive text")
    for (p <- Seq(pn, pd))
      assert(spark.read.format("graft-avro").load(p)
        .agg(sum("id")).collect()(0) === Row(5000L * 5001L / 2))
  }

  test("float-array embeddings survive byte-exact") {
    val sp = spark; import sp.implicits._
    val p = path("emb")
    val vecs = Seq((1L, Array(0.1f, -0.25f, Float.MinPositiveValue)),
      (2L, Array.empty[Float]))
    vecs.toDF("vec_id", "embedding")
      .write.format("graft-avro").mode("overwrite").save(p)
    val back = spark.read.format("graft-avro").load(p)
      .orderBy("vec_id").collect()
    assert(back(0).getSeq[Float](1) === vecs(0)._2.toSeq)
    assert(back(1).getSeq[Float](1) === Seq.empty)
  }

  test("more tasks than rows: header-only parts, exact COUNT, task-id-free names") {
    val p = path("empty-tasks")
    spark.range(0, 3, 1, 6).selectExpr("id", "cast(id as string) as s")
      .write.format("graft-avro").mode("overwrite").save(p)
    val df = spark.read.format("graft-avro").load(p)
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ===
      Seq((0L, "0"), (1L, "1"), (2L, "2")))
    val q = df.agg(count(lit(1)))
    assert(scansOf(q).head.scan.description().contains("count-only"))
    assert(q.collect()(0) === Row(3L))
    val root = new org.apache.hadoop.fs.Path(p)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(root).map(_.getPath).filterNot(_.getName.startsWith("."))
    assert(parts.length === 6, parts.mkString(", "))
    parts.foreach { f =>
      assert(f.getName.matches("part-[0-9a-zA-Z]{1,12}-\\d{5}\\.avro"), f.getName)
      assert(fs.exists(FileStats.sidecarFor(f)), s"no sidecar for ${f.getName}")
    }
  }

  test("append mode adds files without clobbering") {
    val sp = spark; import sp.implicits._
    val p = path("append")
    (1 to 10).map(i => Tuple1(i.toLong)).toDF("id")
      .write.format("graft-avro").mode("overwrite").save(p)
    (11 to 20).map(i => Tuple1(i.toLong)).toDF("id")
      .write.format("graft-avro").mode("append").save(p)
    assert(spark.read.format("graft-avro").load(p)
      .agg(count(lit(1)), sum("id")).collect()(0) === Row(20L, 210L))
  }

  test("avro batch commits write the shared commit log: time travel works") {
    val sp = spark; import sp.implicits._
    val p = path("ttavro")
    (1 to 10).map(i => Tuple1(i.toLong)).toDF("id")
      .write.format("graft-avro").mode("overwrite").save(p)   // version 0
    (11 to 20).map(i => Tuple1(i.toLong)).toDF("id")
      .write.format("graft-avro").mode("append").save(p)      // version 1
    assert(spark.read.format("graft-avro").option("versionAsOf", "0")
      .load(p).count() === 10)
    assert(spark.read.format("graft-avro").option("versionAsOf", "1")
      .load(p).count() === 20)
    assert(spark.read.format("graft-avro").option("changesSinceVersion", "0")
      .load(p).agg(min("id")).collect()(0).getLong(0) === 11L)
    // vacuum treats the avro files as committed data (untouchable)
    assert(graft.api.TrainingData.vacuumOrphans(spark, p).isEmpty)
  }
}
