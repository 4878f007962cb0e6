package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** graftSkippedBytes on every reader class a scan can take: the
  * vectorized and row JSON readers (the row one also in PERMISSIVE mode),
  * the pushed-aggregate, OFFSET and top-N wrappers, which forward their
  * inner parse's accounting, the pushed COUNT(*) reader, and the
  * vectorized and row CSV readers. Each reports
  * 0 < skipped <= file bytes on the scan node. The Avro reader reports 0:
  * its projection skips fields inside the Avro decoder, which counts
  * nothing.
  */
class ColumnarSkipMetricsSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private var spark: SparkSession = _
  private val dir = Files.createTempDirectory("graft-skip-metrics")
  private var path: String = _
  private var fileBytes: Long = _
  private var csvPath: String = _
  private var csvBytes: Long = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("columnar-skip-metrics-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val p = dir.resolve("wide.json")
    Files.write(p, (1 to 500).map { i =>
      s"""{"id": $i, "v": ${i % 17}, "note": "${"x" * (i % 40)}", """ +
        s""""tags": ["a$i", "b$i"], "w": {"p": $i, "q": "r$i"}}"""
    }.mkString("\n").getBytes(UTF_8))
    path = p.toString
    fileBytes = Files.size(p)
    val c = dir.resolve("wide.csv")
    Files.write(c, ("id,v,note,w,z\n" + (1 to 500).map { i =>
      s"$i,${i % 17},${"y" * (i % 40)},$i.5,z$i"
    }.mkString("\n")).getBytes(UTF_8))
    csvPath = c.toString
    csvBytes = Files.size(c)
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  private def scan(df: DataFrame): BatchScanExec = {
    val scans = collect(df.queryExecution.executedPlan) { case s: BatchScanExec => s }
    assert(scans.size == 1, df.queryExecution.executedPlan.toString)
    scans.head
  }

  private def skipped(df: DataFrame): Long =
    scan(df).metrics(GraftSources.SkippedBytesMetricName).value

  private def table: DataFrame = spark.read.format("graft-json")
    .schema("id LONG, v LONG, note STRING, tags ARRAY<STRING>, w STRUCT<p: LONG, q: STRING>")
    .load(path)

  test("a vectorized 1-of-N projection reports the bytes its parse skipped") {
    val df = table.select("v")
    assert(df.collect().length == 500)
    assert(scan(df).supportsColumnar, "the projection must take the vectorized reader")
    val n = skipped(df)
    assert(n > 0 && n <= fileBytes, s"graftSkippedBytes = $n of $fileBytes file bytes")
  }

  test("a pushed count/sum scan forwards its inner parse's skipped bytes") {
    val df = table.agg(count(lit(1)), sum("v"))
    assert(scan(df).scan.description().contains("pushedAgg"), scan(df).scan.description())
    assert(df.collect().head.getLong(1) == (1 to 500).map(_ % 17).sum)
    val n = skipped(df)
    assert(n > 0 && n <= fileBytes, s"graftSkippedBytes = $n of $fileBytes file bytes")
  }

  private def assertSkipped(df: DataFrame, bytes: Long): Unit = {
    val n = skipped(df)
    assert(n > 0 && n <= bytes, s"graftSkippedBytes = $n of $bytes file bytes")
  }

  test("an OFFSET scan forwards its inner reader's skipped bytes") {
    val df = table.select("v").offset(10)
    assert(scan(df).scan.description().contains("offset=10"), scan(df).scan.description())
    assert(df.collect().length == 490)
    assertSkipped(df, fileBytes)
  }

  test("a top-N scan forwards its inner reader's skipped bytes") {
    val df = table.select("id", "v").orderBy(col("v").desc, col("id")).limit(5)
    assert(scan(df).scan.description().contains("topN="), scan(df).scan.description())
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(16L, 33L, 50L, 67L, 84L))
    assertSkipped(df, fileBytes)
  }

  test("a pushed COUNT(*) that parses reports the bytes it skipped") {
    // the file was written raw (no stats sidecar), so the count parses
    val df = table.agg(count(lit(1)))
    assert(scan(df).scan.description().contains("countStar"), scan(df).scan.description())
    assert(df.collect().head.getLong(0) == 500L)
    assertSkipped(df, fileBytes)
  }

  test("a graft-csv 1-of-N projection reports the bytes its parse skipped") {
    val df = spark.read.format("graft-csv")
      .schema("id LONG, v LONG, note STRING, w DOUBLE, z STRING").load(csvPath)
      .select("v")
    assert(df.collect().map(_.getLong(0)).sum == (1 to 500).map(_ % 17).sum)
    assertSkipped(df, csvBytes)
  }

  test("the row CSV reader reports the bytes its parse skipped") {
    val df = spark.read.format("graft-csv").option("vectorized", "false")
      .schema("id LONG, v LONG, note STRING, w DOUBLE, z STRING").load(csvPath)
      .select("v")
    assert(df.collect().map(_.getLong(0)).sum == (1 to 500).map(_ % 17).sum)
    assert(!scan(df).supportsColumnar, "vectorized=false must take the row reader")
    assertSkipped(df, csvBytes)
  }

  test("the row JSON reader reports the bytes its parse skipped") {
    val df = spark.read.format("graft-json").option("vectorized", "false")
      .schema("id LONG, v LONG, note STRING, tags ARRAY<STRING>, w STRUCT<p: LONG, q: STRING>")
      .load(path).select("v")
    assert(df.collect().length == 500)
    assert(!scan(df).supportsColumnar, "vectorized=false must take the row reader")
    assertSkipped(df, fileBytes)
  }

  test("the row JSON reader keeps its skipped bytes across a drop-malformed resync") {
    val lines = (1 to 1000).map(i => s"""{"id": $i, "note": "${"x" * 50}"}""")
      .updated(900, """{"id": oops, "note": "y"}""")
    val p = dir.resolve("resync.json")
    Files.write(p, lines.mkString("\n").getBytes(UTF_8))
    def read(vectorized: Boolean): DataFrame = spark.read.format("graft-json")
      .option("badrecords", "drop").option("vectorized", vectorized.toString)
      .schema("id LONG, note STRING").load(p.toString).select("id")
    val (row, columnar) = (read(vectorized = false), read(vectorized = true))
    assert(row.collect().length == 999 && columnar.collect().length == 999)
    assert(!scan(row).supportsColumnar && scan(columnar).supportsColumnar)
    // the rows after the resync are a tenth of the file: the row reader
    // must count the replaced plate's skips too, as the columnar one does
    assert(skipped(row) == skipped(columnar), (skipped(row), skipped(columnar)))
    assertSkipped(row, Files.size(p))
  }

  test("the row JSON reader reports skipped bytes under badrecords=keep") {
    val df = spark.read.format("graft-json").option("badrecords", "keep")
      .schema("id LONG, v LONG, note STRING, tags ARRAY<STRING>, w STRUCT<p: LONG, q: STRING>")
      .load(path).select("id", "note")
    assert(df.collect().length == 500)
    assert(!scan(df).supportsColumnar, "PERMISSIVE must take the row reader")
    assertSkipped(df, fileBytes)
  }

  test("the graft-avro reader reports graftSkippedBytes, 0 for a decoder-level projection") {
    val out = dir.resolve("avro").toString
    spark.range(0, 500, 1, 1).selectExpr("id", "id % 17 AS v", "repeat('x', 40) AS note")
      .write.format("graft-avro").mode("overwrite").save(out)
    val df = spark.read.format("graft-avro").load(out).select("v")
    assert(df.collect().map(_.getLong(0)).sum == (0 until 500).map(_ % 17).sum)
    assert(scan(df).metrics.contains(GraftSources.SkippedBytesMetricName),
      scan(df).metrics.keys.mkString(", "))
    assert(skipped(df) == 0L)
  }
}
