package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** graft-csv DSv2 sink dialect edges: quote-doubling for embedded commas,
  * quotes, and row delimiters must round-trip byte-exactly through the
  * graft-csv reader (whose quoted-field parser is why CSV is unsplittable
  * by default), nested schemas must be refused, and compression composes.
  */
class CsvSinkSpec extends AnyFunSuite with TempDirs {

  private var spark: SparkSession = _
  private val dir = tempDir("graft-csv-sink-spec")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("csv-sink-spec")
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

  test("quoting edges round-trip: commas, quotes, embedded newlines") {
    val s = spark; import s.implicits._
    val tricky = Seq(
      (1L, "plain"),
      (2L, "has,comma"),
      (3L, "has\"quote"),
      (4L, "line1\nline2"),
      (5L, "\"all,of\nit\""),
      (6L, "")
    ).toDF("id", "v")
    val out = dir.resolve("tricky").toString
    tricky.write.format("graft-csv").mode("overwrite").save(out)
    val back = spark.read.format("graft-csv").load(out)
      .select($"id".cast("long").as("id"), $"v")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val want = Seq(
      (1L, "plain"), (2L, "has,comma"), (3L, "has\"quote"),
      (4L, "line1\nline2"), (5L, "\"all,of\nit\""),
      // empty cells are NULL on read (Spark csv nullValue / DuckDB
      // read_csv semantics) — "" and null are indistinguishable in the
      // file, the same lossy corner spark.read.csv has with defaults
      (6L, null))
    assert(back.toSeq == want, s"got ${back.toSeq}")
  }

  test("nested schemas are refused with a clear error") {
    val s = spark; import s.implicits._
    val nested = Seq((1L, Seq(1, 2))).toDF("id", "xs")
    val e = intercept[Exception] {
      nested.write.format("graft-csv").mode("overwrite")
        .save(dir.resolve("nested").toString)
    }
    assert(e.getMessage.contains("nested column"), e.getMessage)
  }

  test("gzip-compressed csv write round-trips") {
    val s = spark; import s.implicits._
    val out = dir.resolve("gz").toString
    (1L to 100L).map(i => (i, s"v,$i")).toDF("id", "v")
      .repartition(2).write.format("graft-csv")
      .option("compression", "gzip").mode("overwrite").save(out)
    val parts = Files.list(dir.resolve("gz")).toArray.map(_.toString)
      .filterNot(p => java.nio.file.Paths.get(p).getFileName.toString.startsWith("."))
    assert(parts.forall(_.endsWith(".csv.gz")), parts.mkString(","))
    val back = spark.read.format("graft-csv").load(out)
    assert(back.count() == 100)
    assert(back.selectExpr("sum(CAST(id AS LONG))").collect()(0).getLong(0) == 100L * 101 / 2)
  }

  test("streaming csv sink: epoch-named files round-trip exactly once") {
    val srcDir = tempDir("graft-csv-ssink-src")
    (1 to 3).foreach { f =>
      Files.write(srcDir.resolve(s"f$f.jsonl"),
        (1 to 10).map(i => s"""{"id": ${f * 100 + i}, "v": "x$i"}""")
          .mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val out = tempDir("graft-csv-ssink-out").resolve("o").toString
    val ckpt = tempDir("graft-csv-ssink-ckpt").toString
    val q = spark.readStream.format("graft-json")
      .schema("id LONG, v STRING")
      .option("maxfilespertrigger", "1")
      .option("admission", "files") // several micro-batches
      .load(srcDir.toString)
      .writeStream.format("graft-csv")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val back = spark.read.format("graft-csv").schema("id LONG, v STRING").load(out)
    val ids = back.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val want = (for (f <- 1 to 3; i <- 1 to 10) yield (f * 100 + i).toLong).sorted
    assert(ids == want)
    val parts = Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".csv"))
    assert(parts.map(_.replaceAll(".*part-", "").take(5)).distinct.length > 1,
      parts.mkString(","))
  }
}
