package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** `partitionBy(...)` on the graft sinks: rows route to hive-style
  * `col=value/` directories (values %xx-escaped, nulls as
  * __HIVE_DEFAULT_PARTITION__), partition columns are stripped from the
  * data lines, each leaf directory gets its own sidecars + compacted
  * manifest, and the graft scan lists/prunes/reads the layout back —
  * the full 100 TB corpus round trip without a metastore.
  */
class PartitionedSinkSpec extends AnyFunSuite with TempDirs {

  private var spark: SparkSession = _
  private val dir = tempDir("graft-psink")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("partitioned-sink-spec")
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

  test("json partitionBy round-trips: layout, stripping, nulls, escaping") {
    val s = spark; import s.implicits._
    val out = dir.resolve("json").toString
    val rows = Seq(
      (1L, "a", "2024-01-01"),
      (2L, "b", "2024-01-01"),
      (3L, "c", "2024-01-02"),
      (4L, "d", null),
      (5L, "e", "with/slash=and%pct"))
    rows.toDF("id", "v", "day")
      .write.format("graft-json").partitionBy("day").mode("overwrite").save(out)

    // hive layout with escaped values and the null sentinel
    val dirs = Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .map(p => p.substring(p.lastIndexOf('/') + 1)).filterNot(_.startsWith(".")).sorted
    assert(dirs.contains("day=2024-01-01") && dirs.contains("day=2024-01-02"))
    assert(dirs.contains("day=__HIVE_DEFAULT_PARTITION__"), dirs.mkString(","))
    assert(dirs.exists(d => d.startsWith("day=with%2Fslash%3Dand%25pct")), dirs.mkString(","))

    // partition columns are NOT in the data lines (hive-style stripping)
    val leaf = java.nio.file.Paths.get(out, "day=2024-01-01")
    val line = Files.list(leaf).toArray.map(_.toString).filter(_.endsWith(".jsonl"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq).head
    assert(!line.contains("day"), line)
    // each leaf has its compacted manifest
    assert(Files.exists(leaf.resolve(".graft-manifest")))

    // full read-back parity, including the escaped and null values
    val back = spark.read.format("graft-json").load(out)
      .select($"id".cast("long"), $"v", $"day")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(back == rows.toSet, back)

    // a partition filter reads only its directory (count stays exact)
    assert(spark.read.format("graft-json").load(out)
      .filter($"day" === "2024-01-01").count() == 2)
    assert(spark.read.format("graft-json").load(out)
      .filter($"day".isNull).count() == 1)
  }

  test("overwrite clears prior partition directories recursively") {
    val s = spark; import s.implicits._
    val out = dir.resolve("ow").toString
    Seq((1L, "x", "a"), (2L, "y", "b")).toDF("id", "v", "p")
      .write.format("graft-json").partitionBy("p").mode("overwrite").save(out)
    Seq((9L, "z", "c")).toDF("id", "v", "p")
      .write.format("graft-json").partitionBy("p").mode("overwrite").save(out)
    val back = spark.read.format("graft-json").load(out)
    assert(back.count() == 1)
    assert(back.select("p").collect().map(_.getString(0)).toSeq == Seq("c"))
  }

  test("csv partitionBy round-trips with headers per leaf file") {
    val s = spark; import s.implicits._
    val out = dir.resolve("csv").toString
    val rows = Seq((1L, 1.5, "eu"), (2L, 2.5, "eu"), (3L, 3.5, "us"))
    rows.toDF("id", "score", "region")
      .write.format("graft-csv").partitionBy("region").mode("overwrite").save(out)
    val leaf = java.nio.file.Paths.get(out, "region=eu")
    val lines = Files.list(leaf).toArray.map(_.toString).filter(_.endsWith(".csv"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
    assert(lines.exists(_ == "id,score"), lines.mkString("|")) // header, stripped cols
    val back = spark.read.format("graft-csv")
      .schema("id LONG, score DOUBLE, region STRING").load(out)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(back == rows.toSet, back)
  }

  test("append jobs get unique part names and merge the manifest") {
    val s = spark; import s.implicits._
    val out = dir.resolve("append").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.format("graft-json").mode("overwrite").save(out)
    Seq((3L, "c"), (4L, "d")).toDF("id", "v")
      .write.format("graft-json").mode("append").save(out)

    // both jobs' files coexist (query-id-unique names, no silent replace)
    val back = spark.read.format("graft-json").load(out)
    assert(back.count() == 4)
    assert(back.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))

    // the merged manifest covers BOTH jobs' files: metadata count works
    // with every per-file sidecar removed
    Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".stats")).foreach(f => Files.delete(java.nio.file.Paths.get(f)))
    val n = spark.read.format("graft-json").load(out)
      .selectExpr("count(*) AS n").collect()(0).getLong(0)
    assert(n == 4, s"merged manifest should cover both jobs, count returned $n")
  }

  test("partitioned append adds rows to existing partition directories") {
    val s = spark; import s.implicits._
    val out = dir.resolve("pappend").toString
    Seq((1L, "x", "a"), (2L, "y", "b")).toDF("id", "v", "p")
      .write.format("graft-json").partitionBy("p").mode("overwrite").save(out)
    Seq((3L, "z", "a")).toDF("id", "v", "p")
      .write.format("graft-json").partitionBy("p").mode("append").save(out)
    val back = spark.read.format("graft-json").load(out)
    assert(back.count() == 3)
    assert(back.filter(col("p") === "a").count() == 2)
  }

  test("streaming partitionBy writes the same hive layout with epoch-stable names") {
    val s = spark; import s.implicits._
    val in = dir.resolve("sin")
    Files.createDirectories(in)
    Files.write(in.resolve("a.jsonl"),
      (1 to 40).map(i => s"""{"id": $i, "g": "g${i % 2}"}""").mkString("", "\n", "\n")
        .getBytes("UTF-8"))
    val out = dir.resolve("sout").toString
    val ckpt = dir.resolve("sckpt").toString
    val q = spark.readStream.format("graft-json")
      .schema("id LONG, g STRING")
      .option("maxbytespertrigger", "256") // several epochs
      .load(in.toString)
      .writeStream.format("graft-json")
      // DataStreamWriter.partitionBy never reaches a V2 table; the sink's
      // own option is the documented route for streaming writes
      .option("partitionby", "g")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val dirs = Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .map(p => p.substring(p.lastIndexOf('/') + 1)).filterNot(_.startsWith(".")).sorted
    assert(dirs.toSeq == Seq("g=g0", "g=g1"), dirs.mkString(","))
    val back = spark.read.format("graft-json").schema("id LONG, g STRING").load(out)
    assert(back.count() == 40)
    assert(back.filter(col("g") === "g0").count() == 20)
    // multiple epochs landed inside the leaf directories
    val files = Files.list(java.nio.file.Paths.get(out, "g=g0")).toArray.map(_.toString)
      .filter(_.endsWith(".jsonl"))
    assert(files.map(_.replaceAll(".*part-", "").take(5)).distinct.length > 1,
      files.mkString(","))
  }

  test("partitioned per-leaf stats are index-correct: metadata min/max/sum proof") {
    val s = spark; import s.implicits._
    val out = dir.resolve("metamix").toString
    // partition column in the MIDDLE of the schema: the stats collector
    // observes through the projected index map — a mapping bug would
    // stamp one column's values into another's stats and return WRONG
    // metadata answers, not missing ones
    (1L to 200L).map(i => (i, s"g${i % 2}", i * 1.5, s"v$i"))
      .toDF("id", "g", "score", "v")
      .repartition(2).write.format("graft-json").partitionBy("g")
      .mode("overwrite").save(out)
    Files.walk(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".jsonl")).foreach { f =>
        val fp = java.nio.file.Paths.get(f)
        val len = Files.size(fp)
        Files.write(fp, (("#" * (len.toInt - 1)) + "\n").getBytes("UTF-8"))
        Files.deleteIfExists(fp.getParent.resolve("." + fp.getFileName + ".crc"))
      }
    val r = spark.read.format("graft-json")
      .schema("id LONG, score DOUBLE, v STRING, g STRING").load(out)
      .selectExpr("min(id) AS mn", "max(id) AS mx", "sum(id) AS si",
        "sum(score) AS ss", "count(v) AS cv").collect()(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 200L)
    assert(r.getLong(2) == 200L * 201 / 2)
    assert(r.getDouble(3) == (1 to 200).map(_ * 1.5).sum)
    assert(r.getLong(4) == 200L)
  }

  test("partitioned CSV per-leaf stats are index-correct too (observeProjected)") {
    val s = spark; import s.implicits._
    val out = dir.resolve("metamixcsv").toString
    (1L to 150L).map(i => (i, s"g${i % 3}", i * 2.0))
      .toDF("id", "g", "score")
      .repartition(2).write.format("graft-csv").partitionBy("g")
      .mode("overwrite").save(out)
    Files.walk(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".csv")).foreach { f =>
        val fp = java.nio.file.Paths.get(f)
        val len = Files.size(fp)
        Files.write(fp, (("#" * (len.toInt - 1)) + "\n").getBytes("UTF-8"))
        Files.deleteIfExists(fp.getParent.resolve("." + fp.getFileName + ".crc"))
      }
    val r = spark.read.format("graft-csv")
      .schema("id LONG, score DOUBLE, g STRING").load(out)
      .selectExpr("min(id) AS mn", "max(id) AS mx", "sum(score) AS ss").collect()(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 150L)
    assert(r.getDouble(2) == (1 to 150).map(_ * 2.0).sum)
  }

  test("partitioned metadata-only COUNT rides the per-leaf sidecars") {
    val s = spark; import s.implicits._
    val out = dir.resolve("meta").toString
    (1L to 300L).map(i => (i, s"v$i", s"g${i % 3}")).toDF("id", "v", "g")
      .repartition(2).write.format("graft-json").partitionBy("g").mode("overwrite").save(out)
    // poison every data file with same-length garbage: only stats answer
    Files.walk(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".jsonl")).foreach { f =>
        val fp = java.nio.file.Paths.get(f)
        val len = Files.size(fp)
        Files.write(fp, (("#" * (len.toInt - 1)) + "\n").getBytes("UTF-8"))
        Files.deleteIfExists(fp.getParent.resolve("." + fp.getFileName + ".crc"))
      }
    val schema = "id LONG, v STRING, g STRING"
    val n = spark.read.format("graft-json").schema(schema).load(out)
      .selectExpr("count(*) AS n").collect()(0).getLong(0)
    assert(n == 300, s"metadata count over partitioned layout returned $n")
  }

  test("DATE partition values render as ISO directories, not epoch-day ints") {
    val s = spark; import s.implicits._
    val out = tempDir("graft-part-date").toString
    Seq(("2026-01-02", 1L), ("2026-01-02", 2L), ("1999-12-31", 3L))
      .toDF("ds", "v")
      .select(org.apache.spark.sql.functions.to_date($"ds").as("d"), $"v")
      .write.format("graft-json").partitionBy("d").mode("overwrite").save(out)
    val dirs = new java.io.File(out).listFiles
      .filter(f => f.isDirectory && !f.getName.startsWith("."))
      .map(_.getName).sorted
    assert(dirs.toSeq === Seq("d=1999-12-31", "d=2026-01-02"), dirs.mkString(", "))
    val back = spark.read.format("graft-json").load(out)
    assert(back.filter($"d" === "2026-01-02").count() === 2)
    assert(back.count() === 3)
  }

  test("typed DATE/INT partition columns read through the vectorized path") {
    val s = spark; import s.implicits._
    val out = dir.resolve("pdate-vec").toString
    // all-supported schema → ColumnarPlate engages; the partition-served
    // DATE slot arrives as a boxed epoch-day Integer and INT as Integer —
    // PartitionVectors.wrap must constant-vectorize both (it used to throw)
    Seq(("2026-01-02", 1, 10L), ("2026-01-02", 1, 20L),
        ("1999-12-31", 2, 30L), ("1999-12-31", 2, 40L))
      .toDF("ds", "bucket", "v")
      .select(to_date($"ds").as("d"), $"bucket", $"v")
      .write.format("graft-json").partitionBy("d", "bucket")
      .mode("overwrite").save(out)
    val back = spark.read.format("graft-json")
      .schema("v BIGINT, d DATE, bucket INT").load(out)
    // force real row materialization through the columnar batches
    val rows = back.select($"d".cast("string"), $"bucket", $"v")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(rows == Set(("2026-01-02", 1, 10L), ("2026-01-02", 1, 20L),
      ("1999-12-31", 2, 30L), ("1999-12-31", 2, 40L)), rows)
    // typed pruning + aggregation over the constant vectors
    assert(back.filter($"d" === to_date(lit("2026-01-02")))
      .agg(sum($"v")).collect()(0).getLong(0) == 30L)
    assert(back.filter($"bucket" === 2).count() == 2)
  }
}
