package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import java.nio.file.Files

/** Stats-sidecar data skipping: the graft-json sink records per-file
  * (rows, nulls, min, max), and the scan drops whole files whose ranges
  * cannot satisfy a pushed filter — before any task launches. Soundness
  * is the point: results must be identical with pruning active, files
  * without sidecars must be kept, and conservative cases (IsNotNull on a
  * mixed file, ranges that straddle) must not prune.
  */
class DataSkippingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = Files.createTempDirectory("graft-skip-spec")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("data-skipping-spec")
      .config("spark.sql.shuffle.partitions", "2")
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

  /** Overwrite a data file with same-length garbage: the length-bound
    * sidecar stays valid, so metadata-only answers still serve — the
    * proof that no data bytes were read. (A length-CHANGING rewrite must
    * instead invalidate the sidecar; see the stale-sidecar test.)
    */
  private def poisonSameLength(f: java.nio.file.Path): Unit = {
    val len = java.nio.file.Files.size(f)
    require(len >= 1)
    val junk = ("#" * (len.toInt - 1)) + "\n"
    Files.write(f, junk.getBytes("UTF-8"))
    Files.deleteIfExists(f.getParent.resolve("." + f.getFileName + ".crc"))
  }

  private def writeRanged(): String = {
    val s = spark; import s.implicits._
    val out = dir.resolve("ranged").toString
    (0L until 4000L).map(i => (i, s"name-$i", i / 10.0))
      .toDF("id", "name", "score")
      .repartitionByRange(4, $"id") // 4 files with disjoint id ranges
      .write.format("graft-json").mode("overwrite").save(out)
    out
  }

  test("range filters prune files by sidecar min/max and stay exact") {
    val out = writeRanged()
    val sidecars = Files.list(dir.resolve("ranged")).toArray.map(_.toString)
      .filter(_.endsWith(".stats"))
    assert(sidecars.length == 4, s"expected 4 sidecars: ${sidecars.mkString(",")}")

    GraftScan.lastStatsPruned.set(-1)
    val df = spark.read.format("graft-json").load(out)
      .filter(col("id") < 500)
      .selectExpr("count(*) AS n", "sum(id) AS s", "min(name) AS mn")
    val r = df.collect()(0)
    assert(r.getLong(0) == 500 && r.getLong(1) == 499L * 500 / 2)
    assert(GraftScan.lastStatsPruned.get == 3,
      s"expected 3 of 4 files pruned, got ${GraftScan.lastStatsPruned.get}")

    // string range prune (binary UTF-8 ordering on the name column)
    GraftScan.lastStatsPruned.set(-1)
    val n = spark.read.format("graft-json").load(out)
      .filter(col("name") === "name-3999").count()
    assert(n == 1)
    assert(GraftScan.lastStatsPruned.get >= 1, "string equality should prune some files")
  }

  test("straddling ranges and missing sidecars never lose rows") {
    val out = writeRanged()
    // delete one sidecar: that file must be scanned (kept) regardless
    val victim = Files.list(dir.resolve("ranged")).toArray.map(_.toString)
      .filter(_.endsWith(".stats")).head
    Files.delete(java.nio.file.Paths.get(victim))

    val full = spark.read.format("graft-json").load(out)
    assert(full.count() == 4000)
    // a filter straddling two files' ranges returns exactly the rows
    val got = full.filter(col("id") >= 995 && col("id") <= 1005)
      .selectExpr("count(*)").collect()(0).getLong(0)
    assert(got == 11)
  }

  test("timestamp/date sidecar lanes: time-range file pruning + metadata min/max") {
    val s = spark; import s.implicits._
    val out = dir.resolve("temporal").toString
    // 4 files with EXACTLY one day each — the time-series layout
    def day(dy: Long) = (dy * 1000L until (dy + 1) * 1000L).map { i =>
      (i, f"2026-01-${dy + 1}%02d 0${i % 9 + 1}:00:${i % 60}%02d")
    }.toDF("id", "raw")
      .select($"id", to_timestamp($"raw").as("ts"), to_date($"raw").as("d"))
      .coalesce(1)
    day(0).write.format("graft-json").mode("overwrite").save(out)
    (1L to 3L).foreach(dy =>
      day(dy).write.format("graft-json").mode("append").save(out))
    val schema = "id BIGINT, ts TIMESTAMP, d DATE"

    // timestamp range filter prunes 3 of 4 files
    GraftScan.lastStatsPruned.set(-1)
    val day1 = spark.read.format("graft-json").schema(schema).load(out)
      .filter($"ts" < "2026-01-02").count()
    assert(day1 == 1000, s"day-1 rows: $day1")
    assert(GraftScan.lastStatsPruned.get == 3,
      s"expected 3 of 4 files pruned by the ts range, got ${GraftScan.lastStatsPruned.get}")

    // date equality prunes through the days lane too
    GraftScan.lastStatsPruned.set(-1)
    val day3 = spark.read.format("graft-json").schema(schema).load(out)
      .filter($"d" === "2026-01-03").count()
    assert(day3 == 1000)
    assert(GraftScan.lastStatsPruned.get >= 2,
      s"date equality should prune, got ${GraftScan.lastStatsPruned.get}")

    // metadata-only MIN/MAX over the timestamp column (poison-proof)
    val mm = spark.read.format("graft-json").schema(schema)
      .option("metadatastrict", "true").load(out)
      .selectExpr("min(ts) AS mn", "max(ts) AS mx").collect()(0)
    assert(mm.getTimestamp(0).toString.startsWith("2026-01-01 01:00:00"))
    assert(mm.getTimestamp(1).toString.startsWith("2026-01-04"))
  }

  test("IsNotNull prunes all-null files only; IsNull prunes no-null files") {
    val s = spark; import s.implicits._
    val out = dir.resolve("nulls").toString
    val withNulls = (0L until 100L)
      .map(i => (i, if (i < 50) null else s"v$i"))
      .toDF("id", "v")
    // file 0: ids 0-49 (v all null); file 1: ids 50-99 (v never null)
    withNulls.repartitionByRange(2, $"id")
      .write.format("graft-json").mode("overwrite").save(out)

    GraftScan.lastStatsPruned.set(-1)
    assert(spark.read.format("graft-json").load(out)
      .filter(col("v").isNotNull).count() == 50)
    assert(GraftScan.lastStatsPruned.get == 1, "the all-null file should be pruned")

    GraftScan.lastStatsPruned.set(-1)
    assert(spark.read.format("graft-json").load(out)
      .filter(col("v").isNull).count() == 50)
    assert(GraftScan.lastStatsPruned.get == 1, "the no-null file should be pruned")
  }

  test("option(dataskipping=false) disables pruning but not correctness") {
    val out = writeRanged()
    GraftScan.lastStatsPruned.set(-1)
    val n = spark.read.format("graft-json").option("dataskipping", "false")
      .load(out).filter(col("id") < 500).count()
    assert(n == 500)
    assert(GraftScan.lastStatsPruned.get == -1, "pruning should not have run")
  }

  test("COUNT(*) over sink-written files is metadata-only") {
    val s = spark; import s.implicits._
    val out = dir.resolve("metacount").toString
    (1L to 1234L).map(i => (i, s"r$i")).toDF("id", "v")
      .repartition(3).write.format("graft-json").mode("overwrite").save(out)

    // poison one DATA file (same length — the bound sidecar stays valid):
    // a metadata count must not notice (proof that no data bytes were
    // read); the sidecar keeps the true row count
    val victim = Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".jsonl")).head
    poisonSameLength(java.nio.file.Paths.get(victim))

    val n = spark.read.format("graft-json").load(out)
      .selectExpr("count(*) AS n").collect()(0).getLong(0)
    assert(n == 1234, s"metadata count returned $n")

    // drop mode must PARSE (it validates), so the poisoned file now counts 0
    val strict = spark.read.format("graft-json").option("badrecords", "drop")
      .load(out).selectExpr("count(*)").collect()(0).getLong(0)
    assert(strict < 1234, s"drop-mode count should have parsed and shrunk, got $strict")
  }

  test("ungrouped min/max/count batteries answer from metadata (no data read)") {
    val s = spark; import s.implicits._
    val out = dir.resolve("metaagg").toString
    (1L to 900L).map(i => (i, s"k$i", i * 1.5))
      .toDF("id", "name", "score")
      .repartition(3).write.format("graft-json").mode("overwrite").save(out)

    val schema = spark.read.format("graft-json").load(out).schema

    // poison every data file (same length): only metadata can produce
    // these answers
    Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".jsonl"))
      .foreach(f => poisonSameLength(java.nio.file.Paths.get(f)))

    val df = spark.read.format("graft-json").schema(schema).load(out)
      .selectExpr("min(id) AS mn", "max(id) AS mx", "count(id) AS c",
        "min(score) AS smn", "max(name) AS nmx",
        "sum(id) AS si", "sum(score) AS ss", "avg(score) AS avgs")
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("min(id)") && plan.contains("RelationV2"),
      s"battery must be pushed into the scan:\n$plan")
    val r = df.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1L, 900L, 900L)))
    assert(r.getDouble(3) == 1.5 && r.getString(4) == "k99")
    // SUM/AVG answer from the sidecars' exact write-order sums — still
    // zero data bytes over the poisoned files
    assert(r.getLong(5) == 900L * 901 / 2)
    assert(r.getDouble(6) == (1 to 900).map(_ * 1.5).sum)
    assert(r.getDouble(7) == (1 to 900).map(_ * 1.5).sum / 900)
  }

  test("integral sums past the Long range refuse the metadata answer") {
    val s = spark; import s.implicits._
    val out = dir.resolve("metaovf").toString
    Seq(Long.MaxValue - 10, Long.MaxValue - 10, 5L).map(Tuple1(_)).toDF("v")
      .coalesce(1).write.format("graft-json").mode("overwrite").save(out)
    // the file's sum overflows Long -> sidecar records no sum -> the
    // battery must PARSE (which the poisoned file makes fail), while a
    // sum-free battery still answers from metadata
    val f = Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".jsonl")).head
    poisonSameLength(java.nio.file.Paths.get(f))
    assert(spark.read.format("graft-json").schema("v LONG").load(out)
      .selectExpr("count(v)").collect()(0).getLong(0) == 3)
    intercept[Exception] {
      spark.read.format("graft-json").schema("v LONG").load(out)
        .selectExpr("sum(v)").collect()
    }
  }

  test("a length-changing rewrite invalidates the sidecar (no stale answers)") {
    val s = spark; import s.implicits._
    val out = dir.resolve("stale").toString
    (1L to 100L).map(i => (i, s"r$i")).toDF("id", "v")
      .coalesce(1).write.format("graft-json").mode("overwrite").save(out)

    // out-of-band append: the data file grows, the sidecar still says 100
    val f = Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".jsonl")).head
    val fp = java.nio.file.Paths.get(f)
    Files.write(fp, "{\"id\":101,\"v\":\"extra\"}\n".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    Files.deleteIfExists(fp.getParent.resolve("." + fp.getFileName + ".crc"))

    // the stale sidecar must be distrusted: count PARSES and sees 101
    val n = spark.read.format("graft-json").load(out)
      .selectExpr("count(*) AS n").collect()(0).getLong(0)
    assert(n == 101, s"stale sidecar was trusted: count returned $n")
  }

  test("graft-csv sink writes sidecars: pruning + metadata-only count") {
    val s = spark; import s.implicits._
    val out = dir.resolve("csvranged").toString
    (0L until 4000L).map(i => (i, s"name-$i", i / 10.0))
      .toDF("id", "name", "score")
      .repartitionByRange(4, $"id")
      .write.format("graft-csv").mode("overwrite").save(out)
    val sidecars = Files.list(dir.resolve("csvranged")).toArray.map(_.toString)
      .filter(_.endsWith(".stats"))
    assert(sidecars.length == 4, s"expected 4 CSV sidecars: ${sidecars.mkString(",")}")

    val schema = "id LONG, name STRING, score DOUBLE"
    GraftScan.lastStatsPruned.set(-1)
    val n = spark.read.format("graft-csv").schema(schema).load(out)
      .filter(col("id") < 500).count()
    assert(n == 500)
    assert(GraftScan.lastStatsPruned.get == 3,
      s"expected 3 of 4 CSV files pruned, got ${GraftScan.lastStatsPruned.get}")

    // poison every data file same-length: COUNT(*) must answer from
    // metadata (no CSV byte is readable any more)
    Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".csv"))
      .foreach(f => poisonSameLength(java.nio.file.Paths.get(f)))
    val total = spark.read.format("graft-csv").schema(schema).load(out)
      .selectExpr("count(*) AS n").collect()(0).getLong(0)
    assert(total == 4000, s"CSV metadata count returned $total")
  }

  test("long string bounds are truncated: prune-safe but never a MIN/MAX answer") {
    val s = spark; import s.implicits._
    val out = dir.resolve("longstr").toString
    // two files with distinct 80-char prefixes — every value exceeds the
    // 64-byte stat bound, so both files carry truncated (inexact) bounds
    val rows = (0 until 100).map(i => (i.toLong, ("a" * 80) + f"$i%04d")) ++
      (100 until 200).map(i => (i.toLong, ("b" * 80) + f"$i%04d"))
    rows.toDF("id", "v").repartitionByRange(2, $"id")
      .write.format("graft-json").mode("overwrite").save(out)

    // truncated bounds still prune: the a-file's raised max (a…ab) is
    // below every b-prefixed literal
    GraftScan.lastStatsPruned.set(-1)
    val n = spark.read.format("graft-json").load(out)
      .filter(col("v") === (("b" * 80) + "0150")).count()
    assert(n == 1)
    assert(GraftScan.lastStatsPruned.get == 1,
      s"expected the a-prefix file pruned, got ${GraftScan.lastStatsPruned.get}")

    val schema = spark.read.format("graft-json").load(out).schema
    Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".jsonl"))
      .foreach(f => poisonSameLength(java.nio.file.Paths.get(f)))
    // rows stat is exact: count still answers from metadata
    assert(spark.read.format("graft-json").schema(schema).load(out)
      .selectExpr("count(*) AS n").collect()(0).getLong(0) == 200)
    // truncated max is NOT the true max: the battery must refuse the
    // metadata answer and parse — which the poisoned files make fail
    intercept[Exception] {
      spark.read.format("graft-json").schema(schema).load(out)
        .selectExpr("max(v)").collect()
    }
  }

  test("decimal columns get sidecar stats: pruning + metadata min/max") {
    val s = spark; import s.implicits._
    val out = dir.resolve("decimal").toString
    (1L to 1000L).map(i => (i, BigDecimal(i).setScale(2) * 3))
      .toDF("id", "amt")
      .select($"id", $"amt".cast("decimal(12,2)").as("amt"))
      .repartitionByRange(2, $"id")
      .write.format("graft-json").mode("overwrite").save(out)

    val schema = "id LONG, amt DECIMAL(12,2)"
    GraftScan.lastStatsPruned.set(-1)
    val n = spark.read.format("graft-json").schema(schema).load(out)
      .filter(col("amt") < new java.math.BigDecimal("150.00")).count()
    assert(n == 49, s"expected 49 rows, got $n")
    assert(GraftScan.lastStatsPruned.get == 1,
      s"expected 1 of 2 files pruned on the decimal range, got ${GraftScan.lastStatsPruned.get}")

    Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".jsonl"))
      .foreach(f => poisonSameLength(java.nio.file.Paths.get(f)))
    val r = spark.read.format("graft-json").schema(schema).load(out)
      .selectExpr("min(amt) AS mn", "max(amt) AS mx", "count(amt) AS c",
        "sum(amt) AS s").collect()(0)
    assert(r.getDecimal(0).compareTo(new java.math.BigDecimal("3.00")) == 0)
    assert(r.getDecimal(1).compareTo(new java.math.BigDecimal("3000.00")) == 0)
    assert(r.getLong(2) == 1000)
    // decimal SUM from the sidecar's exact BigDecimal accumulation
    assert(r.getDecimal(3).compareTo(
      new java.math.BigDecimal(3L * 1000 * 1001 / 2).setScale(2)) == 0)
  }

  test("manifest compaction: pruning and metadata answers survive sidecar loss") {
    val s = spark; import s.implicits._
    val out = dir.resolve("manifest").toString
    (0L until 4000L).map(i => (i, s"name-$i", i / 10.0))
      .toDF("id", "name", "score")
      .repartitionByRange(4, $"id")
      .write.format("graft-json").mode("overwrite").save(out)
    assert(Files.exists(java.nio.file.Paths.get(out, ".graft-manifest")),
      "batch commit should have written the compacted manifest")

    // delete EVERY per-file sidecar: the one-read manifest must carry the
    // planning-time pruning and the metadata-only answers alone
    Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".stats")).foreach(f => Files.delete(java.nio.file.Paths.get(f)))

    GraftScan.lastStatsPruned.set(-1)
    val n = spark.read.format("graft-json").load(out).filter(col("id") < 500).count()
    assert(n == 500)
    assert(GraftScan.lastStatsPruned.get == 3,
      s"manifest should prune 3 of 4 files, got ${GraftScan.lastStatsPruned.get}")

    // metadata-only count from the manifest (poison proves no data read)
    val schema = spark.read.format("graft-json").load(out).schema
    Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".jsonl"))
      .foreach(f => poisonSameLength(java.nio.file.Paths.get(f)))
    val total = spark.read.format("graft-json").schema(schema).load(out)
      .selectExpr("count(*) AS n", "min(id) AS mn", "max(id) AS mx").collect()(0)
    assert((total.getLong(0), total.getLong(1), total.getLong(2)) == ((4000L, 0L, 3999L)))
  }

  test("stale manifest entries (length mismatch) degrade to parsing, not wrong answers") {
    val s = spark; import s.implicits._
    val out = dir.resolve("manifeststale").toString
    (1L to 100L).map(i => (i, s"r$i")).toDF("id", "v")
      .coalesce(1).write.format("graft-json").mode("overwrite").save(out)
    // remove sidecars so only the manifest could answer, then grow the file
    Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".stats")).foreach(f => Files.delete(java.nio.file.Paths.get(f)))
    val f = Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".jsonl")).head
    val fp = java.nio.file.Paths.get(f)
    Files.write(fp, "{\"id\":101,\"v\":\"extra\"}\n".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    Files.deleteIfExists(fp.getParent.resolve("." + fp.getFileName + ".crc"))
    val n = spark.read.format("graft-json").load(out)
      .selectExpr("count(*) AS n").collect()(0).getLong(0)
    assert(n == 101, s"stale manifest entry was trusted: count returned $n")
  }

  test("sidecar round-trips through render/parse including edge values") {
    import FileStats._
    val st = Stats(7, Map(
      "i" -> ColStats('i', 2, java.lang.Long.valueOf(Long.MinValue), java.lang.Long.valueOf(Long.MaxValue)),
      "f" -> ColStats('f', 0, java.lang.Double.valueOf(-0.0), java.lang.Double.valueOf(Double.MaxValue)),
      "s" -> ColStats('s', 7, null, null),
      "t\tab" -> ColStats('s', 0,
        org.apache.spark.unsafe.types.UTF8String.fromString("a\tb\nc"),
        org.apache.spark.unsafe.types.UTF8String.fromString("😀"))))
    val back = parse(render(st))
    assert(back.isDefined)
    assert(back.get.rows == 7)
    assert(back.get.cols("t\tab").max.toString == "😀")
    assert(back.get.cols("s").min == null)
    assert(parse("junk").isEmpty)

    // v2 additions: data-file length binding, decimal lanes, inexact flags
    val st2 = Stats(3, Map(
      "d" -> ColStats('d', 0,
        new java.math.BigDecimal("-123456789012345678901234.56"),
        new java.math.BigDecimal("99.99")),
      "t" -> ColStats('s', 0,
        org.apache.spark.unsafe.types.UTF8String.fromString("p"),
        org.apache.spark.unsafe.types.UTF8String.fromBytes(Array[Byte](0x70, -1)),
        minExact = false, maxExact = false)), dataLen = 4242L)
    val b2 = parse(render(st2)).get
    assert(b2.dataLen == 4242L)
    assert(b2.cols("d").min == new java.math.BigDecimal("-123456789012345678901234.56"))
    assert(!b2.cols("t").minExact && !b2.cols("t").maxExact)
    assert(b2.cols("t").max.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .getBytes.toSeq == Seq[Byte](0x70, -1))
  }

  test("truncatePrefix and truncateUpperBound are sound byte-wise bounds") {
    import FileStats._
    import org.apache.spark.unsafe.types.UTF8String
    val long = UTF8String.fromString("x" * 70 + "tail")
    val p = truncatePrefix(long, 64)
    assert(p.numBytes <= 64 && p.binaryCompare(long) <= 0)
    val ub = truncateUpperBound(long, 64).get
    assert(ub.binaryCompare(long) > 0)
    // multi-byte codepoint straddling the bound: backs off to a boundary
    val emoji = UTF8String.fromString("e" * 63 + "😀😀") // 4-byte cp at 63
    val pe = truncatePrefix(emoji, 64)
    assert(pe.numBytes == 63 && pe.binaryCompare(emoji) <= 0)
    assert(truncateUpperBound(emoji, 64).get.binaryCompare(emoji) > 0)
    // all-0xFF prefix: no successor exists
    assert(truncateUpperBound(
      UTF8String.fromBytes(Array.fill[Byte](70)(-1)), 64).isEmpty)
    // short strings pass through untouched
    val short = UTF8String.fromString("abc")
    assert(truncatePrefix(short, 64) eq short)
  }

  // ---- bloom sidecars (round 6): point-lookup pruning where ranges fail

  /** Hash layout with holes: even ids only, 4 files each spanning ~the
    * whole [0, 7998] range — min/max prunes nothing for an equality
    * probe, so any pruning below is the bloom's doing.
    */
  private def writeHashed(format: String = "graft-json"): String = {
    val s = spark; import s.implicits._
    val out = dir.resolve(s"hashed-$format").toString
    (0L until 4000L).map(i => (i * 2, s"name-${i * 2}", i / 10.0))
      .toDF("id", "name", "score")
      .repartition(4, $"id")
      .write.format(format).mode("overwrite").save(out)
    out
  }

  test("bloom sidecars prune point lookups that min/max cannot") {
    val out = writeHashed()

    // integral equality: the key lives in exactly one file
    GraftScan.lastStatsPruned.set(-1)
    val one = spark.read.format("graft-json").load(out).filter(col("id") === 2468L)
    assert(one.collect().map(_.getAs[Long]("id")).toSeq == Seq(2468L))
    assert(GraftScan.lastStatsPruned.get == 3,
      s"expected 3 of 4 files bloom-pruned, got ${GraftScan.lastStatsPruned.get}")

    // a value inside every file's [min, max] but present nowhere (odd id):
    // blooms prune ALL files, zero tasks
    GraftScan.lastStatsPruned.set(-1)
    assert(spark.read.format("graft-json").load(out)
      .filter(col("id") === 1233L).count() == 0)
    assert(GraftScan.lastStatsPruned.get == 4)

    // string equality probe
    GraftScan.lastStatsPruned.set(-1)
    assert(spark.read.format("graft-json").load(out)
      .filter(col("name") === "name-7700").count() == 1)
    assert(GraftScan.lastStatsPruned.get == 3)

    // IN set: files containing neither key are pruned (777 is absent
    // everywhere, 2468 lives in one file)
    GraftScan.lastStatsPruned.set(-1)
    val in = spark.read.format("graft-json").load(out)
      .filter(col("id").isin(2468L, 777L)).collect()
    assert(in.map(_.getAs[Long]("id")).toSeq == Seq(2468L))
    assert(GraftScan.lastStatsPruned.get == 3)

    // pruning off → same answers, no pruning
    GraftScan.lastStatsPruned.set(-1)
    assert(spark.read.format("graft-json").option("dataskipping", "false")
      .load(out).filter(col("id") === 2468L).count() == 1)
    assert(GraftScan.lastStatsPruned.get == -1)
  }

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  test("saturated blooms are dropped; long string values disable the column's bloom") {
    val s = spark; import s.implicits._
    // 20k distinct values > the ~11k useful capacity at 64 Kbit / k=4:
    // snapshot must drop the bloom rather than ship a saturated filter
    val satOut = dir.resolve("sat").toString
    (0L until 20000L).map(i => (i, i.toString)).toDF("id", "name")
      .coalesce(1)
      .write.format("graft-json").mode("overwrite").save(satOut)
    val satSidecar = Files.list(dir.resolve("sat")).toArray.map(_.toString)
      .filter(_.endsWith(".stats")).head
    val satText = new String(Files.readAllBytes(java.nio.file.Paths.get(satSidecar)), "UTF-8")
    assert(!satText.contains("bloom\t"), "saturated bloom must be dropped")
    // correctness unaffected (min/max still present)
    assert(spark.read.format("graft-json").load(satOut)
      .filter(col("id") === 19999L).count() == 1)

    // a document-length string kills that COLUMN's bloom only
    val docOut = dir.resolve("docs").toString
    Seq((1L, "short"), (2L, "x" * 300), (3L, "tail"))
      .toDF("id", "body").coalesce(1)
      .write.format("graft-json").mode("overwrite").save(docOut)
    val docSidecar = Files.list(dir.resolve("docs")).toArray.map(_.toString)
      .filter(_.endsWith(".stats")).head
    val docText = new String(Files.readAllBytes(java.nio.file.Paths.get(docSidecar)), "UTF-8")
    assert(docText.contains("bloom\t" + b64("id")), "id bloom expected")
    assert(!docText.contains("bloom\t" + b64("body")), "body bloom must be disabled")
  }

  test("blooms round-trip through sidecar and manifest codecs; no false negatives") {
    import FileStats._
    val bits = new Array[Long](BloomBits >>> 6)
    val bloom = Bloom(BloomK, bits)
    val values = (0L until 500L).map(_ * 31 + 7)
    values.foreach { v =>
      val h = bloomHashLong(v)
      var i = 0
      while (i < BloomK) {
        val bit = java.lang.Long.remainderUnsigned(h._1 + i.toLong * h._2, BloomBits).toInt
        bits(bit >>> 6) |= 1L << (bit & 63)
        i += 1
      }
    }
    val st = Stats(500L, Map(
      "k" -> ColStats('i', 0, 7L, 15476L, sum = java.lang.Long.valueOf(3870250L),
        bloom = bloom)), dataLen = 123L)
    val rt = parse(render(st)).get
    val rb = rt.cols("k").bloom
    assert(rb != null && rb.k == BloomK && rb.bits.toSeq == bits.toSeq)
    values.foreach(v => assert(rb.mightContain(bloomHashLong(v)), s"false negative for $v"))

    // manifests STRIP blooms by design (they'd be tens of MB at scale);
    // ranges/counts survive, and the scan consults the per-file sidecar
    // lazily for point lookups (the pruning tests above prove that path:
    // batch writes produce manifests, yet bloom pruning still engages)
    val mfText = renderManifest(Seq("part-1.jsonl" -> render(st)))
    assert(!mfText.contains("bloom\t"), "manifest must not embed blooms")
    val mf = parseManifest(mfText).get
    assert(mf("part-1.jsonl").cols("k").bloom == null)
    assert(mf("part-1.jsonl").cols("k").min == java.lang.Long.valueOf(7L))
    assert(mf("part-1.jsonl").rows == 500L)

    // bloomExcludes: equality shapes only, conservative on type mismatch
    import org.apache.spark.sql.sources._
    val c = rt.cols("k")
    assert(bloomExcludes(c, EqualTo("k", 8L)), "8 was never inserted")
    assert(!bloomExcludes(c, EqualTo("k", 7L)), "7 was inserted")
    assert(bloomExcludes(c, In("k", Array[Any](8L, null, 9L))))
    assert(!bloomExcludes(c, In("k", Array[Any](8L, 38L)))) // 38 = 31+7 present
    assert(!bloomExcludes(c, EqualTo("k", "8"))) // type mismatch: keep
    assert(!bloomExcludes(c, GreaterThan("k", 99999L))) // ranges never consult
  }

  test("non-finite doubles: JSON sidecar stats describe the FILE (NaN/Inf → null)") {
    val s = spark; import s.implicits._
    // the JSON serializer writes NaN/±Inf as null — the collector must
    // count them as nulls or metadata COUNT/SUM answers diverge from a
    // parse (found by design review; pinned here)
    val out = dir.resolve("nonfinite").toString
    Seq(
      (1L, 1.5), (2L, Double.NaN), (3L, Double.PositiveInfinity),
      (4L, 2.5), (5L, Double.NegativeInfinity), (6L, Double.NaN))
      .toDF("id", "d").coalesce(1)
      .write.format("graft-json").mode("overwrite").save(out)

    def answers(skipping: Boolean): (Long, Long, Double, Double, Double) = {
      val r = spark.read.format("graft-json")
        .schema("id LONG, d DOUBLE")
        .option("dataskipping", skipping.toString).load(out)
        .agg(count(lit(1)).as("n"), count($"d").as("nd"),
          sum($"d").as("sd"), min($"d").as("mn"), max($"d").as("mx"))
        .collect()(0)
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
    }
    val meta = answers(skipping = true)   // metadata-only battery
    val parse = answers(skipping = false) // ground truth: parse the file
    assert(meta == parse, s"metadata $meta != parse $parse")
    assert(parse == ((6L, 2L, 4.0, 1.5, 2.5)))
  }

  test("CSV empty strings: sidecar stats agree with the empty-cell-as-NULL dialect") {
    val s = spark; import s.implicits._
    // the CSV reader parses empty cells as NULL (Spark/DuckDB parity)
    // and empty strings serialize AS empty cells — the collector must
    // count them as nulls or metadata COUNT/MIN and the sorted flag
    // describe rows the parse never returns
    val out = dir.resolve("csvempty").toString
    Seq((1L, ""), (2L, "alpha"), (3L, ""), (4L, "beta"))
      .toDF("id", "t").coalesce(1)
      .write.format("graft-csv").mode("overwrite").save(out)

    def answers(skipping: Boolean): (Long, Long, String, String) = {
      val r = spark.read.format("graft-csv")
        .schema("id LONG, t STRING")
        .option("dataskipping", skipping.toString).load(out)
        .agg(count(lit(1)).as("n"), count($"t").as("nt"),
          min($"t").as("mn"), max($"t").as("mx"))
        .collect()(0)
      (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))
    }
    val meta = answers(skipping = true)
    val parse = answers(skipping = false)
    assert(meta == parse, s"metadata $meta != parse $parse")
    assert(parse == ((4L, 2L, "alpha", "beta")))
  }

  test("z-order clustering prunes on every listed column; linear sort only on its own") {
    val s = spark; import s.implicits._
    // two independent uniform dimensions: under a linear sort on x, every
    // file spans the full y range and y-filters prune nothing
    val src = (0L until 4096L).map { i =>
      (i, (i * 2654435761L) % 4096L, ((i * 40503L) + 7) % 4096L)
    }.toDF("id", "x", "y")

    val linear = dir.resolve("lin").toString
    src.repartitionByRange(8, $"x").sortWithinPartitions("x")
      .write.format("graft-json").mode("overwrite").save(linear)
    val zord = dir.resolve("zord").toString
    graft.api.TrainingData.zorderBy(src, 8, Seq("x", "y"), bits = 6)
      .write.format("graft-json").mode("overwrite").save(zord)

    def prunedFor(path: String, c: String): (Long, Int) = {
      GraftScan.lastStatsPruned.set(-1)
      val n = spark.read.format("graft-json").load(path)
        .filter(col(c) >= 100 && col(c) < 200).count()
      (n, GraftScan.lastStatsPruned.get.toInt)
    }
    val expectX = src.filter($"x" >= 100 && $"x" < 200).count()
    val expectY = src.filter($"y" >= 100 && $"y" < 200).count()

    val (lx, lxPruned) = prunedFor(linear, "x")
    val (ly, lyPruned) = prunedFor(linear, "y")
    assert(lx == expectX && ly == expectY)
    assert(lxPruned >= 6, s"linear sort must prune its own column (got $lxPruned)")
    assert(lyPruned == 0, s"linear sort cannot prune the other column (got $lyPruned)")

    val (zx, zxPruned) = prunedFor(zord, "x")
    val (zy, zyPruned) = prunedFor(zord, "y")
    assert(zx == expectX && zy == expectY)
    assert(zxPruned >= 1 && zyPruned >= 1,
      s"z-order must prune on BOTH dimensions (x: $zxPruned, y: $zyPruned)")
  }

  test("compaction collapses a fragmented layout into clustered, skippable files") {
    val s = spark; import s.implicits._
    val frag = dir.resolve("frag").toString
    (0L until 3000L).map(i => (i, s"r-$i")).toDF("id", "tag")
      .repartition(12)
      .write.format("graft-json").mode("overwrite").save(frag)
    def parts(p: String): Array[String] = Files.list(java.nio.file.Paths.get(p))
      .toArray.map(_.toString).filter(f => f.endsWith(".jsonl"))
    assert(parts(frag).length == 12)

    val out = dir.resolve("compacted").toString
    val back = graft.api.TrainingData.compactLayout(spark, frag, out,
      targetFileBytes = 1L << 16, schema = "id LONG, tag STRING",
      clusterBy = "id")
    // ~48 KB of data at 64 KiB target → one file; clustered on id
    assert(parts(out).length >= 1 && parts(out).length <= 2,
      s"expected 1-2 compacted files, got ${parts(out).length}")
    assert(back.count() == 3000)
    // rewrite refreshed sidecars + manifest: ranged pruning works and
    // the sorted flag survives into reported ordering
    assert(Files.exists(java.nio.file.Paths.get(out, ".graft-manifest")))
    val ord = spark.read.format("graft-json").load(out)
      .queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.ordering
      }.flatten
    assert(ord.exists(_.nonEmpty), "clustered compaction output must report ordering")
    // exact content parity with the fragmented source
    val a = spark.read.format("graft-json").schema("id LONG, tag STRING")
      .load(frag).collect().map(_.toString).sorted.toSeq
    val b = back.collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("decimal stats flow through a partitioned layout: grouped metadata battery") {
    val s = spark; import s.implicits._
    // DECIMAL money column through the hive-style partitionBy layout:
    // per-leaf sidecars + manifest must carry BigDecimal min/max/sum so
    // a grouped battery keyed by the partition column can fold inside
    // the scan — the partitioned sibling of the flat q84 lane
    val out = dir.resolve("decpart").toString
    Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "b"), (6L, "c"))
      .toDF("k", "p")
      .select($"p", $"k".cast("decimal(14,2)").as("amt"))
      .write.format("graft-json").partitionBy("p").mode("overwrite").save(out)

    def answers(skipping: Boolean): Seq[(String, Long, String, String, String)] = {
      spark.read.format("graft-json")
        .schema("amt DECIMAL(14,2), p STRING")
        .option("dataskipping", skipping.toString).load(out)
        .groupBy($"p")
        .agg(count($"amt").as("n"), sum($"amt").as("sm"),
          min($"amt").as("mn"), max($"amt").as("mx"))
        .orderBy($"p")
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getDecimal(2).toPlainString, r.getDecimal(3).toPlainString,
          r.getDecimal(4).toPlainString)).toSeq
    }
    val meta = answers(skipping = true)
    val parse = answers(skipping = false)
    assert(meta == parse, s"metadata $meta != parse $parse")
    assert(parse == Seq(
      ("a", 2L, "3.00", "1.00", "2.00"),
      ("b", 3L, "12.00", "3.00", "5.00"),
      ("c", 1L, "6.00", "6.00", "6.00")))
    // decimal range predicate prunes partition leaves via their sidecars
    GraftScan.lastStatsPruned.set(-1)
    val n = spark.read.format("graft-json")
      .schema("amt DECIMAL(14,2), p STRING").load(out)
      .filter($"amt" >= new java.math.BigDecimal("5.00")).count()
    assert(n == 2)
    assert(GraftScan.lastStatsPruned.get >= 1,
      s"decimal min/max must prune leaves (pruned ${GraftScan.lastStatsPruned.get})")
  }

  test("runtime file pruning: a join's key set prunes data files via sidecar blooms") {
    val s = spark; import s.implicits._
    // the dim must be a real scan + Filter for DPP's selectivity check
    val dimPath = dir.resolve("bloom-dim").toString
    Seq((2468L, "keep"), (4000L, "keep"), (9999L, "other"))
      .toDF("k", "tag").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("tag") === "keep")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "100000")
    try for (format <- Seq("graft-json", "graft-avro")) {
      val fact = spark.read.format(format).load(writeHashed(format))
      GraftScan.lastRuntimePruned.set(-1)
      val joined = fact.join(broadcast(dim), col("id") === col("k"))
      val ids = joined.select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(2468L, 4000L), format)
      // 2 keys live in at most 2 of the 4 files: the rest were dropped at
      // execution time without a task
      assert(GraftScan.lastRuntimePruned.get >= 2,
        s"$format: runtime file pruning did not engage " +
          s"(got ${GraftScan.lastRuntimePruned.get}):\n" +
          joined.queryExecution.executedPlan)
    } finally {
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
    }
  }
}
