package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8

/** DataFrame-level parity: the graft DSv2 readers vs spark.read.json/csv
  * on identical fixtures, plus byte-range splitting and pushdown checks.
  */
class GraftSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-source-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("graft-src")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
  }

  private def write(name: String, content: String): String = {
    val p = dir.resolve(name)
    Files.write(p, content.getBytes(UTF_8))
    p.toString
  }

  private val jsonFixture: String = (1 to 50).map { i =>
    s"""{"id": $i, "name": "item$i", "score": ${i * 0.5}, "tags": ["a$i", "b$i"], "meta": {"grp": ${i % 5}, "flag": ${i % 2 == 0}}}"""
  }.mkString("\n") + "\n"

  test("graft-json matches spark.read.json row for row") {
    val p = write("parity.json", jsonFixture)
    val ours = spark.read.format("graft-json").load(p)
    val theirs = spark.read.json(p)
    val cols = theirs.columns.sorted.map(col).toSeq
    val a = ours.select(cols: _*).orderBy("id").collect().map(_.toString).toSeq
    val b = theirs.select(cols: _*).orderBy("id").collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("schema inference types match the built-in reader's") {
    val p = write("types.json", jsonFixture)
    val ours = spark.read.format("graft-json").load(p).schema
    val theirs = spark.read.json(p).schema
    // field sets and types agree (order may differ: theirs is alphabetized)
    assert(ours.fields.map(f => f.name -> f.dataType).toMap ==
      theirs.fields.map(f => f.name -> f.dataType).toMap)
  }

  test("byte-range splits reassemble every row exactly once") {
    val p = write("split.json", jsonFixture)
    val whole = spark.read.format("graft-json").load(p)
    val split = spark.read.format("graft-json")
      .option("maxsplitbytes", "256") // forces many tiny ranges
      .load(p)
    assert(split.rdd.getNumPartitions > 1)
    assert(split.count() == 50)
    assert(split.select("id").collect().map(_.getLong(0)).sorted.toSeq == (1L to 50L))
    assert(whole.count() == split.count())
  }

  test("column pruning reaches the scan (pruned read schema)") {
    val p = write("prune.json", jsonFixture)
    val df = spark.read.format("graft-json").load(p).select("id", "name")
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSet == Set("id", "name"))
    assert(df.count() == 50)
  }

  test("nested schema pruning reaches the scan (sibling subfields dropped)") {
    val p = write("nestedprune.json", jsonFixture)
    val df = spark.read.format("graft-json").load(p).select(col("meta.grp"))
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.nonEmpty)
    val read = scans.head.scan.readSchema()
    assert(read.fieldNames.toSet == Set("meta"))
    val meta = read("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSet == Set("grp"),
      s"expected sibling 'flag' pruned from the nested read schema, got $meta")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (1 to 50).map(i => (i % 5).toLong).sorted)
  }

  test("filter pushdown drops rows in the reader and stays correct") {
    val p = write("filter.json", jsonFixture)
    val df = spark.read.format("graft-json").load(p).filter(col("id") > 40)
    assert(df.count() == 10)
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.head.scan.description().contains("GreaterThan"))
    // parity with the built-in reader under the same filter
    val theirs = spark.read.json(p).filter(col("id") > 40)
    assert(df.select("id", "name").orderBy("id").collect().toSeq ==
      theirs.select("id", "name").orderBy("id").collect().toSeq)
  }

  test("nested field access and heterogeneous rows") {
    val content =
      """{"a": 1, "nested": {"x": "one"}}
        |{"a": 2}
        |{"a": 3, "nested": {"x": "three", "y": 9}}
        |""".stripMargin
    val p = write("nested.json", content)
    val df = spark.read.format("graft-json").load(p)
    val rows = df.select(col("a"), col("nested.x"), col("nested.y"))
      .orderBy("a").collect()
    assert(rows.map(r => (r.get(0), r.get(1), r.get(2))).toSeq == Seq(
      (1L, "one", null), (2L, null, null), (3L, "three", 9L)))
  }

  test("UnwrapArray mode reads a top-level JSON array") {
    val p = write("arr.json", """[{"v": 1}, {"v": 2}, {"v": 3}]""")
    val df = spark.read.format("graft-json").option("mode", "array").load(p)
    assert(df.select("v").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("user-supplied schema skips inference and prunes eagerly") {
    val p = write("user.json", jsonFixture)
    val df = spark.read.format("graft-json")
      .schema("id LONG, score DOUBLE")
      .load(p)
    assert(df.columns.toSeq == Seq("id", "score"))
    assert(df.agg(sum("id")).collect()(0).getLong(0) == (1 to 50).sum.toLong)
  }

  // ---------------------------------------------------------------- CSV

  private val csvFixture: String =
    "id,name,qty\n" + (1 to 30).map(i => s"$i,thing$i,${i * 3}").mkString("\n") + "\n"

  test("splittable CSV: byte ranges reassemble every row exactly once") {
    val rows = (1 to 400).map(i => s"$i,name-$i,${i % 7}")
    val p = write("split.csv", "id,name,grp\n" + rows.mkString("\n") + "\n")
    val want = (1 to 400).map(_.toLong)
    // a sweep of split sizes incl. ones that cut mid-row and mid-header
    Seq(7, 64, 257, 1023, 100000).foreach { split =>
      val df = spark.read.format("graft-csv")
        .option("linesep", "\n")
        .option("splittable", "true")
        .option("maxsplitbytes", split.toString)
        .load(p)
      val got = df.select(col("id").cast("long")).collect().map(_.getLong(0)).sorted.toSeq
      assert(got == want, s"split=$split")
    }
    // multiple ranges really were planned
    val df = spark.read.format("graft-csv").option("linesep", "\n")
      .option("splittable", "true").option("maxsplitbytes", "257").load(p)
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.head.scan.toBatch.planInputPartitions().length > 5)
    // without the option a file is one task (quoted delimiters stay sound)
    val whole = spark.read.format("graft-csv").option("linesep", "\n").load(p)
    val ws = whole.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(ws.head.scan.toBatch.planInputPartitions().length == 1)
    // split ranges still take the vectorized path (flat schema)
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      df.queryExecution.executedPlan.toString)
  }

  test("splittable CSV: a pushed COUNT(*) counts every row once") {
    // each range counts only its own rows, and a mid-file range does not
    // take its first row for the header
    val p = write("split-count.csv",
      "id,name,grp\n" + (1 to 400).map(i => s"$i,name-$i,${i % 7}").mkString("\n") + "\n")
    val df = spark.read.format("graft-csv").option("linesep", "\n")
      .option("header", "true").option("splittable", "true")
      .option("maxsplitbytes", "1023").load(p)
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.head.scan.toBatch.planInputPartitions().length >= 4)
    assert(df.collect().length == 400)
    assert(df.count() == 400L)
  }

  test("hive-partitioned directories: columns, values, and file pruning") {
    val base = Files.createTempDirectory("graft-part")
    def writePart(date: String, region: Long, ids: Range): Unit = {
      val d = base.resolve(s"date=$date").resolve(s"region=$region")
      Files.createDirectories(d)
      Files.write(d.resolve(s"part-$region.json"),
        ids.map(i => s"""{"id": $i, "v": ${i * 10}}""").mkString("", "\n", "\n").getBytes(UTF_8))
    }
    writePart("2024-01-01", 1, 1 to 5)
    writePart("2024-01-01", 2, 6 to 10)
    writePart("2024-01-02", 1, 11 to 15)
    val df = spark.read.format("graft-json").load(base.toString)
    // partition columns inferred and typed (date string, region long)
    assert(df.schema("date").dataType == org.apache.spark.sql.types.StringType)
    assert(df.schema("region").dataType == org.apache.spark.sql.types.LongType)
    assert(df.count() == 15)
    // flat partitioned schemas stay vectorized (constant partition vectors)
    val colPlan = df.select("id", "date", "region").queryExecution.executedPlan
    assert(colPlan.collect {
      case c: org.apache.spark.sql.execution.ColumnarToRowExec => c
    }.nonEmpty)
    // values stamped per file, parity with the built-in partitioned reader
    val ours = df.select("id", "date", "region").orderBy("id")
      .collect().map(_.toString).toSeq
    val theirs = spark.read.json(base.toString).select("id", "date", "region")
      .orderBy("id").collect().map(_.toString).toSeq
    assert(ours == theirs)
    // a filter on a partition column prunes whole files at planning time
    val filtered = df.filter(col("region") === 2 && col("date") === "2024-01-01")
    val scans = filtered.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.head.scan.toBatch.planInputPartitions().length == 1)
    assert(filtered.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (6L to 10L))
    // CSV partitioned reads share the machinery
    val cbase = Files.createTempDirectory("graft-part-csv")
    val cd = cbase.resolve("grp=7")
    Files.createDirectories(cd)
    Files.write(cd.resolve("f.csv"), "a,b\n1,x\n2,y\n".getBytes(UTF_8))
    val cdf = spark.read.format("graft-csv").load(cbase.toString)
    assert(cdf.select("a", "grp").collect().map(r =>
      (r.getString(0), r.getLong(1))).sorted.toSeq == Seq(("1", 7L), ("2", 7L)))
    // hive escaping: %xx decodes, '+' stays literal
    val ebase = Files.createTempDirectory("graft-part-esc")
    val ed = ebase.resolve("tag=a%3Ab+c")
    Files.createDirectories(ed)
    Files.write(ed.resolve("f.json"), """{"id": 1}""".getBytes(UTF_8))
    val edf = spark.read.format("graft-json").load(ebase.toString)
    assert(edf.select("tag").collect()(0).getString(0) == "a:b+c")
  }

  test("streaming discovers files that land after the stream starts") {
    import org.apache.spark.sql.streaming.Trigger
    val streamDir = Files.createTempDirectory("graft-stream-disc")
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    def writeFile(name: String, ids: Range): Unit =
      Files.write(streamDir.resolve(name),
        ids.map(i => s"""{"id": $i}""").mkString("", "\n", "\n").getBytes(UTF_8))
    val outDir = Files.createTempDirectory("graft-stream-out").toString
    def sunk(): Seq[Long] =
      spark.read.parquet(outDir).collect().map(_.getLong(0)).sorted.toSeq
    def startQuery() = spark.readStream.format("graft-json")
      .schema("id LONG")
      .load(streamDir.toString)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("50 milliseconds"))
      .start()
    writeFile("f1.json", 1 to 10)
    val q = startQuery()
    try {
      q.processAllAvailable()
      assert(sunk() == (1L to 10L))
      // a file landing AFTER stream start must be picked up
      writeFile("f2.json", 11 to 25)
      q.processAllAvailable()
      assert(sunk() == (1L to 25L))
      // and one that sorts BEFORE existing names (registry is append-only,
      // so earlier offsets stay valid)
      writeFile("a0.json", 26 to 30)
      q.processAllAvailable()
      assert(sunk() == (1L to 30L))
    } finally q.stop()
    // restart from the same checkpoint: the persisted discovery order keeps
    // old offsets meaningful, so only NEW data lands (exactly once)
    writeFile("f3.json", 31 to 40)
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assert(sunk() == (1L to 40L))
    } finally q2.stop()
  }

  test("nested-field filters push down and byte-skip rows") {
    // heterogeneous rows: some missing meta / meta.grp (must survive to
    // the residual, not be dropped by the early eval)
    val mixed = (1 to 30).map { i =>
      if (i % 7 == 0) s"""{"id": $i, "name": "x$i"}"""
      else s"""{"id": $i, "name": "x$i", "meta": {"grp": ${i % 5}, "flag": ${i % 2 == 0}}}"""
    }.mkString("\n") + "\n"
    val p = write("nestedfilter.json", mixed)
    val df = spark.read.format("graft-json").load(p).filter(col("meta.grp") > 2)
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.nonEmpty && scans.head.scan.description().contains("meta.grp"))
    val theirs = spark.read.json(p).filter(col("meta.grp") > 2)
    assert(df.select("id").orderBy("id").collect().toSeq ==
      theirs.select("id").orderBy("id").collect().toSeq)
    // IsNull-style nested predicates: rows WITH the field drop early,
    // rows without it pass through to the residual and are kept
    val nulls = spark.read.format("graft-json").load(p).filter(col("meta.grp").isNull)
    val theirsN = spark.read.json(p).filter(col("meta.grp").isNull)
    assert(nulls.select("id").orderBy("id").collect().toSeq ==
      theirsN.select("id").orderBy("id").collect().toSeq)
  }

  test("ungrouped COUNT(*) pushes down to a parse-only count scan") {
    val p = write("countstar.json", jsonFixture)
    // force byte-range splits so partial counts from several partitions sum
    val df = spark.read.format("graft-json").option("maxsplitbytes", "1024")
      .load(p).groupBy().count()
    // count() plans adaptively (AQE wraps the scan): assert on the
    // optimized logical plan's scan relation instead
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }
    assert(scans.nonEmpty && scans.head.description().contains("countStar"))
    assert(df.collect().head.getLong(0) == 50)
    // a filter blocks the pushdown (our filter eval is residual-only) but
    // the count stays correct through the normal path
    val filtered = spark.read.format("graft-json").load(p).filter(col("id") > 40)
    assert(filtered.count() == 10)
  }

  test("ungrouped COUNT(*) pushes down for CSV too") {
    val p = write("countstar.csv", csvFixture)
    val df = spark.read.format("graft-csv").load(p).groupBy().count()
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }
    assert(scans.nonEmpty && scans.head.description().contains("countStar"))
    assert(df.collect().head.getLong(0) ==
      spark.read.option("header", "true").csv(p).count())
  }

  test("LIMIT pushes into the reader (rows and columnar)") {
    val p = write("limit.json", jsonFixture)
    val df = spark.read.format("graft-json").load(p).limit(7)
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.nonEmpty && scans.head.scan.description().contains("limit=7"))
    assert(df.collect().length == 7)
    // flat schema goes through the columnar reader; limit still honored
    val flat = spark.read.format("graft-json")
      .schema("id LONG, name STRING").load(p).limit(5)
    assert(flat.collect().length == 5)
    // limit larger than the data is harmless
    assert(spark.read.format("graft-json").load(p).limit(999).collect().length == 50)
  }

  test("graft-csv matches spark.read.csv with header") {
    val p = write("parity.csv", csvFixture)
    val ours = spark.read.format("graft-csv").load(p)
    val theirs = spark.read.option("header", "true").csv(p)
    assert(ours.schema.fieldNames.toSeq == theirs.schema.fieldNames.toSeq)
    assert(ours.orderBy(col("id").cast("long")).collect().map(_.toString).toSeq ==
      theirs.orderBy(col("id").cast("long")).collect().map(_.toString).toSeq)
  }

  test("graft-csv honors quoting and embedded delimiters") {
    val p = write("quote.csv", "a,b\r\n\"x,y\",\"with \"\"quotes\"\"\"\r\nplain,2\r\n")
    val df = spark.read.format("graft-csv").option("linesep", "\r\n").load(p)
    val rows = df.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("x,y", "with \"quotes\""), ("plain", "2")))
  }

  test("graft-csv header inference (Excel names) when header=false") {
    val p = write("nohdr.csv", "1,2,3\n4,5,6\n")
    val df = spark.read.format("graft-csv").option("header", "false").load(p)
    assert(df.columns.toSeq == Seq("A", "B", "C"))
    assert(df.count() == 2)
  }

  test("graft-csv typed user schema coerces cells") {
    val p = write("typed.csv", csvFixture)
    val df = spark.read.format("graft-csv")
      .schema("id LONG, name STRING, qty LONG")
      .load(p)
    assert(df.agg(sum("qty")).collect()(0).getLong(0) == (1 to 30).map(_ * 3).sum.toLong)
  }

  test("csv filter pushdown parity") {
    val p = write("fcsv.csv", csvFixture)
    val df = spark.read.format("graft-csv").load(p).filter(col("name") === "thing7")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("7"))
  }

  // ----------------------------------------------------------- streaming

  test("graft-json streams in byte-capped micro-batches with exact rows") {
    val p = write("stream.json", jsonFixture)
    val schema = spark.read.format("graft-json").load(p).schema
    val df = spark.readStream.format("graft-json")
      .schema(schema)
      .option("maxbytespertrigger", "512") // force many micro-batches
      .load(p)
    val q = df.writeStream
      .format("memory")
      .queryName("graft_stream_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("graft_stream_test").select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (1L to 50L))
    val batches = q.recentProgress.length
    assert(batches > 1, s"expected multiple micro-batches, saw $batches")
  }

  // ------------------------------------------------------------- variant

  test("variant mode ingests heterogeneous rows with exact decimals") {
    val content =
      """{"a": 1.50, "b": "x"}
        |{"a": {"nested": true}}
        |{"a": [1, 2.25], "c": 99999999999999999999}
        |""".stripMargin
    val p = write("variant.json", content)
    val df = spark.read.format("graft-json").option("variant", "true").load(p)
    assert(df.schema.fields.map(_.dataType.typeName).toSeq == Seq("variant"))
    val js = df.selectExpr("to_json(value) AS j").collect().map(_.getString(0)).sorted
    assert(js.exists(_.contains("\"b\":\"x\"")))
    assert(js.exists(_.contains("99999999999999999999"))) // > Long.MaxValue survives
    // decimals stay decimals (scale preserved in the binary; typed extraction)
    val dec = df.selectExpr("try_variant_get(value, '$.a', 'decimal(12,2)') AS d")
      .collect().flatMap(r => Option(r.get(0))).map(_.toString).sorted.toSeq
    assert(dec == Seq("1.50"))
    val types = df.selectExpr("schema_of_variant(value) AS t")
      .collect().map(_.getString(0)).mkString(";")
    assert(types.contains("DECIMAL"))
    val a1 = df.selectExpr("variant_get(value, '$.a.nested', 'boolean') AS n")
      .collect().flatMap(r => Option(r.get(0))).toSeq
    assert(a1 == Seq(true))
  }

  // ------------------------------------------------------------ columnar

  test("flat schemas read as ColumnarBatches; nested fall back to rows") {
    val p = write("colmnr.json", jsonFixture)
    val flat = spark.read.format("graft-json").schema("id LONG, name STRING, score DOUBLE").load(p)
    val scans = flat.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.head.supportsColumnar, "flat schema should take the vectorized path")
    assert(flat.agg(sum("id")).collect()(0).getLong(0) == (1 to 50).sum.toLong)
    // value parity with the row-based built-in reader
    assert(flat.orderBy("id").collect().map(_.toString).toSeq ==
      spark.read.json(p).selectExpr("id", "name", "score").orderBy("id")
        .collect().map(_.toString).toSeq)

    // one-level struct + array-of-atomic columns ride the columnar path
    // too (round 13 struct/array lanes) — the inferred fixture schema
    // (tags ARRAY<STRING>, meta STRUCT<flag,grp>) no longer falls off
    val nested = spark.read.format("graft-json").load(p)
    val nestedScans = nested.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(nestedScans.head.supportsColumnar,
      "one-level struct/array schema should take the vectorized path")
    assert(nested.orderBy("id").collect().map(_.toString).toSeq ==
      spark.read.json(p).select(nested.columns.map(col).toSeq: _*).orderBy("id")
        .collect().map(_.toString).toSeq)

    // TWO-level nesting vectorizes since round 14 (grand lanes), THREE
    // levels since round 17 (great lanes) — values covered by the
    // three-way fuzz; FOUR levels still fall back to rows
    val deepP = write("colmnr_deep.json",
      """{"id": 1, "n": {"inner": {"x": 1}}}""" + "\n")
    val deep = spark.read.format("graft-json").load(deepP)
    val deepScans = deep.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(deepScans.head.supportsColumnar, "two-level nesting vectorizes (round 14)")
    assert(deep.collect().head.getStruct(1).getStruct(0).getLong(0) == 1L)
    val deep3P = write("colmnr_deep3.json",
      """{"id": 1, "n": {"inner": {"g": {"x": 1}}}}""" + "\n")
    val deep3 = spark.read.format("graft-json").load(deep3P)
    val deep3Scans = deep3.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(deep3Scans.head.supportsColumnar, "three-level nesting vectorizes (round 17)")
    assert(deep3.collect().head.getStruct(1).getStruct(0).getStruct(0).getLong(0) == 1L)
    val deep4P = write("colmnr_deep4.json",
      """{"id": 1, "n": {"inner": {"g": {"gg": {"x": 1}}}}}""" + "\n")
    val deep4 = spark.read.format("graft-json").load(deep4P)
    val deep4Scans = deep4.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(!deep4Scans.head.supportsColumnar, "four-level nesting stays on the row path")
  }

  test("columnar path honors filters and null semantics") {
    val content =
      """{"id": 1, "v": "a"}
        |{"id": 2}
        |{"id": 3, "v": "c"}
        |""".stripMargin
    val p = write("colf.json", content)
    val df = spark.read.format("graft-json").schema("id LONG, v STRING").load(p)
    assert(df.filter(col("id") > 1).count() == 2)
    assert(df.filter(col("v").isNotNull).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    assert(df.filter(col("v").isNull).collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("columnar CSV aggregates match the row path") {
    val p = write("colcsv.csv", csvFixture)
    val df = spark.read.format("graft-csv").schema("id LONG, name STRING, qty LONG").load(p)
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.head.supportsColumnar)
    assert(df.agg(sum("qty")).collect()(0).getLong(0) == (1 to 30).map(_ * 3).sum.toLong)
  }

  // ------------------------------------------------- randomized parity

  test("randomized tables: graft-json equals spark.read.json end to end") {
    val rnd = new scala.util.Random(20260812L)
    (1 to 6).foreach { t =>
      val nRows = 20 + rnd.nextInt(60)
      val rows = (0 until nRows).map { i =>
        val sb = new StringBuilder("{\"k\": " + i)
        if (rnd.nextBoolean()) sb.append(", \"s\": \"w" + rnd.nextInt(1000) + " sp\"")
        if (rnd.nextBoolean()) sb.append(", \"d\": " + rnd.nextInt(5000) + "." + (1 + rnd.nextInt(99)))
        if (rnd.nextBoolean()) sb.append(", \"b\": " + rnd.nextBoolean())
        if (rnd.nextBoolean()) sb.append(", \"nested\": {\"x\": " + rnd.nextInt(10) + "}")
        if (rnd.nextBoolean()) sb.append(", \"arr\": [" + rnd.nextInt(9) + ", " + rnd.nextInt(9) + "]")
        sb.append("}")
        sb.toString
      }
      val p = write(s"rand$t.json", rows.mkString("\n") + "\n")
      val theirs = spark.read.json(p)
      val cols = theirs.columns.sorted.map(col).toSeq
      val ours = spark.read.format("graft-json").load(p)
      assert(ours.select(cols: _*).orderBy("k").collect().map(_.toString).toSeq ==
        theirs.select(cols: _*).orderBy("k").collect().map(_.toString).toSeq,
        s"random table $t diverged")
    }
  }

  test("runtime filtering (DPP): join-key values prune partition files at execution") {
    val base = Files.createTempDirectory("graft-dpp")
    (0L to 4L).foreach { r =>
      val d = base.resolve(s"region=$r")
      Files.createDirectories(d)
      Files.write(d.resolve("part.json"),
        (1 to 20).map(i => s"""{"id": ${r * 100 + i}, "v": $i}""")
          .mkString("", "\n", "\n").getBytes(UTF_8))
    }
    val fact = spark.read.format("graft-json").load(base.toString)
    val s = spark; import s.implicits._
    // selective dim: only region 2 survives its filter. The dim must be a
    // real scan + Filter (a LocalRelation folds the filter away and DPP's
    // "has selective predicate" check never fires)
    val dimPath = Files.createTempDirectory("graft-dpp-dim").resolve("dim").toString
    Seq((2L, "keep"), (7L, "other")).toDF("r", "tag")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("tag") === "keep")
    graft.spark.GraftScan.lastRuntimePruned.set(-1)
    // the DPP benefit heuristic is size-based; force it for KB-scale fixtures
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "100000")
    try {
      val joined = fact.join(broadcast(dim), col("region") === col("r"))
      val ids = joined.select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == (201L to 220L))
      // the scan's runtime filter dropped the other 4 partition files
      assert(graft.spark.GraftScan.lastRuntimePruned.get == 4,
        s"runtime pruning did not engage (got ${graft.spark.GraftScan.lastRuntimePruned.get}):\n" +
          joined.queryExecution.executedPlan)
    } finally {
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
    }
  }

  test("reported statistics: scan size = file bytes, small dims auto-broadcast") {
    val p = write("stats.json", jsonFixture)
    val df = spark.read.format("graft-json").load(p)
    val stats = df.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes == Files.size(Paths.get(p)),
      s"expected listing size, got ${stats.sizeInBytes}")
    // a graft-json dim joined to a parquet fact broadcasts WITHOUT a hint
    // (absent stats, v2 relations default to defaultSizeInBytes = never
    // broadcast)
    val factPath = Files.createTempDirectory("graft-stats").resolve("fact").toString
    val s = spark; import s.implicits._
    (1 to 5000).map(i => (i.toLong, (i % 50).toLong)).toDF("k", "fk")
      .write.mode("overwrite").parquet(factPath)
    val joined = spark.read.parquet(factPath)
      .join(df, col("fk") === col("id"))
    assert(joined.count() == 4900) // fk 1..49 match dim ids, 100 rows each
    val hasBroadcast = joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
    assert(hasBroadcast, joined.queryExecution.executedPlan.toString)
  }

  test("graft-json DSv2 sink: write + overwrite round-trip, nested values, escaping") {
    val s = spark; import s.implicits._
    val out = Files.createTempDirectory("graft-sink").resolve("out").toString
    val df = Seq(
      (1L, "plain", Seq(1L, 2L), ("x", 10L)),
      (2L, "esc \"q\" \\ tab\t nl\n", Seq.empty[Long], ("y", 20L)),
      (3L, null.asInstanceOf[String], Seq(5L), ("z", 30L))
    ).toDF("id", "txt", "arr", "st")
    df.write.format("graft-json").mode("append").save(out)
    // read back through our own reader AND the builtin for parity
    val ours = spark.read.format("graft-json")
      .schema(df.schema).load(out)
    val theirs = spark.read.schema(df.schema).json(out)
    val a = ours.orderBy("id").collect().map(_.toString).toSeq
    val b = theirs.orderBy("id").collect().map(_.toString).toSeq
    assert(a == b)
    assert(a.size == 3)
    assert(ours.filter($"id" === 2L).select("txt").collect().head.getString(0)
      == "esc \"q\" \\ tab\t nl\n")
    // overwrite replaces, not appends
    df.filter($"id" === 1L).write.format("graft-json").mode("overwrite").save(out)
    assert(spark.read.format("graft-json").schema(df.schema).load(out).count() == 1)
  }

  test("graft-json streaming sink: micro-batches land as epoch-named files") {
    val srcDir = Files.createTempDirectory("graft-ssink-src")
    (1 to 3).foreach { f =>
      Files.write(srcDir.resolve(s"f$f.json"),
        (1 to 10).map(i => s"""{"id": ${f * 100 + i}, "v": "x$i"}""")
          .mkString("", "\n", "\n").getBytes(UTF_8))
    }
    val outDir = Files.createTempDirectory("graft-ssink-out").resolve("out").toString
    val ckpt = Files.createTempDirectory("graft-ssink-ckpt").toString
    val q = spark.readStream.format("graft-json")
      .schema("id LONG, v STRING")
      .option("maxbytespertrigger", "120") // several micro-batches
      .load(srcDir.toString)
      .writeStream.format("graft-json")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val back = spark.read.format("graft-json").schema("id LONG, v STRING").load(outDir)
    val ids = back.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val want = (for (f <- 1 to 3; i <- 1 to 10) yield (f * 100 + i).toLong).sorted
    assert(ids == want)
    // multiple epochs actually happened
    val parts = Files.list(java.nio.file.Paths.get(outDir)).toArray.map(_.toString)
      .filter(_.endsWith(".jsonl"))
    assert(parts.map(_.replaceAll(".*part-", "").take(5)).distinct.length > 1, parts.mkString(","))
  }

  // -------------------------------------------------- malformed records

  test("badrecords=drop resyncs past corrupt lines (row and columnar paths)") {
    val content =
      """{"id": 1, "v": "a"}
        |{"id": 2, "v": "b"  THIS IS NOT JSON !!!
        |{"id": 3, "v": "c"}
        |{"id": 4 "missing": colon}
        |{"id": 5, "v": "e", "nested": {"x": 1}}
        |""".stripMargin
    val p = write("bad.json", content)
    // columnar (flat schema)
    val flat = spark.read.format("graft-json")
      .schema("id LONG, v STRING")
      .option("badrecords", "drop")
      .load(p)
    assert(flat.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 5L))
    // row path (nested schema)
    val nested = spark.read.format("graft-json")
      .schema("id LONG, v STRING, nested STRUCT<x: LONG>")
      .option("badrecords", "drop")
      .load(p)
    assert(nested.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 5L))
    // default (fail-fast) still throws
    intercept[Exception] {
      spark.read.format("graft-json").schema("id LONG, v STRING").load(p).collect()
    }
  }

  test("badrecords=drop works across byte-range splits") {
    val rows = (1 to 200).map { i =>
      if (i % 37 == 0) s"""{"id": $i, BROKEN""" else s"""{"id": $i, "ok": true}"""
    }
    val p = write("badsplit.json", rows.mkString("\n") + "\n")
    val df = spark.read.format("graft-json")
      .schema("id LONG, ok BOOLEAN")
      .option("badrecords", "drop")
      .option("maxsplitbytes", "333")
      .load(p)
    val good = (1 to 200).filterNot(_ % 37 == 0).map(_.toLong)
    assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq == good)
  }

  test("badrecords=keep emits corrupt lines in _corrupt_record (PERMISSIVE)") {
    val content =
      """{"id": 1, "v": "a"}
        |{"id": 2, "v": "b"  THIS IS NOT JSON !!!
        |{"id": 3, "v": "c"}
        |{"id": 4 "missing": colon}
        |{"id": 5, "v": "e"}
        |""".stripMargin
    val p = write("keepbad.json", content)
    // inference appends the corrupt column
    val inferred = spark.read.format("graft-json")
      .option("badrecords", "keep").load(p)
    assert(inferred.schema.fieldNames.last == "_corrupt_record")
    val rows = inferred.select("id", "v", "_corrupt_record").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(2)))
    assert(rows.count(_._2 == null) == 3) // good rows: corrupt col null
    val corrupt = rows.filter(_._2 != null).map(_._2).sorted.toSeq
    assert(corrupt == Seq(
      """{"id": 2, "v": "b"  THIS IS NOT JSON !!!""",
      """{"id": 4 "missing": colon}"""))
    // corrupt rows carry nulls for the data columns
    assert(rows.filter(_._2 != null).forall(_._1 == -1L))
    // COUNT(*) pushdown counts the corrupt rows too (5 total lines)
    assert(inferred.count() == 5)
    // pruning away the corrupt column still yields a null row per bad line
    val pruned = spark.read.format("graft-json")
      .schema("id LONG, v STRING")
      .option("badrecords", "keep").load(p)
    assert(pruned.collect().length == 5)
    assert(pruned.select("id").collect().count(_.isNullAt(0)) == 2)
    // custom column name
    val named = spark.read.format("graft-json")
      .option("badrecords", "keep").option("corruptcolumn", "_bad")
      .load(p)
    assert(named.schema.fieldNames.contains("_bad"))
    assert(named.select("_bad").collect().count(!_.isNullAt(0)) == 2)
  }

  test("badrecords=keep captures corrupt lines across byte-range splits") {
    val rows = (1 to 200).map { i =>
      if (i % 37 == 0) s"""{"id": $i, BROKEN""" else s"""{"id": $i, "ok": true}"""
    }
    val p = write("keepsplit.json", rows.mkString("\n") + "\n")
    val df = spark.read.format("graft-json")
      .schema("id LONG, ok BOOLEAN, _corrupt_record STRING")
      .option("badrecords", "keep")
      .option("maxsplitbytes", "333")
      .load(p)
    val got = df.collect()
    assert(got.length == 200) // every line becomes exactly one row
    val goodIds = got.filter(_.isNullAt(2)).map(_.getLong(0)).sorted.toSeq
    assert(goodIds == (1 to 200).filterNot(_ % 37 == 0).map(_.toLong))
    val corrupt = got.filterNot(_.isNullAt(2)).map(_.getString(2)).toSeq
    assert(corrupt.sorted ==
      (1 to 200).filter(_ % 37 == 0).map(i => s"""{"id": $i, BROKEN""").sorted)
  }

  test("graft-csv streams file-by-file micro-batches") {
    val d = dir.resolve("csvstream")
    Files.createDirectories(d)
    (1 to 4).foreach { f =>
      Files.write(d.resolve(s"part$f.csv"),
        ("id,v\n" + (1 to 10).map(i => s"${f * 100 + i},x$i").mkString("\n") + "\n").getBytes(UTF_8))
    }
    val df = spark.readStream.format("graft-csv")
      .schema("id LONG, v STRING")
      .option("maxfilespertrigger", "1")
      .load(d.toString)
    val q = df.writeStream
      .format("memory").queryName("graft_csv_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("graft_csv_stream").select("id").collect().map(_.getLong(0)).sorted.toSeq
    val want = (for { f <- 1 to 4; i <- 1 to 10 } yield (f * 100 + i).toLong).sorted
    assert(got == want)
    assert(q.recentProgress.length >= 4, "expected one micro-batch per file")
  }

  test("duplicate keys past saturation are last-wins in BOTH modes (round 15)") {
    // the saturated tail is consumed by the chained key cruise, so a
    // duplicate of a schema key re-enters the ordinary parse — last-wins
    // like spark.read.json in default mode too (the old first-wins
    // divergence is retired); saturation=false remains the strict-tail
    // validation dial
    val p = write("satopt.json", """{"a": 1, "b": 2, "a": 9}""" + "\n")
    def readA(opts: Map[String, String]): Long = {
      var r = spark.read.format("graft-json").schema("a LONG, b LONG")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load(p).collect().head.getLong(0)
    }
    assert(readA(Map.empty) == 9L)
    assert(readA(Map("saturation" -> "false")) == 9L)
    // the documented opt-in: "fast" restores the pre-round-15 blind tail
    // skip (max skip throughput; first value wins past saturation)
    assert(readA(Map("saturation" -> "fast")) == 1L)
    // TAIL-VALIDATION ELISION (round 16): the default saturated tail is
    // the OPTIMISTIC blind scan — structure in the tail is consumed
    // byte-level (string boundaries + bracket depth only), so key-position
    // garbage after saturation is elided like any other skipped span (the
    // reference's SkipColumn error-check elision, extended to the tail;
    // r15's chained cruise reported it, at a 12-18% pruned-path cost).
    // Duplicates of WANTED keys still re-parse exactly (the point of the
    // optimistic scan); `saturation=false` remains the strict-validation
    // dial and still reports the garbage via the full parse.
    val bad = write("satopt_bad.json", """{"a": 1, "b": 2, zzz}""" + "\n")
    def rows(path: String, opts: Map[String, String]): Int = {
      var r = spark.read.format("graft-json").schema("a LONG, b LONG")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load(path).collect().length
    }
    assert(rows(bad, Map.empty) == 1) // tail garbage elided at full scan speed
    assert(intercept[Exception] {
      rows(bad, Map("saturation" -> "false")) }.getMessage != null)
    // garbage INSIDE an unknown key's value is byte-skipped by PROJECTION
    // pushdown in both modes (SkipColumn elides validation by design —
    // the reference's error-check elision); only key-position structure
    // is validated by the cruise/parse
    val badInner = write("satopt_bad_inner.json",
      """{"a": 1, "b": 2, "zz": {"q" 5 "w"}}""" + "\n")
    assert(rows(badInner, Map.empty) == 1)
    assert(rows(badInner, Map("saturation" -> "false")) == 1)
  }

  test("temporal round-trip: timestamps/dates survive both sinks and spark.read") {
    // regression (round 11): these used to serialize as the INTERNAL
    // micros/days integer — unreadable as a timestamp by anything
    val s = spark; import s.implicits._
    val df = Seq("2026-01-02 03:04:05.123456", "1999-12-31 23:59:59")
      .toDF("raw")
      .select($"raw",
        org.apache.spark.sql.functions.to_timestamp($"raw").as("ts"),
        org.apache.spark.sql.functions.to_date($"raw").as("d"))
    val want = df.orderBy("raw").collect().toSeq
    for (fmt <- Seq("graft-json", "graft-csv")) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-temporal-$fmt").toString
      df.write.format(fmt).mode("overwrite").save(dir)
      val back = spark.read.format(fmt)
        .schema("raw STRING, ts TIMESTAMP, d DATE").load(dir)
        .orderBy("raw").collect().toSeq
      assert(back === want, s"graft reader round-trip via $fmt")
    }
    // and the json output is readable by the BUILT-IN reader too
    val jdir = java.nio.file.Files.createTempDirectory("graft-temporal-native").toString
    df.write.format("graft-json").mode("overwrite").save(jdir)
    val native = spark.read.schema("raw STRING, ts TIMESTAMP, d DATE")
      .json(jdir).orderBy("raw").collect().toSeq
    assert(native === want, "spark.read.json round-trip")
  }

  test("temporal columns vectorize: columnar plan + value/filter parity with the row path") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-temporal-vec").toString
    val df = (1 to 50).map(i => (i.toLong, f"2026-01-${i % 28 + 1}%02d 03:04:${i % 60}%02d"))
      .toDF("id", "raw")
      .select($"id",
        org.apache.spark.sql.functions.to_timestamp($"raw").as("ts"),
        org.apache.spark.sql.functions.to_date($"raw").as("d"))
    df.write.format("graft-json").mode("overwrite").save(dir)
    val schema = "id BIGINT, ts TIMESTAMP, d DATE"
    val vec = spark.read.format("graft-json").schema(schema).load(dir)
    assert(vec.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "temporal flat schema should take the vectorized path")
    val rowPath = spark.read.format("graft-json").schema(schema)
      .option("variant", "false").load(dir) // same read...
      .repartition(1) // (plan differs; values must not)
    assert(vec.orderBy("id").collect().toSeq === rowPath.orderBy("id").collect().toSeq)
    assert(vec.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq)
    // a pushed timestamp filter stays correct (conservative early eval,
    // Catalyst re-check)
    val cut = vec.filter($"ts" > "2026-01-15").count()
    assert(cut === df.filter($"ts" > "2026-01-15").count())
  }

  test("binary round-trip: base64 through the json sink, parity with spark.read.json") {
    val s = spark; import s.implicits._
    val df = Seq((1L, Array[Byte](0, 1, 2, -1, 127)), (2L, Array.empty[Byte]))
      .toDF("id", "media")
    val dir = java.nio.file.Files.createTempDirectory("graft-binary").toString
    df.write.format("graft-json").mode("overwrite").save(dir)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("id").collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toSeq
    val want = rows(df)
    assert(rows(spark.read.format("graft-json")
      .schema("id BIGINT, media BINARY").load(dir)) === want)
    assert(rows(spark.read.schema("id BIGINT, media BINARY").json(dir)) === want)
  }

  test("graft-csv refuses binary columns loudly (no toString garbage)") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-csv-binary").toString
    val e = intercept[Exception] {
      Seq((1L, Array[Byte](1, 2))).toDF("id", "media")
        .write.format("graft-csv").mode("overwrite").save(dir)
    }
    def msg(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msg(t.getCause)
    assert(msg(e).contains("binary column"))
  }

  test("badrecords=keep: finish-time error at EOF captures the last line exactly") {
    // regression (round 11): an all-garbage file whose LAST corrupt record
    // errors at finish() reports errAbs == fileLen — the capture window
    // must clamp to the file and exclude the record's own terminator
    // (this used to readFully one byte past EOF and fail the task; after
    // clamping alone, the last capture came back empty)
    val dir = java.nio.file.Files.createTempDirectory("graft-eof-capture")
    java.nio.file.Files.write(dir.resolve("garbage.jsonl"),
      "{broken\nnot json at all\n[1,2,}\n".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("mixed.jsonl"),
      "{\"id\": 1}\n{unterminated".getBytes("UTF-8")) // no trailing newline
    val rows = spark.read.format("graft-json")
      .schema("id BIGINT, _corrupt_record STRING")
      .option("badrecords", "keep")
      .load(dir.toString)
      .collect()
    val corrupt = rows.filter(!_.isNullAt(1)).map(_.getString(1)).sorted.toSeq
    assert(corrupt === Seq("[1,2,}", "not json at all", "{broken", "{unterminated"))
    assert(rows.count(_.isNullAt(1)) === 1) // the one valid row
  }
}
