package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.nio.charset.StandardCharsets.UTF_8

/** Grouped / MIN / MAX / COUNT(col) aggregate pushdown: the battery folds
  * inside the scan (plan shows pushedAgg + no full-row materialization),
  * answers match spark.read.json on the same fixture, and unsupported
  * shapes are refused (parity with the unpushed plan either way).
  */
class AggPushdownSpec extends AnyFunSuite with TempDirs {

  private var spark: SparkSession = _
  private var dir: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("agg-pushdown-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = tempDir("graft-aggpush")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    super.afterAll()
  }

  private def write(name: String, content: String): String = {
    val p = dir.resolve(name)
    Files.write(p, content.getBytes(UTF_8))
    p.toString
  }

  // nulls + missing keys exercise COUNT(col) vs COUNT(*) and min/max
  // null-skipping; grp has modest cardinality for the grouped battery
  private val fixture: String = (1 to 60).map { i =>
    val score = if (i % 7 == 0) "null" else (i * 1.5).toString
    val name = if (i % 11 == 0) "" else s""", "name": "item${i % 13}""""
    s"""{"id": $i, "grp": ${i % 4}, "score": $score$name}"""
  }.mkString("\n") + "\n"

  // aggregates plan through AQE: flatten AdaptiveSparkPlanExec / query
  // stages so the collector sees the BatchScanExec inside
  private def flatten(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      p +: flatten(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: flatten(q.plan)
    case other => other +: other.children.flatMap(flatten)
  }

  private def scans(df: DataFrame): Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
    flatten(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }

  private def scanDescr(df: DataFrame): String =
    scans(df).map(_.scan.description()).mkString("\n")

  test("ungrouped min/max/count battery is pushed and exact") {
    val p = write("ungrouped.json", fixture)
    def agg(df: DataFrame): DataFrame = df.agg(
      min("score").as("mn"), max("score").as("mx"),
      count("name").as("cn"), count(lit(1)).as("cs"),
      min("name").as("mnn"), max("id").as("mxi"))
    val ours = agg(spark.read.format("graft-json").load(p))
    assert(scanDescr(ours).contains("pushedAgg"), scanDescr(ours))
    // the pushed scan's read schema is the partial-agg shape, not rows
    assert(scans(ours).head.scan.readSchema().length == 6)
    assert(ours.collect().toSeq == agg(spark.read.json(p)).collect().toSeq)
  }

  test("grouped battery is pushed, split-parallel, and exact") {
    val p = write("grouped.json", fixture)
    def agg(df: DataFrame): DataFrame = df.groupBy("grp").agg(
      count(lit(1)).as("cs"), count("score").as("cn"),
      min("score").as("mn"), max("score").as("mx"))
      .orderBy("grp")
    val oursDf = spark.read.format("graft-json")
      .option("maxsplitbytes", "512").load(p) // several byte-range splits
    val ours = agg(oursDf)
    assert(scanDescr(ours).contains("pushedAgg"), scanDescr(ours))
    assert(ours.collect().toSeq == agg(spark.read.json(p)).collect().toSeq)
  }

  test("group-state cap degrades to singleton partials, still exact") {
    val p = write("cap.json", fixture)
    def agg(df: DataFrame): DataFrame = df.groupBy("id").agg(
      count(lit(1)).as("cs"), max("score").as("mx")).orderBy("id")
    // cap of 4 forces the overflow path on a 60-group key
    val ours = agg(spark.read.format("graft-json").option("aggmaxgroups", "4").load(p))
    assert(scanDescr(ours).contains("pushedAgg"), scanDescr(ours))
    assert(ours.collect().toSeq == agg(spark.read.json(p)).collect().toSeq)
  }

  test("lone COUNT(*) keeps the parse-only fast path") {
    val p = write("countstar.json", fixture)
    val ours = spark.read.format("graft-json").load(p).agg(count(lit(1)))
    assert(scanDescr(ours).contains("countStar"), scanDescr(ours))
    assert(ours.collect().head.getLong(0) == 60L)
  }

  test("refusals: distinct, avg, nested column, pushed filter — all stay exact") {
    val p = write("refuse.json", fixture)
    val g = spark.read.format("graft-json").load(p)
    val j = spark.read.json(p)

    // distinct count: not partial-pushable
    val d = g.agg(countDistinct("grp").as("d"))
    assert(!scanDescr(d).contains("pushedAgg"), scanDescr(d))
    assert(d.collect().toSeq == j.agg(countDistinct("grp").as("d")).collect().toSeq)

    // sum(distinct): not partial-pushable
    val sd = g.agg(sum_distinct(col("id")).as("sd"))
    assert(!scanDescr(sd).contains("pushedAgg"), scanDescr(sd))
    assert(sd.collect().toSeq == j.agg(sum_distinct(col("id")).as("sd")).collect().toSeq)

    // a pushed filter blocks aggregate pushdown (exact `id > 30` leaves no
    // Filter node; the builder still refuses the battery)
    val f = g.filter(col("id") > 30).groupBy("grp").agg(max("score").as("mx")).orderBy("grp")
    assert(!scanDescr(f).contains("pushedAgg"), scanDescr(f))
    assert(f.collect().toSeq ==
      j.filter(col("id") > 30).groupBy("grp").agg(max("score").as("mx")).orderBy("grp").collect().toSeq)
  }

  test("sum battery (integral long lane + double lane, nulls) is pushed and exact") {
    val p = write("sum.json", fixture)
    def agg(df: DataFrame): DataFrame = df.groupBy("grp").agg(
      sum("id").as("si"), sum("score").as("ss"),
      count("score").as("cn"), count(lit(1)).as("cs"))
      .orderBy("grp")
    val ours = agg(spark.read.format("graft-json").option("maxsplitbytes", "512").load(p))
    assert(scanDescr(ours).contains("pushedAgg"), scanDescr(ours))
    assert(scanDescr(ours).contains("sum(id)"), scanDescr(ours))
    assert(ours.collect().toSeq == agg(spark.read.json(p)).collect().toSeq)
  }

  test("sum over an all-null group is null; avg rides the sum/count rewrite") {
    // one group whose score is always null exercises the null-sum output
    val rows = (1 to 30).map { i =>
      val score = if (i % 3 == 0) "null" else (i * 2).toString
      s"""{"g": ${i % 3}, "score": ${if (i % 3 == 0) "null" else score}}"""
    }.mkString("\n") + "\n"
    val p = write("sumnull.json", rows)
    def agg(df: DataFrame): DataFrame =
      df.groupBy("g").agg(sum("score").as("s"), avg("score").as("a")).orderBy("g")
    val ours = agg(spark.read.format("graft-json").load(p))
    // avg alone would be refused, but the planner rewrites it to sum/count
    // for partial-only sources — so the battery still folds in the scan
    assert(scanDescr(ours).contains("pushedAgg"), scanDescr(ours))
    assert(ours.collect().toSeq == agg(spark.read.json(p)).collect().toSeq)
  }

  test("integral sum near Long.MaxValue piece-splits; legacy mode wraps like vanilla") {
    val big = Long.MaxValue - 10
    // three big values per group force accumulator overflow mid-group;
    // piece-splitting hands intact partials to the final merge, whose
    // legacy-mode addition is mod-2^64 (associative) — totals must match
    // spark.read.json exactly
    val rows = (1 to 6).map(i => s"""{"g": ${i % 2}, "v": $big}""") ++
      (1 to 6).map(i => s"""{"g": ${i % 2}, "v": ${-big}}""")
    val p = write("sumoverflow.json", rows.mkString("\n") + "\n")
    spark.conf.set("spark.sql.ansi.enabled", "false") // evalMode binds at analysis
    try {
      def agg(df: DataFrame): DataFrame =
        df.groupBy("g").agg(sum("v").as("s"), count(lit(1)).as("c")).orderBy("g")
      val ours = agg(spark.read.format("graft-json").load(p))
      assert(scanDescr(ours).contains("pushedAgg"), scanDescr(ours))
      // totals cancel to 0 per group despite intermediate overflow
      assert(ours.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
        Seq((0L, 0L, 6L), (1L, 0L, 6L)))
      assert(ours.collect().toSeq == agg(spark.read.json(p)).collect().toSeq)
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
  }

  test("integral sum overflow in the total still raises under ANSI") {
    val p = write("sumansi.json",
      (1 to 4).map(_ => s"""{"v": ${Long.MaxValue - 10}}""").mkString("\n") + "\n")
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true") // Spark 4 default
    val ours = spark.read.format("graft-json").load(p).agg(sum("v").as("s"))
    assert(scanDescr(ours).contains("pushedAgg"), scanDescr(ours))
    val e = intercept[Exception](ours.collect())
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.isInstanceOf[ArithmeticException]), e.toString)
  }

  test("decimal sum/min/max battery is pushed and exact (money-column shape)") {
    val rows = (1 to 60).map { i =>
      val amt = if (i % 9 == 0) "null" else s"${i * 7}.${10 + i % 80}"
      s"""{"g": ${i % 3}, "amt": $amt}"""
    }.mkString("\n") + "\n"
    val p = write("sumdec.json", rows)
    val schema = "g LONG, amt DECIMAL(12,2)"
    def agg(df: DataFrame): DataFrame = df.groupBy("g").agg(
      sum("amt").as("s"), min("amt").as("mn"), max("amt").as("mx"),
      avg("amt").as("a"), count("amt").as("c")).orderBy("g")
    val ours = agg(spark.read.format("graft-json").schema(schema)
      .option("maxsplitbytes", "512").load(p))
    assert(scanDescr(ours).contains("pushedAgg"), scanDescr(ours))
    assert(scanDescr(ours).contains("sum(amt)"), scanDescr(ours))
    assert(ours.collect().toSeq == agg(spark.read.schema(schema).json(p)).collect().toSeq)
  }

  test("decimal sum piece-splits at the output precision; totals stay exact") {
    // two adjacent 38-digit values overflow Decimal(38,0) mid-fold; the
    // reader flushes a partial piece instead of wrapping, and the final
    // merge sums pieces that cancel to 0
    val big = "9" + "0" * 37 // 9e37, 38 digits
    val rows = Seq(s"""{"v": $big}""", s"""{"v": $big}""",
      s"""{"v": -$big}""", s"""{"v": -$big}""")
    val p = write("sumdecoverflow.json", rows.mkString("\n") + "\n")
    val schema = "v DECIMAL(38,0)"
    def agg(df: DataFrame): DataFrame = df.agg(sum("v").as("s"), count(lit(1)).as("c"))
    val ours = agg(spark.read.format("graft-json").schema(schema).load(p))
    assert(scanDescr(ours).contains("pushedAgg"), scanDescr(ours))
    val r = ours.collect()(0)
    assert(r.getDecimal(0).compareTo(java.math.BigDecimal.ZERO) == 0 && r.getLong(1) == 4)
    assert(ours.collect().toSeq == agg(spark.read.schema(schema).json(p)).collect().toSeq)
  }

  test("decimal sum overflow in the total raises under ANSI, like vanilla") {
    val big = "9" + "0" * 37
    val p = write("sumdecansi.json",
      (1 to 3).map(_ => s"""{"v": $big}""").mkString("\n") + "\n")
    val schema = "v DECIMAL(38,0)"
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val ours = spark.read.format("graft-json").schema(schema).load(p).agg(sum("v").as("s"))
    assert(scanDescr(ours).contains("pushedAgg"), scanDescr(ours))
    val e = intercept[Exception](ours.collect())
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(t => t.isInstanceOf[ArithmeticException] ||
      t.getMessage != null && t.getMessage.contains("NUMERIC_VALUE_OUT_OF_RANGE")), e.toString)
  }

  test("the battery also pushes into graft-csv scans (shared builder)") {
    val rows = "g,v\n" + (1 to 60).map(i => s"${i % 3},${i * 2}").mkString("\n") + "\n"
    val p = write("aggcsv.csv", rows)
    val schema = "g LONG, v LONG"
    def agg(df: DataFrame): DataFrame = df.groupBy("g").agg(
      sum("v").as("s"), min("v").as("mn"), max("v").as("mx"),
      count(lit(1)).as("c")).orderBy("g")
    val ours = agg(spark.read.format("graft-csv").schema(schema).load(p))
    assert(scanDescr(ours).contains("pushedAgg"), scanDescr(ours))
    val want = agg(spark.read.schema(schema).option("header", "true").csv(p))
    assert(ours.collect().toSeq == want.collect().toSeq)
  }

  test("grouped battery over a hive partition column is pushed and exact") {
    val root = tempDir("graft-aggpart")
    for (r <- Seq("eu", "us")) {
      val d = root.resolve(s"region=$r")
      Files.createDirectories(d)
      val rows = (1 to 20).map(i => s"""{"v": ${i * (if (r == "eu") 1 else 100)}}""")
      Files.write(d.resolve("part.json"), rows.mkString("\n").getBytes(UTF_8))
    }
    def agg(df: DataFrame): DataFrame =
      df.groupBy("region").agg(min("v").as("mn"), max("v").as("mx"),
        count(lit(1)).as("c")).orderBy("region")
    val ours = agg(spark.read.format("graft-json").load(root.toString))
    assert(scanDescr(ours).contains("pushedAgg"), scanDescr(ours))
    assert(ours.collect().toSeq ==
      agg(spark.read.json(root.toString)).collect().toSeq)
  }

  test("partition-grouped battery answers from metadata alone (poisoned, temporal)") {
    val s = spark; import s.implicits._
    val root = tempDir("graft-aggmeta-grp").toString
    // sink-written day-partitioned layout: sidecars carry the temporal
    // 't' lanes; the group key d (DATE) is a per-file directory constant
    val rows = (0 until 200).map { i =>
      (i.toLong, java.sql.Timestamp.from(
        java.time.Instant.parse("2026-01-01T00:00:00Z").plusSeconds(i * 977L)),
        i * 0.5)
    }
    rows.toDF("event_id", "ts", "value")
      .withColumn("d", to_date($"ts"))
      .repartition(2)
      .write.format("graft-json").partitionBy("d").mode("overwrite").save(root)
    val schema = "event_id BIGINT, ts TIMESTAMP, value DOUBLE, d DATE"
    def battery() = spark.read.format("graft-json").schema(schema).load(root)
      .groupBy($"d")
      .agg(count(lit(1)).as("n"), max($"ts").as("last_ts"), min($"ts").as("first_ts"),
        count($"event_id").as("ne"))
      .orderBy($"d")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1),
        r.getTimestamp(2).toString, r.getTimestamp(3).toString, r.getLong(4))).toSeq
    val want = battery() // with readable data
    // poison every data file with same-length garbage: only the sidecar
    // lanes + directory constants can answer now
    Files.walk(java.nio.file.Paths.get(root)).toArray.map(_.toString)
      .filter(_.endsWith(".jsonl")).foreach { f =>
        val fp = java.nio.file.Paths.get(f)
        val len = Files.size(fp)
        Files.write(fp, (("#" * (len.toInt - 1)) + "\n").getBytes(UTF_8))
        Files.deleteIfExists(fp.getParent.resolve("." + fp.getFileName + ".crc"))
      }
    assert(battery() === want, "grouped metadata answer diverged (or read data bytes)")
    // a data-column group key cannot be metadata-answered: the fallback
    // parse must FAIL on the poisoned bytes rather than return garbage
    intercept[Exception] {
      spark.read.format("graft-json").schema(schema).load(root)
        .groupBy($"event_id").agg(max($"ts")).collect()
    }
  }
}
