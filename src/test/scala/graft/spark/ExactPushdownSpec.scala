package graft.spark

import graft.api.TrainingData
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Exact filter pushdown: the filters the plate decides exactly leave no
  * Filter node above a graft scan, so every such shape must return what
  * Spark's built-in readers return with Spark's own Filter. Both plates
  * (columnar and row), both formats. Partition and renamed columns keep
  * their FilterExec. The session zone has DST, and the dates and
  * timestamps include pre-1582 values and the 1582 calendar switch.
  */
class ExactPushdownSpec extends AnyFunSuite with TempDirs {

  private var spark: SparkSession = _
  private var dir: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("exact-pushdown-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "America/Los_Angeles")
      // the reference readers' own in-parse filters disagree with the
      // rows they read unfiltered: spark.read.json drops a row on its
      // FIRST binding of a duplicate key (the row takes the last), and
      // spark.read.csv compares a 1582-10-10 cell against the literal's
      // java.sql.Date image
      .config("spark.sql.json.filterPushdown.enabled", "false")
      .config("spark.sql.csv.filterPushdown.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = tempDir("graft-exact")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    super.afterAll()
  }

  private val ddl =
    "b TINYINT, s SMALLINT, i INT, l BIGINT, str STRING, bo BOOLEAN, d DATE, ts TIMESTAMP, x DOUBLE"

  // nulls, absent keys, duplicate keys (last wins), type extremes, dates
  // and timestamps before 1582, inside the 1582 switch gap and at the
  // 2021 DST edges of the session zone
  private val jsonRows = Seq(
    """{"b":1,"s":100,"i":10,"l":1000,"str":"apple","bo":true,"d":"2021-03-14","ts":"2021-03-14T02:30:00","x":1.5}""",
    """{"b":-3,"s":-7,"i":-20,"l":-5,"str":"Banana","bo":false,"d":"1500-02-28","ts":"1500-02-28T12:00:00","x":-0.0}""",
    """{"b":null,"s":null,"i":null,"l":null,"str":null,"bo":null,"d":null,"ts":null,"x":null}""",
    """{}""",
    """{"i":1,"i":5,"l":7,"l":3,"str":"x","str":"cherry","bo":true,"bo":false,"d":"2000-01-01","d":"1582-10-10","ts":"2000-01-01T00:00:00","ts":"1582-10-10T00:00:00"}""",
    """{"b":127,"s":32767,"i":2147483647,"l":9223372036854775807,"str":"😀","bo":false,"d":"1582-10-20","ts":"2021-11-07T01:30:00","x":0.0}""",
    """{"b":-128,"s":-32768,"i":-2147483648,"l":-9223372036854775808,"str":"","d":"1000-01-01","ts":"1000-01-01T00:00:00"}""",
    """{"b":5,"s":5,"i":5,"l":5,"str":"apple","bo":null,"d":"2021-11-07","ts":"2021-11-07T01:30:00-08:00"}""",
    """{"l":5,"l":null,"str":"apple","i":5}""",
    """{"b":2,"s":2,"i":2,"l":2,"str":"","bo":true,"d":"1582-10-15","ts":"2021-03-14T03:00:00","x":2.0}""")

  private val csvRows = Seq(
    "b,s,i,l,str,bo,d,ts,x",
    "1,100,10,1000,apple,true,2021-03-14,2021-03-14T02:30:00,1.5",
    "-3,-7,-20,-5,Banana,false,1500-02-28,1500-02-28T12:00:00,-0.0",
    ",,,,,,,,",
    "127,32767,2147483647,9223372036854775807,😀,false,1582-10-20,2021-11-07T01:30:00,0.0",
    "-128,-32768,-2147483648,-9223372036854775808,zebra,,1000-01-01,1000-01-01T00:00:00,",
    "5,5,5,5,apple,,2021-11-07,2021-11-07T01:30:00-08:00,",
    "3,3,3,3,cherry,false,1582-10-10,1582-10-10T00:00:00,",
    "2,2,2,2,,true,1582-10-15,2021-03-14T03:00:00,2.0")

  private lazy val jsonPath: String = {
    val p = dir.resolve("exact.json")
    Files.write(p, jsonRows.mkString("", "\n", "\n").getBytes(UTF_8))
    p.toString
  }
  private lazy val csvPath: String = {
    val p = dir.resolve("exact.csv")
    Files.write(p, csvRows.mkString("", "\n", "\n").getBytes(UTF_8))
    p.toString
  }

  private def graft(format: String, path: String, vectorized: Boolean): DataFrame =
    spark.read.format(format).schema(ddl).option("header", "true")
      .option("vectorized", vectorized.toString).load(path)

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
    case q: QueryStageExec => p +: flatten(q.plan)
    case other => other +: other.children.flatMap(flatten)
  }
  private def filterExecs(df: DataFrame): Seq[FilterExec] =
    flatten(df.queryExecution.executedPlan).collect { case f: FilterExec => f }
  private def scans(df: DataFrame): Seq[BatchScanExec] =
    flatten(df.queryExecution.executedPlan).collect { case s: BatchScanExec => s }
  // cells rendered by Spark's casts: a collected java.sql.Date cannot
  // tell some 1582 dates apart
  private def cells(df: DataFrame): Seq[Seq[String]] =
    df.select(df.columns.map(c => col(c).cast("string")).toIndexedSeq: _*)
      .collect().map(_.toSeq.map(String.valueOf)).toSeq
  private def rows(df: DataFrame): Seq[String] = cells(df).map(_.mkString(",")).sorted

  // per column: literals for every comparison, literals for `=` and
  // `>=` only, and an IN list
  private val literals: Seq[(String, Seq[String], Seq[String], String)] = Seq(
    ("b", Seq("1"), Nil, "1, -128"), ("s", Seq("5"), Nil, "5, 32767"),
    ("i", Seq("5"), Nil, "5, -20"), ("l", Seq("5"), Nil, "5, 1000, 3"),
    ("str", Seq("'apple'"), Nil, "'apple', ''"), ("bo", Seq("true"), Nil, "true, false"),
    ("d", Seq("DATE'2021-03-14'", "DATE'1582-10-04'"), Seq("DATE'1582-10-10'", "DATE'1582-10-20'"),
      "DATE'1500-02-28', DATE'2021-11-07'"),
    ("ts", Seq("TIMESTAMP'2021-11-07 01:30:00'", "TIMESTAMP'1582-10-04 12:00:00'"),
      Seq("TIMESTAMP'2021-03-14 03:00:00'", "TIMESTAMP'1582-10-10 00:00:00'"),
      "TIMESTAMP'1500-02-28 12:00:00', TIMESTAMP'2021-11-07 09:30:00 UTC'"))

  private val predicates: Seq[String] = literals.flatMap { case (c, all, eq, in) =>
    Seq(s"$c IS NULL", s"$c IS NOT NULL", s"$c IN ($in)") ++
      all.flatMap(v => Seq(s"$c = $v", s"$c < $v", s"$c <= $v", s"$c > $v", s"$c >= $v")) ++
      eq.flatMap(v => Seq(s"$c = $v", s"$c >= $v"))
  }
  private def temporal(p: String) = p.startsWith("d ") || p.startsWith("ts ")
  // java.sql literals in 1582-10-14..25 may be another day's calendar
  // image (FilterEval.exactLiteral); java.time literals are exact
  private def switchWindow(p: String) = Seq("1582-10-10", "1582-10-20").exists(p.contains)

  // Two references per shape: Spark's Filter over the rows graft reads
  // unfiltered (the exactness itself), and Spark's own reader where its
  // parse agrees with graft's — graft-csv reads a zone-less timestamp
  // cell as null, spark.read.csv in the session zone. Temporal shapes run
  // with java.sql literals and again with java.time ones.
  Seq("graft-json" -> (() => jsonPath), "graft-csv" -> (() => csvPath)).foreach {
    case (format, path) =>
      test(s"$format decides every exact filter shape as Spark's own reader does") {
        val csv = format == "graft-csv"
        val ref =
          if (csv) spark.read.schema(ddl).option("header", "true").csv(path())
          else spark.read.schema(ddl).json(path())
        // the columns whose parse agrees with Spark's reader
        val agreed = ref.columns.indices.filterNot(i => csv && ref.columns(i) == "ts")
        def project(rs: Seq[Seq[String]]) = rs.map(r => agreed.map(r).mkString(",")).sorted
        // the plates see normalized literals, whatever their java form:
        // the java.time pass runs on the columnar plate only
        def plates(java8: Boolean) =
          Seq(true, false).take(if (java8) 1 else 2).map(v => v -> graft(format, path(), v))
        for (java8 <- Seq(false, true)) try {
          spark.conf.set("spark.sql.datetime.java8API.enabled", java8)
          // hundreds of one-off plans: interpreted, not compiled
          spark.conf.set("spark.sql.codegen.wholeStage", false)
          val own = graft(format, path(), vectorized = true).localCheckpoint()
          for ((v, g) <- plates(java8)) {
            val all = cells(g)
            assert(all.map(_.mkString(",")).sorted == rows(own), s"unfiltered, vectorized=$v")
            assert(project(all) == project(cells(ref)), s"unfiltered, Spark's reader, vectorized=$v")
          }
          predicates.filter(p => !java8 || temporal(p)).foreach { p =>
            val exact = rows(own.filter(expr(p)))
            val byReader =
              if (java8 || (csv && p.startsWith("ts "))) None
              else Some(project(cells(ref.filter(expr(p)))))
            for ((v, g) <- plates(java8)) {
              val got = g.filter(expr(p))
              val mode = s"$p, vectorized=$v, java8API=$java8"
              assert(filterExecs(got).isEmpty == (java8 || !switchWindow(p)),
                s"$mode:\n${got.queryExecution.executedPlan}")
              val out = cells(got)
              assert(out.map(_.mkString(",")).sorted == exact, mode)
              byReader.foreach(want => assert(project(out) == want, s"$mode, Spark's reader"))
            }
          }
        } finally {
          spark.conf.unset("spark.sql.datetime.java8API.enabled")
          spark.conf.unset("spark.sql.codegen.wholeStage")
        }
      }
  }

  test("floating-point and unpaired comparisons stay residual") {
    val g = graft("graft-json", jsonPath, vectorized = true)
    val ref = spark.read.schema(ddl).json(jsonPath)
    Seq("x = 0.0", "x > -1.0", "str LIKE 'app%'", "l <=> 5", "NOT (l = 5)", "l = 5 OR i = 2",
        "NOT (l IN (5, 1000))")
      .foreach { p =>
        assert(filterExecs(g.filter(expr(p))).nonEmpty, p)
        assert(rows(g.filter(expr(p))) == rows(ref.filter(expr(p))), p)
      }
  }

  test("an exact filter on a column the query does not output") {
    for (csv <- Seq(false, true); vectorized <- Seq(true, false)) {
      val g =
        if (csv) graft("graft-csv", csvPath, vectorized) else graft("graft-json", jsonPath, vectorized)
      val ref =
        if (csv) spark.read.schema(ddl).option("header", "true").csv(csvPath)
        else spark.read.schema(ddl).json(jsonPath)
      val sel = g.filter("l > 3").select("str")
      assert(filterExecs(sel).isEmpty)
      assert(scans(sel).head.scan.readSchema().fieldNames.toSeq == Seq("str", "l"))
      assert(sel.columns.toSeq == Seq("str"))
      assert(rows(sel) == rows(ref.filter("l > 3").select("str")))
      assert(g.filter("l > 3").count() == ref.filter("l > 3").count())
      assert(g.filter("d < DATE'2000-01-01'").count() ==
        ref.filter("d < DATE'2000-01-01'").count())
    }
  }

  test("filter + limit and filter + orderBy.limit reach the scan") {
    for (vectorized <- Seq(true, false)) {
      val g = graft("graft-json", jsonPath, vectorized)
      val ref = spark.read.schema(ddl).json(jsonPath)
      val lim = g.filter("l >= 2").limit(2)
      assert(scans(lim).head.scan.description().contains("limit=2"),
        scans(lim).head.scan.description())
      val got = lim.collect()
      assert(got.length == 2 && got.forall(r => r.getLong(3) >= 2))
      val top = g.filter("l >= 2").orderBy(col("l").desc).limit(3)
      assert(scans(top).head.scan.description().contains("topN=3"),
        scans(top).head.scan.description())
      assert(top.collect().toSeq ==
        ref.filter("l >= 2").orderBy(col("l").desc).limit(3).collect().toSeq)
    }
  }

  test("a deletion-vector-masked table filters exactly") {
    val d = dir.resolve("dv").toString
    spark.range(0, 60, 1, 2).selectExpr("id", "concat('s', id) AS v")
      .write.format("graft-json").mode("overwrite").save(d)
    TrainingData.deleteWhereDV(spark, d, "id BIGINT, v STRING", "id % 3 = 0")
    val live = (0L until 60L).filterNot(_ % 3 == 0)
    for (vectorized <- Seq(true, false)) {
      val t = spark.read.format("graft-json").schema("id BIGINT, v STRING")
        .option("vectorized", vectorized.toString).load(d)
      val f = t.filter("id >= 10 AND id < 30")
      assert(filterExecs(f).isEmpty)
      assert(f.collect().map(_.getLong(0)).sorted.toSeq == live.filter(i => i >= 10 && i < 30))
      val in = t.filter("v IN ('s4', 's6', 's7')")
      assert(filterExecs(in).isEmpty)
      assert(in.collect().map(_.getLong(0)).sorted.toSeq == Seq(4L, 7L))
    }
  }

  test("partition and renamed columns keep their FilterExec") {
    val part = dir.resolve("part").toString
    spark.range(0, 40, 1, 2).selectExpr("id", "IF(id % 2 = 0, 'a', 'b') AS k")
      .write.format("graft-json").partitionBy("k").mode("overwrite").save(part)
    val p = spark.read.format("graft-json").load(part).filter("k = 'a' AND id > 30")
    val kept = filterExecs(p)
    assert(kept.nonEmpty)
    assert(kept.forall(_.condition.references.map(_.name).toSet == Set("k")),
      kept.map(_.condition).mkString("; "))
    assert(p.collect().map(_.getLong(0)).sorted.toSeq == Seq(32L, 34L, 36L, 38L))

    val ren = dir.resolve("renamed").toString
    spark.range(0, 20, 1, 1).selectExpr("id", "concat('s', id) AS v")
      .write.format("graft-json").mode("overwrite").save(ren)
    TrainingData.alterTableRenameColumn(spark, ren, "v", "label")
    val r = spark.read.format("graft-json").load(ren).filter("label = 's3' AND id >= 0")
    assert(filterExecs(r).exists(_.condition.references.map(_.name).toSet == Set("label")))
    assert(r.collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("-0.0 equals 0.0 in the plate's filters and in stats pruning") {
    val s = spark
    import s.implicits._
    val raw = dir.resolve("zeros.json")
    Files.write(raw, "{\"x\":-0.0}\n{\"x\":0.0}\n{\"x\":1.5}\n".getBytes(UTF_8))
    // a sink-written file whose sidecar min and max are both -0.0
    val sunk = dir.resolve("zeros_sink").toString
    Seq(-0.0).toDF("x").write.format("graft-json").mode("overwrite").save(sunk)
    val ref = spark.read.schema("x DOUBLE").json(raw.toString)
    Seq("x = 0.0", "x >= 0.0", "x = -0.0", "x IN (0.0, 7.0)").foreach { p =>
      val want = ref.filter(p).count()
      assert(want >= 2, p)
      for (vectorized <- Seq(true, false)) {
        val g = spark.read.format("graft-json").schema("x DOUBLE")
          .option("vectorized", vectorized.toString)
        assert(g.load(raw.toString).filter(p).count() == want, s"raw file, $p")
        assert(g.load(sunk).filter(p).count() == 1, s"sink-written file, $p")
      }
    }
  }

  test("a new LONG literal compiles no code; a DOUBLE filter keeps its FilterExec") {
    val p = dir.resolve("codegen.json")
    Files.write(p, (0 until 50).map(i => s"""{"l":$i,"x":${i * 0.5}}""")
      .mkString("", "\n", "\n").getBytes(UTF_8))
    def read = spark.read.format("graft-json").schema("l BIGINT, x DOUBLE").load(p.toString)
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def run(df: DataFrame): (Long, Array[Row]) = {
      val c0 = compiles
      val out = df.collect()
      (compiles - c0, out)
    }
    run(read.filter(col("l") > 7L))
    val again = read.filter(col("l") > 11L)
    val (compiled, out) = run(again)
    assert(out.length == 38)
    assert(compiled == 0, "a new literal recompiled the stage")
    assert(filterExecs(again).isEmpty)
    assert(filterExecs(read.filter(col("x") > 3.5)).nonEmpty)
  }
}
