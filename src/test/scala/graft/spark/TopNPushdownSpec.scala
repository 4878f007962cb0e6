package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.nio.charset.StandardCharsets.UTF_8

/** Partial TopN pushdown: ORDER BY + LIMIT over a graft scan ships only
  * each split's bounded-heap best n rows into Spark's global sort. The
  * push is PARTIAL, so results must be byte-identical to the unpushed
  * plan in every direction/null-ordering combination.
  */
class TopNPushdownSpec extends AnyFunSuite with TempDirs {

  private var spark: SparkSession = _
  private var dir: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("topn-pushdown-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = tempDir("graft-topn")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    super.afterAll()
  }

  // ids deliberately NOT in file order; every 7th name is null
  private val fixture: String = (1 to 200).map { i =>
    val id = (i * 73) % 200
    val name = if (i % 7 == 0) "null" else s""""name-${(i * 31) % 97}""""
    s"""{"id": $id, "name": $name, "w": ${i % 5}}"""
  }.mkString("\n") + "\n"

  private def flatten(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      p +: flatten(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: flatten(q.plan)
    case other => other +: other.children.flatMap(flatten)
  }

  private def scanDescr(df: DataFrame): String =
    flatten(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }.map(_.scan.description()).mkString("\n")

  test("topN is pushed, engages the bounded heap, and matches the oracle") {
    val p = dir.resolve("multi.json")
    Files.write(p, fixture.getBytes(UTF_8))
    val g = spark.read.format("graft-json")
      .option("maxsplitbytes", "2048") // force several byte-range splits
      .load(p.toString)
    val j = spark.read.json(p.toString)

    val pushedDf = g.orderBy(g("id")).limit(7)
    assert(scanDescr(pushedDf).contains("topN=[id ASC NULLS FIRST LIMIT 7]"),
      scanDescr(pushedDf))
    GraftTopNReaderFactory.engaged.set(0)
    val got = pushedDf.select("id", "name").collect().map(_.toString).toSeq
    assert(GraftTopNReaderFactory.engaged.get() > 1, "bounded heap never engaged")
    val want = j.orderBy(j("id")).limit(7).select("id", "name").collect().map(_.toString).toSeq
    assert(got == want)
  }

  test("desc and null-ordering combinations match spark.read.json") {
    import org.apache.spark.sql.functions.col
    val p = dir.resolve("nulls.json")
    Files.write(p, fixture.getBytes(UTF_8))
    val g = spark.read.format("graft-json").option("maxsplitbytes", "2048").load(p.toString)
    val j = spark.read.json(p.toString)
    for ((mk, label) <- Seq(
        ((c: String) => col(c).desc, "desc"),
        ((c: String) => col(c).asc_nulls_last, "asc_nulls_last"),
        ((c: String) => col(c).desc_nulls_first, "desc_nulls_first"))) {
      // tiebreak on id so the comparison is deterministic across engines;
      // the composite (name, id) key must itself engage the push
      val pushedDf = g.orderBy(mk("name"), col("id")).limit(11)
      assert(scanDescr(pushedDf).contains("topN=[name "), s"$label:\n${scanDescr(pushedDf)}")
      val got = pushedDf.select("name", "id").collect().map(_.toString).toSeq
      val want = j.orderBy(mk("name"), col("id")).limit(11)
        .select("name", "id").collect().map(_.toString).toSeq
      assert(got == want, label)
    }
  }

  test("multi-column lexicographic keys push, engage the heap, and match across split counts") {
    import org.apache.spark.sql.functions.col
    val p = dir.resolve("lex.json")
    Files.write(p, fixture.getBytes(UTF_8))
    val j = spark.read.json(p.toString)
    // w has only 5 distinct values, so the second and third keys carry the
    // ordering — a single-key heap would return wrong rows here
    val want = j.orderBy(col("w").desc, col("name").asc_nulls_last, col("id").asc)
      .limit(13).select("w", "name", "id").collect().map(_.toString).toSeq
    for (split <- Seq("512", "2048", "1048576")) {
      val g = spark.read.format("graft-json").option("maxsplitbytes", split).load(p.toString)
      val df = g.orderBy(col("w").desc, col("name").asc_nulls_last, col("id").asc).limit(13)
      assert(scanDescr(df).contains(
        "topN=[w DESC NULLS LAST, name ASC NULLS LAST, id ASC NULLS FIRST LIMIT 13]"),
        scanDescr(df))
      GraftTopNReaderFactory.engaged.set(0)
      val got = df.select("w", "name", "id").collect().map(_.toString).toSeq
      assert(GraftTopNReaderFactory.engaged.get() >= 1, s"heap never engaged at split=$split")
      assert(got == want, s"split=$split")
    }
  }

  test("decimal sort keys push and match (money-column ORDER BY ... LIMIT)") {
    import org.apache.spark.sql.functions.col
    val p = dir.resolve("dec.json")
    val rows = (1 to 150).map { i =>
      val amt = s"${(i * 37) % 97}.${10 + (i * 13) % 89}"
      s"""{"id": $i, "amt": ${if (i % 11 == 0) "null" else amt}}"""
    }.mkString("\n") + "\n"
    Files.write(p, rows.getBytes(UTF_8))
    val schema = "id LONG, amt DECIMAL(10,2)"
    val g = spark.read.format("graft-json").schema(schema)
      .option("maxsplitbytes", "1024").load(p.toString)
    val j = spark.read.schema(schema).json(p.toString)
    val df = g.orderBy(col("amt").desc_nulls_last, col("id")).limit(9)
    assert(scanDescr(df).contains("topN=[amt DESC NULLS LAST, id ASC NULLS FIRST LIMIT 9]"),
      scanDescr(df))
    GraftTopNReaderFactory.engaged.set(0)
    val got = df.select("amt", "id").collect().map(_.toString).toSeq
    assert(GraftTopNReaderFactory.engaged.get() >= 1, "heap never engaged")
    val want = j.orderBy(col("amt").desc_nulls_last, col("id")).limit(9)
      .select("amt", "id").collect().map(_.toString).toSeq
    assert(got == want)
  }

  test("unsupported sort keys refuse the push (plan stays correct)") {
    val p = dir.resolve("expr.json")
    Files.write(p, fixture.getBytes(UTF_8))
    val g = spark.read.format("graft-json").load(p.toString)
    val j = spark.read.json(p.toString)
    // an expression key (id % 10) is not a NamedReference -> no push
    val df = g.orderBy((g("id") % 10).asc, g("id").asc).limit(5)
    assert(!scanDescr(df).contains("topN="), scanDescr(df))
    val got = df.select("id").collect().map(_.getLong(0)).toSeq
    val want = j.orderBy((j("id") % 10).asc, j("id").asc).limit(5)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got == want)
  }
}
