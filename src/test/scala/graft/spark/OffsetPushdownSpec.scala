package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.nio.charset.StandardCharsets.UTF_8

/** OFFSET pushdown: accepted (and exact) for a single-file scan, refused
  * for multi-file listings where no global row order exists.
  */
class OffsetPushdownSpec extends AnyFunSuite with TempDirs {

  private var spark: SparkSession = _
  private var dir: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("offset-pushdown-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = tempDir("graft-offset")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    super.afterAll()
  }

  private val fixture: String =
    (1 to 40).map(i => s"""{"id": $i, "name": "row$i"}""").mkString("\n") + "\n"

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

  test("single-file offset is pushed and exact (with and without limit)") {
    val p = dir.resolve("one.json")
    Files.write(p, fixture.getBytes(UTF_8))

    val g = spark.read.format("graft-json").load(p.toString)
    val j = spark.read.json(p.toString)

    val o = g.offset(15)
    assert(scanDescr(o).contains("offset=15"), scanDescr(o))
    assert(o.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      j.offset(15).select("id").collect().map(_.getLong(0)).sorted.toSeq)

    // offset + limit: rows [5, 5+7) in file order
    val ol = g.offset(5).limit(7)
    assert(scanDescr(ol).contains("offset=5"), scanDescr(ol))
    assert(ol.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      j.offset(5).limit(7).select("id").collect().map(_.getLong(0)).sorted.toSeq)

    // SQL LIMIT ... OFFSET ... form
    g.createOrReplaceTempView("goffset")
    j.createOrReplaceTempView("joffset")
    val sqlG = spark.sql("SELECT id FROM goffset LIMIT 6 OFFSET 20")
    val sqlJ = spark.sql("SELECT id FROM joffset LIMIT 6 OFFSET 20")
    assert(sqlG.collect().map(_.getLong(0)).sorted.toSeq ==
      sqlJ.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("multi-file listing refuses the offset (Spark applies it itself, still exact)") {
    val multi = tempDir("graft-offset-multi")
    Files.write(multi.resolve("a.json"),
      (1 to 20).map(i => s"""{"id": $i}""").mkString("\n").getBytes(UTF_8))
    Files.write(multi.resolve("b.json"),
      (21 to 40).map(i => s"""{"id": $i}""").mkString("\n").getBytes(UTF_8))

    val g = spark.read.format("graft-json").load(multi.toString).offset(10)
    assert(!scanDescr(g).contains("offset="), scanDescr(g))
    assert(g.count() == 30)
  }
}
