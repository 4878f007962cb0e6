package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import java.nio.file.Files

/** Write-time CHECK constraints (`option("check", "<bool expr>")`, the
  * Delta table-constraint shape): violating rows fail the JOB and its
  * abort deletes what the other tasks published, null predicates pass
  * (SQL CHECK semantics), arbitrary deterministic expressions resolve
  * through the full analyzer, and malformed constraints are refused at
  * build time.
  */
class CheckConstraintSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val root = Files.createTempDirectory("graft-check-spec")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("check-constraint-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    Files.walk(root).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
  }

  private def df(vs: Seq[(Long, java.lang.Double)]) = {
    val s = spark; import s.implicits._
    vs.toDF("id", "v")
  }

  test("passing write publishes; violating write fails and publishes NOTHING") {
    val dir = root.resolve("basic").toString
    df(Seq((1L, 1.0), (2L, 2.0)))
      .write.format("graft-json").option("check", "v >= 0.0 AND v <= 10.0")
      .mode("overwrite").save(dir)
    assert(spark.read.format("graft-json").schema("id BIGINT, v DOUBLE")
      .load(dir).count() === 2)
    val e = intercept[Exception] {
      df(Seq((3L, 3.0), (4L, 99.0))).coalesce(1)
        .write.format("graft-json").option("check", "v >= 0.0 AND v <= 10.0")
        .mode("append").save(dir)
    }
    assert(e.getMessage.contains("CHECK constraint violated") ||
      Option(e.getCause).exists(_.getMessage.contains("CHECK constraint violated")))
    // the failed append published nothing — still exactly the 2 rows
    assert(spark.read.format("graft-json").schema("id BIGINT, v DOUBLE")
      .load(dir).count() === 2)
  }

  test("null predicate passes (SQL CHECK semantics)") {
    val dir = root.resolve("nulls").toString
    df(Seq((1L, 5.0), (2L, null)))
      .write.format("graft-json").option("check", "v <= 10.0")
      .mode("overwrite").save(dir)
    assert(spark.read.format("graft-json").schema("id BIGINT, v DOUBLE")
      .load(dir).count() === 2)
  }

  test("full analyzer: function calls and casts resolve") {
    val dir = root.resolve("funcs").toString
    val s = spark; import s.implicits._
    Seq((1L, "abc"), (2L, "defg")).toDF("id", "name")
      .write.format("graft-csv")
      .option("check", "length(name) BETWEEN 1 AND 10 AND id > CAST('0' AS BIGINT)")
      .mode("overwrite").save(dir)
    assert(spark.read.format("graft-csv").schema("id BIGINT, name STRING")
      .load(dir).count() === 2)
    intercept[Exception] {
      Seq((3L, "this-name-is-way-too-long")).toDF("id", "name").coalesce(1)
        .write.format("graft-csv").option("check", "length(name) <= 10")
        .mode("append").save(dir)
    }
  }

  // the last partition fails after tasks 0-1 committed: the driver's
  // abort must delete what they published to the new path
  test("a failed batch write to a new path leaves no part file or sidecar") {
    def rows(fails: Boolean) = spark.range(0, 4000, 1, 4)
      .selectExpr(if (fails) "if(id = 3999, raise_error('boom'), id) AS id" else "id")
    val cases = Seq(
      ("graft-json", rows(fails = true), Map.empty[String, String]),
      ("graft-csv", rows(fails = true), Map.empty[String, String]),
      ("graft-avro", rows(fails = true), Map.empty[String, String]),
      ("graft-json", rows(fails = false), Map("check" -> "id < 3999")))
    cases.zipWithIndex.foreach { case ((format, df, opts), i) =>
      val dir = root.resolve(s"aborted-$i").toString
      intercept[Exception](df.write.format(format).options(opts).mode("append").save(dir))
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val left = fs.listStatus(p).map(_.getPath.getName)
        .filter(n => n.startsWith("part-") || n.endsWith(".stats")).toList
      assert(left.isEmpty, s"$format ${opts.mkString}: left $left")
    }
  }

  test("build-time refusals: unknown column, non-boolean, nondeterministic") {
    val dir = root.resolve("refuse").toString
    def attempt(check: String) = intercept[Exception] {
      df(Seq((1L, 1.0))).write.format("graft-json").option("check", check)
        .mode("overwrite").save(dir)
    }
    assert(attempt("nope > 0").getMessage.toLowerCase.contains("nope"))
    val nb = attempt("id + 1")
    assert(nb.getMessage.contains("BOOLEAN") || nb.getMessage.contains("boolean"))
    val nd = attempt("rand() > 0.5")
    assert(nd.getMessage.contains("deterministic"))
  }

  test("streaming writes enforce the same constraint") {
    val s = spark; import s.implicits._
    val feed = root.resolve("feed").toString
    val out = root.resolve("out").toString
    Seq((1L, 5.0), (2L, 50.0)).toDF("id", "v").coalesce(1)
      .write.format("graft-json").mode("overwrite").save(feed)
    val q = spark.readStream.format("graft-json").schema("id BIGINT, v DOUBLE")
      .load(feed)
      .writeStream.format("graft-json")
      .option("path", out)
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .option("check", "v <= 10.0")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val e = intercept[Exception](q.awaitTermination())
    def hasViolation(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("CHECK constraint violated"))
        || hasViolation(t.getCause))
    assert(hasViolation(e))
  }
}
