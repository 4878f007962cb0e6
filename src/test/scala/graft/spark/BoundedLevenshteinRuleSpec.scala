package graft.spark

import graft.functions.{GraftFunctions, LevenshteinBounded}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The BoundedLevenshteinRule optimizer rule: every literal-threshold
  * comparison shape against the built-in levenshtein rewrites to the
  * banded levenshtein_bounded with VALUE-IDENTICAL results; non-literal
  * thresholds and the builtin's own 3-arg form stay untouched.
  */
class BoundedLevenshteinRuleSpec extends AnyFunSuite with TempDirs {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("bounded-lev-rule-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(spark) // installs the rule
    val s = spark; import s.implicits._
    // a REAL source (parquet), not a LocalRelation — the local-relation
    // optimization would eagerly evaluate the filter and leave no plan
    // for the rule to rewrite
    val dir = tempDir("lev-rule").toString
    // k0/k2/k3: per-row COLUMNS holding the same constants the rewritten
    // queries use as literals — a column threshold is not rewritten, so
    // these give the untouched-builtin reference results
    Seq(("kitten", "sitting"), ("flaw", "lawn"), ("abc", "abc"),
      ("a", "zzzzzz"), ("", "xy"), ("same", "same"), (null, "x"), ("x", null))
      .toDF("a", "b")
      .selectExpr("a", "b", "0 AS k0", "2 AS k2", "3 AS k3")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("lev_pairs")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    super.afterAll()
  }

  private def usesBounded(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[LevenshteinBounded])) => p
    }.nonEmpty

  private def run(pred: String): Seq[(String, String)] = {
    val df = spark.sql(s"SELECT a, b FROM lev_pairs WHERE $pred ORDER BY a, b")
    assert(usesBounded(df), s"rule did not fire for: $pred")
    df.collect().toSeq.map(r => (r.getString(0), r.getString(1)))
  }

  private def runRaw(pred: String): Seq[(String, String)] = {
    // reference result: force the builtin by hiding the literal from the
    // rule (non-literal threshold via an opaque scalar subquery)
    val df = spark.sql(
      s"SELECT a, b FROM lev_pairs WHERE $pred ORDER BY a, b")
    assert(!usesBounded(df), s"rule unexpectedly fired for: $pred")
    df.collect().toSeq.map(r => (r.getString(0), r.getString(1)))
  }

  test("every comparison shape rewrites and stays value-identical") {
    val shapes = Seq(
      ("levenshtein(a, b) <= 2", "levenshtein(a, b) <= k2"),
      ("levenshtein(a, b) < 3", "levenshtein(a, b) < k3"),
      ("levenshtein(a, b) > 2", "levenshtein(a, b) > k2"),
      ("levenshtein(a, b) >= 3", "levenshtein(a, b) >= k3"),
      ("levenshtein(a, b) = 3", "levenshtein(a, b) = k3"),
      ("2 >= levenshtein(a, b)", "k2 >= levenshtein(a, b)"),
      ("3 > levenshtein(a, b)", "k3 > levenshtein(a, b)"),
      ("2 < levenshtein(a, b)", "k2 < levenshtein(a, b)"),
      ("3 <= levenshtein(a, b)", "k3 <= levenshtein(a, b)"),
      ("0 = levenshtein(a, b)", "k0 = levenshtein(a, b)"))
    shapes.foreach { case (rewritten, reference) =>
      assert(run(rewritten) === runRaw(reference), s"diverged on: $rewritten")
    }
  }

  test("the builtin's own 3-arg threshold form is untouched") {
    val df = spark.sql(
      "SELECT a, b FROM lev_pairs WHERE levenshtein(a, b, 5) <= 2")
    assert(!usesBounded(df))
  }

  test("bare levenshtein in a projection is untouched") {
    val df = spark.sql("SELECT levenshtein(a, b) AS d FROM lev_pairs")
    assert(!usesBounded(df))
  }
}
