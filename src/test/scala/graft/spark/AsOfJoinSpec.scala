package graft.spark

import graft.plans.{AsOfJoin, AsOfJoinExec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The native AsOfJoin custom operator (logical node → strategy →
  * physical merge): randomized parity against an in-memory reference
  * model, null/tolerance/tiebreak semantics, and the plan shape the
  * operator exists for (one exchange per side, merge with O(1) state).
  */
class AsOfJoinSpec extends AnyFunSuite with TempDirs {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("asof-join-spec")
      .config("spark.sql.shuffle.partitions", "5")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    super.afterAll()
  }

  private def leftDf(rows: Seq[(java.lang.Long, java.lang.Long, String)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("k", "t", "lv").repartition(4) // scrambled input order
  }
  private def rightDf(rows: Seq[(java.lang.Long, java.lang.Long, Double)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("k", "rt", "rv").repartition(3)
  }

  /** Reference: last right row with same key, rt <= t (tie: max (rt, rv)). */
  private def reference(
      ls: Seq[(java.lang.Long, java.lang.Long, String)],
      rs: Seq[(java.lang.Long, java.lang.Long, Double)],
      tol: Option[Long]): Set[(Long, Long, String, Option[Double])] =
    ls.map { case (k, t, lv) =>
      val cand =
        if (k == null || t == null) None
        else rs.filter(r => r._1 == k && r._2 != null && r._2 <= t &&
            tol.forall(x => t - r._2 <= x))
          .sortBy(r => (r._2.longValue(), r._3)).lastOption
      (if (k == null) -999L else k.longValue(),
        if (t == null) -999L else t.longValue(), lv, cand.map(_._3))
    }.toSet

  private def runAsof(l: DataFrame, r: DataFrame, tol: Option[Long]) =
    AsOfJoin.asofJoin(l, r, Seq("k"), "t", "rt",
      rightTiebreakCols = Seq("rv"), toleranceMicros = tol)
      .select(coalesce(col("k"), lit(-999L)).as("k"),
        coalesce(col("t"), lit(-999L)).as("t"), col("lv"), col("rv"))
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2),
        if (x.isNullAt(3)) None else Some(x.getDouble(3)))).toSet

  test("randomized parity against the reference model (multi-partition)") {
    val rnd = new Random(11)
    for (trial <- 1 to 8) {
      val nk = 1 + rnd.nextInt(6)
      val ls = (1 to 40 + rnd.nextInt(60)).map { i =>
        (java.lang.Long.valueOf(rnd.nextInt(nk).toLong),
          java.lang.Long.valueOf(rnd.nextInt(50).toLong), s"l$i")
      }
      val rs = (1 to 30 + rnd.nextInt(50)).map { i =>
        (java.lang.Long.valueOf(rnd.nextInt(nk).toLong),
          java.lang.Long.valueOf(rnd.nextInt(50).toLong), i * 1.0)
      }
      val tol = if (rnd.nextBoolean()) Some(5L + rnd.nextInt(20)) else None
      assert(runAsof(leftDf(ls), rightDf(rs), tol) === reference(ls, rs, tol),
        s"trial=$trial tol=$tol")
    }
  }

  /** Forward reference: FIRST right row with rt >= t (tie: min (rt, rv)). */
  private def referenceFwd(
      ls: Seq[(java.lang.Long, java.lang.Long, String)],
      rs: Seq[(java.lang.Long, java.lang.Long, Double)],
      tol: Option[Long]): Set[(Long, Long, String, Option[Double])] =
    ls.map { case (k, t, lv) =>
      val cand =
        if (k == null || t == null) None
        else rs.filter(r => r._1 == k && r._2 != null && r._2 >= t &&
            tol.forall(x => r._2 - t <= x))
          .sortBy(r => (r._2.longValue(), r._3)).headOption
      (if (k == null) -999L else k.longValue(),
        if (t == null) -999L else t.longValue(), lv, cand.map(_._3))
    }.toSet

  private def runAsofFwd(l: DataFrame, r: DataFrame, tol: Option[Long]) =
    AsOfJoin.asofJoin(l, r, Seq("k"), "t", "rt",
      rightTiebreakCols = Seq("rv"), toleranceMicros = tol,
      direction = "forward")
      .select(coalesce(col("k"), lit(-999L)).as("k"),
        coalesce(col("t"), lit(-999L)).as("t"), col("lv"), col("rv"))
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2),
        if (x.isNullAt(3)) None else Some(x.getDouble(3)))).toSet

  test("forward direction: randomized parity (first right at-or-after)") {
    val rnd = new Random(23)
    for (trial <- 1 to 6) {
      val nk = 1 + rnd.nextInt(5)
      val ls = (1 to 30 + rnd.nextInt(50)).map { i =>
        (java.lang.Long.valueOf(rnd.nextInt(nk).toLong),
          java.lang.Long.valueOf(rnd.nextInt(40).toLong), s"l$i")
      }
      val rs = (1 to 20 + rnd.nextInt(40)).map { i =>
        (java.lang.Long.valueOf(rnd.nextInt(nk).toLong),
          java.lang.Long.valueOf(rnd.nextInt(40).toLong), i * 1.0)
      }
      val tol = if (rnd.nextBoolean()) Some(3L + rnd.nextInt(10)) else None
      assert(runAsofFwd(leftDf(ls), rightDf(rs), tol) === referenceFwd(ls, rs, tol),
        s"trial=$trial tol=$tol")
    }
  }

  test("null keys and null times never match; unmatched keys survive") {
    val ls = Seq[(java.lang.Long, java.lang.Long, String)](
      (1L, 10L, "a"), (null, 10L, "nullkey"), (2L, null, "nulltime"),
      (7L, 10L, "lonely"))
    val rs = Seq[(java.lang.Long, java.lang.Long, Double)](
      (1L, 5L, 1.5), (null, 1L, 9.9), (2L, 1L, 2.5))
    val got = runAsof(leftDf(ls), rightDf(rs), None)
    assert(got === reference(ls, rs, None))
    assert(got.find(_._3 == "nullkey").get._4.isEmpty)
    assert(got.find(_._3 == "nulltime").get._4.isEmpty)
    assert(got.find(_._3 == "lonely").get._4.isEmpty)
    assert(got.find(_._3 == "a").get._4 === Some(1.5))
  }

  test("tiebreak: equal right times resolve to the last by the tiebreak column") {
    val ls = Seq[(java.lang.Long, java.lang.Long, String)]((1L, 10L, "a"))
    val rs = Seq[(java.lang.Long, java.lang.Long, Double)](
      (1L, 10L, 3.0), (1L, 10L, 7.0), (1L, 10L, 5.0))
    assert(runAsof(leftDf(ls), rightDf(rs), None).head._4 === Some(7.0))
  }

  test("empty right side: all left rows survive unmatched") {
    val ls = Seq[(java.lang.Long, java.lang.Long, String)]((1L, 1L, "a"), (2L, 2L, "b"))
    val got = runAsof(leftDf(ls), rightDf(Nil), None)
    assert(got.size === 2 && got.forall(_._4.isEmpty))
  }

  test("plan shape: AsOfJoinExec with one exchange per side") {
    val s = spark; import s.implicits._
    val dir = tempDir("asof-plan").toString
    Seq((1L, 1L, "a"), (2L, 3L, "b")).toDF("k", "t", "lv")
      .write.mode("overwrite").parquet(dir + "/l")
    Seq((1L, 1L, 2.0), (2L, 2L, 4.0)).toDF("k", "rt", "rv")
      .write.mode("overwrite").parquet(dir + "/r")
    val l = spark.read.parquet(dir + "/l")
    val r = spark.read.parquet(dir + "/r")
    val df = AsOfJoin.asofJoin(l, r, Seq("k"), "t", "rt")
    df.collect()
    val plan = df.queryExecution.executedPlan
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      Seq(p) ++ p.children.flatMap(flatten) ++ (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          flatten(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          flatten(q.plan)
        case _ => Nil
      })
    val nodes = flatten(plan)
    assert(nodes.exists(_.isInstanceOf[AsOfJoinExec]), plan.toString)
    val exchanges = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n$plan")
  }

  test("non-nullable inputs: right columns surface nullable, coalesce survives") {
    // regression (review finding): the output Project kept right-side
    // attributes with their original nullability; over non-nullable
    // in-memory inputs, coalesce(right_x, -1) would FOLD AWAY and
    // unmatched rows would return null instead of the default
    val s = spark; import s.implicits._
    val l = Seq((1L, 10L, "a"), (7L, 10L, "lonely")).toDF("k", "t", "lv").repartition(2)
    val r = Seq((1L, 5L, 42L)).toDF("k", "rt", "rv").repartition(2)
    val out = AsOfJoin.asofJoin(l, r, Seq("k"), "t", "rt")
    out.schema.fields.filter(_.name.startsWith("r")).foreach(f =>
      assert(f.nullable, s"right column ${f.name} must be nullable"))
    val m = out.select($"k", coalesce($"rv", lit(-1L)).as("rv"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(m === Map(1L -> 42L, 7L -> -1L))
  }

  test("salted merge: bit-identical to unsalted under single-hot-key skew") {
    val s = spark; import s.implicits._
    val rnd = new Random(77)
    // 90% of left rows on ONE key — the shape that serializes the plain
    // merge into a single task
    val ls = (1 to 400).map { i =>
      val k: java.lang.Long = if (rnd.nextInt(10) < 9) 1L else rnd.nextInt(4).toLong
      (k, java.lang.Long.valueOf(rnd.nextInt(300).toLong), s"l$i")
    }
    val rs = (1 to 150).map { i =>
      val k: java.lang.Long = if (rnd.nextInt(10) < 9) 1L else rnd.nextInt(4).toLong
      (k, java.lang.Long.valueOf(rnd.nextInt(300).toLong), rnd.nextInt(50) / 2.0)
    }
    for (dir <- Seq("backward", "forward"); tol <- Seq(None, Some(40L))) {
      def run(buckets: Int) =
        AsOfJoin.asofJoin(leftDf(ls), rightDf(rs), Seq("k"), "t", "rt",
          rightTiebreakCols = Seq("rv"), toleranceMicros = tol,
          direction = dir, saltBuckets = buckets)
          .select($"k", $"t", $"lv", $"rt", $"rv")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
            if (r.isNullAt(3)) -1L else r.getLong(3),
            if (r.isNullAt(4)) -1.0 else r.getDouble(4)))
          .sortBy(x => (x._1, x._2, x._3)).toSeq
      assert(run(8) === run(1), s"dir=$dir tol=$tol: salted diverged")
    }
    // salting never leaks its working column
    val out = AsOfJoin.asofJoin(leftDf(ls), rightDf(rs), Seq("k"), "t", "rt",
      saltBuckets = 4)
    assert(!out.columns.contains("_asof_salt"), out.columns.mkString(","))
  }

  test("salted merge tolerates map-typed left columns (excluded from the salt hash)") {
    val s = spark; import s.implicits._
    val l = Seq((1L, 10L, Map("a" -> 1)), (1L, 20L, Map("b" -> 2)))
      .toDF("k", "t", "attrs").repartition(2)
    val r = Seq((1L, 5L, 7L)).toDF("k", "rt", "rv").repartition(2)
    val out = AsOfJoin.asofJoin(l, r, Seq("k"), "t", "rt", saltBuckets = 4)
    val got = out.select($"t", $"rv").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got === Set((10L, 7L), (20L, 7L)))
  }

  test("salted merge still plans through AsOfJoinExec") {
    val s = spark; import s.implicits._
    val l = Seq((1L, 10L, "a"), (1L, 20L, "b")).toDF("k", "t", "lv").repartition(2)
    val r = Seq((1L, 5L, 1.0)).toDF("k", "rt", "rv").repartition(2)
    val out = AsOfJoin.asofJoin(l, r, Seq("k"), "t", "rt", saltBuckets = 4)
    out.collect()
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      Seq(p) ++ p.children.flatMap(flatten) ++ (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          flatten(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          flatten(q.plan)
        case _ => Nil
      })
    val execs = flatten(out.queryExecution.executedPlan).collect {
      case e: AsOfJoinExec => e
    }
    assert(execs.size === 1, out.queryExecution.executedPlan.toString)
    // the salt rode the keys: 2 key expressions per side
    assert(execs.head.leftKeys.size === 2)
  }

  test("mismatched key or time column types fail loudly, never silently wrong") {
    // the merge comparator and hash partitioning come from LEFT types but
    // apply to both sides: INT-vs-BIGINT keys partition differently, and
    // DATE-vs-TIMESTAMP times would compare days against micros
    val s = spark; import s.implicits._
    val l = Seq((1L, 10L, "a")).toDF("k", "t", "lv")
    val rIntKey = Seq((1, 5L, 1.0)).toDF("k", "rt", "rv")
    val e1 = intercept[IllegalArgumentException] {
      AsOfJoin.asofJoin(l, rIntKey, Seq("k"), "t", "rt")
    }
    assert(e1.getMessage.contains("key 'k'") && e1.getMessage.contains("bigint")
      && e1.getMessage.contains("int"), e1.getMessage)
    val lDate = Seq(("2024-01-01", 1L)).toDF("ds", "k")
      .select($"k", to_date($"ds").as("t"), lit("x").as("lv"))
    val rTs = Seq(("2024-01-01 00:00:00", 1L)).toDF("ts", "k")
      .select($"k", $"ts".cast("timestamp").as("rt"), lit(1.0).as("rv"))
    val e2 = intercept[IllegalArgumentException] {
      AsOfJoin.asofJoin(lDate, rTs, Seq("k"), "t", "rt")
    }
    assert(e2.getMessage.contains("time columns disagree"), e2.getMessage)
  }

  test("self as-of join: fresh right ids, collided names come back as right_*") {
    val s = spark; import s.implicits._
    val df = Seq((1L, 1L, "x"), (1L, 5L, "y")).toDF("k", "t", "lv").repartition(2)
    val out = AsOfJoin.asofJoin(df, df, Seq("k"), "t", "t")
    assert(out.columns.toSeq === Seq("k", "t", "lv", "right_t", "right_lv"))
    // each row matches itself-or-earlier: t=5 matches the t=5 row (<=)
    val m = out.collect().map(r => (r.getLong(1), r.getString(4))).toMap
    assert(m === Map(1L -> "x", 5L -> "y"))
  }
}
