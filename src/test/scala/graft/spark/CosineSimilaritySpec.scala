package graft.spark

import graft.functions.{CosineSimilarity, GraftFunctions, GraftSparkExtensions}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The native cosine_sim expression: bit-parity with the composed
  * aggregate(zip_with(...)) formulation (the oracle's arithmetic), codegen
  * vs interpreted agreement, float/double inputs, and registration paths.
  */
class CosineSimilaritySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("cosine-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftSparkExtensions) // injectFunction path
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def seedRows(n: Int, dim: Int): Seq[(Long, Seq[Double])] = {
    var s = 12345L
    def next(): Double = { s = s * 6364136223846793005L + 1442695040888963407L; (s >> 33).toDouble / 1e9 }
    (1 to n).map(i => (i.toLong, Seq.fill(dim)(next())))
  }

  test("bit-identical to the composed aggregate/zip_with formulation") {
    val s = spark; import s.implicits._
    val df = seedRows(50, 16).toDF("id", "e")
    val pairs = df.select($"id".as("i"), $"e".as("a"))
      .crossJoin(df.select($"id".as("j"), $"e".as("b")))
      .filter($"i" < $"j")
    val both = pairs.select(
      expr("cosine_sim(a, b)").as("native"),
      expr("""aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)
              / (sqrt(aggregate(a, 0D, (acc, v) -> acc + v * v))
               * sqrt(aggregate(b, 0D, (acc, v) -> acc + v * v)))""").as("composed"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
  }

  test("interpreted eval agrees with codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    val a = Literal(new GenericArrayData(Array(1.0, 2.0, 3.0)), ArrayType(DoubleType))
    val b = Literal(new GenericArrayData(Array(-1.0, 0.5, 2.0)), ArrayType(DoubleType))
    val e = CosineSimilarity(a, b)
    val interpreted = e.eval(null).asInstanceOf[Double]
    val expected = (1.0 * -1.0 + 2.0 * 0.5 + 3.0 * 2.0) /
      (math.sqrt(1 + 4 + 9) * math.sqrt(1 + 0.25 + 4))
    assert(math.abs(interpreted - expected) < 1e-15)
  }

  test("float arrays work and zero vectors yield 0.0") {
    val s = spark; import s.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    val out = df.select(expr("cosine_sim(a, b)")).as[Double].collect()
    assert(math.abs(out(0) - 1.0) < 1e-12 && out(1) == 0.0)
  }

  test("nulls propagate; mismatched element types rejected") {
    val s = spark; import s.implicits._
    val df = Seq((Seq(1.0), Option.empty[Seq[Double]])).toDF("a", "b")
    assert(df.select(expr("cosine_sim(a, b)")).collect()(0).isNullAt(0))
    val bad = Seq((Seq(1.0), Seq("x"))).toDF("a", "b")
    intercept[Exception](bad.select(expr("cosine_sim(a, b)")).collect())
  }

  test("register() is idempotent on a plain session") {
    GraftFunctions.register(spark)
    GraftFunctions.register(spark)
    assert(spark.sql("SELECT cosine_sim(array(1D, 0D), array(1D, 0D))")
      .collect()(0).getDouble(0) == 1.0)
  }

  test("register() leaves the optimizer rule to the extension that injected it") {
    GraftFunctions.register(spark)
    assert(spark.experimental.extraOptimizations.isEmpty)
  }
}
