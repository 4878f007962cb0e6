package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Native Catalyst expression for cosine similarity over embedding
  * columns (`ARRAY<FLOAT>` / `ARRAY<DOUBLE>`) — the hot scalar of the ANN
  * and near-dup operators. A codegen'd fused loop (dot product and both
  * norms in one pass, no boxing, stays inside whole-stage codegen)
  * replaces the composed `aggregate(zip_with(...))` formulation, which
  * allocates a zipped array per row pair.
  *
  * Semantics: sums run in index order (bit-compatible with the composed
  * form and the DuckDB oracle's ordered list aggregate); length mismatch
  * uses the common prefix; a zero-norm side yields 0.0; null arrays yield
  * null (null-intolerant).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_sim"

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _                        => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two ARRAY<FLOAT> or two ARRAY<DOUBLE> arguments, " +
          s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }

  private lazy val isFloat = elemType(left).contains(FloatType)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    if (isFloat) {
      while (i < n) {
        val xi = x.getFloat(i).toDouble
        val yi = y.getFloat(i).toDouble
        dot += xi * yi; nx += xi * xi; ny += yi * yi
        i += 1
      }
    } else {
      while (i < n) {
        val xi = x.getDouble(i)
        val yi = y.getDouble(i)
        dot += xi * yi; nx += xi * xi; ny += yi * yi
        i += 1
      }
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val get = if (isFloat) "getFloat" else "getDouble"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.$get($i);
         |  double $yi = (double) $b.$get($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0)
         |  ? 0.0 : $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  val cosineInfo = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
    (args: Seq[Expression]) => {
      require(args.length == 2, "cosine_sim takes exactly 2 arguments")
      CosineSimilarity(args(0), args(1))
    })

  val shinglesInfo = (
    FunctionIdentifier("word_shingles"),
    new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
    (args: Seq[Expression]) => {
      require(args.length == 2, "word_shingles takes exactly 2 arguments")
      WordShingles(args(0), args(1))
    })

  val levBoundedInfo = (
    FunctionIdentifier("levenshtein_bounded"),
    new ExpressionInfo(classOf[LevenshteinBounded].getName, "levenshtein_bounded"),
    (args: Seq[Expression]) => {
      require(args.length == 3, "levenshtein_bounded takes exactly 3 arguments")
      LevenshteinBounded(args(0), args(1), args(2))
    })

  val jaroWinklerInfo = (
    FunctionIdentifier("jaro_winkler"),
    new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
    (args: Seq[Expression]) => {
      require(args.length == 2, "jaro_winkler takes exactly 2 arguments")
      JaroWinkler(args(0), args(1))
    })

  val rollingHashInfo = (
    FunctionIdentifier("rolling_token_hash"),
    new ExpressionInfo(classOf[RollingTokenHash].getName, "rolling_token_hash"),
    (args: Seq[Expression]) => {
      require(args.length == 2, "rolling_token_hash takes exactly 2 arguments")
      RollingTokenHash(args(0), args(1))
    })

  /** Register the graft function library on an existing session
    * (idempotent). Sessions built with [[GraftSparkExtensions]] already
    * have it; there this only re-registers the functions.
    */
  def register(spark: SparkSession): Unit = {
    Seq(cosineInfo, shinglesInfo, levBoundedInfo, jaroWinklerInfo, rollingHashInfo)
      .foreach { case (id, info, builder) =>
        spark.sessionState.functionRegistry.registerFunction(id, info, builder)
      }
    locally {
      val (id, info, builder) = graft.spark.GraftTableFunctions.tableChangesInfo
      spark.sessionState.tableFunctionRegistry.registerFunction(id, info, builder)
    }
    // optimizer rules for sessions not built through GraftSparkExtensions;
    // a session whose extensions injected the rule would otherwise run it
    // twice per optimization
    val injected = spark.sessionState.optimizer.extendedOperatorOptimizationRules
    if (!injected.contains(BoundedLevenshteinRule) &&
        !spark.experimental.extraOptimizations.contains(BoundedLevenshteinRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ BoundedLevenshteinRule
  }
}

/** `SparkSessionExtensions` entry point: users opt in with
  * `.config("spark.sql.extensions", "graft.functions.GraftSparkExtensions")`
  * or the session builder's `.withExtensions(new GraftSparkExtensions)`.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.cosineInfo)
    ext.injectFunction(GraftFunctions.shinglesInfo)
    ext.injectFunction(GraftFunctions.levBoundedInfo)
    ext.injectFunction(GraftFunctions.jaroWinklerInfo)
    ext.injectFunction(GraftFunctions.rollingHashInfo)
    ext.injectOptimizerRule(_ => BoundedLevenshteinRule)
    // change-data-feed as a SQL TVF (the Delta table_changes shape)
    ext.injectTableFunction(graft.spark.GraftTableFunctions.tableChangesInfo)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // SQL maintenance verbs (DESCRIBE HISTORY / RESTORE / OPTIMIZE /
    // VACUUM / DELETE / UPDATE over graft-logged table paths) — see
    // graft.spark.GraftMaintenanceSql; unrecognized SQL delegates
    ext.injectParser((session, delegate) =>
      new graft.spark.GraftSqlParser(session, delegate))
  }
}
