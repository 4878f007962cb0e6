package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 row-level DELETE for catalog-registered graft tables: `DELETE
  * FROM graft_table WHERE ...` plans through Spark's standard
  * SupportsDelete hook and lands as the same merge-on-read
  * deletion-vector commit the path-dialect SQL and the TrainingData API
  * produce — one implementation, three front doors.
  *
  * The pushed V2 predicates render back to ONE Catalyst SQL predicate
  * that the DV scan evaluates, so the three-valued NULL logic is
  * Catalyst-for-Catalyst; the only exposure is rendering fidelity
  * (quoting/literals), and anything that does not render EXACTLY
  * refuses the whole statement: Spark then reports DELETE unsupported
  * for that condition instead of this table deleting the wrong rows.
  * (A v1-filter lane rides along for SupportsDelete's abstract member
  * and direct v1 callers, with the same refuse-on-doubt rules.)
  */
object GraftDeleteSupport {
  import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, Literal => V2Literal}
  import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
  import org.apache.spark.sql.types._

  /** V2 predicate → Spark SQL through the public connector-facing
    * [[org.apache.spark.sql.connector.util.V2ExpressionSQLBuilder]] (the
    * JDBC-dialect translation surface): general scalar expressions —
    * arithmetic like `id % 10 = 0`, CASE WHEN, function calls — render
    * exactly, where v1 Filters cannot express them at all.
    *
    * Tables MUST override the V2-level hooks with this rather than
    * inherit SupportsDelete's v1 defaults: Spark's built-in V2→V1
    * conversion can silently NARROW a partially-convertible condition
    * (observed on 4.1.2: `a OR b` with an unconvertible `a` arrived as
    * just `b` — an under-delete). Here anything that does not render
    * EXACTLY refuses the whole statement.
    */
  private final class SparkSqlPredicateBuilder
      extends org.apache.spark.sql.connector.util.V2ExpressionSQLBuilder {
    // literal whitelist: values whose default rendering re-parses to the
    // same Catalyst value. Temporal literals carry INTERNAL numbers
    // (days/micros) that would re-parse as integers — render them as
    // typed literals/constructors; everything else refuses.
    override protected def visitLiteral(l: V2Literal[_]): String = l.dataType match {
      case StringType => escapeString(String.valueOf(l.value))
      case BooleanType | ByteType | ShortType | IntegerType | LongType =>
        super.visitLiteral(l)
      case DoubleType =>
        // plain or scientific form both re-parse exactly (a plain form
        // parses as decimal, whose double value is the same shortest-
        // round-trip result); NaN/Inf have no literal form
        val d = l.value.asInstanceOf[Number].doubleValue()
        if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d))
          throw new IllegalArgumentException(s"non-finite literal $l")
        super.visitLiteral(l)
      case FloatType =>
        // a bare float repr would re-parse as decimal and the comparison
        // would promote float-vs-decimal to DOUBLE, where the widened
        // float no longer equals the literal — the explicit cast keeps
        // the comparison in float space
        val f = l.value.asInstanceOf[Number].floatValue()
        if (java.lang.Float.isNaN(f) || java.lang.Float.isInfinite(f))
          throw new IllegalArgumentException(s"non-finite literal $l")
        s"CAST('$f' AS FLOAT)"
      case dt: DecimalType =>
        // a small-magnitude decimal stringifies scientifically and would
        // re-parse as a lossy DOUBLE literal — cast pins the exact type
        val bd = l.value.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal
        s"CAST('${bd.toPlainString}' AS DECIMAL(${dt.precision}, ${dt.scale}))"
      case DateType =>
        s"DATE '${java.time.LocalDate.ofEpochDay(l.value.asInstanceOf[Int].toLong)}'"
      case TimestampType =>
        // micros are a UTC instant; timestamp_micros is session-zone-proof
        s"timestamp_micros(${l.value.asInstanceOf[Long]}L)"
      case TimestampNTZType =>
        val micros = l.value.asInstanceOf[Long]
        val ldt = java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          (Math.floorMod(micros, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
        s"TIMESTAMP_NTZ '${ldt.toString.replace('T', ' ')}'"
      case other =>
        throw new IllegalArgumentException(s"unsupported literal type $other")
    }
    // the defaults emit `LIKE ... ESCAPE '\'`, which Spark's lexer cannot
    // re-parse (and the escape-char dance is needless) — use the string
    // functions, whose arguments are plain already-rendered literals
    override protected def visitStartsWith(l: String, r: String): String =
      s"startswith($l, $r)"
    override protected def visitEndsWith(l: String, r: String): String =
      s"endswith($l, $r)"
    override protected def visitContains(l: String, r: String): String =
      s"contains($l, $r)"
  }

  /** Render a V2 predicate to Spark SQL; None refuses (conservative —
    * any visit the builder cannot express throws and lands here).
    */
  def renderV2(p: V2Predicate): Option[String] =
    try Some(new SparkSqlPredicateBuilder().build(p.asInstanceOf[V2Expression]))
    catch { case _: Exception => None }

  def canDeleteV2(predicates: Array[V2Predicate]): Boolean =
    predicates.forall(p => renderV2(p).isDefined)

  /** The V2-level delete: render every predicate exactly, conjoin, and
    * route to deleteWhereDV. The rendered text re-parses through
    * Catalyst inside the scan, so an unexpected function name fails
    * analysis loudly — never a wrong delete.
    */
  def deleteWhereV2(path: String, declared: StructType, format: String,
      predicates: Array[V2Predicate]): Unit = {
    val rendered = predicates.map(p => renderV2(p).getOrElse(
      throw new UnsupportedOperationException(
        s"graft DELETE cannot express predicate $p exactly")))
    // each conjunct wraps in parens: a top-level OR renders WITHOUT
    // outer parentheses, and a bare " AND " join would misparse the
    // precedence ((a OR b) AND c -> a OR (b AND c): an over-delete)
    deleteRendered(path, declared, format,
      if (rendered.isEmpty) "true" else rendered.map(r => s"($r)").mkString(" AND "))
  }

  private def deleteRendered(path: String, declared: StructType,
      format: String, predicate: String): Unit = {
    require(path != null, s"graft DELETE needs the table's path/location")
    // the FULL declared schema goes through as the DDL: resolveCow
    // dedups hive k=v columns against its own listing (its documented
    // "name every column the scan serves" contract), so no second
    // directory walk happens here
    graft.api.TrainingData.deleteWhereDV(SparkSession.active, path,
      declared.toDDL, predicate, format = format)
    ()
  }

  def canDelete(filters: Array[Filter]): Boolean =
    filters.forall(f => render(f).isDefined)

  /** The v1-filter delete (SupportsDelete's abstract member — direct v1
    * callers only; SQL DELETE arrives through the V2 overrides): the
    * FULL declared catalog schema goes through deleteRendered, which
    * dedups the layout's k=v columns downstream in resolveCow; zero
    * filters = an unconditioned `DELETE FROM t` (and the
    * TruncatableTable default), which deletes every row.
    */
  def deleteWhere(path: String, declared: StructType, format: String,
      filters: Array[Filter]): Unit = {
    val rendered = filters.map(f => render(f).getOrElse(
      throw new UnsupportedOperationException(
        s"graft DELETE cannot express filter $f exactly")))
    deleteRendered(path, declared, format,
      if (rendered.isEmpty) "true" else rendered.map(r => s"($r)").mkString(" AND "))
  }

  // nested references refuse: a dotted name cannot be re-quoted without
  // knowing which dots are struct steps
  private def quoteCol(c: String): Option[String] =
    if (c.contains(".")) None
    else Some("`" + c.replace("`", "``") + "`")

  /** SQL literal for a pushed filter value; None = not exactly
    * renderable. Doubles/floats/decimals round-trip through their
    * shortest string form under an explicit CAST; temporal and binary
    * values refuse (session-zone and encoding pitfalls).
    */
  private def lit(v: Any): Option[String] = v match {
    case null => None
    case s: String => Some(escapeString(s))
    case u: UTF8String => lit(u.toString)
    case b: java.lang.Boolean => Some(b.toString)
    case n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
              _: java.lang.Byte) => Some(n.toString)
    case d: java.lang.Double =>
      if (d.isNaN || d.isInfinite) None else Some(s"CAST('$d' AS DOUBLE)")
    case f: java.lang.Float =>
      if (f.isNaN || f.isInfinite) None else Some(s"CAST('$f' AS FLOAT)")
    case d: java.math.BigDecimal =>
      Some(s"CAST('${d.toPlainString}' AS DECIMAL(${d.precision}, ${d.scale}))")
    case _ => None
  }

  /** Quote a string literal for the SESSION's lexer: the default one
    * processes C-style escapes (backslashes must double — the
    * JDBC-targeted default only doubles quotes, so 'a\b' would re-parse
    * as a backspace), while the legacy
    * spark.sql.parser.escapedStringLiterals=true lexer takes backslashes
    * literally (doubling them would corrupt the value).
    */
  private def escapeString(s: String): String = {
    val legacy =
      try SparkSession.active.conf
        .get("spark.sql.parser.escapedStringLiterals", "false").toBoolean
      catch { case _: Exception => false }
    val b = if (legacy) s else s.replace("\\", "\\\\")
    "'" + b.replace("'", "''") + "'"
  }

  private def bin(c: String, op: String, v: Any): Option[String] =
    for { q <- quoteCol(c); l <- lit(v) } yield s"($q $op $l)"

  /** Render a v1 source filter to Spark SQL; None refuses. */
  def render(f: Filter): Option[String] = f match {
    case AlwaysTrue() => Some("true")
    case AlwaysFalse() => Some("false")
    case EqualTo(c, v) => bin(c, "=", v)
    case EqualNullSafe(c, v) =>
      if (v == null) quoteCol(c).map(q => s"($q IS NULL)")
      else bin(c, "<=>", v)
    case GreaterThan(c, v) => bin(c, ">", v)
    case GreaterThanOrEqual(c, v) => bin(c, ">=", v)
    case LessThan(c, v) => bin(c, "<", v)
    case LessThanOrEqual(c, v) => bin(c, "<=", v)
    case In(c, vs) =>
      quoteCol(c).flatMap { q =>
        if (vs.isEmpty) Some("false")
        else {
          // a NULL element renders as NULL: rows not matching any other
          // element evaluate to NULL and stay (SQL IN semantics)
          val parts = vs.toSeq.map(v => if (v == null) Some("NULL") else lit(v))
          if (parts.exists(_.isEmpty)) None
          else Some(s"($q IN (${parts.map(_.get).mkString(", ")}))")
        }
      }
    case IsNull(c) => quoteCol(c).map(q => s"($q IS NULL)")
    case IsNotNull(c) => quoteCol(c).map(q => s"($q IS NOT NULL)")
    case And(l, r) => for { a <- render(l); b <- render(r) } yield s"($a AND $b)"
    case Or(l, r) => for { a <- render(l); b <- render(r) } yield s"($a OR $b)"
    case Not(x) => render(x).map(s => s"(NOT $s)")
    case StringStartsWith(c, p) =>
      for { q <- quoteCol(c); l <- lit(p) } yield s"startswith($q, $l)"
    case StringEndsWith(c, p) =>
      for { q <- quoteCol(c); l <- lit(p) } yield s"endswith($q, $l)"
    case StringContains(c, p) =>
      for { q <- quoteCol(c); l <- lit(p) } yield s"contains($q, $l)"
    case _ => None
  }
}
