package graft.spark

import org.apache.spark.sql.sources._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** FilterEval is a CONSERVATIVE early-drop: `definitelyFails` must never
  * be true for a value the residual Catalyst filter would keep — a row
  * dropped at the parser cannot be restored. These pin the precision and
  * collation edges.
  */
class FilterEvalSpec extends AnyFunSuite {

  private val big = 1L << 53 // doubles cannot represent 2^53 + 1

  test("longs beyond 2^53 compare exactly, not through double") {
    // 2^53 + 1 > 2^53 must hold (a double round-trip makes them equal)
    assert(!FilterEval.definitelyFails(GreaterThan("c", big), java.lang.Long.valueOf(big + 1)))
    assert(FilterEval.definitelyFails(LessThanOrEqual("c", big), java.lang.Long.valueOf(big + 1)))
    assert(!FilterEval.definitelyFails(EqualTo("c", big), java.lang.Long.valueOf(big)))
    assert(FilterEval.definitelyFails(EqualTo("c", big), java.lang.Long.valueOf(big + 1)))
  }

  test("mixed long/double comparison is exact") {
    // literal arrives as Double (e.g. c > 9.007199254740992E15); the long
    // value 2^53 + 1 is strictly greater even though (double)(2^53+1) == 2^53
    val lit = java.lang.Double.valueOf(big.toDouble)
    assert(!FilterEval.definitelyFails(GreaterThan("c", lit), java.lang.Long.valueOf(big + 1)))
    assert(FilterEval.definitelyFails(EqualTo("c", lit), java.lang.Long.valueOf(big + 1)))
  }

  test("plain integer comparisons still work") {
    assert(FilterEval.definitelyFails(GreaterThan("c", 10), java.lang.Long.valueOf(5L)))
    assert(!FilterEval.definitelyFails(GreaterThan("c", 10), java.lang.Long.valueOf(11L)))
    assert(FilterEval.definitelyFails(In("c", Array[Any](1, 2, 3)), java.lang.Long.valueOf(4L)))
    assert(!FilterEval.definitelyFails(In("c", Array[Any](1, 2, 3)), java.lang.Long.valueOf(2L)))
  }

  test("string range predicates use binary UTF-8 order, not UTF-16") {
    // U+10000 (4-byte UTF-8, F0 90 80 80) sorts ABOVE U+F900 (3-byte,
    // EF A4 80) in binary UTF-8, but BELOW it in Java's UTF-16 compareTo
    // (surrogate D800 < F900) — Spark orders strings by binary UTF-8
    val supplementary = UTF8String.fromString("𐀀") // U+10000
    val bmpHigh = "豈"
    assert(FilterEval.definitelyFails(LessThan("c", bmpHigh), supplementary))
    assert(!FilterEval.definitelyFails(GreaterThan("c", bmpHigh), supplementary))
    // and the normalized (UTF8String literal) path agrees
    val norm = FilterEval.normalize(Array[Filter](LessThan("c", bmpHigh)))
    assert(FilterEval.definitelyFails(norm.head, supplementary))
  }

  test("normalize converts string literals once (incl. In sets)") {
    val norm = FilterEval.normalize(Array[Filter](
      EqualTo("c", "x"), In("c", Array[Any]("a", "b")), GreaterThan("n", 5)))
    assert(norm(0) == EqualTo("c", UTF8String.fromString("x")))
    assert(norm(1).asInstanceOf[In].values.forall(_.isInstanceOf[UTF8String]))
    assert(norm(2) == GreaterThan("n", 5))
    assert(FilterEval.definitelyFails(norm(0), UTF8String.fromString("y")))
    assert(!FilterEval.definitelyFails(norm(1), UTF8String.fromString("b")))
  }

  test("Catalyst Decimal row values compare against pushed BigDecimal literals") {
    import org.apache.spark.sql.types.Decimal
    val v = Decimal(new java.math.BigDecimal("123.45"))
    assert(FilterEval.definitelyFails(LessThan("c", new java.math.BigDecimal("100")), v))
    assert(!FilterEval.definitelyFails(LessThan("c", new java.math.BigDecimal("200")), v))
    assert(FilterEval.definitelyFails(EqualTo("c", new java.math.BigDecimal("123.46")), v))
    // same numeric value at a different scale still matches
    assert(!FilterEval.definitelyFails(EqualTo("c", new java.math.BigDecimal("123.4500")), v))
    // mixed decimal-vs-long literal stays exact past 2^53
    assert(FilterEval.definitelyFails(
      EqualTo("c", java.lang.Long.valueOf(big + 1)),
      Decimal(new java.math.BigDecimal(big))))
  }

  test("NaN sorts above every number and equal to itself") {
    val nan = java.lang.Double.valueOf(Double.NaN)
    assert(!FilterEval.definitelyFails(GreaterThan("c", java.lang.Double.valueOf(1e300)), nan))
    assert(FilterEval.definitelyFails(LessThan("c", java.lang.Long.valueOf(Long.MaxValue)), nan))
    assert(!FilterEval.definitelyFails(EqualTo("c", nan), nan))
  }

  test("a null cell fails comparisons, IN and string predicates, not null tests or negations") {
    val one = java.lang.Long.valueOf(1L)
    Seq(EqualTo("c", one), GreaterThan("c", one), GreaterThanOrEqual("c", one),
        LessThan("c", one), LessThanOrEqual("c", one), In("c", Array[Any](one)),
        StringStartsWith("c", "a"), StringEndsWith("c", "a"), StringContains("c", "a"))
      .foreach(f => assert(FilterEval.definitelyFails(f, null), f))
    Seq(IsNull("c"), IsNotNull("c"), Not(EqualTo("c", one)), EqualNullSafe("c", one),
        Or(EqualTo("c", one), IsNull("c")))
      .foreach(f => assert(!FilterEval.definitelyFails(f, null), f))
  }
}
