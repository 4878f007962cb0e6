package perfbench

import org.apache.spark.sql.Row

/** Checks of the result digest (jvm/Digest.scala). test_benchlib.py
  * compiles and runs it; it prints each failed check and exits with 1.
  */
object DigestTest {
  private var failures = 0

  private def check(name: String, ok: Boolean): Unit =
    if (!ok) { failures += 1; println(s"FAIL $name") }

  private def render(v: Any): String = {
    val sb = new java.lang.StringBuilder
    Digest.render(v, sb)
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val cols = Seq("b", "a")
    val rows = Seq(Row(1L, "x"), Row(2L, "y"), Row(3L, null))
    def d(c: Seq[String], r: Seq[Row], ordered: Boolean) = Digest.of(c, r, ordered)

    check("unordered ignores row order",
      d(cols, rows, ordered = false) == d(cols, rows.reverse, ordered = false))
    check("ordered sees row order",
      d(cols, rows, ordered = true) != d(cols, rows.reverse, ordered = true))
    check("columns compare by name",
      d(Seq("b", "a"), rows, ordered = true) ==
        d(Seq("a", "b"), rows.map(r => Row(r.get(1), r.get(0))), ordered = true))
    check("rows are a multiset, not a set",
      d(Seq("a"), Seq(Row(1L), Row(1L)), ordered = false) != d(Seq("a"), Seq(Row(1L)), ordered = false))
    check("a changed value changes the digest",
      d(cols, rows, ordered = false) != d(cols, rows.updated(1, Row(2L, "z")), ordered = false))
    check("floats compare within 1e-6", render(0.1 + 0.2) == render(0.3))
    check("floats differ beyond 1e-6", render(1.000001) != render(1.000002))
    check("integral and float are different classes", render(1L) != render(1.0))
    check("boolean and integral are different classes", render(true) != render(1))
    check("every integral width is one class", render(7: Byte) == render(7L) && render(7) == render(7L))
    check("strings carry their UTF-8 length", render("é") == "s2:é")
    check("decimals are quantized to 1e-6",
      render(new java.math.BigDecimal("1.50")) == render(new java.math.BigDecimal("1.5000001")))

    if (failures > 0) sys.exit(1)
    println("ok")
  }
}
