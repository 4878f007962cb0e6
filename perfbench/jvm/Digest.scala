package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Result digests compared between an op and its reference.
  *
  * Every value renders to a canonical string with a class tag: `i`
  * integral, `f` float, `d` decimal, `s` string, `t` timestamp micros,
  * `D` epoch day, `T`/`F` boolean, `N` null. Floats and decimals are
  * quantized to 1e-6, the absolute tolerance tools/check.py compares
  * with, so last-bit summation-order differences between engines do not
  * flip a digest. Columns are taken in name order (check.py's rule). An
  * ordered digest hashes the row hashes in order; an order-insensitive
  * one hashes them sorted. Every digest, of op results and references
  * alike, is taken here.
  */
object Digest {

  def render(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append('N')
    case b: Boolean => sb.append(if (b) 'T' else 'F')
    case x: Byte => sb.append('i').append(x.toLong)
    case x: Short => sb.append('i').append(x.toLong)
    case x: Int => sb.append('i').append(x.toLong)
    case x: Long => sb.append('i').append(x)
    case x: Float => float(x.toDouble, sb)
    case x: Double => float(x, sb)
    case d: java.math.BigDecimal => decimal(d, sb)
    case d: scala.math.BigDecimal => decimal(d.bigDecimal, sb)
    case s: String => sb.append('s').append(s.getBytes(UTF_8).length).append(':').append(s)
    case t: java.sql.Timestamp =>
      sb.append('t').append(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      sb.append('t').append(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      render(t.toInstant(java.time.ZoneOffset.UTC), sb)
    case d: java.sql.Date => sb.append('D').append(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => sb.append('D').append(d.toEpochDay)
    case r: Row =>
      sb.append('(')
      var i = 0
      while (i < r.length) { if (i > 0) sb.append(','); render(r.get(i), sb); i += 1 }
      sb.append(')')
    case xs: scala.collection.Seq[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x => if (!first) sb.append(','); first = false; render(x, sb) }
      sb.append(']')
    case other => sb.append('?').append(other.toString)
  }

  private def float(x: Double, sb: java.lang.StringBuilder): Unit =
    if (x.isNaN || x.isInfinite) sb.append('f').append(x.toString)
    else sb.append('f').append(Math.floor(x * 1e6 + 0.5).toLong)

  private def decimal(d: java.math.BigDecimal, sb: java.lang.StringBuilder): Unit =
    sb.append('d').append(d.setScale(6, java.math.RoundingMode.HALF_UP).unscaledValue)

  def rowString(r: Row, order: Array[Int]): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < order.length) {
      if (i > 0) sb.append('\u001f')
      render(r.get(order(i)), sb)
      i += 1
    }
    sb.toString
  }

  def sha(s: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes(UTF_8)).take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Digest of rows over the named columns, in name order. */
  def of(columns: Seq[String], rows: Seq[Row], ordered: Boolean): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2).toArray
    val hashes = rows.map(r => sha(rowString(r, order)))
    combine(columns.sorted, if (ordered) hashes else hashes.sorted)
  }

  def combine(sortedColumns: Seq[String], rowHashes: Seq[String]): String =
    s"${rowHashes.size}:" + sha(sortedColumns.mkString(",") + "|" + rowHashes.mkString(","))
}
