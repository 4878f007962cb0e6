package graft.spark

import graft.core.ParseResult
import graft.core.json.JsonParser
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Raw-text capture of container values bound for STRING lanes
  * (spark.read.json parity, PINNED BY PYSPARK PROBES round 15): an
  * object/array value whose schema target is StringType reads back as its
  * VERBATIM source text — whitespace included — at every nesting level:
  * top-level column, struct child, two-level grandchild, array element,
  * map value, element-struct field. Empty containers read "{}"/"[]".
  * Duplicate bindings treat a captured container as a VALID value
  * (last-wins both directions). Non-string targets keep the poison /
  * per-field-partial rules unchanged.
  *
  * Both plates are pinned at every chunk split point — the capture spans
  * chunk boundaries through the parser's stash (the input buffer may be
  * compacted or swapped between churns). ColumnarPlate reads flat schemas
  * only, so its capture anchor is the top-level STRING column; nested
  * anchors read through RowPlate.
  */
class RawCaptureSpec extends AnyFunSuite {

  private def raise[A](r: ParseResult[A]): Unit = r match {
    case ParseResult.Failure(e) => throw e
    case _ => ()
  }

  // probed matrix: id, x STRING (top level), rendered expectation
  private val topLevel: Seq[(String, Any)] = Seq(
    ("""{"id": 1, "x": "plain"}""", "plain"),
    ("""{"id": 2, "x": {"a": 1, "b": [2]}}""", """{"a": 1, "b": [2]}"""),
    ("""{"id": 3, "x": [1, "two"]}""", """[1, "two"]"""),
    ("""{"id": 4, "x": {}}""", "{}"),
    ("""{"id": 5, "x": []}""", "[]"),
    ("""{"id": 6, "x": null}""", null),
    // WHITESPACE VERBATIM (the probe's load-bearing detail)
    ("""{"id": 7, "x": { "a" : 1 ,"b":[ 2,  3] }}""", """{ "a" : 1 ,"b":[ 2,  3] }"""),
    // escapes and brackets inside strings must not derail the span
    ("""{"id": 8, "x": {"s": "he \"q\" llo"}}""", """{"s": "he \"q\" llo"}"""),
    ("""{"id": 9, "x": [ {"y": [1, {"z": "}"}]} ]}""", """[ {"y": [1, {"z": "}"}]} ]"""),
    // duplicate bindings: a captured container is a VALID value (probe
    // ids 3-6): last-wins in both directions, incl. over explicit null
    ("""{"id": 10, "x": {"a":1}, "x": "plain"}""", "plain"),
    ("""{"id": 11, "x": "plain", "x": {"a":1}}""", """{"a":1}"""),
    ("""{"id": 12, "x": null, "x": [1]}""", "[1]"),
    ("""{"id": 13, "x": [1], "x": null}""", null),
    ("""{"id": 14, "x": 7}""", "7"),
    ("""{"id": 15, "x": {"nested": {"deep": "v"}}}""", """{"nested": {"deep": "v"}}"""))

  // z never appears: rows must not saturate at the x binding, so the
  // duplicate-binding cases exercise last-wins (the saturation first-wins
  // caveat is pinned separately in ColumnarPlateSpec/RowPlateSpec)
  private val topSchema = StructType.fromDDL("id LONG, x STRING, z LONG")

  private def rowPath(schema: StructType, input: String): Seq[InternalRow] = {
    val rows = mutable.ArrayBuffer[InternalRow]()
    val plate = new RowPlate(schema, Array.empty, rows.append(_))
    val p = new JsonParser(plate, JsonParser.ValueStream)
    raise(p.absorb(input)); raise(p.finish())
    rows.toSeq
  }

  test("row path: top-level STRING columns capture containers verbatim") {
    val rows = rowPath(topSchema, topLevel.map(_._1).mkString("\n"))
    assert(rows.length == topLevel.length)
    rows.zip(topLevel).foreach { case (r, (in, want)) =>
      val got = if (r.isNullAt(1)) null else r.getUTF8String(1).toString
      assert(got == want, s"input $in")
    }
  }

  test("columnar path: every split point captures identically (stash across chunks)") {
    val input = topLevel.map(_._1).mkString("\n")
    val bytes = input.getBytes("UTF-8")
    (0 to bytes.length).foreach { i =>
      val plate = new ColumnarPlate(topSchema, Array.empty)
      val p = new JsonParser[Long](plate, JsonParser.ValueStream)
      raise(p.absorb(bytes.slice(0, i)))
      val head = if (plate.pendingRows > 0) Some(plate.takeBatch()) else None
      raise(p.absorb(bytes.slice(i, bytes.length)))
      raise(p.finish())
      val tail = if (plate.pendingRows > 0) Some(plate.takeBatch()) else None
      val got = (head.toSeq ++ tail.toSeq).flatMap { b =>
        (0 until b.numRows).map(r =>
          if (b.column(1).isNullAt(r)) null else b.column(1).getUTF8String(r).toString)
      }
      assert(got == topLevel.map(_._2), s"split $i")
    }
  }

  test("row path: every split point captures identically") {
    val input = topLevel.map(_._1).mkString("\n")
    val bytes = input.getBytes("UTF-8")
    (0 to bytes.length).foreach { i =>
      val rows = mutable.ArrayBuffer[InternalRow]()
      val plate = new RowPlate(topSchema, Array.empty,
        r => rows.append(r.copy()))
      val p = new JsonParser(plate, JsonParser.ValueStream)
      raise(p.absorb(bytes.slice(0, i)))
      raise(p.absorb(bytes.slice(i, bytes.length)))
      raise(p.finish())
      val got = rows.map(r =>
        if (r.isNullAt(1)) null else r.getUTF8String(1).toString).toSeq
      assert(got == topLevel.map(_._2), s"split $i")
    }
  }

  // nested anchors: struct child, grandchild, array element, map value —
  // all probed to capture (probe2/probe3, round 15)
  private val nestedSchema = StructType.fromDDL(
    "id LONG, n STRUCT<c: STRING, g: STRUCT<t: STRING>>, " +
    "a ARRAY<STRING>, m MAP<STRING, STRING>")
  private val nested: Seq[(String, (Any, Any, Any, Any))] = Seq(
    ("""{"id": 1, "n": {"c": {"o": 1}, "g": {"t": [2]}}}""",
      ("""{"o": 1}""", "[2]", null, null)),
    ("""{"id": 2, "a": ["s", {"k": 1}, [2, 3], []]}""",
      (null, null, Seq("s", """{"k": 1}""", "[2, 3]", "[]"), null)),
    ("""{"id": 3, "m": {"k1": "v", "k2": {"x": 1}, "k3": [1]}}""",
      (null, null, null, Seq("k1" -> "v", "k2" -> """{"x": 1}""", "k3" -> "[1]"))),
    // capture composes with null elements and later plain strings
    ("""{"id": 4, "a": [null, {"p": [1, "q"]}, "tail"]}""",
      (null, null, Seq(null, """{"p": [1, "q"]}""", "tail"), null)))

  private def checkNested(colC: Any, colT: Any, colA: Any, colM: Any,
      want: (Any, Any, Any, Any), ctx: String): Unit = {
    assert(colC == want._1, s"$ctx: n.c")
    assert(colT == want._2, s"$ctx: n.g.t")
    assert(colA == want._3, s"$ctx: a")
    assert(colM == want._4, s"$ctx: m")
  }

  // nested schemas read through RowPlate (ColumnarPlate is flat-only):
  // the split-point pin for the nested anchors runs there
  test("columnar path: nested STRING anchors capture at every split point") {
    val input = nested.map(_._1).mkString("\n")
    val bytes = input.getBytes("UTF-8")
    (0 to bytes.length).foreach { i =>
      val rows = mutable.ArrayBuffer[InternalRow]()
      val plate = new RowPlate(nestedSchema, Array.empty, r => rows.append(r.copy()))
      val p = new JsonParser(plate, JsonParser.ValueStream)
      raise(p.absorb(bytes.slice(0, i)))
      raise(p.absorb(bytes.slice(i, bytes.length)))
      raise(p.finish())
      assert(rows.length == nested.length, s"split $i")
      rows.zip(nested).foreach { case (r, (in, want)) =>
        val (c, g, a, m) = nestedCells(r)
        checkNested(c, g, a, m, want, s"split $i input $in")
      }
    }
  }

  private def nestedCells(r: InternalRow): (Any, Any, Any, Any) = {
    val n = if (r.isNullAt(1)) null else r.getStruct(1, 2)
    val c = if (n == null || n.isNullAt(0)) null else n.getUTF8String(0).toString
    val g = if (n == null || n.isNullAt(1)) null
            else if (n.getStruct(1, 1).isNullAt(0)) null
            else n.getStruct(1, 1).getUTF8String(0).toString
    val a = if (r.isNullAt(2)) null else {
      val ad = r.getArray(2)
      (0 until ad.numElements).map(j =>
        if (ad.isNullAt(j)) null else ad.getUTF8String(j).toString)
    }
    val m = if (r.isNullAt(3)) null else {
      val md = r.getMap(3)
      (0 until md.numElements).map(j =>
        md.keyArray.getUTF8String(j).toString ->
          (if (md.valueArray.isNullAt(j)) null
           else md.valueArray.getUTF8String(j).toString))
    }
    (c, g, a, m)
  }

  test("row path: nested STRING anchors capture (arbitrary depth)") {
    val rows = rowPath(nestedSchema, nested.map(_._1).mkString("\n"))
    rows.zip(nested).foreach { case (r, (in, want)) =>
      val (c, g, a, m) = nestedCells(r)
      checkNested(c, g, a, m, want, s"input $in")
    }
  }

  test("non-string targets keep the poison / mismatch rules (no capture)") {
    // the capture must not leak into typed lanes: containers under LONG
    // still null the lane (struct per-field partials) or poison the array
    val schema = StructType.fromDDL("id LONG, v ARRAY<LONG>, s STRUCT<x: LONG>")
    val input =
      """{"id": 1, "v": [1, [2], 3], "s": {"x": {"deep": 1}}}""" + "\n" +
      """{"id": 2, "v": [4], "s": {"x": 5}}"""
    val rows = rowPath(schema, input)
    assert(rows(0).isNullAt(1), "container element must still poison ARRAY<LONG>")
    assert(rows(0).getStruct(2, 1).isNullAt(0), "container under LONG field reads null")
    assert(rows(1).getArray(1).getLong(0) == 4L)

    // the flat columnar plate: a container under a LONG column reads null
    val flat = StructType.fromDDL("id LONG, x LONG")
    val plate = new ColumnarPlate(flat, Array.empty)
    val p = new JsonParser[Long](plate, JsonParser.ValueStream)
    raise(p.absorb("""{"id": 1, "x": {"deep": 1}}""" + "\n" + """{"id": 2, "x": 5}"""))
    raise(p.finish())
    val b = plate.takeBatch()
    assert(b.column(1).isNullAt(0), "container under a LONG column reads null")
    assert(b.column(1).getLong(1) == 5L)
  }

  test("container ROWS do not capture into the schemaless value column") {
    // spark maps only object keys: a top-level `{...}` row under a
    // `value STRING` schema reads null, not its text (probe parity)
    val schema = StructType.fromDDL("value STRING")
    val rows = rowPath(schema, """{"a": 1}""" + "\n" + """"bare"""")
    assert(rows(0).isNullAt(0))
    assert(rows(1).getUTF8String(0).toString == "bare")
  }

  test("capture composes with pushed filters and saturation") {
    import org.apache.spark.sql.sources.EqualTo
    // the captured text is the FINAL value the filter sees; saturation
    // (all columns filled) still byte-skips the row tail afterwards
    val schema = StructType.fromDDL("id LONG, x STRING")
    val input =
      """{"id": 1, "x": {"k": 1}, "zz": "tail"}""" + "\n" +
      """{"id": 2, "x": {"k": 2}, "zz": "tail"}"""
    val plate = new ColumnarPlate(schema,
      Array(EqualTo("x", org.apache.spark.unsafe.types.UTF8String.fromString("""{"k": 2}"""))))
    val p = new JsonParser[Long](plate, JsonParser.ValueStream)
    raise(p.absorb(input)); raise(p.finish())
    val b = plate.takeBatch()
    assert(b.numRows == 1 && b.column(0).getLong(0) == 2L)
  }

  test("gzip-sized capture spanning many chunk boundaries assembles exactly") {
    // one captured container larger than several absorb chunks: the stash
    // path must accumulate and deliver the exact bytes
    val inner = (0 until 2000).map(i => s""""k$i": [$i, "v$i"]""").mkString("{", ", ", "}")
    val input = s"""{"id": 1, "x": $inner}"""
    val bytes = input.getBytes("UTF-8")
    val rows = mutable.ArrayBuffer[InternalRow]()
    val plate = new RowPlate(topSchema, Array.empty, r => rows.append(r.copy()))
    val p = new JsonParser(plate, JsonParser.ValueStream)
    var off = 0
    while (off < bytes.length) {
      val n = math.min(777, bytes.length - off)
      raise(p.absorb(bytes, off, n))
      off += n
    }
    raise(p.finish())
    assert(rows.length == 1)
    assert(rows.head.getUTF8String(1).toString == inner)
  }
}
