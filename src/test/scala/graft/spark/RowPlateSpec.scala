package graft.spark

import graft.core.json.JsonParser
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Direct unit coverage for the event→InternalRow bridge (no Spark
  * session): type coercions, schema-mismatch nulls, map types, filter
  * pushdown drops, and skipped-bytes accounting.
  */
class RowPlateSpec extends AnyFunSuite {

  private def parse(
      schema: StructType,
      json: String,
      filters: Array[Filter] = Array.empty): (Seq[InternalRow], RowPlate) = {
    val rows = mutable.ArrayBuffer[InternalRow]()
    val plate = new RowPlate(schema, filters, rows.append(_))
    val parser = new JsonParser(plate, JsonParser.ValueStream)
    parser.absorb(json)
    parser.finish() match {
      case graft.core.ParseResult.Failure(e) => throw e
      case _ => ()
    }
    (rows.toSeq, plate)
  }

  test("scalar coercions land typed values") {
    val schema = StructType.fromDDL(
      "l LONG, i INT, d DOUBLE, b BOOLEAN, s STRING, dec DECIMAL(10,2)")
    val (rows, _) = parse(schema,
      """{"l": 42, "i": 7, "d": 1.5, "b": true, "s": "hi", "dec": 12.34}""")
    val r = rows.head
    assert(r.getLong(0) == 42L)
    assert(r.getInt(1) == 7)
    assert(r.getDouble(2) == 1.5)
    assert(r.getBoolean(3))
    assert(r.getUTF8String(4) == UTF8String.fromString("hi"))
    assert(r.getDecimal(5, 10, 2).toString == "12.34")
  }

  test("schema mismatches read as null, never as errors") {
    // container-under-STRING is NOT a mismatch: it captures the verbatim
    // source text (spark.read.json parity, round 15 — see RawCaptureSpec)
    val schema = StructType.fromDDL("a LONG, b STRING, c STRUCT<x: LONG>")
    val (rows, _) = parse(schema,
      """{"a": "not-a-number", "b": {"an": "object"}, "c": 5}""")
    val r = rows.head
    assert(r.isNullAt(0))
    assert(r.getUTF8String(1).toString == """{"an": "object"}""")
    assert(r.isNullAt(2))
  }

  test("map-typed columns capture dynamic keys") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("m", MapType(StringType, LongType))))
    val (rows, _) = parse(schema, """{"id": 1, "m": {"k1": 10, "k2": 20}}""")
    val m = rows.head.getMap(1)
    assert(m.numElements() == 2)
    assert(m.keyArray().getUTF8String(0).toString == "k1")
    assert(m.valueArray().getLong(1) == 20L)
  }

  test("arrays of structs materialize element-wise") {
    val schema = StructType(Seq(
      StructField("xs", ArrayType(StructType(Seq(StructField("v", LongType)))))))
    val (rows, _) = parse(schema, """{"xs": [{"v": 1}, {"v": 2}, {"v": 3}]}""")
    val arr = rows.head.getArray(0)
    assert(arr.numElements() == 3)
    assert(arr.getStruct(2, 1).getLong(0) == 3L)
  }

  test("pushed filters drop definite failures and keep unknowns") {
    val schema = StructType.fromDDL("id LONG, v STRING")
    val json =
      """{"id": 1, "v": "keep"}
        |{"id": 5, "v": "drop"}
        |{"v": "no-id"}
        |""".stripMargin
    val (rows, _) = parse(schema, json, Array(LessThan("id", 3L)))
    // id=5 definitively fails, and so does the id-less row: its null id
    // fails the comparison, as it does in a WHERE
    assert(rows.map(r => if (r.isNullAt(1)) null else r.getUTF8String(1).toString) ==
      Seq("keep"))
    // a shape the plate does not evaluate is UNKNOWN: every row survives
    // for Spark's residual filter
    val (rows1, _) = parse(schema, json, Array(Not(EqualTo("id", 1L))))
    assert(rows1.size == 3)
    val (rows2, _) = parse(schema, json, Array(IsNotNull("id")))
    assert(rows2.size == 2) // the id-less row definitively fails IsNotNull
  }

  test("pruned schemas byte-skip and account the skipped bytes") {
    val schema = StructType.fromDDL("id LONG")
    val (rows, plate) = parse(schema,
      """{"id": 1, "big": {"nested": [1, 2, 3], "text": "averylongvaluehere"}}""")
    assert(rows.head.getLong(0) == 1L)
    assert(plate.totalSkippedBytes > 30, s"skipped=${plate.totalSkippedBytes}")
  }

  test("duplicate bindings rebind filters: only the row's FINAL values decide") {
    // round 14: pushed filters are decided at finishRow over final
    // values — a duplicate struct/scalar key rebinds last-wins, so an
    // earlier binding's definitive failure must not drop a row whose
    // final value passes (the unpushed read keeps it). The duplicates
    // sit BEFORE the last schema column so saturation can't hide them.
    val schema = StructType.fromDDL("id LONG, s STRING, n STRUCT<x: LONG>")
    val json =
      """{"id": 1, "n": {"x": 0}, "n": {"x": 44}, "s": "rebind-save"}
        |{"id": 2, "n": {"x": 44}, "n": {"x": 0}, "s": "rebind-doom"}
        |{"id": 3, "n": {"x": 7}, "s": "plain-drop"}
        |{"id": 4, "n": {"x": 70}, "s": "plain-keep"}
        |""".stripMargin
    val (rows, _) = parse(schema, json,
      Array(GreaterThan("n.x", java.lang.Long.valueOf(10L))))
    assert(rows.map(_.getLong(0)) == Seq(1L, 4L))
    assert(rows.head.getStruct(2, 1).getLong(0) == 44L)

    val json2 =
      """{"id": 500, "id": 50, "s": "rebind-save"}
        |{"id": 50, "id": 500, "s": "rebind-doom"}
        |""".stripMargin
    val (rows2, _) = parse(schema, json2,
      Array(LessThan("id", java.lang.Long.valueOf(100L))))
    assert(rows2.map(_.getLong(0)) == Seq(50L))
  }

  test("a FAILED duplicate binding never overwrites (spark parity, round 14)") {
    // probed against spark.read.json: a DISCARDED binding — conversion
    // failure, scalar/array/object mismatch, poisoned container — never
    // overwrites an earlier value; valid values INCLUDING explicit null
    // replace last-wins. `z` pads the schema so no row saturates early.
    val schema = StructType.fromDDL(
      "a LONG, n STRUCT<x: LONG>, v ARRAY<LONG>, z LONG")
    val json =
      """{"a": 5, "a": "xx"}
        |{"a": 5, "a": null}
        |{"a": "xx", "a": 7}
        |{"a": 5, "a": {"q": 1}}
        |{"a": 5, "a": "xx", "a": 9}
        |{"n": {"x": 1}, "n": 7}
        |{"n": {"x": 1}, "n": [1]}
        |{"n": 7, "n": {"x": 3}}
        |{"n": {"x": 1}, "n": {"x": "xx"}}
        |{"n": {"x": 1, "x": "xx"}}
        |{"v": [1], "v": [2, "xx"]}
        |{"v": [1, "xx"], "v": [2]}
        |{"v": [1], "v": 7}
        |{"v": [1], "v": null}
        |""".stripMargin
    val (rows, _) = parse(schema, json)
    def a(r: InternalRow) = if (r.isNullAt(0)) null else r.getLong(0)
    def nx(r: InternalRow) =
      if (r.isNullAt(1)) null
      else if (r.getStruct(1, 1).isNullAt(0)) "x-null"
      else r.getStruct(1, 1).getLong(0)
    def v(r: InternalRow) =
      if (r.isNullAt(2)) null
      else (0 until r.getArray(2).numElements).map(j =>
        if (r.getArray(2).isNullAt(j)) null else r.getArray(2).getLong(j))
    assert(a(rows(0)) == 5L, "conv-fail dup must not clobber 5")
    assert(a(rows(1)) == null, "explicit null overwrites")
    assert(a(rows(2)) == 7L, "valid after failed wins")
    assert(a(rows(3)) == 5L, "object mismatch must not clobber 5")
    assert(a(rows(4)) == 9L, "failed middle binding is skipped")
    assert(nx(rows(5)) == 1L, "scalar under struct must not clobber the struct")
    assert(nx(rows(6)) == 1L, "array under struct must not clobber the struct")
    assert(nx(rows(7)) == 3L, "valid struct after a failed binding wins")
    assert(nx(rows(8)) == "x-null", "valid dup struct replaces (per-field partials)")
    assert(nx(rows(9)) == 1L, "failed dup FIELD must not clobber 1")
    assert(v(rows(10)) == Seq(1L), "poisoned dup array must not clobber [1]")
    assert(v(rows(11)) == Seq(2L), "valid array after a poisoned binding wins")
    assert(v(rows(12)) == Seq(1L), "scalar under array must not clobber [1]")
    assert(v(rows(13)) == null, "explicit null overwrites the array")
  }

  test("duplicate keys are last-wins even past saturation (round 15)") {
    // the schema saturates at the first `a`, but the tail is consumed by
    // the chained key cruise — a duplicate of a schema key falls back
    // into the ordinary parse, so the LAST binding wins exactly like
    // spark.read.json (the old behavior byte-skipped the tail and kept
    // the first value — the last default-mode divergence on legal input)
    val schema = StructType.fromDDL("a LONG")
    val (rows, _) = parse(schema, """{"a": 1, "a": 2}""")
    assert(rows.head.getLong(0) == 2L)
    // interleaved with unknown tail keys (the cruise path between dups)
    val (rows1, _) = parse(schema,
      """{"a": 1, "zz": {"deep": [1, "x"]}, "a": 3, "tail": "s"}""")
    assert(rows1.head.getLong(0) == 3L)
    // a FAILED tail duplicate still never overwrites (spark parity)
    val (rowsF, _) = parse(schema, """{"a": 1, "a": "noparse"}""")
    assert(rowsF.head.getLong(0) == 1L)
    // unsaturated rows were always last-wins
    val schema2 = StructType.fromDDL("a LONG, b LONG")
    val (rows2, _) = parse(schema2, """{"a": 1, "a": 2}""")
    assert(rows2.head.getLong(0) == 2L)
    assert(rows2.head.isNullAt(1))
  }
}
