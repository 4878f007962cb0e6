package graft.spark

import graft.core.ParseResult
import graft.core.json.JsonParser
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Direct unit coverage for the event→ColumnarBatch bridge, in particular
  * the chunk-boundary protocol: the columnar readers call takeBatch()
  * whenever complete rows are pending after a 256 KB chunk, which can
  * happen with a row IN FLIGHT — its already-written cells must carry over
  * into the fresh vectors.
  *
  * ColumnarPlate reads flat schemas only; every nested shape reads
  * through RowPlate. The nested cases below keep their inputs, expected
  * values and split points and run on RowPlate: a split that fell
  * between two takeBatch calls is a chunk boundary of the RowPlate parse.
  */
class ColumnarPlateSpec extends AnyFunSuite {

  private def raise[A](r: ParseResult[A]): Unit = r match {
    case ParseResult.Failure(e) => throw e
    case _ => ()
  }

  /** Feed `chunks` to a RowPlate-backed parser; the rows it pushed. */
  private def rowsOf(schema: StructType, chunks: Seq[String],
      filters: Array[Filter] = Array.empty, saturate: Boolean = true,
      dropDiscarded: Boolean = false): Seq[InternalRow] =
    rowsOfBytes(schema, chunks.map(_.getBytes("UTF-8")), filters, saturate, dropDiscarded)

  private def rowsOfBytes(schema: StructType, chunks: Seq[Array[Byte]],
      filters: Array[Filter] = Array.empty, saturate: Boolean = true,
      dropDiscarded: Boolean = false): Seq[InternalRow] = {
    val out = mutable.ArrayBuffer.empty[InternalRow]
    val plate = new RowPlate(schema, filters, r => out += r.copy(),
      saturate = saturate, dropDiscarded = dropDiscarded)
    val p = new JsonParser[Long](plate, JsonParser.ValueStream)
    chunks.foreach(c => raise(p.absorb(c)))
    raise(p.finish())
    out.toSeq
  }

  /** RowPlate at every byte split of `input`: `f` of each row == `want`. */
  private def assertEverySplit(schema: StructType, input: String, want: Seq[Any])(
      f: InternalRow => Any): Unit = {
    val bytes = input.getBytes("UTF-8")
    (0 to bytes.length).foreach { i =>
      val rows = rowsOfBytes(schema, Seq(bytes.slice(0, i), bytes.slice(i, bytes.length)))
      assert(rows.map(f) == want, s"split $i")
    }
  }

  private val L = (v: Long) => java.lang.Long.valueOf(v)
  private val D = (v: Double) => java.lang.Double.valueOf(v)
  private def lng(g: SpecializedGetters, i: Int): Any = if (g.isNullAt(i)) null else L(g.getLong(i))
  private def str(g: SpecializedGetters, i: Int): String =
    if (g.isNullAt(i)) null else g.getUTF8String(i).toString
  private def longs(g: SpecializedGetters, i: Int): Seq[Any] =
    if (g.isNullAt(i)) null
    else {
      val ad = g.getArray(i)
      (0 until ad.numElements()).map(j => if (ad.isNullAt(j)) null else ad.getLong(j))
    }
  private def strs(g: SpecializedGetters, i: Int): Seq[Any] =
    if (g.isNullAt(i)) null
    else {
      val ad = g.getArray(i)
      (0 until ad.numElements()).map(j => str(ad, j))
    }
  private def mapOf(g: SpecializedGetters, i: Int, strValues: Boolean): Seq[(String, Any)] =
    if (g.isNullAt(i)) null
    else {
      val md = g.getMap(i)
      (0 until md.numElements()).map { j =>
        md.keyArray().getUTF8String(j).toString ->
          (if (strValues) str(md.valueArray(), j) else lng(md.valueArray(), j))
      }
    }

  test("the constructor rejects nested schemas") {
    Seq("id LONG, n STRUCT<x: LONG>", "id LONG, a ARRAY<LONG>",
        "id LONG, m MAP<STRING, LONG>").foreach { ddl =>
      val schema = StructType.fromDDL(ddl)
      assert(!ColumnarPlate.supports(schema), ddl)
      intercept[IllegalArgumentException](new ColumnarPlate(schema, Array.empty))
    }
  }

  test("takeBatch mid-row carries the partial row's cells into the new batch") {
    val schema = StructType.fromDDL("a LONG, b STRING, c DOUBLE")
    val plate = new ColumnarPlate(schema, Array.empty)
    val p = new JsonParser[Long](plate, JsonParser.ValueStream)

    // chunk 1 ends mid-row: row 2 has a=2 and b="y" already written
    raise(p.absorb("""{"a": 1, "b": "x", "c": 0.5}""" + "\n" + """{"a": 2, "b": "y", """))
    assert(plate.pendingRows == 1)
    val b1 = plate.takeBatch()
    assert(b1.numRows == 1)
    assert(b1.column(0).getLong(0) == 1L)
    assert(b1.column(1).getUTF8String(0).toString == "x")

    raise(p.absorb(""""c": 2.5}"""))
    raise(p.finish())
    assert(plate.pendingRows == 1)
    val b2 = plate.takeBatch()
    assert(b2.numRows == 1)
    // before the carry-over fix these read stale defaults (0 / empty)
    assert(b2.column(0).getLong(0) == 2L)
    assert(b2.column(1).getUTF8String(0).toString == "y")
    assert(b2.column(2).getDouble(0) == 2.5)
  }

  test("takeBatch mid-row carries explicit nulls and booleans") {
    val schema = StructType.fromDDL("a LONG, b BOOLEAN, c STRING")
    val plate = new ColumnarPlate(schema, Array.empty)
    val p = new JsonParser[Long](plate, JsonParser.ValueStream)
    raise(p.absorb("""{"a": 7, "b": true, "c": "k"}""" + "\n" + """{"a": null, "b": false, """))
    val b1 = plate.takeBatch()
    assert(b1.numRows == 1)
    raise(p.absorb(""""c": "z"}"""))
    raise(p.finish())
    val b2 = plate.takeBatch()
    assert(b2.numRows == 1)
    assert(b2.column(0).isNullAt(0))
    assert(!b2.column(1).getBoolean(0))
    assert(b2.column(2).getUTF8String(0).toString == "z")
  }

  test("every split point of a two-row flat input yields identical batches") {
    val schema = StructType.fromDDL("a LONG, b STRING")
    val input = """{"a": 11, "b": "left"}""" + "\n" + """{"a": 22, "b": "right"}"""
    val bytes = input.getBytes("UTF-8")
    (0 to bytes.length).foreach { i =>
      val plate = new ColumnarPlate(schema, Array.empty)
      val p = new JsonParser[Long](plate, JsonParser.ValueStream)
      raise(p.absorb(bytes.slice(0, i)))
      // the reader takes whatever is pending at the chunk boundary
      val head = if (plate.pendingRows > 0) Some(plate.takeBatch()) else None
      raise(p.absorb(bytes.slice(i, bytes.length)))
      raise(p.finish())
      val tail = if (plate.pendingRows > 0) Some(plate.takeBatch()) else None
      val rows = (head.toSeq ++ tail.toSeq).flatMap { b =>
        (0 until b.numRows).map { r =>
          (b.column(0).getLong(r), b.column(1).getUTF8String(r).toString)
        }
      }
      assert(rows == Seq((11L, "left"), (22L, "right")), s"split $i")
    }
  }

  // ------------------------------------------- nested shapes: RowPlate

  test("every split point of a struct-lane input yields identical batches") {
    val schema = StructType.fromDDL("id LONG, n STRUCT<x: LONG, y: STRING>")
    val input =
      """{"id": 1, "n": {"x": 10, "y": "a"}}""" + "\n" +
      """{"id": 2, "n": {"y": "b"}}""" + "\n" +
      """{"id": 3}""" + "\n" +
      """{"id": 4, "n": {}}""" + "\n" +
      """{"id": 5, "n": null}"""
    val want = Seq(
      (1L, (L(10L), "a")),
      (2L, (null, "b")),
      (3L, null),
      (4L, (null, null)), // {} = PRESENT struct with null children
      (5L, null))
    assertEverySplit(schema, input, want) { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) null else { val n = r.getStruct(1, 2); (lng(n, 0), str(n, 1)) })
    }
  }

  test("every split point of an array-lane input yields identical batches") {
    val schema = StructType.fromDDL("id LONG, a ARRAY<LONG>")
    // every shape a one-level array column can take: present, null
    // elements, empty, null, missing, scalar/object mismatch, container
    // elements (read as ONE null element), duplicate bindings (last-wins)
    val input =
      """{"id": 1, "a": [10, 20, 30]}""" + "\n" +
      """{"id": 2, "a": [null, 7]}""" + "\n" +
      """{"id": 3, "a": []}""" + "\n" +
      """{"id": 4, "a": null}""" + "\n" +
      """{"id": 5}""" + "\n" +
      """{"id": 6, "a": 42}""" + "\n" +
      """{"id": 7, "a": {"x": 1}}""" + "\n" +
      """{"id": 8, "a": [1, [2, 3], {"y": 4}, 5]}""" + "\n" +
      """{"id": 9, "a": [1], "a": [8, 9]}""" + "\n" +
      """{"id": 10, "a": [6, "noparse", 7]}""" + "\n" +
      """{"id": 11, "a": [12, 13]}"""
    val want = Seq(
      (1L, Seq(10L, 20L, 30L)),
      (2L, Seq(null, 7L)),
      (3L, Seq.empty),
      (4L, null),
      (5L, null),
      (6L, null),               // scalar under an array column
      (7L, null),               // object under an array column
      // container elements POISON the array (spark partial-results parity)
      (8L, null),
      // duplicate bindings are last-wins even past saturation (round 15:
      // the cruise-consumed tail re-parses schema-key duplicates)
      (9L, Seq(8L, 9L)),
      (10L, null), // conversion-failure element poisons too
      (11L, Seq(12L, 13L))) // ...and the next row's array is unaffected
    assertEverySplit(schema, input, want)(r => (r.getLong(0), longs(r, 1)))
  }

  test("every split point of a TWO-LEVEL struct input yields identical batches") {
    val schema = StructType.fromDDL(
      "id LONG, n STRUCT<g: STRUCT<x: LONG, z: STRING>, y: LONG>")
    // the full two-level pathology matrix, pinned against spark.read.json
    // by the round-14 probe: scalar/array/null/missing under the inner
    // struct → inner null (outer survives); `{}` → present all-null;
    // grandchild failures are PER-FIELD partials; duplicate inner
    // bindings and duplicate grandchild keys replace last-wins; unknown
    // grandchild keys prune
    val input =
      """{"id": 1, "n": {"g": {"x": 1, "z": "a"}, "y": 2}}""" + "\n" +
      """{"id": 2, "n": {"g": 7, "y": 3}}""" + "\n" +
      """{"id": 3, "n": {"g": {}, "y": 4}}""" + "\n" +
      """{"id": 4, "n": {"g": null, "y": 5}}""" + "\n" +
      """{"id": 5, "n": {"y": 6}}""" + "\n" +
      """{"id": 6, "n": {"g": {"x": "noparse", "z": "b"}}}""" + "\n" +
      """{"id": 7, "n": {"g": {"x": {"deep": 1}, "z": "c"}}}""" + "\n" +
      """{"id": 8, "n": {"g": [1], "y": 7}}""" + "\n" +
      """{"id": 9, "n": {"g": {"x": 1}, "g": {"z": "d"}, "y": 8}}""" + "\n" +
      """{"id": 10, "n": {"g": {"x": 1, "x": 44, "z": "e"}}}""" + "\n" +
      """{"id": 11, "n": {"g": {"qq": 9, "x": 2}}}""" + "\n" +
      """{"id": 12, "n": null}""" + "\n" +
      """{"id": 13, "n": 5}""" + "\n" +
      """{"id": 14, "n": {"g": {"x": 0.5, "z": "f"}}}""" + "\n" +
      """{"id": 15, "n": {"z0": {"deep": 1}, "g": {"z": "g", "x": 9}, "y": 9}}"""
    val want = Seq(
      (1L, ((L(1), "a"), L(2))),
      (2L, (null, L(3))),              // scalar under the inner struct
      (3L, ((null, null), L(4))),      // {} = present all-null grands
      (4L, (null, L(5))),
      (5L, (null, L(6))),
      (6L, ((null, "b"), null)),       // grand conversion failure: field null
      (7L, ((null, "c"), null)),       // container under a grandchild: field null
      (8L, (null, L(7))),              // array under the inner struct
      (9L, ((null, "d"), L(8))),       // dup inner binding: last-wins
      (10L, ((L(44), "e"), null)),     // dup grandchild key: last-wins
      (11L, ((L(2), null), null)),     // unknown grandchild pruned
      (12L, null),
      (13L, null),
      (14L, ((null, "f"), null)),      // float→long grand failure: field null
      (15L, ((L(9), "g"), L(9))))      // unknown child w/ deep value pruned
    assertEverySplit(schema, input, want) { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) null
        else {
          val n = r.getStruct(1, 2)
          val inner =
            if (n.isNullAt(0)) null else { val g = n.getStruct(0, 2); (lng(g, 0), str(g, 1)) }
          (inner, lng(n, 1))
        })
    }
  }

  test("every split point of an ARRAY<STRUCT> input yields identical batches") {
    val schema = StructType.fromDDL("id LONG, xs ARRAY<STRUCT<x: LONG, y: STRING>>")
    // the full pathology matrix, pinned against spark.read.json by the
    // round-14 probe: struct elements keep PER-FIELD partials (conversion
    // failure / container under a field nulls the FIELD, the element and
    // array survive); element-level mismatches (scalar/array element)
    // poison the whole array; {} is a present all-null element; null
    // elements are kept; duplicate field keys and bindings are last-wins
    val input =
      """{"id": 1, "xs": [{"x": 1, "y": "a"}, {"x": 2, "y": "b"}]}""" + "\n" +
      """{"id": 2, "xs": [{"x": 3}, {"y": "c"}]}""" + "\n" +
      """{"id": 3, "xs": [{"x": null, "y": "d"}]}""" + "\n" +
      """{"id": 4, "xs": [{}]}""" + "\n" +
      """{"id": 5, "xs": [{"x": 9}, null]}""" + "\n" +
      """{"id": 6, "xs": [{"x": 9}, 7]}""" + "\n" +
      """{"id": 7, "xs": [{"x": 9}, [1]]}""" + "\n" +
      """{"id": 8, "xs": [{"x": "noparse", "y": "e"}]}""" + "\n" +
      """{"id": 9, "xs": [{"x": 0.5, "y": "f"}]}""" + "\n" +
      """{"id": 10, "xs": [{"x": {"deep": 1}, "y": "g"}]}""" + "\n" +
      """{"id": 11, "xs": [{"x": [1], "y": "h"}]}""" + "\n" +
      """{"id": 12, "xs": [{"x": 1, "x": 44, "y": "i"}]}""" + "\n" +
      """{"id": 13, "xs": [{"x": 1}], "xs": [{"x": 2}], "z": 0}""" + "\n" +
      """{"id": 14, "xs": []}""" + "\n" +
      """{"id": 15, "xs": null}""" + "\n" +
      """{"id": 16, "xs": 42}""" + "\n" +
      """{"id": 17, "xs": {"x": 1}}""" + "\n" +
      """{"id": 18, "xs": [{"x": 1, "zz": "ignored", "y": "j"}]}""" + "\n" +
      """{"id": 19, "xs": [{"y": "tail", "x": 5}]}"""
    val want = Seq(
      (1L, Seq((L(1), "a"), (L(2), "b"))),
      (2L, Seq((L(3), null), (null, "c"))),
      (3L, Seq((null, "d"))),
      (4L, Seq((null, null))),          // {} = present element, all-null fields
      (5L, Seq((L(9), null), null)),    // null element kept
      (6L, null),                       // scalar element poisons
      (7L, null),                       // array element poisons
      (8L, Seq((null, "e"))),           // field conversion failure: FIELD null only
      (9L, Seq((null, "f"))),           // float→long failure: field null only
      (10L, Seq((null, "g"))),          // object under a field: field null only
      (11L, Seq((null, "h"))),          // array under a field: field null only
      (12L, Seq((L(44), "i"))),         // dup field key: last-wins
      // dup binding past saturation: last-wins (round 15 — the tail
      // cruise re-parses schema-key duplicates; `z` is an unknown key)
      (13L, Seq((L(2), null))),
      (14L, Seq.empty),
      (15L, null),
      (16L, null),
      (17L, null),
      (18L, Seq((L(1), "j"))),          // unknown field keys prune
      (19L, Seq((L(5), "tail"))))       // field order immaterial
    assertEverySplit(schema, input, want) { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) null
        else {
          val ad = r.getArray(1)
          (0 until ad.numElements()).map { j =>
            if (ad.isNullAt(j)) null
            else { val st = ad.getStruct(j, 2); (lng(st, 0), str(st, 1)) }
          }
        })
    }
  }

  test("every split point of an ARRAY<STRUCT> with CONTAINER fields yields identical batches") {
    // round 16 (order.items[].sku / items[].tags shape): element-struct
    // fields may be ARRAY<atomic> or STRUCT<atomic>. The full pathology
    // matrix is pinned against spark.read.json by the round-16 probe: a
    // failed/container inner element poisons the INNER array cell only;
    // scalar/object where the inner array (or struct) was expected nulls
    // the FIELD only; null inner elements are kept; [] is present-empty;
    // {} and unknown-key objects are present inner structs with all-null
    // grandfields; dup inner bindings are last-wins with
    // failed-dup-never-overwrites; dup grandfield keys are last-wins; a
    // scalar OUTER element still poisons the whole outer array.
    val schema = StructType.fromDDL(
      "id LONG, xs ARRAY<STRUCT<sku: LONG, tags: ARRAY<LONG>, " +
        "geo: STRUCT<lat: DOUBLE, src: STRING>>>")
    val input = Seq(
      """{"id": 1, "xs": [{"sku": 1, "tags": [1, 2], "geo": {"lat": 0.5, "src": "a"}}]}""",
      """{"id": 2, "xs": [{"tags": [1, "x"]}]}""",
      """{"id": 3, "xs": [{"tags": 5}]}""",
      """{"id": 4, "xs": [{"tags": {"k": 1}}]}""",
      """{"id": 5, "xs": [{"tags": [[1]]}]}""",
      """{"id": 6, "xs": [{"tags": [1, null, 2]}]}""",
      """{"id": 7, "xs": [{"tags": []}]}""",
      """{"id": 8, "xs": [{"tags": null}]}""",
      """{"id": 9, "xs": [{"geo": {"lat": "bad", "src": "s"}}]}""",
      """{"id": 10, "xs": [{"geo": [1]}]}""",
      """{"id": 11, "xs": [{"geo": 7}]}""",
      """{"id": 12, "xs": [{"geo": {}}]}""",
      """{"id": 13, "xs": [{"geo": {"zz": 1}}]}""",
      """{"id": 14, "xs": [{"tags": [1], "tags": [2, 3]}]}""",
      """{"id": 15, "xs": [{"tags": [1], "tags": ["bad"]}]}""",
      """{"id": 16, "xs": [{"geo": {"lat": 1.0}, "geo": {"src": "x"}}]}""",
      """{"id": 17, "xs": [{"tags": [1], "tags": 9}]}""",
      """{"id": 18, "xs": [{"sku": 2, "tags": [7, 8]}, {"tags": [9]}, null, {}]}""",
      """{"id": 19, "xs": [{"tags": [1]}, 5]}""",
      """{"id": 20, "xs": [{"geo": {"lat": 2.5, "lat": 3.5}}]}""",
      """{"id": 21, "xs": [{"sku": [], "tags": [1]}]}""",
      """{"id": 22, "xs": [{"tags": [[], 1]}]}""").mkString("\n")
    val want = Seq[(Long, Any)](
      (1L, Seq((L(1), Seq(L(1), L(2)), (D(0.5), "a")))),
      (2L, Seq((null, null, null))),            // mixed inner: inner cell null
      (3L, Seq((null, null, null))),            // scalar where array: field null
      (4L, Seq((null, null, null))),            // object where array: field null
      (5L, Seq((null, null, null))),            // array-in-inner poisons inner cell
      (6L, Seq((null, Seq(L(1), null, L(2)), null))), // null inner elements kept
      (7L, Seq((null, Seq.empty, null))),       // [] present-empty
      (8L, Seq((null, null, null))),
      (9L, Seq((null, null, (null, "s")))),     // grand conv failure: grand null
      (10L, Seq((null, null, null))),           // array where struct: field null
      (11L, Seq((null, null, null))),           // scalar where struct: field null
      (12L, Seq((null, null, (null, null)))),   // {} present, all-null grands
      (13L, Seq((null, null, (null, null)))),   // unknown grand keys prune
      (14L, Seq((null, Seq(L(2), L(3)), null))),// dup inner array: last-wins
      (15L, Seq((null, Seq(L(1)), null))),      // failed dup never overwrites
      (16L, Seq((null, null, (null, "x")))),    // dup inner struct replaces
      (17L, Seq((null, Seq(L(1)), null))),      // scalar dup over valid array
      (18L, Seq((L(2), Seq(L(7), L(8)), null), (null, Seq(L(9)), null),
        null, (null, null, null))),
      (19L, null),                              // scalar OUTER element poisons
      (20L, Seq((null, null, (D(3.5), null)))), // dup grand key: last-wins
      (21L, Seq((null, Seq(L(1)), null))),      // [] under scalar field: field null
      (22L, Seq((null, null, null))))           // [] inner element poisons inner cell
    assertEverySplit(schema, input, want) { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) null
        else {
          val ad = r.getArray(1)
          (0 until ad.numElements()).map { j =>
            if (ad.isNullAt(j)) null
            else {
              val st = ad.getStruct(j, 3)
              val geo =
                if (st.isNullAt(2)) null
                else {
                  val g = st.getStruct(2, 2)
                  (if (g.isNullAt(0)) null else D(g.getDouble(0)), str(g, 1))
                }
              (lng(st, 0), longs(st, 1), geo)
            }
          }
        })
    }
  }

  test("every split point of a STRUCT<…, ARRAY<atomic>> input yields identical batches") {
    // round 15 (user.tags shape): the full pathology matrix, pinned
    // against spark.read.json by the round-15 probe — null elements kept;
    // scalar/object under the array child nulls the FIELD only (failed
    // binding, struct survives); a conversion-failure or container
    // element poisons the ARRAY CELL only; `[]` is present-empty;
    // duplicate child bindings are last-wins with failed-dup-never-
    // overwrites; a duplicate STRUCT binding replaces wholesale
    val schema = StructType.fromDDL(
      "id LONG, s STRUCT<a: LONG, tags: ARRAY<LONG>>, z LONG")
    val input =
      """{"id": 1, "s": {"a": 5, "tags": [10, 20]}}""" + "\n" +
      """{"id": 2, "s": {"a": 6, "tags": []}}""" + "\n" +
      """{"id": 3, "s": {"a": 7, "tags": null}}""" + "\n" +
      """{"id": 4, "s": {"a": 8}}""" + "\n" +
      """{"id": 5, "s": {"tags": [30]}}""" + "\n" +
      """{"id": 6, "s": {"a": 9, "tags": 42}}""" + "\n" +
      """{"id": 7, "s": {"a": 10, "tags": {"k": 1}}}""" + "\n" +
      """{"id": 8, "s": {"a": 11, "tags": [null, 40]}}""" + "\n" +
      """{"id": 9, "s": {"a": 12, "tags": [50, [60]]}}""" + "\n" +
      """{"id": 10, "s": {"a": 13, "tags": [70, {"x": 1}]}}""" + "\n" +
      """{"id": 11, "s": {"a": 14, "tags": [80, "noparse"]}}""" + "\n" +
      """{"id": 12, "s": {"a": 15, "tags": [90, 0.5]}}""" + "\n" +
      """{"id": 13, "s": {"a": 16, "tags": [1], "tags": [2, 3]}}""" + "\n" +
      """{"id": 14, "s": {"a": 17, "tags": [4], "tags": 7}}""" + "\n" +
      """{"id": 15, "s": {"a": 18, "tags": null, "tags": [5]}}""" + "\n" +
      """{"id": 16, "s": {"a": 19, "tags": [6], "tags": null}}""" + "\n" +
      """{"id": 17, "s": null}""" + "\n" +
      """{"id": 18}""" + "\n" +
      """{"id": 19, "s": {"tags": [7], "a": 20}}""" + "\n" +
      """{"id": 20, "s": {"a": 1, "tags": [8]}, "s": {"tags": [9]}}""" + "\n" +
      """{"id": 21, "s": {"a": 21, "tags": [100, 200], "junk": 1}}"""
    val want = Seq(
      (1L, (L(5), Seq(10L, 20L))),
      (2L, (L(6), Seq.empty)),
      (3L, (L(7), null)),
      (4L, (L(8), null)),
      (5L, (null, Seq(30L))),
      (6L, (L(9), null)),               // scalar under the array child
      (7L, (L(10), null)),              // object under the array child
      (8L, (L(11), Seq(null, 40L))),    // null element kept
      (9L, (L(12), null)),              // container element poisons the cell
      (10L, (L(13), null)),
      (11L, (L(14), null)),             // conversion-failure element poisons
      (12L, (L(15), null)),             // float→long element poisons
      (13L, (L(16), Seq(2L, 3L))),      // dup child binding: last-wins
      (14L, (L(17), Seq(4L))),          // failed dup never overwrites
      (15L, (L(18), Seq(5L))),          // valid over explicit null wins
      (16L, (L(19), null)),             // explicit null over valid wins
      (17L, null),
      (18L, null),
      (19L, (L(20), Seq(7L))),          // field order immaterial
      (20L, (null, Seq(9L))),           // dup STRUCT binding replaces wholesale
      (21L, (L(21), Seq(100L, 200L))))  // unknown sibling keys prune
    assertEverySplit(schema, input, want) { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) null else { val s = r.getStruct(1, 2); (lng(s, 0), longs(s, 1)) })
    }
  }

  test("every split point of a STRUCT<…, ARRAY<STRUCT>> input yields identical batches") {
    // round 17 (user.addresses[].city shape). The pathology matrix is
    // pinned against spark.read.json by the round-17 probe (23 shapes):
    // scalar/array elements poison the whole cell; {}/unknown-key
    // elements read present-all-null; field failures null the FIELD only
    // (the element and array survive); null elements are kept; [] is
    // present-empty; dup bindings are last-wins with
    // failed-dup-never-overwrites; dup element-field keys are last-wins;
    // container values under a STRING field capture as verbatim source
    // text.
    val schema = StructType.fromDDL(
      "id LONG, u STRUCT<name: STRING, addresses: ARRAY<STRUCT<city: STRING, zip: LONG>>>")
    val input = Seq(
      """{"id": 1, "u": {"name": "a", "addresses": [{"city": "x", "zip": 1}, {"city": "y", "zip": 2}]}}""",
      """{"id": 2, "u": {"name": "b", "addresses": []}}""",
      """{"id": 3, "u": {"name": "c", "addresses": null}}""",
      """{"id": 4, "u": {"name": "d"}}""",
      """{"id": 5, "u": {"addresses": [null, {"city": "x", "zip": 1}]}}""",
      """{"id": 6, "u": {"addresses": [5]}}""",
      """{"id": 7, "u": {"addresses": [{"city": "x", "zip": 1}, 5]}}""",
      """{"id": 8, "u": {"addresses": [["x"]]}}""",
      """{"id": 9, "u": {"addresses": [{}]}}""",
      """{"id": 10, "u": {"addresses": [{"foo": 1}]}}""",
      """{"id": 11, "u": {"addresses": [{"city": "x", "zip": "bad"}]}}""",
      """{"id": 12, "u": {"addresses": [{"city": "x", "zip": [1]}]}}""",
      """{"id": 13, "u": {"addresses": [{"city": {"a": 1}, "zip": 1}]}}""",
      """{"id": 14, "u": {"addresses": [{"city": "x", "zip": 1}], "addresses": [{"city": "y", "zip": 2}]}}""",
      """{"id": 15, "u": {"addresses": [{"city": "x", "zip": 1}], "addresses": 5}}""",
      """{"id": 16, "u": {"name": "e", "addresses": 5}}""",
      """{"id": 17, "u": {"name": "f", "addresses": {"city": "x"}}}""",
      """{"id": 18, "u": {"addresses": [{"city": "x", "city": "y"}]}}""",
      """{"id": 19, "u": {"addresses": [{"zip": 1, "zip": "bad"}]}}""",
      """{"id": 20, "u": 7}""",
      """{"id": 21, "u": {"name": "q", "addresses": [{"city": "x", "zip": 1}]}, "u": {"addresses": [{"city": "y", "zip": 2}]}}""",
      """{"id": 22, "u": {"addresses": [{"city": "x", "zip": 1, "extra": {"a": 1}}]}}""",
      """{"id": 23, "u": {"addresses": null, "addresses": [{"zip": 5}]}}""",
      """{"id": 24, "u": {"addresses": [{"zip": 6}], "addresses": null}}""",
      """{"id": 25, "u": {"addresses": [{"zip": 7}], "name": "g"}}""",
      """{"id": 26, "u": {"addresses": [[]]}}""",
      """{"id": 27, "u": {"addresses": {}}}""",
      """{"id": 28, "u": {"name": "h", "addresses": [{"city": "z", "zip": 9}]}}""").mkString("\n")
    val want = Seq[(Long, Any)](
      (1L, ("a", Seq(("x", L(1)), ("y", L(2))))),
      (2L, ("b", Seq.empty)),
      (3L, ("c", null)),
      (4L, ("d", null)),
      (5L, (null, Seq(null, ("x", L(1))))),   // null element kept
      (6L, (null, null)),                     // scalar element poisons the cell
      (7L, (null, null)),                     // mixed scalar poisons the cell
      (8L, (null, null)),                     // array element poisons the cell
      (9L, (null, Seq((null, null)))),        // {} present, all-null fields
      (10L, (null, Seq((null, null)))),       // unknown keys prune
      (11L, (null, Seq(("x", null)))),        // field conv failure: field null
      (12L, (null, Seq(("x", null)))),        // container under field: field null
      (13L, (null, Seq(("""{"a": 1}""", L(1))))), // raw-text capture, string field
      (14L, (null, Seq(("y", L(2))))),        // dup binding: last-wins
      (15L, (null, Seq(("x", L(1))))),        // failed dup never overwrites
      (16L, ("e", null)),                     // scalar where array: field null
      (17L, ("f", null)),                     // object where array: field null
      (18L, (null, Seq(("y", null)))),        // dup element field: last-wins
      (19L, (null, Seq((null, L(1))))),       // failed dup field never overwrites
      (20L, null),                            // scalar struct: whole struct null
      (21L, (null, Seq(("y", L(2))))),        // dup STRUCT binding replaces wholesale
      (22L, (null, Seq(("x", L(1))))),        // unknown deeper keys prune
      (23L, (null, Seq((null, L(5))))),       // valid over explicit null wins
      (24L, (null, null)),                    // explicit null over valid wins
      (25L, ("g", Seq((null, L(7))))),        // field order immaterial
      (26L, (null, null)),                    // [] element poisons the cell
      (27L, (null, null)),                    // {} where array: field null
      (28L, ("h", Seq(("z", L(9))))))         // clean row after the pathologies
    assertEverySplit(schema, input, want) { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) null
        else {
          val s = r.getStruct(1, 2)
          val addrs =
            if (s.isNullAt(1)) null
            else {
              val ad = s.getArray(1)
              (0 until ad.numElements()).map { j =>
                if (ad.isNullAt(j)) null
                else { val st = ad.getStruct(j, 2); (str(st, 0), lng(st, 1)) }
              }
            }
          (str(s, 0), addrs)
        })
    }
  }

  test("every split point of a THREE-LEVEL struct input yields identical batches") {
    // round 17 (event.context.device.id shape): inner-struct children may
    // themselves hold STRUCT<atomic…> fields, and the whole two-level
    // discipline repeats one more level down. Pinned against
    // spark.read.json by the round-17 probe (16 shapes): dup grand
    // bindings replace wholesale with failed-dup-never-overwrites,
    // per-field partials, {} reads present-all-null, containers under
    // atomic great fields are failed bindings, raw-text capture for
    // string great-fields.
    val schema = StructType.fromDDL(
      "id LONG, t STRUCT<a: STRUCT<b: STRUCT<x: LONG, y: STRING>, c: LONG>, d: STRING>")
    val input = Seq(
      """{"id": 1, "t": {"a": {"b": {"x": 1, "y": "u"}, "c": 2}, "d": "v"}}""",
      """{"id": 2, "t": {"a": {"b": {}, "c": 2}}}""",
      """{"id": 3, "t": {"a": {"b": null, "c": 2}}}""",
      """{"id": 4, "t": {"a": {"c": 2}}}""",
      """{"id": 5, "t": {"a": {"b": 7, "c": 2}}}""",
      """{"id": 6, "t": {"a": {"b": [1], "c": 2}}}""",
      """{"id": 7, "t": {"a": {"b": {"x": "bad", "y": "w"}}}}""",
      """{"id": 8, "t": {"a": {"b": {"zz": 1, "x": 3}}}}""",
      """{"id": 9, "t": {"a": {"b": {"x": 1}, "b": {"y": "q"}}}}""",
      """{"id": 10, "t": {"a": {"b": {"x": 1}, "b": 5}}}""",
      """{"id": 11, "t": {"a": {"b": {"x": 1}}, "a": {"c": 3}}}""",
      """{"id": 12, "t": {"a": {"b": {"y": {"k": 1}}}}}""",
      """{"id": 13, "t": {"a": {"b": {"x": [1], "y": "r"}}}}""",
      """{"id": 14, "t": {"a": {"b": {"x": 1, "x": 2}}}}""",
      """{"id": 15, "t": {"a": {"b": {"x": 1, "x": "bad"}}}}""",
      """{"id": 16, "t": {"a": {"b": {"x": {}, "y": "s"}}}}""",
      """{"id": 17, "t": {"a": {"b": {"x": 4}, "b": null}}}""",
      """{"id": 18, "t": {"a": {"b": null, "b": {"x": 6}}}}""",
      """{"id": 19, "t": {"a": {"b": {"x": 9, "y": "z"}, "c": 4}, "d": "e"}}""").mkString("\n")
    val want = Seq[(Long, Any)](
      (1L, (((L(1), "u"), L(2)), "v")),
      (2L, (((null, null), L(2)), null)),     // {} = present, all-null greats
      (3L, ((null, L(2)), null)),
      (4L, ((null, L(2)), null)),
      (5L, ((null, L(2)), null)),             // scalar where struct: b null
      (6L, ((null, L(2)), null)),             // array where struct: b null
      (7L, (((null, "w"), null), null)),      // per-field partials
      (8L, (((L(3), null), null), null)),     // unknown deep keys prune
      (9L, (((null, "q"), null), null)),      // dup grand binding replaces wholesale
      (10L, (((L(1), null), null), null)),    // failed dup never overwrites
      (11L, ((null, L(3)), null)),            // dup MID binding replaces wholesale
      (12L, (((null, """{"k": 1}"""), null), null)), // raw capture, string great
      (13L, (((null, "r"), null), null)),     // container under atomic great
      (14L, (((L(2), null), null), null)),    // dup great key: last-wins
      (15L, (((L(1), null), null), null)),    // failed dup great never overwrites
      (16L, (((null, "s"), null), null)),     // {} under atomic great: field null
      (17L, ((null, null), null)),            // explicit null over valid wins
      (18L, (((L(6), null), null), null)),    // valid over explicit null wins
      (19L, (((L(9), "z"), L(4)), "e")))      // clean row after the pathologies
    assertEverySplit(schema, input, want) { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) null
        else {
          val t = r.getStruct(1, 2)
          if (t.isNullAt(0)) (null, str(t, 1))
          else {
            val a = t.getStruct(0, 2)
            val bv =
              if (a.isNullAt(0)) null else { val b = a.getStruct(0, 2); (lng(b, 0), str(b, 1)) }
            ((bv, lng(a, 1)), str(t, 1))
          }
        })
    }
  }

  test("{} under a GREAT-GRANDCHILD lane is a failed binding (DROPMALFORMED parity)") {
    val schema = StructType.fromDDL(
      "id LONG, t STRUCT<a: STRUCT<b: STRUCT<x: LONG>>>")
    val input =
      """{"id": 1, "t": {"a": {"b": {"x": 5}}}}""" + "\n" +
      """{"id": 2, "t": {"a": {"b": {"x": {}}}}}""" + "\n" +
      """{"id": 3, "t": {"a": {"b": {"x": null}}}}"""
    val kept = rowsOf(schema, Seq(input), dropDiscarded = true).map(_.getLong(0))
    assert(kept == Seq(1L, 3L))
  }

  test("{} under a GRANDCHILD lane is a failed binding (DROPMALFORMED parity)") {
    // an empty object bound to an atomic grandchild marks the row
    // malformed, like non-empty objects and arrays do
    val schema = StructType.fromDDL("id LONG, n STRUCT<g: STRUCT<x: LONG, y: STRING>>")
    val input =
      """{"id": 1, "n": {"g": {"x": 5, "y": "a"}}}""" + "\n" +
      """{"id": 2, "n": {"g": {"x": {}, "y": "b"}}}""" + "\n" +
      """{"id": 3, "n": {"g": {"x": {"k": 1}, "y": "c"}}}""" + "\n" +
      """{"id": 4, "n": {"g": {"x": [], "y": "d"}}}""" + "\n" +
      """{"id": 5, "n": {"g": {}}}""" + "\n" +
      """{"id": 6, "n": {"g": {"x": null}}}"""
    val kept = rowsOf(schema, Seq(input), dropDiscarded = true).map(_.getLong(0))
    assert(kept == Seq(1L, 5L, 6L)) // spark DROPMALFORMED keeps exactly these
  }

  test("every split point of a STRUCT<…, MAP> input yields identical batches") {
    // round 17 (payload.headers shape). The pathology matrix is pinned
    // against spark.read.json by the round-17 probe (20 shapes): null
    // values kept; conversion-failure/container/object values poison the
    // cell; scalar/array where the map was expected nulls the FIELD
    // only; duplicate keys BOTH append; dup bindings last-wins with
    // failed-dup-never-overwrites; container values under a STRING-valued
    // map capture as verbatim source text (file-based spark parity).
    val schema = StructType.fromDDL(
      "id LONG, p STRUCT<name: STRING, hdrs: MAP<STRING, LONG>, lbls: MAP<STRING, STRING>>")
    val input = Seq(
      """{"id": 1, "p": {"name": "a", "hdrs": {"x": 1, "y": 2}}}""",
      """{"id": 2, "p": {"name": "b", "hdrs": {}}}""",
      """{"id": 3, "p": {"name": "c", "hdrs": null}}""",
      """{"id": 4, "p": {"name": "d"}}""",
      """{"id": 5, "p": {"hdrs": {"x": null, "y": 2}}}""",
      """{"id": 6, "p": {"hdrs": {"x": 1, "y": "bad"}}}""",
      """{"id": 7, "p": {"hdrs": {"x": 1, "y": [2]}}}""",
      """{"id": 8, "p": {"hdrs": {"x": {"k": 1}}}}""",
      """{"id": 9, "p": {"name": "e", "hdrs": 5}}""",
      """{"id": 10, "p": {"name": "f", "hdrs": [1]}}""",
      """{"id": 11, "p": {"hdrs": {"x": 1, "x": 2}}}""",
      """{"id": 12, "p": {"hdrs": {"x": 1}, "hdrs": {"y": 2}}}""",
      """{"id": 13, "p": {"hdrs": {"x": 1}, "hdrs": 5}}""",
      """{"id": 14, "p": {"hdrs": null, "hdrs": {"y": 9}}}""",
      """{"id": 15, "p": {"hdrs": {"y": 8}, "hdrs": null}}""",
      """{"id": 16, "p": {"lbls": {"a": {"k": 1}, "b": "t"}}}""",
      """{"id": 17, "p": {"lbls": {"a": null, "b": "u"}}}""",
      """{"id": 18, "p": {"name": "q", "hdrs": {"x": 1}}, "p": {"hdrs": {"y": 2}}}""",
      """{"id": 19, "p": {"hdrs": {"z": 3}, "name": "g"}}""",
      """{"id": 20, "p": {"name": "h", "hdrs": {"w": 4}, "lbls": {"c": "v"}}}""").mkString("\n")
    val want = Seq[(Long, Any)](
      (1L, ("a", Seq("x" -> 1L, "y" -> 2L), null)),
      (2L, ("b", Seq.empty, null)),
      (3L, ("c", null, null)),
      (4L, ("d", null, null)),
      (5L, (null, Seq("x" -> null, "y" -> 2L), null)),  // null value kept
      (6L, (null, null, null)),                  // conv-failure value poisons
      (7L, (null, null, null)),                  // container value poisons
      (8L, (null, null, null)),                  // object value poisons
      (9L, ("e", null, null)),                   // scalar where map: field null
      (10L, ("f", null, null)),                  // array where map: field null
      (11L, (null, Seq("x" -> 1L, "x" -> 2L), null)), // dup keys BOTH append
      (12L, (null, Seq("y" -> 2L), null)),       // dup binding: last-wins
      (13L, (null, Seq("x" -> 1L), null)),       // failed dup never overwrites
      (14L, (null, Seq("y" -> 9L), null)),       // valid over explicit null wins
      (15L, (null, null, null)),                 // explicit null over valid wins
      (16L, (null, null, Seq("a" -> """{"k": 1}""", "b" -> "t"))), // raw capture
      (17L, (null, null, Seq("a" -> null, "b" -> "u"))),
      (18L, (null, Seq("y" -> 2L), null)),       // dup STRUCT binding replaces
      (19L, ("g", Seq("z" -> 3L), null)),        // field order immaterial
      (20L, ("h", Seq("w" -> 4L), Seq("c" -> "v")))) // clean row after
    assertEverySplit(schema, input, want) { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) null
        else {
          val s = r.getStruct(1, 3)
          (str(s, 0), mapOf(s, 1, strValues = false), mapOf(s, 2, strValues = true))
        })
    }
  }

  test("a filter-rejected row rewinds its MAP struct-child writes") {
    import org.apache.spark.sql.sources.IsNotNull
    val schema = StructType.fromDDL(
      "id LONG, k STRING, p STRUCT<hdrs: MAP<STRING, LONG>>")
    val rows = rowsOf(schema, Seq(
      """{"id": 1, "p": {"hdrs": {"dead": 111, "beef": 222}}}""" + "\n" +
      """{"id": 2, "k": "x", "p": {"hdrs": {"live": 5}}}""" + "\n"),
      filters = Array(IsNotNull("k")))
    assert(rows.length == 1)
    assert(mapOf(rows(0).getStruct(2, 1), 0, strValues = false) == Seq("live" -> 5L))
  }

  test("a filter-rejected row rewinds its ARRAY<STRUCT> struct-child writes") {
    import org.apache.spark.sql.sources.IsNotNull
    val schema = StructType.fromDDL(
      "id LONG, k STRING, u STRUCT<addresses: ARRAY<STRUCT<city: STRING, zip: LONG>>>")
    val rows = rowsOf(schema, Seq(
      """{"id": 1, "u": {"addresses": [{"city": "dead", "zip": 111}, {"city": "beef", "zip": 222}]}}""" + "\n" +
      """{"id": 2, "k": "x", "u": {"addresses": [{"city": "live", "zip": 5}]}}""" + "\n"),
      filters = Array(IsNotNull("k")))
    assert(rows.length == 1)
    val ad = rows(0).getStruct(2, 1).getArray(0)
    assert(ad.numElements() == 1)
    assert(ad.getStruct(0, 2).getUTF8String(0).toString == "live")
    assert(ad.getStruct(0, 2).getLong(1) == 5L)
  }

  test("a filter-rejected row rewinds its struct-child array writes") {
    import org.apache.spark.sql.sources.IsNotNull
    val schema = StructType.fromDDL(
      "id LONG, k STRING, s STRUCT<tags: ARRAY<LONG>>")
    val rows = rowsOf(schema, Seq(
      """{"id": 1, "s": {"tags": [111, 222]}}""" + "\n" +
      """{"id": 2, "k": "x", "s": {"tags": [5]}}""" + "\n"),
      filters = Array(IsNotNull("k")))
    assert(rows.length == 1)
    assert(longs(rows(0).getStruct(2, 1), 0) == Seq(5L),
      "rejected row's child-array elements leaked into the kept row")
  }

  test("takeBatch mid-struct-child-array carries the open run over") {
    val schema = StructType.fromDDL("id LONG, s STRUCT<a: LONG, tags: ARRAY<STRING>>")
    // chunk 1 ends INSIDE row 2's child array: two elements parsed
    val rows = rowsOf(schema, Seq(
      """{"id": 1, "s": {"tags": ["x"], "a": 1}}""" + "\n" +
      """{"id": 2, "s": {"a": 2, "tags": ["p", "q", """,
      """"r"]}}"""))
    assert(rows.length == 2)
    assert(strs(rows(0).getStruct(1, 2), 1) == Seq("x"))
    assert(rows(1).getLong(0) == 2L)
    assert(rows(1).getStruct(1, 2).getLong(0) == 2L)
    assert(strs(rows(1).getStruct(1, 2), 1) == Seq("p", "q", "r"))
  }

  test("takeBatch after a CLOSED struct-child array cell of an in-flight row carries it") {
    val schema = StructType.fromDDL("id LONG, s STRUCT<tags: ARRAY<DOUBLE>, a: LONG>")
    val rows = rowsOf(schema, Seq(
      """{"id": 1, "s": {"tags": [0.5], "a": 1}}""" + "\n" +
      """{"id": 2, "s": {"tags": [1.5, 2.5], """,
      """"a": 2}}"""))
    assert(rows.length == 2)
    assert(rows(1).getStruct(1, 2).getLong(1) == 2L)
    val ad = rows(1).getStruct(1, 2).getArray(0)
    assert(ad.numElements() == 2 && ad.getDouble(0) == 1.5 && ad.getDouble(1) == 2.5)
  }

  test("saturation=false: duplicate array bindings replace (last-wins)") {
    val schema = StructType.fromDDL("id LONG, a ARRAY<LONG>")
    val rows = rowsOf(schema, Seq(
      """{"id": 1, "a": [1], "a": [8, 9]}""" + "\n" +
      """{"id": 2, "a": [4], "a": null}""" + "\n" +
      """{"id": 3, "a": null, "a": [6]}""" + "\n"), saturate = false)
    assert(rows.length == 3)
    assert(longs(rows(0), 1) == Seq(8L, 9L))
    assert(rows(1).isNullAt(1), "last-wins null must shadow the array")
    assert(longs(rows(2), 1) == Seq(6L), "last-wins array must shadow the explicit null")

    // ARRAY<STRUCT> twin: a duplicate binding replaces the whole array
    val schema2 = StructType.fromDDL("id LONG, xs ARRAY<STRUCT<x: LONG>>")
    val rows2 = rowsOf(schema2,
      Seq("""{"id": 1, "xs": [{"x": 1}], "xs": [{"x": 2}, {"x": 3}]}""" + "\n"),
      saturate = false)
    val xs = rows2(0).getArray(1)
    assert(xs.numElements() == 2 && xs.getStruct(0, 1).getLong(0) == 2L &&
      xs.getStruct(1, 1).getLong(0) == 3L, "dup ARRAY<STRUCT> binding must be last-wins")
  }

  test("takeBatch mid-array carries the open element run over") {
    val schema = StructType.fromDDL("id LONG, a ARRAY<STRING>")
    // chunk 1 ends INSIDE row 2's array: two elements already parsed
    val rows = rowsOf(schema, Seq(
      """{"id": 1, "a": ["x"]}""" + "\n" + """{"id": 2, "a": ["p", "q", """,
      """"r"]}"""))
    assert(rows.length == 2)
    assert(strs(rows(0), 1) == Seq("x"))
    assert(rows(1).getLong(0) == 2L)
    assert(strs(rows(1), 1) == Seq("p", "q", "r"))
  }

  test("takeBatch after a CLOSED array cell of an in-flight row carries it over") {
    val schema = StructType.fromDDL("a ARRAY<DOUBLE>, id LONG")
    // chunk 1 ends AFTER row 2's array closed but before the row ends
    val rows = rowsOf(schema, Seq(
      """{"a": [0.5], "id": 1}""" + "\n" + """{"a": [1.5, 2.5], """,
      """"id": 2}"""))
    assert(rows.length == 2)
    assert(rows(1).getLong(1) == 2L)
    val ad = rows(1).getArray(0)
    assert(ad.numElements() == 2 && ad.getDouble(0) == 1.5 && ad.getDouble(1) == 2.5)
  }

  test("a filter-rejected row rewinds its element writes") {
    import org.apache.spark.sql.sources.IsNotNull
    val schema = StructType.fromDDL("id LONG, s STRING, a ARRAY<LONG>")
    // row 1 is rejected at finishRow (s missing) AFTER its array parsed
    // two elements; the kept row's array must not shift
    val rows = rowsOf(schema, Seq(
      """{"id": 1, "a": [111, 222]}""" + "\n" +
      """{"id": 2, "s": "k", "a": [5]}""" + "\n"), filters = Array(IsNotNull("s")))
    assert(rows.length == 1)
    assert(longs(rows(0), 2) == Seq(5L),
      "rejected row's elements leaked into the kept row's array")
  }

  test("every split point of a map-lane input yields identical batches") {
    val schema = StructType.fromDDL("id LONG, m MAP<STRING, LONG>")
    // every shape a one-level map column can take: present, null values,
    // empty, null, missing, scalar/array mismatch, container values
    // (poison), conversion failure (poison), duplicate keys (both kept)
    val input =
      """{"id": 1, "m": {"a": 1, "b": 2}}""" + "\n" +
      """{"id": 2, "m": {"a": null, "b": 3}}""" + "\n" +
      """{"id": 3, "m": {}}""" + "\n" +
      """{"id": 4, "m": null}""" + "\n" +
      """{"id": 5}""" + "\n" +
      """{"id": 6, "m": 42}""" + "\n" +
      """{"id": 7, "m": [1, 2]}""" + "\n" +
      """{"id": 8, "m": {"a": {"deep": 1}, "b": 4}}""" + "\n" +
      """{"id": 9, "m": {"a": [1], "b": 5}}""" + "\n" +
      """{"id": 10, "m": {"a": "noparse"}}""" + "\n" +
      """{"id": 11, "m": {"a": 1, "b": 9, "a": 2}}""" + "\n" +
      """{"id": 12, "m": {"a": null, "a": 7}}""" + "\n" +
      """{"id": 13, "m": {"x": 12, "y": 13}}"""
    val want = Seq(
      (1L, Seq("a" -> 1L, "b" -> 2L)),
      (2L, Seq("a" -> null, "b" -> 3L)),
      (3L, Seq.empty),
      (4L, null),
      (5L, null),
      (6L, null),                    // scalar under a map column
      (7L, null),                    // array under a map column
      (8L, null),                    // container VALUE poisons the map
      (9L, null),
      (10L, null),                   // conversion failure poisons
      // duplicate keys BOTH append (spark.read.json keeps duplicates in
      // its internal map data; element_at returns the first)
      (11L, Seq("a" -> 1L, "b" -> 9L, "a" -> 2L)),
      (12L, Seq("a" -> null, "a" -> 7L)),
      (13L, Seq("x" -> 12L, "y" -> 13L))) // ...and later rows unaffected
    assertEverySplit(schema, input, want)(r =>
      (r.getLong(0), mapOf(r, 1, strValues = false)))
  }

  test("takeBatch mid-map carries the open entry run over") {
    val schema = StructType.fromDDL("id LONG, m MAP<STRING, STRING>")
    // chunk 1 ends INSIDE row 2's map: two entries already parsed
    val rows = rowsOf(schema, Seq(
      """{"id": 1, "m": {"k": "x"}}""" + "\n" + """{"id": 2, "m": {"p": "1", "q": "2", """,
      """"r": "3"}}"""))
    assert(rows.length == 2)
    assert(mapOf(rows(0), 1, strValues = true) == Seq("k" -> "x"))
    assert(mapOf(rows(1), 1, strValues = true) == Seq("p" -> "1", "q" -> "2", "r" -> "3"))
  }

  test("unseen map/array columns rebase their element offset at takeBatch") {
    val schema = StructType.fromDDL("id LONG, m MAP<STRING, LONG>, a ARRAY<LONG>")
    // a clean row boundary between the chunks: nothing in flight
    val rows = rowsOf(schema, Seq(
      """{"id": 1, "m": {"x": 1, "y": 2}, "a": [7, 8, 9]}""" + "\n",
      """{"id": 2, "m": {"z": 3}, "a": [4]}""" + "\n"))
    assert(rows.length == 2)
    assert(mapOf(rows(1), 1, strValues = false) == Seq("z" -> 3L))
    assert(longs(rows(1), 2) == Seq(4L))
  }

  test("a poisoned run split mid-element leaves no stale slots for later rows") {
    val schema = StructType.fromDDL("id LONG, a ARRAY<LONG>")
    val input =
      """{"id": 1, "a": [[9], null, 7]}""" + "\n" +
      """{"id": 2, "a": [5, 6]}"""
    assertEverySplit(schema, input, Seq((1L, null), (2L, Seq(5L, 6L))))(r =>
      (r.getLong(0), longs(r, 1)))
  }

  test("saturation=false: a duplicate key's mismatch NEVER overwrites (spark parity)") {
    // round 14, probed against spark.read.json: a FAILED binding
    // (conversion failure / type mismatch) never overwrites an earlier
    // value — {"x": 7, "x": true} keeps 7; explicit null then a failed
    // binding stays null; a failed binding then a valid one takes the
    // valid value. (The r13 version of this pin asserted the failed
    // binding nulls the cell — both graft paths agreed with each other
    // but diverged from spark.)
    val schema = StructType.fromDDL("id LONG, x LONG")
    val plate = new ColumnarPlate(schema, Array.empty, saturate = false)
    val p = new JsonParser[Long](plate, JsonParser.ValueStream)
    raise(p.absorb(
      """{"id": 1, "x": 7, "x": true}""" + "\n" +
      """{"id": 2, "x": null, "x": false}""" + "\n" +
      """{"id": 3, "x": 5}""" + "\n" +
      """{"id": 4, "x": true}""" + "\n" +
      """{"id": 5, "x": true, "x": 8}""" + "\n" +
      """{"id": 6, "x": 5, "x": "xx", "x": 9}""" + "\n"))
    raise(p.finish())
    val b = plate.takeBatch()
    assert(b.numRows == 6)
    assert(b.column(1).getLong(0) == 7L, "a failed dup binding must not clobber 7")
    assert(b.column(1).isNullAt(1), "explicit null survives a later failed binding")
    assert(b.column(1).getLong(2) == 5L)
    assert(b.column(1).isNullAt(3), "a lone failed binding reads null")
    assert(b.column(1).getLong(4) == 8L, "a valid binding after a failed one wins")
    assert(b.column(1).getLong(5) == 9L)
  }

  test("takeBatch mid-struct carries the partial struct's children over") {
    val schema = StructType.fromDDL("id LONG, n STRUCT<x: LONG, y: STRING>")
    // chunk 1 ends INSIDE row 2's struct: x already parsed, y pending
    val rows = rowsOf(schema, Seq(
      """{"id": 1, "n": {"x": 5, "y": "a"}}""" + "\n" + """{"id": 2, "n": {"x": 6, """,
      """"y": "late"}}"""))
    assert(rows.length == 2)
    assert(rows(1).getLong(0) == 2L)
    assert(!rows(1).isNullAt(1))
    assert(rows(1).getStruct(1, 2).getLong(0) == 6L)
    assert(rows(1).getStruct(1, 2).getUTF8String(1).toString == "late")
  }

  test("struct-child filters drop at the plate (decided at finishRow over final values)") {
    import org.apache.spark.sql.sources.{GreaterThan, IsNotNull}
    val schema = StructType.fromDDL("id LONG, n STRUCT<x: LONG, y: STRING>")
    // plate-level drop is observable directly: residual filtering hasn't
    // run, so any pushed row survived the PLATE's check
    val rows = rowsOf(schema, Seq(
      """{"id": 1, "n": {"x": 5, "y": "drop"}}""" + "\n" +
      """{"id": 2, "n": {"x": 50, "y": "keep"}}""" + "\n" +
      """{"id": 3, "n": {"x": 3}, "zz": "tail never parsed"}""" + "\n" +
      """{"id": 4}""" + "\n" + // missing struct: n.x is null, dropped
      """{"id": 5, "n": {"x": 99, "y": "keep2"}}""" + "\n" +
      // DUPLICATE child keys are last-wins: the filter sees the FINAL
      // value, never the first binding's (x16 fuzz regression)
      """{"id": 6, "n": {"x": 0, "x": 44, "y": "dupkeep"}}""" + "\n" +
      """{"id": 7, "n": {"x": 44, "x": 0, "y": "dupdrop"}}""" + "\n"),
      filters = Array(GreaterThan("n.x", java.lang.Long.valueOf(10L))))
    assert(rows.map(_.getLong(0)) == Seq(2L, 5L, 6L))

    // anchored IsNotNull does NOT early-drop (definitelyFails has no
    // IsNotNull case — unknown filters never drop at the plate; Spark's
    // residual handles it)
    val rows2 = rowsOf(schema, Seq(
      """{"id": 1, "n": {"x": null, "y": "residual-drops-me"}}""" + "\n" +
      """{"id": 2, "n": {"x": 1, "y": "keep"}}""" + "\n"),
      filters = Array(IsNotNull("n.x")))
    assert(rows2.map(_.getLong(0)) == Seq(1L, 2L))
  }

  test("duplicate bindings rebind filters: only the row's FINAL values decide") {
    import org.apache.spark.sql.sources.{GreaterThan, LessThan}
    // round 14: a pushed filter must never change what an unpushed read
    // returns. A duplicate STRUCT key (or scalar key) rebinds last-wins,
    // so a definitive failure on an EARLIER binding must not drop a row
    // whose FINAL value passes. saturate=false so the rebind is always
    // read (with saturation on, a rebind after the row saturates is
    // never read — first-wins — and the filter agrees with that value).
    val schema = StructType.fromDDL("id LONG, s STRING, n STRUCT<x: LONG, y: STRING>")
    val rows = rowsOf(schema, Seq(
      """{"id": 1, "n": {"x": 0}, "n": {"x": 44, "y": "rebind-save"}, "s": "a"}""" + "\n" +
      """{"id": 2, "n": {"x": 44}, "n": {"x": 0}, "s": "b"}""" + "\n" +
      """{"id": 3, "n": {"x": 7}, "s": "c"}""" + "\n" +
      """{"id": 4, "n": {"x": 70}, "s": "d"}""" + "\n"),
      filters = Array(GreaterThan("n.x", java.lang.Long.valueOf(10L))), saturate = false)
    assert(rows.map(_.getLong(0)) == Seq(1L, 4L),
      "the rebind-saved row must survive; the rebind-doomed row must drop")
    assert(rows(0).getStruct(2, 2).getLong(0) == 44L)

    // same for a TOP-LEVEL scalar duplicate, on the flat plate
    val flat = StructType.fromDDL("id LONG, s STRING")
    val plate2 = new ColumnarPlate(flat,
      Array(LessThan("id", java.lang.Long.valueOf(100L))), saturate = false)
    val p2 = new JsonParser[Long](plate2, JsonParser.ValueStream)
    raise(p2.absorb(
      """{"id": 500, "id": 50, "s": "rebind-save"}""" + "\n" +
      """{"id": 50, "id": 500, "s": "rebind-doom"}""" + "\n"))
    raise(p2.finish())
    val b2 = plate2.takeBatch()
    assert(b2.numRows == 1 && b2.column(0).getLong(0) == 50L)
  }

  test("explicit null bindings satisfy IsNull and fail IsNotNull at the plate") {
    import org.apache.spark.sql.sources.{IsNull, IsNotNull}
    val schema = StructType.fromDDL("id LONG, s STRING")
    // value-based null demands (round 14): {"s": null} is an explicit
    // null — IsNull keeps it, IsNotNull drops it; a MISSING s also reads
    // null (row-path passesRowEnd parity)
    val input =
      """{"id": 1, "s": null}""" + "\n" +
      """{"id": 2, "s": "present"}""" + "\n" +
      """{"id": 3}""" + "\n"
    val plate = new ColumnarPlate(schema, Array(IsNull("s")))
    val p = new JsonParser[Long](plate, JsonParser.ValueStream)
    raise(p.absorb(input)); raise(p.finish())
    val b = plate.takeBatch()
    assert((0 until b.numRows).map(b.column(0).getLong(_)) == Seq(1L, 3L))

    val plate2 = new ColumnarPlate(schema, Array(IsNotNull("s")))
    val p2 = new JsonParser[Long](plate2, JsonParser.ValueStream)
    raise(p2.absorb(input)); raise(p2.finish())
    val b2 = plate2.takeBatch()
    assert((0 until b2.numRows).map(b2.column(0).getLong(_)) == Seq(2L))
  }

  // putX value writes never reset a vector's validity bit, so a slot
  // reused after an abandoned row must have its null bits scrubbed —
  // minimal cases found by JsonSourceFuzzSpec (stale nulls leaked into
  // the NEXT row's present values)
  test("a filter-abandoned row's explicit nulls do not leak into the next row") {
    import org.apache.spark.sql.sources.LessThan
    val schema = StructType.fromDDL("id LONG, d DOUBLE, b BOOLEAN")
    val plate = new ColumnarPlate(schema,
      Array(LessThan("id", java.lang.Long.valueOf(100L))))
    val p = new JsonParser[Long](plate, JsonParser.ValueStream)
    // row 1: d null first, then the filter column fails LAST -> abandoned
    raise(p.absorb(
      """{"d": null, "b": null, "id": 9223372036854775806}""" + "\n" +
      """{"d": 7.5, "id": 68, "b": true}""" + "\n"))
    raise(p.finish())
    val b = plate.takeBatch()
    assert(b.numRows == 1)
    assert(!b.column(1).isNullAt(0) && b.column(1).getDouble(0) == 7.5,
      "row 1's null bit leaked into row 2's d")
    assert(!b.column(2).isNullAt(0) && b.column(2).getBoolean(0))
  }

  test("a null-demand-rejected row's explicit nulls do not leak into the next row") {
    import org.apache.spark.sql.sources.IsNotNull
    val schema = StructType.fromDDL("id LONG, s STRING, d DOUBLE")
    val plate = new ColumnarPlate(schema, Array(IsNotNull("s")))
    val p = new JsonParser[Long](plate, JsonParser.ValueStream)
    // row 1: s missing -> rejected at finishRow, after d stamped null
    raise(p.absorb(
      """{"id": 1, "d": null}""" + "\n" +
      """{"d": 0.25, "id": 2, "s": "za"}""" + "\n"))
    raise(p.finish())
    val b = plate.takeBatch()
    assert(b.numRows == 1)
    assert(!b.column(2).isNullAt(0) && b.column(2).getDouble(0) == 0.25,
      "rejected row's null bit leaked into the kept row's d")
    assert(b.column(1).getUTF8String(0).toString == "za")
  }
}
