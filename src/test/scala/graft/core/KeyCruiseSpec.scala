package graft.core

import graft.core.json.JsonParser
import graft.spark.{ColumnarPlate, PathVariantPlate, RowPlate}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.types.variant.Variant
import org.apache.spark.unsafe.types.VariantVal
import org.scalatest.funsuite.AnyFunSuite

/** Mison-style key cruise ([[KeyProbe]]): row-depth keys the plate rules
  * out are consumed `"key": value` with no plate notification. These specs
  * pin the semantics the optimization must not change: identical results
  * at every chunk split, escaped/UTF-8/long keys falling back to the full
  * decode path, and wanted keys always delivered — for each plate that
  * cruises ([[KeyCruise]] is their one probe).
  */
class KeyCruiseSpec extends AnyFunSuite {

  private val plates = Seq("RowPlate", "ColumnarPlate", "PathVariantPlate")

  /** Parse `input` through `plateName` with the cruise on or off. Cells
    * keep their typed values, except variants, which render as JSON; a
    * PathVariantPlate captures one path per schema column, plus a whole-row
    * '$' capture (which turns its cruise off) when `cruise` is false.
    */
  private def parse(input: String, schema: StructType, chunk: Int,
      plateName: String = "RowPlate", cruise: Boolean = true): Seq[Seq[Any]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    def render(r: InternalRow): Unit = out += (0 until schema.length).map(i =>
      if (r.isNullAt(i)) null
      else r.get(i, schema(i).dataType) match {
        case v: VariantVal => new Variant(v.getValue, v.getMetadata).toJson(java.time.ZoneOffset.UTC)
        case v => v
      })
    val plate = plateName match {
      case "RowPlate" => new RowPlate(schema, Array.empty, render, saturate = cruise)
      case "ColumnarPlate" => new ColumnarPlate(schema, Array.empty, saturate = cruise)
      case "PathVariantPlate" =>
        val paths = schema.fieldNames.map(Array(_)) ++
          (if (cruise) Nil else Seq(Array.empty[String]))
        new PathVariantPlate(paths, render)
    }
    assert((plate.keyCruise != null) == cruise, plateName)
    val p = new JsonParser(plate, JsonParser.ValueStream)
    val bytes = input.getBytes("UTF-8")
    var off = 0
    while (off < bytes.length) {
      val n = math.min(chunk, bytes.length - off)
      p.absorb(bytes, off, n) match {
        case ParseResult.Failure(e) => throw e
        case _ => ()
      }
      off += n
    }
    p.finish() match { case ParseResult.Failure(e) => throw e; case _ => () }
    plate match {
      case c: ColumnarPlate => c.takeBatch().rowIterator().forEachRemaining(r => render(r))
      case _ => ()
    }
    out.toSeq
  }

  /** Expected rows as [[parse]] returns them from `plateName`: the typed
    * values, or for PathVariantPlate their variant JSON, which for the
    * LONG cells these cases give it is the value's text.
    */
  private def expected(plateName: String, rows: Seq[Seq[Any]]): Seq[Seq[Any]] =
    if (plateName != "PathVariantPlate") rows
    else rows.map(_.map(v => if (v == null) null else v.toString))

  private val schema = StructType.fromDDL("bar LONG, a_very_long_column_name LONG")

  test("unwanted keys cruise at every chunk split; wanted keys bind") {
    val input =
      """{"junk": {"x": [1, "two"]}, "bar": 7, "noise": "zz", "a_very_long_column_name": 1}
        |{"bar": 8, "skipme": [[[]]], "other": 1.5e10}
        |{"pre": "a", "mid": true, "a_very_long_column_name": 2}
        |""".stripMargin
    val want = Seq(Seq(7L, 1L), Seq(8L, null), Seq(null, 2L))
    for (plate <- plates; chunk <- 1 to input.length)
      assert(parse(input, schema, chunk, plate) == expected(plate, want), s"$plate chunk=$chunk")
  }

  test("escaped and UTF-8 keys fall back to the decode path correctly") {
    // "bar" decodes to "bar" (wanted); "café" + raw UTF-8 keys
    // are unwanted but must not derail the parse
    val input =
      """{"bar": 11, "café": 1}
        |{"bar": 12, "naïve": {"x": 1}}
        |""".stripMargin
    val want = Seq(Seq(11L, null), Seq(12L, null))
    for (plate <- plates; chunk <- Seq(1, 2, 3, 5, 8, input.length))
      assert(parse(input, schema, chunk, plate) == expected(plate, want), s"$plate chunk=$chunk")
  }

  test("cruise is disabled when saturate=false (strict validation path)") {
    // parse asserts each plate's cruise is off (a PathVariantPlate turns it
    // off for a whole-row capture)
    for (plate <- plates)
      assert(parse("""{"junk": 1, "bar": 3}""", StructType.fromDDL("bar LONG"), 4,
        plate, cruise = false) == expected(plate, Seq(Seq(3L))), plate)
  }

  test("cruise applies to UnwrapArray row objects too (depth 1)") {
    val input = """[{"junk": [1, 2], "bar": 5}, {"bar": 6, "x": "y"}]"""
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    val bytes = input.getBytes("UTF-8")
    for (chunk <- Seq(1, 3, input.length)) {
      out.clear()
      val q = new JsonParser(new RowPlate(StructType.fromDDL("bar LONG"), Array.empty,
        r => out += r.getLong(0)), JsonParser.UnwrapArray)
      var off = 0
      while (off < bytes.length) {
        val n = math.min(chunk, bytes.length - off)
        q.absorb(bytes, off, n) match {
          case ParseResult.Failure(e) => throw e
          case _ => ()
        }
        off += n
      }
      q.finish() match { case ParseResult.Failure(e) => throw e; case _ => () }
      assert(out.toSeq == Seq(5L, 6L), s"chunk=$chunk")
    }
  }

  test("probe rules: schema columns and filter heads are never cruisable") {
    import org.apache.spark.sql.sources.GreaterThan
    val probe = new RowPlate(
      StructType.fromDDL("bar LONG, duh STRUCT<a: LONG>"),
      Array(GreaterThan("duh.a", 5L)), _ => ()).keyCruise
    assert(!probe.cruisableKey("bar".getBytes, 0, 3))
    assert(!probe.cruisableKey("duh".getBytes, 0, 3))
    assert(probe.cruisableKey("qux".getBytes, 0, 3))
    // length-discriminated: a prefix of a wanted key is still cruisable
    assert(probe.cruisableKey("ba".getBytes, 0, 2))
    assert(probe.cruisableKey("barr".getBytes, 0, 4))
  }

  // ---- probe ORDER cache adversaries (the by-arrival-position verdict
  // cache must self-verify against the bytes, never trust the position);
  // each runs on every plate with the cruise on and off, so with it off
  // every key reaches the plate's key→column resolver instead

  private def everyPlate(input: String, sch: StructType, chunks: Seq[Int],
      want: Seq[Seq[Any]]): Unit =
    for (plate <- plates; cruise <- Seq(true, false); chunk <- chunks)
      assert(parse(input, sch, chunk, plate, cruise) == expected(plate, want),
        s"$plate cruise=$cruise chunk=$chunk")

  test("order cache: changing key order across rows never flips a verdict") {
    val sch = StructType.fromDDL("bar LONG, baz LONG")
    // row 1 teaches position 0 = junk(cruise), 1 = bar, 2 = baz;
    // row 2 swaps everything; row 3 puts a SAME-LENGTH different key at
    // each learned position (jnk vs bar at pos 0: both 3 bytes); row 4
    // re-uses row 1's order (cache re-learned by then)
    val input =
      """{"junk": 1, "bar": 10, "baz": 100}
        |{"baz": 200, "junk": 2, "bar": 20}
        |{"jnk": 3, "baz": 300, "bar": 30}
        |{"junk": 4, "bar": 40, "baz": 400}
        |""".stripMargin
    everyPlate(input, sch, Seq(1, 2, 7, input.length),
      Seq(Seq(10L, 100L), Seq(20L, 200L), Seq(30L, 300L), Seq(40L, 400L)))
  }

  test("order cache: long keys sharing an 8-byte prefix stay distinct") {
    val sch = StructType.fromDDL("prefix_wanted LONG")
    // both keys are > 8 bytes and share the first 8 bytes; position 0
    // alternates between them row to row
    val input =
      """{"prefix_wanted": 1, "prefix_unwanted": 9}
        |{"prefix_unwanted": 9, "prefix_wanted": 2}
        |{"prefix_wanted": 3}
        |""".stripMargin
    everyPlate(input, sch, Seq(1, 3, input.length), Seq(Seq(1L), Seq(2L), Seq(3L)))
  }

  test("order cache: rows wider than the 64-position cache stay correct") {
    val sch = StructType.fromDDL("bar LONG")
    // 70 junk keys before bar (the caches grow past 64 positions), then a
    // second row with bar FIRST (cached positions mismatch)
    val wide = (0 until 70).map(i => s""""junk$i": $i""").mkString(", ")
    val input = s"""{$wide, "bar": 1}\n{"bar": 2, $wide}\n"""
    everyPlate(input, sch, Seq(1, 13, input.length), Seq(Seq(1L), Seq(2L)))
  }

  test("order cache: a short and a long key at one position relearn the verdict") {
    // a key of 8 bytes and a longer one sharing those 8 bytes (one packed
    // long) take position 0 in turn: neither the cruise's nor the
    // resolver's cached answer for one may serve the other
    val probe = KeyCruise(Seq("junkjunk_col", "wantwant"))
    def verdicts(keys: String*): Seq[Boolean] = {
      probe.rowStart()
      keys.map(k => probe.cruisableKey(k.getBytes, 0, k.length))
    }
    assert(verdicts("junkjunk", "wantwant") == Seq(true, false))
    assert(verdicts("junkjunk_col", "wantwant") == Seq(false, false))
    assert(verdicts("wantwant", "junkjunk") == Seq(false, true))
    assert(verdicts("wantwant_x", "junkjunk_col") == Seq(true, false))
    val sch = StructType.fromDDL("junkjunk_col LONG, wantwant LONG")
    val input =
      """{"junkjunk": 1, "wantwant": 10}
        |{"junkjunk_col": 2, "wantwant": 20}
        |{"wantwant": 30, "junkjunk_col": 3}
        |{"wantwant_x": 4, "junkjunk_col": 5}
        |""".stripMargin
    everyPlate(input, sch, Seq(1, 5, input.length),
      Seq(Seq(null, 10L), Seq(2L, 20L), Seq(3L, 30L), Seq(5L, null)))
  }
}
