package graft.spark

import graft.core.{KeyCruise, KeyOrderCache, KeyProbe, Plate, Signal}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, DateTimeUtils, GenericArrayData,
  SQLOrderingUtil}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Builds Spark `InternalRow`s from the core event stream against a
  * required (pruned) schema — the bridge between the parser core and the
  * DSv2 scan (SURVEY §7.1 layer 2).
  *
  * Frame model: exactly one frame per `nest*`/`unnest` pair. A frame opens
  * as an empty value slot for an expected DataType and *morphs* when its
  * shape is revealed (scalar fill, struct, array, map, or discard on
  * schema mismatch). The row itself is a permanent struct frame.
  *
  * Pushdown wiring:
  *  - a `nestMap` key absent from the current level's (pruned) schema
  *    returns [[Signal.SkipColumn]] → the parser byte-skips the value:
  *    projection pushdown at EVERY nesting depth;
  *  - a value whose shape contradicts the schema reads as null; its inner
  *    entries are byte-skipped one by one (discard frames);
  *  - pushed single-column filters (top-level and nested-anchored) are
  *    decided at finishRow over the row's FINAL values — never per
  *    binding, because duplicate keys rebind (round 14); a saturated
  *    row still byte-skips its tail (FinishRow lands in finishRow,
  *    which rejects there). Rows are dropped only on DEFINITE failure;
  *    for the filters the scan builder deems exact (top-level, exactly
  *    comparable types, non-null literals, the column's IsNotNull
  *    pushed) that is Spark's own verdict, and the rest stay residual.
  *
  * The same plate serves the CSV source: cells arrive as `str` events and
  * are coerced to the schema type.
  */
final class RowPlate(
    schema: StructType,
    filters: Array[Filter],
    push: InternalRow => Unit,
    // saturation pushdown (Signal.FinishRow) rides the skip scanner, which
    // elides structural validation of the row tail — readers that must
    // fully validate each row (PERMISSIVE corrupt capture, dropMalformed)
    // turn it off
    saturate: Boolean = true,
    // CSV semantics: an empty cell is NULL (Spark's csv nullValue default
    // and DuckDB's read_csv behavior), unlike JSON where "" is a real
    // string value. Set by the CSV reader only.
    emptyCellsAsNull: Boolean = false,
    // option("saturation","fast"): blind tail skip, first-wins dup caveat
    fastSatTail: Boolean = false,
    // JSON strict token typing (spark.read.json parity, round 20): quoted
    // numbers/booleans never coerce into numeric/boolean lanes; temporals
    // parse through spark's DateTimeUtils; CSV keeps the lenient cell
    // coercions (every CSV cell is a string)
    strictTokens: Boolean = false,
    timeZoneId: String = "UTC",
    // badrecords=drop (spark DROPMALFORMED parity, round 20): a row with
    // ANY discarded binding (conversion failure, type mismatch, poisoned
    // container) is dropped whole, not kept with nulls
    dropDiscarded: Boolean = false) extends Plate[Long] with KeyProbe
    with graft.core.RawValueCapture {
  private[this] val zoneId: java.time.ZoneId =
    org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(timeZoneId)


  // frame kinds
  private final val KEmpty = 0
  private final val KScalar = 1
  private final val KStruct = 2
  private final val KArray = 3
  private final val KMap = 4
  private final val KDiscard = 5

  /** One frame per open value slot. Frames are POOLED per stack depth and
    * reset on push (the parse hot path allocates no frame objects); only
    * the values that escape into rows (struct arrays, array/map copies)
    * are freshly allocated.
    */
  private final class VFrame {
    var expected: DataType = null
    var childIdx: Int = -1
    var kind: Int = KEmpty
    var fieldPos: Int = 0 // KStruct: nestMap count, keys the order cache
    var conv: Int = RowPlate.CvOther       // converter code for THIS slot's scalar
    var childConv: Int = RowPlate.CvUnset  // KArray/KMap: element/value code, lazy
    var value: Any = null                        // KScalar result
    var values: Array[Any] = null                // KStruct
    var st: StructType = null                    // KStruct
    var lookup: StructLookup = null              // KStruct
    // KArray / KMap accumulators: hand-rolled growable Array[Any] (reused
    // across rows, length reset on morph) — ArrayBuffer's append/toArray
    // generic paths were ~5% of full-parse profile samples
    var abuf: Array[Any] = null                  // KArray elements
    var alen: Int = 0
    var kbuf: Array[Any] = null                  // KMap keys
    var klen: Int = 0
    var vbuf: Array[Any] = null                  // KMap values
    var vlen: Int = 0

    def reset(e: DataType, c: Int, cv: Int): Unit = {
      expected = e; childIdx = c; kind = KEmpty; value = null
      values = null; st = null; conv = cv; childConv = RowPlate.CvUnset
    }

    private def trimmed(a: Array[Any], n: Int): Array[Any] =
      java.util.Arrays.copyOf(a.asInstanceOf[Array[AnyRef]], n).asInstanceOf[Array[Any]]

    def finalValue(): Any = kind match {
      case KScalar  => value
      case KStruct  => new GenericInternalRow(values)
      case KArray   => new GenericArrayData(trimmed(abuf, alen))
      case KMap     => ArrayBasedMapData(trimmed(kbuf, klen), trimmed(vbuf, vlen))
      case _        => null
    }

    def appendElem(v: Any): Unit = {
      if (alen == abuf.length)
        abuf = java.util.Arrays.copyOf(abuf.asInstanceOf[Array[AnyRef]], alen << 1)
          .asInstanceOf[Array[Any]]
      abuf(alen) = v; alen += 1
    }
    // KMap: duplicate keys BOTH append — spark.read.json keeps duplicate
    // map keys in its ArrayBasedMapData (element_at returns the first;
    // map_keys shows both) — verified empirically, round 13
    def appendKey(v: Any): Unit = {
      if (klen == kbuf.length)
        kbuf = java.util.Arrays.copyOf(kbuf.asInstanceOf[Array[AnyRef]], klen << 1)
          .asInstanceOf[Array[Any]]
      kbuf(klen) = v; klen += 1
    }
    def appendVal(v: Any): Unit = {
      if (vlen == vbuf.length)
        vbuf = java.util.Arrays.copyOf(vbuf.asInstanceOf[Array[AnyRef]], vlen << 1)
          .asInstanceOf[Array[Any]]
      vbuf(vlen) = v; vlen += 1
    }

    def morphStruct(s: StructType): Unit = {
      kind = KStruct; st = s; values = new Array[Any](s.length); fieldPos = 0
      lookup = lookupFor(s)
    }
    /** Root-row reset: same as morphStruct but with the lookup pre-resolved
      * (one IdentityHashMap probe per ROW saved on the hot path) and the
      * values array supplied by the caller (row recycling).
      */
    def morphStructWith(s: StructType, l: StructLookup, vs: Array[Any]): Unit = {
      kind = KStruct; st = s; values = vs; fieldPos = 0
      lookup = l
    }
    def morphArray(): Unit = {
      kind = KArray
      if (abuf == null) abuf = new Array[Any](8)
      alen = 0
    }
    def morphMap(): Unit = {
      kind = KMap
      if (kbuf == null) { kbuf = new Array[Any](8); vbuf = new Array[Any](8) }
      klen = 0; vlen = 0
    }
  }

  // depth-indexed frame pool: frames(0) is the permanent row frame
  private[this] var frames = Array.fill(16)(new VFrame)
  private[this] var sp = 0
  private[this] def rowFrame: VFrame = frames(0)

  @inline private[this] def pushFrame(e: DataType, c: Int,
      cv: Int = RowPlate.CvUnset): Unit = {
    sp += 1
    if (sp >= frames.length) {
      val next = new Array[VFrame](frames.length * 2)
      System.arraycopy(frames, 0, next, 0, frames.length)
      var i = frames.length
      while (i < next.length) { next(i) = new VFrame; i += 1 }
      frames = next
    }
    frames(sp).reset(e, c, if (cv == RowPlate.CvUnset) RowPlate.convOf(e) else cv)
  }

  /** The parser emits one unnest for a value it skipped (no frame pushed). */
  private[this] var skipPending = false
  // any binding of the CURRENT row was discarded (spark calls the row
  // malformed: PERMISSIVE fills the corrupt column, DROPMALFORMED drops it)
  private[this] var rowDiscarded = false
  /** Valid during the push callback: did this row have a discarded binding? */
  def lastRowDiscarded: Boolean = rowDiscarded
  private[this] var skippedBytes = 0L
  private[this] var rowCount = 0L

  private[this] val topIndex: Map[String, Int] = schema.fieldNames.zipWithIndex.toMap
  private[this] val valueColIdx: Int = topIndex.getOrElse("value", -1)

  // Per-struct-node lookup state, cached by node identity (schemas are
  // shared): the key→field resolver (allocation-free, no toString on the
  // parser's zero-copy key views) plus each field's converter code
  // (CvDouble/CvLong/CvString/CvOther), computed once per schema node so
  // the per-scalar hot path dispatches on an int instead of walking a
  // DataType match chain
  private final class StructLookup(st: StructType) extends KeyOrderCache(st.fieldNames) {
    val convs: Array[Int] = st.fields.map(f => RowPlate.convOf(f.dataType))
  }

  private[this] val structLookups =
    new java.util.IdentityHashMap[StructType, StructLookup]
  private def lookupFor(st: StructType): StructLookup = {
    var l = structLookups.get(st)
    if (l == null) {
      l = new StructLookup(st)
      structLookups.put(st, l)
    }
    l
  }

  // top-level value filters and null demands, decided at finishRow
  private[this] val rowEnd = new RowEndFilters(schema.fieldNames, filters)

  /** Trie over nested filter paths (dotted references like `meta.len`),
    * keyed by struct field index per level. Walked once per row at
    * finishRow over the row's FINAL values (see [[nestedPasses]]).
    */
  private final class NestedNode {
    var filters: Array[Filter] = Array.empty
    var children: Map[Int, NestedNode] = Map.empty
  }

  private[this] val nestedRoot: NestedNode = {
    var root: NestedNode = null
    FilterEval.normalize(filters.filter(f =>
        f.references.length == 1 && f.references.head.contains(".") &&
        !topIndex.contains(f.references.head))).foreach { f =>
      RowPlate.resolvePath(schema, f.references.head).foreach { path =>
        if (root == null) root = new NestedNode
        var node = root
        path.foreach { idx =>
          node.children.get(idx) match {
            case Some(c) => node = c
            case None =>
              val c = new NestedNode
              node.children = node.children.updated(idx, c)
              node = c
          }
        }
        node.filters :+= f
      }
    }
    root
  }
  private[this] var rootLookup: StructLookup = null

  // saturation pushdown (Signal.FinishRow): a per-row bitmask of top-level
  // schema columns that have completed; once ALL are present the parser
  // can byte-skip the remainder of the row in one scan — under heavy
  // pruning (narrow schema over wide rows) that collapses the tail of
  // key-parse/skip cycles into a single SWAR container skip. Schemas wider
  // than 64 columns simply never saturate (the mask can't fill) — correct,
  // just without the shortcut.
  private[this] val fullMask: Long =
    if (saturate && schema.length >= 1 && schema.length <= 64)
      -1L >>> (64 - schema.length)
    else 0L
  private[this] var seenMask = 0L

  // Key-cruise probe (Mison-style, [[graft.core.KeyCruise]]): a row-depth
  // key that is neither a schema column nor a pushed-filter anchor head
  // can be skipped with no plate notification. Gated on `saturate` — the
  // cruise, like saturation, elides per-value structural validation.
  override val keyCruise: KeyCruise = KeyCruise(
    if (!saturate) null
    else schema.fieldNames ++ filters.flatMap(_.references).map(_.takeWhile(_ != '.')),
    fastSatTail)

  // ------------------------------------------------- row object recycling
  // A DSv2 row reader may return the same InternalRow object on every
  // get() — the consumer copies anything it retains (the contract Spark's
  // own parquet reader relies on, and GraftAgg/GraftTopN already honor by
  // copying). So the wrapper + values array of a CONSUMED row can be
  // handed back via recycle() and reused for a later row: the pruned parse
  // then allocates nothing per row. Pool size covers the reader's
  // max rows-in-flight per absorbed chunk; overflow rows just fall to GC.
  private[this] val rowPool = new Array[GenericInternalRow](1024)
  private[this] var rowPoolTop = 0
  /** The wrapper that owns frames(0).values for the row being built; null
    * when the row must be wrapped fresh at finishRow.
    */
  private[this] var rowWrapper: GenericInternalRow = null

  /** Hand back a row previously pushed by this plate (or any
    * schema-shaped GenericInternalRow) once its consumer is done with it.
    * Safe to call with foreign rows — anything unrecognized is ignored.
    */
  def recycle(row: InternalRow): Unit = row match {
    case g: GenericInternalRow if g.numFields == schema.length && rowPoolTop < rowPool.length =>
      java.util.Arrays.fill(g.values, null) // missing keys must read null
      rowPool(rowPoolTop) = g
      rowPoolTop += 1
    case _ => ()
  }

  private def resetRow(): Unit = {
    sp = 0
    frames(0).reset(schema, -1, RowPlate.CvOther)
    if (rootLookup == null) rootLookup = lookupFor(schema)
    if (rowWrapper == null) {
      if (rowPoolTop > 0) { // recycled rows were cleared on the way in
        rowPoolTop -= 1
        rowWrapper = rowPool(rowPoolTop)
        rowPool(rowPoolTop) = null
      } else rowWrapper = new GenericInternalRow(new Array[Any](schema.length))
    } else {
      // abandoned row (filter skip / reset): scrub and reuse in place
      java.util.Arrays.fill(rowWrapper.values, null)
    }
    frames(0).morphStructWith(schema, rootLookup, rowWrapper.values)
    skipPending = false
    seenMask = 0L
    if (keyCruise != null) keyCruise.rowStart()
    rowDiscarded = false
  }

  @inline private def top: VFrame = frames(sp)

  resetRow() // after structLookups/filter vals: morphStruct touches them

  // ------------------------------------------------------------- events

  /** Scalar dispatch without per-event closures (hot path): kind 0=null,
    * 1=false, 2=true, 3=empty-map, 4=empty-arr, 5=num, 6=str. `conv` is
    * the slot's precomputed converter code — the dominant targets
    * (double/long/string) branch on the int and never walk the DataType
    * match chains in [[Conversions]]; CvOther falls through to them.
    */
  private def scalarValue(dt: DataType, conv: Int, kind: Int, s: CharSequence,
      decIdx: Int, expIdx: Int): Any = kind match {
    case 0 => null
    case 1 => Conversions.fromBoolean(dt, false)
    case 2 => Conversions.fromBoolean(dt, true)
    case 3 => dt match {
      case st: StructType => new GenericInternalRow(new Array[Any](st.length))
      case _: MapType     => ArrayBasedMapData(Array.empty[Any], Array.empty[Any])
      case _              => null
    }
    case 4 => dt match {
      case _: ArrayType => new GenericArrayData(Array.empty[Any])
      case _            => null
    }
    case 5 => (conv: @scala.annotation.switch) match {
      case RowPlate.CvDouble =>
        if (decIdx == -2) Conversions.specialDouble(s) // NaN/Infinity tokens
        else try java.lang.Double.valueOf(s match {
        case v: graft.core.ByteSliceCharSeq =>
          graft.core.FastDouble.parse(v.bytes, v.offset, v.length, decIdx, expIdx)
        case _ => graft.core.FastDouble.parse(s, decIdx, expIdx)
      }) catch { case _: NumberFormatException => null }
      case RowPlate.CvLong => if (decIdx < 0 && expIdx < 0) s match {
        case v: graft.core.ByteSliceCharSeq =>
          Conversions.parseLongBoxed(v.bytes, v.offset, v.length)
        case _ => try java.lang.Long.valueOf(java.lang.Long.parseLong(s, 0, s.length, 10))
                  catch { case _: NumberFormatException => null }
      } else null
      case RowPlate.CvString => s match {
        case v: graft.core.ByteSliceCharSeq =>
          UTF8String.fromBytes(
            java.util.Arrays.copyOfRange(v.bytes, v.offset, v.offset + v.length))
        case _ => UTF8String.fromString(s.toString)
      }
      case _ => Conversions.fromNum(dt, s, decIdx, expIdx)
    }
    case _ => (conv: @scala.annotation.switch) match {
      case RowPlate.CvString => s match {
        case v: graft.core.ByteSliceCharSeq =>
          UTF8String.fromBytes(
            java.util.Arrays.copyOfRange(v.bytes, v.offset, v.offset + v.length))
        case _ => UTF8String.fromString(s.toString)
      }
      case _ =>
        if (strictTokens) Conversions.fromStringJson(dt, s, zoneId)
        else Conversions.fromString(dt, s)
    }
  }

  private def fillScalar(kind: Int, s: CharSequence, decIdx: Int, expIdx: Int): Signal = {
    val f = top
    if (f.kind == KEmpty) {
      f.kind = KScalar
      f.value = scalarValue(f.expected, f.conv, kind, s, decIdx, expIdx)
      // a non-null token that FAILED to convert (type mismatch, overflow,
      // parse error) is a discard, not a null: as an array element it
      // poisons the whole array to null (spark.read.json partial-results
      // parity — arrays have no per-element partial semantics), while as
      // a struct field it still reads null (per-field partials)
      if (f.value == null && kind != 0) { f.kind = KDiscard; rowDiscarded = true }
      Signal.Continue
    } else if (f eq rowFrame) {
      // scalar row in a schemaless stream: the "value" column when present
      // (pushed filters on it are decided at finishRow like every column)
      if (valueColIdx >= 0)
        f.values(valueColIdx) = scalarValue(schema(valueColIdx).dataType,
          RowPlate.CvOther, kind, s, decIdx, expIdx)
      Signal.Continue
    } else Signal.Continue // discard / malformed: ignore
  }

  def nul(): Signal = fillScalar(0, null, -1, -1)
  def fls(): Signal = fillScalar(1, null, -1, -1)
  def tru(): Signal = fillScalar(2, null, -1, -1)
  def map(): Signal = fillScalar(3, null, -1, -1)
  def arr(): Signal = fillScalar(4, null, -1, -1)
  def num(s: CharSequence, decIdx: Int, expIdx: Int): Signal = fillScalar(5, s, decIdx, expIdx)
  def str(s: CharSequence): Signal =
    if (emptyCellsAsNull && s.length == 0) fillScalar(0, null, -1, -1)
    else fillScalar(6, s, -1, -1)

  /** Raw-text capture (spark.read.json parity, probed round 15): a
    * container value whose open slot expects STRING reads back as its
    * verbatim source text — at any depth (struct field, array element, map
    * value, arbitrarily nested). Excludes the row frame: a container ROW
    * does not stringify into the schemaless "value" column (spark maps
    * only object keys there).
    */
  override def wantsRawValue(): Boolean = {
    val f = top
    f.kind == KEmpty && !(f eq rowFrame) && (f.expected eq StringType)
  }

  override def rawValue(bytes: Array[Byte], off: Int, len: Int): Signal = {
    val f = top
    f.kind = KScalar
    f.value = UTF8String.fromBytes(
      java.util.Arrays.copyOfRange(bytes, off, off + len))
    Signal.Continue
  }

  def nestMap(pathComponent: CharSequence): Signal = {
    val f = top
    if (f.kind == KEmpty) {
      // the slot's value is revealed to be an object
      f.expected match {
        case s: StructType => f.morphStruct(s)
        case m: MapType    => f.morphMap()
        case _             => f.kind = KDiscard; rowDiscarded = true
      }
    }
    f.kind match {
      case KStruct =>
        val pos = f.fieldPos
        f.fieldPos = pos + 1
        val idx = f.lookup.indexOf(pathComponent, pos)
        if (idx < 0) {
          skipPending = true
          Signal.SkipColumn // projection pushdown: key not in (pruned) schema
        } else {
          pushFrame(f.st(idx).dataType, idx, f.lookup.convs(idx))
          Signal.Continue
        }
      case KMap =>
        val m = f.expected.asInstanceOf[MapType]
        f.appendKey(Conversions.fromString(m.keyType, pathComponent))
        var cv = f.childConv
        if (cv == RowPlate.CvUnset) { cv = RowPlate.convOf(m.valueType); f.childConv = cv }
        pushFrame(m.valueType, -1, cv)
        Signal.Continue
      case _ =>
        skipPending = true
        Signal.SkipColumn
    }
  }

  def nestArr(): Signal = {
    val f = top
    if ((f eq rowFrame) && f.kind == KStruct) {
      // array row in a schemaless stream -> "value" column when present
      if (valueColIdx >= 0) {
        schema(valueColIdx).dataType match {
          case at: ArrayType =>
            pushFrame(at, valueColIdx)
            top.morphArray()
            pushFrame(at.elementType, -1)
            return Signal.Continue
          case _ => ()
        }
      }
      skipPending = true
      return Signal.SkipColumn
    }
    if (f.kind == KEmpty) {
      f.expected match {
        case _: ArrayType => f.morphArray()
        case _            => f.kind = KDiscard; rowDiscarded = true
      }
    }
    f.kind match {
      case KArray =>
        var cv = f.childConv
        if (cv == RowPlate.CvUnset) {
          cv = RowPlate.convOf(f.expected.asInstanceOf[ArrayType].elementType)
          f.childConv = cv
        }
        pushFrame(f.expected.asInstanceOf[ArrayType].elementType, -1, cv)
        Signal.Continue
      case _ =>
        skipPending = true
        Signal.SkipColumn
    }
  }

  def nestMeta(pathComponent: CharSequence): Signal = {
    // no metadata channel in the relational schema: always prune
    skipPending = true
    Signal.SkipColumn
  }

  def unnest(): Signal = {
    if (skipPending) {
      // the unnest matching a value the parser byte-skipped for us
      skipPending = false
      Signal.Continue
    } else if (sp == 0) {
      Signal.Continue // defensive: never pop the row frame
    } else {
      val f = frames(sp)
      sp -= 1
      val v = f.finalValue()
      // Pushed value filters (top-level AND nested-anchored) are decided
      // at finishRow over the row's FINAL values — never per binding:
      // duplicate keys replace (last-wins), so the first binding of
      // {"n": {"x": 0}, "n": {"x": 44}} must not fail an `n.x > 10`
      // filter the final value passes. Pushdown must never change what an
      // unpushed read returns (round 14; round 13 fixed duplicate CHILD
      // keys, this extends it to duplicate STRUCT/scalar bindings). The
      // saturation FinishRow below still byte-skips row tails, so the
      // common skip perf survives; only pre-saturation definitive
      // failures now parse to the row's saturation point.
      val parent = top
      parent.kind match {
        case KStruct =>
          // a DISCARDED binding (conversion failure, container/scalar
          // mismatch, poisoned container) never overwrites — spark.read
          // .json parity, probed in round 14: {"a": 5, "a": "xx"} keeps
          // 5, {"n": {"x":1}, "n": 7} keeps the struct. Valid values —
          // including explicit null — stay last-wins.
          if (f.childIdx >= 0 && f.kind != KDiscard)
            parent.values(f.childIdx) = v
          if (parent eq rowFrame) {
            if (f.childIdx >= 0) seenMask |= 1L << f.childIdx
            // row saturated: every schema column present — skip the rest
            if (fullMask != 0L && seenMask == fullMask) Signal.FinishRow
            else Signal.Continue
          } else Signal.Continue
        case KArray =>
          // a discarded element (container where an atomic was expected,
          // or a failed conversion) nulls the WHOLE array — spark parity;
          // the KDiscard morph also byte-skips the remaining elements
          if (f.kind == KDiscard) parent.kind = KDiscard
          else parent.appendElem(v)
          Signal.Continue
        case KMap   =>
          // same poison rule for map VALUES (spark partial-results nulls
          // the whole map)
          if (f.kind == KDiscard) parent.kind = KDiscard
          else parent.appendVal(v)
          Signal.Continue
        case _      => Signal.Continue
      }
    }
  }

  def finishRow(): Unit = {
    // top-level array/`value` rows leave their slot open (the row-value has
    // no unnest of its own): finalize any frames above the row frame
    while (sp > 0) {
      val f = frames(sp)
      sp -= 1
      val v = f.finalValue()
      val parent = top
      parent.kind match {
        case KStruct => // discards never overwrite (see unnest)
          if (f.childIdx >= 0 && f.kind != KDiscard) parent.values(f.childIdx) = v
        case KArray  =>
          if (f.kind == KDiscard) parent.kind = KDiscard // poison: see unnest
          else parent.appendElem(v)
        case KMap    =>
          if (f.kind == KDiscard) parent.kind = KDiscard
          else parent.appendVal(v)
        case _       => ()
      }
    }
    val row = rowWrapper // owns rowFrame.values (see resetRow)
    if (dropDiscarded && rowDiscarded) {
      // spark DROPMALFORMED parity: the malformed row vanishes; it still
      // occupied a file ordinal (same accounting as a filter reject)
      skippedRowCount += 1
      resetRow()
      return
    }
    if (passesRowEnd(row)) {
      rowCount += 1
      rowWrapper = null // consumed: resetRow pulls the next from the pool
      push(row)
    } else skippedRowCount += 1
    resetRow()
  }

  def finishBatch(terminal: Boolean): Long = rowCount

  def skipped(bytes: Int): Unit = skippedBytes += bytes

  /** Total bytes the parser pruned for this plate (custom metric). */
  def totalSkippedBytes: Long = skippedBytes

  // ------------------------------------------------------------ filters

  /** Walk the nested-filter trie over the row's FINAL values. Missing or
    * null values along a path evaluate the leaf as null, as Spark's
    * field access does, so a comparison on it drops the row.
    */
  private def nestedPasses(node: NestedNode, parent: Any): Boolean =
    node.children.forall { case (idx, c) =>
      val v: Any = parent match {
        case r: GenericInternalRow if idx < r.numFields => r.values(idx)
        case _ => null
      }
      !c.filters.exists(FilterEval.definitelyFails(_, v)) && nestedPasses(c, v)
    }

  // rows this plate DROPPED before emission (the finishRow filter and
  // null-demand checks): every dropped row still occupied a file
  // ordinal, so the readers fold the count into their ordinal accounting
  // — that is what lets parse-level filtering compose with deletion
  // masks and withRowIndex provenance instead of being forced residual
  // (round 11). The emit callback fires synchronously in parse order, so
  // draining at each emission sees exactly the drops that preceded it.
  private var skippedRowCount = 0L

  /** Dropped-row count since the last drain (reader-side ordinal fold). */
  def drainSkippedRows(): Long = {
    val n = skippedRowCount
    skippedRowCount = 0L
    n
  }

  /** ALL pushed-filter semantics, checked once the whole row is known —
    * the single point where a pushed filter may drop a row. Evaluating
    * any earlier (per binding / per struct close) is unsound: a later
    * duplicate key rebinds the column last-wins, and pushdown must never
    * change what an unpushed read returns (round 14). Saturation still
    * byte-skips row tails — it calls finishRow, which lands here.
    */
  private def passesRowEnd(row: GenericInternalRow): Boolean =
    rowEnd.passes(rowCells) && (nestedRoot == null || nestedPasses(nestedRoot, row))

  // the row being finished: rowWrapper owns its values until emission
  private[this] val rowCells = new RowEndFilters.Cells {
    def value(i: Int): Any = rowWrapper.values(i)
    def isNull(i: Int): Boolean = rowWrapper.values(i) == null
  }
}

object RowPlate {
  // Converter codes for the per-scalar fast dispatch: the three dominant
  // target types get direct branches; everything else (int/short/byte/
  // float/decimal/bool/date/...) takes the generic Conversions path.
  final val CvOther = 0
  final val CvDouble = 1
  final val CvLong = 2
  final val CvString = 3
  /** Unset sentinel for lazily-computed element/value codes. */
  final val CvUnset = -1

  private[spark] def convOf(dt: DataType): Int = dt match {
    case DoubleType => CvDouble
    case LongType   => CvLong
    case StringType => CvString
    case _          => CvOther
  }

  /** Resolve a dotted nested filter reference (e.g. `meta.len`) against a
    * schema to a field-index path. None when the reference is quoted, is a
    * literal top-level name, traverses a non-struct, or names a missing
    * field — callers then leave the filter to Catalyst's residual.
    */
  def resolvePath(schema: StructType, ref: String): Option[Array[Int]] = {
    if (ref.contains("`") || schema.fieldNames.contains(ref)) return None
    val parts = ref.split('.')
    if (parts.length < 2) return None
    val path = new Array[Int](parts.length)
    var dt: DataType = schema
    var i = 0
    while (i < parts.length) {
      dt match {
        case s: StructType =>
          val idx = s.fieldNames.indexOf(parts(i))
          if (idx < 0) return None
          path(i) = idx
          dt = s(idx).dataType
        case _ => return None
      }
      i += 1
    }
    Some(path)
  }
}

/** Scalar conversions from parse events to Catalyst values. Mismatches
  * read as null (permissive).
  */
object Conversions {
  def fromBoolean(dt: DataType, v: Boolean): Any = dt match {
    case BooleanType => v
    case StringType  => UTF8String.fromString(v.toString)
    case _           => null
  }

  /** Long from a validated integer token's raw bytes: one branchy byte
    * loop, no charAt dispatch (Long.parseLong(CharSequence) pays a virtual
    * call + bounds check per digit). Returns null (not an exception) on
    * overflow. Accumulates negative, JDK-style, so Long.MinValue parses.
    */
  private[spark] def parseLongBoxed(b: Array[Byte], off: Int, len: Int): java.lang.Long = {
    var i = off
    val end = off + len
    val neg = b(i) == '-'
    if (neg) i += 1
    if (i >= end) return null
    val limit = if (neg) Long.MinValue else -Long.MaxValue
    val multmin = limit / 10
    var acc = 0L
    while (i < end) {
      val d = b(i) - '0'
      if (acc < multmin) return null
      acc *= 10
      if (acc < limit + d) return null
      acc -= d
      i += 1
    }
    java.lang.Long.valueOf(if (neg) acc else -acc)
  }

  def fromNum(dt: DataType, text: CharSequence, decIdx: Int, expIdx: Int): Any = {
    // match order = observed frequency (this chain is on every-number hot
    // path): inferred JSON schemas type numbers as DOUBLE or LONG, and
    // mixed arrays coerce numbers to STRING a lot; the narrow/exotic
    // targets (int/short/byte/float/decimal) trail
    if (decIdx == -2) {
      // non-numeric number tokens (NaN / ±Infinity): double/float lanes
      // take the special value; every other target is a failed binding
      return dt match {
        case DoubleType => specialDouble(text)
        case FloatType  => specialFloat(text)
        case StringType => UTF8String.fromString(text.toString)
        case _ => null
      }
    }
    try dt match {
      case DoubleType  =>
        // Eisel-Lemire exactly-rounded conversion off the zero-copy view
        // (falls back to parseDouble internally on the rare hard cases);
        // buffer views take the byte-specialized entry (no charAt dispatch)
        java.lang.Double.valueOf(text match {
          case v: graft.core.ByteSliceCharSeq =>
            graft.core.FastDouble.parse(v.bytes, v.offset, v.length, decIdx, expIdx)
          case _ => graft.core.FastDouble.parse(text, decIdx, expIdx)
        })
      // integral targets parse straight from the CharSequence view —
      // allocation-free
      case LongType    => if (decIdx < 0 && expIdx < 0) text match {
        case v: graft.core.ByteSliceCharSeq => parseLongBoxed(v.bytes, v.offset, v.length)
        case _ => java.lang.Long.parseLong(text, 0, text.length, 10)
      } else null
      case StringType  => text match {
        // number-token bytes are pure ASCII (valid UTF-8): copy the slice
        // straight into UTF8String — no intermediate java String, no char
        // encode
        case v: graft.core.ByteSliceCharSeq =>
          UTF8String.fromBytes(
            java.util.Arrays.copyOfRange(v.bytes, v.offset, v.offset + v.length))
        case _ => UTF8String.fromString(text.toString)
      }
      case IntegerType => if (decIdx < 0 && expIdx < 0) text match {
        case v: graft.core.ByteSliceCharSeq =>
          parseLongBoxed(v.bytes, v.offset, v.length) match {
            case l: java.lang.Long if l.longValue >= Int.MinValue && l.longValue <= Int.MaxValue =>
              java.lang.Integer.valueOf(l.intValue)
            case _ => null
          }
        case _ => java.lang.Integer.parseInt(text, 0, text.length, 10)
      } else null
      case ShortType   => if (decIdx < 0 && expIdx < 0) java.lang.Short.parseShort(text.toString) else null
      case ByteType    => if (decIdx < 0 && expIdx < 0) java.lang.Byte.parseByte(text.toString) else null
      case FloatType   => java.lang.Float.parseFloat(text.toString)
      case d: DecimalType =>
        val dec = org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(text.toString))
        if (dec.changePrecision(d.precision, d.scale)) dec else null
      case TimestampType =>
        // spark parity (probed round 20): an INTEGRAL number token is
        // epoch SECONDS (incl. negative); fractional/exponent tokens null
        if (decIdx < 0 && expIdx < 0) {
          val secs = text match {
            case v: graft.core.ByteSliceCharSeq => parseLongBoxed(v.bytes, v.offset, v.length)
            case _ => java.lang.Long.valueOf(java.lang.Long.parseLong(text, 0, text.length, 10))
          }
          if (secs == null) null
          else try java.lang.Long.valueOf(java.lang.Math.multiplyExact(secs.longValue, 1000000L))
          catch { case _: ArithmeticException => null }
        } else null
      case _           => null
    } catch { case _: NumberFormatException => null }
  }

  /** Non-numeric number token → Double (first byte disambiguates: the
    * parser emits exactly NaN / Infinity / +Infinity / -Infinity).
    */
  def specialDouble(text: CharSequence): java.lang.Double = text.charAt(0) match {
    case 'N' => java.lang.Double.valueOf(Double.NaN)
    case '-' => java.lang.Double.valueOf(Double.NegativeInfinity)
    case _   => java.lang.Double.valueOf(Double.PositiveInfinity)
  }
  def specialFloat(text: CharSequence): java.lang.Float = text.charAt(0) match {
    case 'N' => java.lang.Float.valueOf(Float.NaN)
    case '-' => java.lang.Float.valueOf(Float.NegativeInfinity)
    case _   => java.lang.Float.valueOf(Float.PositiveInfinity)
  }

  /** The quoted special-float strings strict JSON accepts — spark's exact,
    * case-sensitive set ("nan"/"inf" etc. stay null): NaN or ±Infinity, and
    * 0.0 (none of those) for any other text. A double narrows to the same
    * float special.
    */
  def quotedSpecialFloat(s: String): Double = s match {
    case "NaN" => Double.NaN
    case "+INF" | "+Infinity" | "Infinity" => Double.PositiveInfinity
    case "-INF" | "-Infinity" => Double.NegativeInfinity
    case _ => 0.0
  }

  /** String-token conversions under spark.read.json's STRICT token typing
    * (probed round 20): strings convert ONLY to STRING, DECIMAL (no
    * trimming — " 12.34 " is null), DATE / TIMESTAMP / TIMESTAMP_NTZ
    * (spark's own lenient DateTimeUtils parsers: zone-less and
    * space-separated forms, single-digit fields, date prefixes, padding
    * trimmed; NTZ REJECTS zoned text), and BINARY (base64). Numeric and
    * boolean targets never parse from strings — a quoted "5" into a LONG
    * lane is a failed binding, exactly like spark.
    */
  def fromStringJson(dt: DataType, text: CharSequence,
      zone: java.time.ZoneId): Any = {
    text match {
      case v: graft.core.ByteSliceCharSeq if dt == StringType =>
        return UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(v.bytes, v.offset, v.offset + v.length))
      case _ => ()
    }
    val s = text.toString
    try dt match {
      case StringType => UTF8String.fromString(s)
      case DoubleType =>
        val d = quotedSpecialFloat(s)
        if (d == 0.0) null else java.lang.Double.valueOf(d)
      case FloatType =>
        val d = quotedSpecialFloat(s)
        if (d == 0.0) null else java.lang.Float.valueOf(d.toFloat)
      case d: DecimalType =>
        val dec = org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(s))
        if (dec.changePrecision(d.precision, d.scale)) dec else null
      case DateType =>
        DateTimeUtils.stringToDate(UTF8String.fromString(s))
          .map(java.lang.Integer.valueOf).orNull
      case TimestampType =>
        DateTimeUtils.stringToTimestamp(UTF8String.fromString(s), zone)
          .map(java.lang.Long.valueOf).orNull
      case TimestampNTZType =>
        DateTimeUtils.stringToTimestampWithoutTimeZone(
            UTF8String.fromString(s), false)
          .map(java.lang.Long.valueOf).orNull
      case BinaryType =>
        java.util.Base64.getDecoder.decode(s)
      case _ => null // numerics/booleans: strict token typing
    } catch { case _: RuntimeException => null }
  }

  def fromString(dt: DataType, text: CharSequence): Any = {
    // zero-decode path: an ASCII buffer view becomes UTF8String bytes
    // directly (one copy, no char decode, no intermediate String)
    text match {
      case v: graft.core.ByteSliceCharSeq if dt == StringType =>
        return UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(v.bytes, v.offset, v.offset + v.length))
      case _ => ()
    }
    val s = text.toString
    try dt match {
      case StringType  => UTF8String.fromString(s)
      case LongType    => java.lang.Long.parseLong(s.trim)
      case IntegerType => java.lang.Integer.parseInt(s.trim)
      case ShortType   => java.lang.Short.parseShort(s.trim)
      case ByteType    => java.lang.Byte.parseByte(s.trim)
      case DoubleType  => java.lang.Double.parseDouble(s.trim)
      case FloatType   => java.lang.Float.parseFloat(s.trim)
      case BooleanType => s.trim.toLowerCase match {
        case "true" | "t" | "1"  => true
        case "false" | "f" | "0" => false
        case _ => null
      }
      case d: DecimalType =>
        val dec = org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(s.trim))
        if (dec.changePrecision(d.precision, d.scale)) dec else null
      case DateType =>
        java.time.LocalDate.parse(s.trim).toEpochDay.toInt
      case TimestampType =>
        val inst = java.time.Instant.parse(s.trim)
        inst.getEpochSecond * 1000000L + inst.getNano / 1000L
      case TimestampNTZType =>
        val ldt = java.time.LocalDateTime.parse(s.trim)
        ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          ldt.getNano / 1000L
      case BinaryType => // base64, matching the sink and spark.read.json
        java.util.Base64.getDecoder.decode(s.trim)
      case _ => null
    } catch { case _: RuntimeException => null }
  }
}

/** Conservative evaluation of DSv2 source filters against Catalyst values:
  * true = the filter DEFINITELY fails for this value (safe to drop the row
  * early; unknowns are kept for the residual Catalyst filter). The
  * verdict is exact for null cells and for the non-null cells of
  * [[FilterEval.exactType]] columns against [[FilterEval.exactLiteral]]
  * literals.
  */
object FilterEval {
  /** Pre-convert comparison literals once at plate construction so the
    * per-row cmp path never allocates: strings to UTF8String, dates and
    * timestamps to the days and micros their cells hold.
    */
  def normalize(filters: Array[Filter]): Array[Filter] = filters.map {
    case EqualTo(c, v)            => EqualTo(c, internal(v))
    case GreaterThan(c, v)        => GreaterThan(c, internal(v))
    case GreaterThanOrEqual(c, v) => GreaterThanOrEqual(c, internal(v))
    case LessThan(c, v)           => LessThan(c, internal(v))
    case LessThanOrEqual(c, v)    => LessThanOrEqual(c, internal(v))
    case In(c, vs)                => In(c, vs.map(internal))
    case f => f
  }

  // a java.sql literal in the 1582 switch window stays as it is: cmp
  // leaves it undecided
  private def internal(v: Any): Any = v match {
    case s: String => UTF8String.fromString(s)
    case d: java.sql.Date =>
      val days = DateTimeUtils.fromJavaDate(d)
      if (inSwitchImage(days)) d else java.lang.Integer.valueOf(days)
    case t: java.sql.Timestamp =>
      val micros = DateTimeUtils.fromJavaTimestamp(t)
      if (inSwitchImage(Math.floorDiv(micros, 86400000000L))) t
      else java.lang.Long.valueOf(micros)
    case d: java.time.LocalDate => java.lang.Integer.valueOf(d.toEpochDay.toInt)
    case i: java.time.Instant => java.lang.Long.valueOf(DateTimeUtils.instantToMicros(i))
    case v => v
  }

  @inline private def isFloating(n: java.lang.Number): Boolean =
    n.isInstanceOf[java.lang.Double] || n.isInstanceOf[java.lang.Float]

  // exact numeric view: integrals via long, floating via the exact binary
  // expansion — a long past 2^53 must never round onto a double literal
  // (a wrongly-dropped row cannot be restored by the residual filter)
  private def toBig(n: java.lang.Number): java.math.BigDecimal = n match {
    case b: java.math.BigDecimal => b
    case b: java.math.BigInteger => new java.math.BigDecimal(b)
    case _ if isFloating(n)      => new java.math.BigDecimal(n.doubleValue)
    case _                       => java.math.BigDecimal.valueOf(n.longValue)
  }

  private def cmpNum(x: java.lang.Number, y: java.lang.Number): Int = {
    val xf = isFloating(x); val yf = isFloating(y)
    if (!xf && !yf && !x.isInstanceOf[java.math.BigDecimal] && !y.isInstanceOf[java.math.BigDecimal] &&
        !x.isInstanceOf[java.math.BigInteger] && !y.isInstanceOf[java.math.BigInteger])
      java.lang.Long.compare(x.longValue, y.longValue)
    else {
      // NaN sorts above everything and equal to itself (Spark's ordering)
      val xn = xf && java.lang.Double.isNaN(x.doubleValue)
      val yn = yf && java.lang.Double.isNaN(y.doubleValue)
      if (xn || yn) java.lang.Boolean.compare(xn, yn)
      // -0.0 equals 0.0 (Spark's SQLOrderingUtil.compareDoubles)
      else if (xf && yf) SQLOrderingUtil.compareDoubles(x.doubleValue, y.doubleValue)
      else toBig(x).compareTo(toBig(y))
    }
  }

  /** Column types whose non-null cells [[cmp]] orders exactly as Spark
    * orders them, given an [[exactLiteral]].
    */
  def exactType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         DateType | TimestampType => true
    case s: StringType => s.collationId == StringType.collationId
    case _ => false
  }

  /** Whether [[cmp]] orders the cells of an [[exactType]] column against
    * literal `v` exactly as Spark orders them against the literal Spark
    * meant.
    */
  def exactLiteral(dt: DataType, v: Any): Boolean = (dt, v) match {
    case (ByteType | ShortType | IntegerType | LongType,
          _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
          _: java.lang.Long) => true
    case (BooleanType, _: java.lang.Boolean) => true
    case (_: StringType, _: String) => true
    case (DateType, _: java.sql.Date | _: java.time.LocalDate) |
         (TimestampType, _: java.sql.Timestamp | _: java.time.Instant) =>
      internal(v).isInstanceOf[java.lang.Number]
    case _ => false
  }

  // A java.sql.Date/Timestamp literal is Spark's value rebased to the
  // hybrid Julian/Gregorian calendar (DateTimeUtils.toJavaDate and
  // toJavaTimestamp keep the local fields). The ten proleptic dates the
  // 1582 switch removed (October 5-14) have no hybrid date and rebase
  // onto October 15-24, so a literal there may stand for another day.
  // The window is one day wider on each side for zone offsets.
  private val switchImageDays =
    (java.time.LocalDate.of(1582, 10, 14).toEpochDay,
     java.time.LocalDate.of(1582, 10, 25).toEpochDay)
  private def inSwitchImage(day: Long): Boolean =
    day >= switchImageDays._1 && day <= switchImageDays._2

  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (null, _) | (_, null) => None
    // binary UTF-8 ordering, matching Spark's UTF8String sort order (UTF-16
    // String.compareTo disagrees for U+E000..U+FFFF vs supplementary chars)
    case (x: UTF8String, y: String) => Some(x.binaryCompare(UTF8String.fromString(y)))
    case (x: UTF8String, y: UTF8String) => Some(x.binaryCompare(y))
    case (x: java.lang.Number, y: java.lang.Number) => Some(cmpNum(x, y))
    case (x: java.lang.Boolean, y: java.lang.Boolean) => Some(x.compareTo(y))
    // row values for DecimalType columns are Catalyst Decimals; pushed
    // literals arrive as java.math.BigDecimal
    case (x: org.apache.spark.sql.types.Decimal, y: java.math.BigDecimal) =>
      Some(x.toJavaBigDecimal.compareTo(y))
    case (x: org.apache.spark.sql.types.Decimal, y: java.lang.Number) =>
      Some(cmpNum(x.toJavaBigDecimal, y))
    // TIMESTAMP_NTZ cells are micros; [[normalize]] leaves their
    // LocalDateTime literals as they are (dates and timestamps it
    // converts, except in the 1582 switch window, which stays undecided)
    case (x: java.lang.Number, y: java.time.LocalDateTime) =>
      Some(java.lang.Long.compare(x.longValue, DateTimeUtils.localDateTimeToMicros(y)))
    case _ => None
  }

  /** A null cell fails every comparison, `In` and string predicate: each
    * pushed filter is a conjunct of a WHERE condition, and the null such a
    * predicate yields there drops the row.
    */
  def definitelyFails(f: Filter, value: Any): Boolean = f match {
    case IsNull(_)                => value != null
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual | _: LessThan |
         _: LessThanOrEqual | _: In | _: StringStartsWith | _: StringEndsWith |
         _: StringContains if value == null => true
    case EqualTo(_, v)            => cmp(value, v).exists(_ != 0)
    case GreaterThan(_, v)        => cmp(value, v).exists(_ <= 0)
    case GreaterThanOrEqual(_, v) => cmp(value, v).exists(_ < 0)
    case LessThan(_, v)           => cmp(value, v).exists(_ >= 0)
    case LessThanOrEqual(_, v)    => cmp(value, v).exists(_ > 0)
    case In(_, vs)                => vs.nonEmpty &&
      vs.forall(v => cmp(value, v).exists(_ != 0))
    case StringStartsWith(_, p)   => value match {
      case s: UTF8String => !s.toString.startsWith(p)
      case _ => false
    }
    case StringEndsWith(_, p)     => value match {
      case s: UTF8String => !s.toString.endsWith(p)
      case _ => false
    }
    case StringContains(_, p)     => value match {
      case s: UTF8String => !s.toString.contains(p)
      case _ => false
    }
    case _                        => false // unknown filter: never drop early
  }

  /** Interval form of [[definitelyFails]] for per-file data skipping:
    * true = NO row in a file with the given (min, max, nulls, rows) column
    * stats can satisfy the filter, so the whole file may be dropped at
    * planning time. Conservative: any uncertainty returns false. A
    * comparison filter never matches null rows, so a column with no
    * non-null values (min/max null while rows > 0) definitely fails every
    * comparison.
    */
  def definitelyEmpty(f: Filter, min: Any, max: Any,
      nulls: Long, rows: Long): Boolean = {
    if (rows == 0) return true
    def noValues = min == null || max == null
    f match {
      case EqualTo(_, v) =>
        noValues || cmp(min, v).exists(_ > 0) || cmp(max, v).exists(_ < 0)
      case GreaterThan(_, v)        => noValues || cmp(max, v).exists(_ <= 0)
      case GreaterThanOrEqual(_, v) => noValues || cmp(max, v).exists(_ < 0)
      case LessThan(_, v)           => noValues || cmp(min, v).exists(_ >= 0)
      case LessThanOrEqual(_, v)    => noValues || cmp(min, v).exists(_ > 0)
      case In(_, vs) => vs.nonEmpty && (noValues ||
        vs.forall(v => cmp(min, v).exists(_ > 0) || cmp(max, v).exists(_ < 0)))
      case IsNull(_)    => nulls == 0
      case IsNotNull(_) => nulls == rows
      case StringStartsWith(_, p) if p.nonEmpty => (min, max) match {
        case (mn: UTF8String, mx: UTF8String) =>
          val pre = UTF8String.fromString(p)
          // all values below the prefix, or at/above its byte-successor
          mx.binaryCompare(pre) < 0 ||
            prefixSuccessor(pre).exists(succ => mn.binaryCompare(succ) >= 0)
        case _ => noValues
      }
      case _ => false
    }
  }

  /** Smallest byte string greater than every string with prefix `p`
    * (increment the last non-0xFF byte); None when p is all 0xFF.
    */
  private def prefixSuccessor(p: UTF8String): Option[UTF8String] = {
    val b = p.getBytes.clone()
    var i = b.length - 1
    while (i >= 0 && b(i) == -1) i -= 1
    if (i < 0) None
    else {
      b(i) = (b(i) + 1).toByte
      Some(UTF8String.fromBytes(java.util.Arrays.copyOf(b, i + 1)))
    }
  }
}
