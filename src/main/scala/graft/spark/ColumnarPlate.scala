package graft.spark

import graft.core.{ByteSliceCharSeq, KeyProbe, Plate, Signal}

import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Vectorized sibling of [[RowPlate]] for flat atomic schemas PLUS
  * structs with atomic or STRUCT<atomic…> children (two levels,
  * round 14) PLUS one-level arrays of atomics PLUS one-level
  * MAP<STRING, atomic> (round 13) PLUS ARRAY<STRUCT<atomic…>>
  * (round 14): parse events
  * write straight into `OnHeapColumnVector`s — struct children into the
  * parent vector's child lanes; array elements (and map keys/values)
  * into the parent's children at a running offset with a final
  * `putArray(row, start, count)` stamp — and the scan hands Spark whole
  * `ColumnarBatch`es: no per-row `InternalRow` allocation, and
  * downstream whole-stage codegen consumes vectors exactly as it does
  * from the built-in parquet reader (struct access compiles to a
  * child-vector read under the parent's validity; arrays/maps surface
  * as `ColumnarArray`/`ColumnarMap` views over the shared children, the
  * same shape parquet serves).
  *
  * Pushdown is identical to the row path: absent keys → SkipColumn,
  * container values under an atomic column → per-entry SkipColumn
  * (reads as null), definitively failing filtered rows rejected at
  * finishRow over FINAL values (round 14 — duplicate keys rebind, so
  * no verdict is final before the row ends or saturates).
  * Struct semantics match RowPlate exactly (fuzzed in
  * JsonSourceFuzzSpec): `{}` is a PRESENT struct with null children,
  * null/scalar/array under a struct column is a null struct, children
  * the row omits are null, deeper nesting under a child reads null, and
  * duplicate struct keys replace (last-wins). Array semantics likewise:
  * `[]` is a PRESENT empty array, null/scalar/object under an array
  * column is a null array, a DISCARDED element (container where an
  * atomic was expected, or a failed conversion) poisons the WHOLE array
  * to null (spark.read.json partial-results parity — arrays have no
  * per-element partials; JSON `null` elements are kept), and duplicate
  * array bindings replace (last-wins). Map semantics: `{}` is a PRESENT
  * empty map, null/scalar/array under a map column is a null map, a
  * discarded VALUE poisons the whole map, and duplicate keys BOTH
  * append (spark keeps duplicates; element_at returns the first).
  */
final class ColumnarPlate(
    schema: StructType,
    filters: Array[Filter],
    // saturation pushdown (Signal.FinishRow) elides validation of the row
    // tail; readers that must fully validate rows (dropMalformed) turn it
    // off — see RowPlate's twin flag
    saturate: Boolean = true,
    // CSV semantics: an empty cell is NULL (Spark's csv nullValue default
    // and DuckDB's read_csv behavior) — see RowPlate's twin flag
    emptyCellsAsNull: Boolean = false,
    // deletion-vector mask in the whole-file ordinal address space (the
    // plate must see every row of the file in order — whole-file
    // partition, no plate filters, badrecords=fail; the scan enforces all
    // three). A masked row's slot is simply reused by the next row: the
    // vectorized path loses nothing to merge-on-read deletes except the
    // masked rows themselves.
    mask: DeletionVectors.Mask = null,
    // first parsed row's whole-file ordinal (block-pruned aligned ranges)
    maskStartOrd: Long = 0L,
    // option("saturation","fast"): blind tail skip, first-wins dup caveat
    fastSatTail: Boolean = false,
    // JSON strict token typing (spark parity, round 20): quoted numbers/
    // booleans never coerce into numeric/boolean lanes; temporals parse
    // through spark's DateTimeUtils; CSV keeps the lenient cell coercions
    strictTokens: Boolean = false,
    timeZoneId: String = "UTC",
    // badrecords=drop (spark DROPMALFORMED parity, round 20): a row with
    // ANY discarded binding drops whole at finishRow
    dropDiscarded: Boolean = false) extends Plate[Long] with KeyProbe
    with graft.core.RawValueCapture {
  override def fastSaturationTail: Boolean = fastSatTail
  private[this] val zoneId: java.time.ZoneId =
    org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(timeZoneId)

  // Deletion masks and plate filters COMBINE (round 11): every row's
  // ordinal is counted exactly once, at finishRow — filter rejection
  // also happens there (round 14), so filter-dropped rows never shift
  // later rows' mask addresses. Both outcomes are "drop", so
  // mask-vs-filter ordering is immaterial; heavily-masked tables keep
  // parse-level byte skipping.

  private[this] val numCols = schema.length
  private[this] val types: Array[DataType] = schema.fields.map(_.dataType)
  private[this] val names: Array[String] = schema.fieldNames
  // one-level struct lanes: child names/types per struct column (null for
  // atomic columns)
  private[this] val childNames: Array[Array[String]] =
    schema.fields.map(_.dataType match {
      case st: StructType => st.fieldNames
      case _ => null
    }).toArray
  private[this] val childTypes: Array[Array[DataType]] =
    schema.fields.map(_.dataType match {
      case st: StructType => st.fields.map(_.dataType)
      case _ => null
    }).toArray
  // per-row child presence, the struct twin of `seen` (persists across
  // takeBatch for an in-flight row, like `seen`)
  private[this] val childSeen: Array[Array[Boolean]] =
    childNames.map(cn => if (cn == null) null else new Array[Boolean](cn.length))
  private[this] val hasStructs = childNames.exists(_ != null)
  // TWO-LEVEL struct lanes (round 14): grandchild names/types per
  // (column, child) where the child is itself a STRUCT<atomic…> — the
  // user.geo.lat / metadata.source.id shape. Grand lanes write at ROW
  // offsets like child lanes (no element-offset machinery), so the
  // whole top-level struct discipline mirrors one level down: presence
  // via gSeen, dup bindings scrub-and-replace, unwritten grandchildren
  // null-stamped at finishRow under a present inner struct.
  private[this] val gNames: Array[Array[Array[String]]] =
    schema.fields.map(_.dataType match {
      case st: StructType => st.fields.map(_.dataType match {
        case g: StructType => g.fieldNames
        case _ => null
      }).toArray
      case _ => null
    }).toArray
  private[this] val gTypes: Array[Array[Array[DataType]]] =
    schema.fields.map(_.dataType match {
      case st: StructType => st.fields.map(_.dataType match {
        case g: StructType => g.fields.map(_.dataType)
        case _ => null
      }).toArray
      case _ => null
    }).toArray
  private[this] val gSeen: Array[Array[Array[Boolean]]] =
    gNames.map(gn => if (gn == null) null
      else gn.map(g => if (g == null) null else new Array[Boolean](g.length)))
  private[this] val hasGrand =
    gNames.exists(gn => gn != null && gn.exists(_ != null))
  // THREE-LEVEL struct lanes (round 17): great-grandchild names/types
  // per (column, child, grand) where the grand is itself STRUCT<atomic…>
  // — the event.context.device.id telemetry shape. Great lanes are
  // row-offset vectors exactly like child/grand lanes; the whole
  // two-level discipline repeats one more level down (pinned by a fresh
  // 16-shape pyspark probe: dup grand bindings replace wholesale with
  // failed-dup-never-overwrites, per-field partials, {} present-all-null,
  // raw capture for string great-fields, containers under atomic great
  // lanes are failed bindings).
  private[this] val g2Names: Array[Array[Array[Array[String]]]] =
    schema.fields.map(_.dataType match {
      case st: StructType => st.fields.map(_.dataType match {
        case g: StructType => g.fields.map(_.dataType match {
          case gg: StructType => gg.fieldNames
          case _ => null
        }).toArray
        case _ => null
      }).toArray
      case _ => null
    }).toArray
  private[this] val g2Types: Array[Array[Array[Array[DataType]]]] =
    schema.fields.map(_.dataType match {
      case st: StructType => st.fields.map(_.dataType match {
        case g: StructType => g.fields.map(_.dataType match {
          case gg: StructType => gg.fields.map(_.dataType)
          case _ => null
        }).toArray
        case _ => null
      }).toArray
      case _ => null
    }).toArray
  private[this] val g2Seen: Array[Array[Array[Array[Boolean]]]] =
    g2Names.map(gn => if (gn == null) null
      else gn.map(g => if (g == null) null
        else g.map(gg => if (gg == null) null else new Array[Boolean](gg.length))))
  private[this] val hasG2 = g2Names.exists(gn => gn != null &&
    gn.exists(g => g != null && g.exists(_ != null)))
  // one-level ARRAY lanes (round 13): element type per array-of-atomic
  // column (null for everything else). Elements write into the parent
  // vector's single child at a per-column running offset; the column's
  // closing unnest stamps putArray(row, start, count).
  private[this] val elemTypes: Array[DataType] =
    schema.fields.map(_.dataType match {
      case at: ArrayType => at.elementType
      case _ => null
    }).toArray
  // one-level MAP lanes (round 13): value type per MAP<STRING, atomic>
  // column. Entries share the array machinery — keys stream into
  // childColumns(0) (a string vector), values into childColumns(1), at
  // the same running offset; the closing unnest stamps putArray (map
  // vectors use the array offset storage). Duplicate keys BOTH append
  // (spark.read.json keeps duplicates in its ArrayBasedMapData).
  private[this] val mapValTypes: Array[DataType] =
    schema.fields.map(_.dataType match {
      case mt: MapType => mt.valueType
      case _ => null
    }).toArray
  // the value-bearing type per CONTAINER column (array element type, or
  // map value type); null = not a container lane — the one predicate the
  // shared array/map machinery branches on
  private[this] val contValType: Array[DataType] =
    elemTypes.indices.map(i =>
      if (elemTypes(i) != null) elemTypes(i) else mapValTypes(i)).toArray
  // ARRAY<STRUCT<atomic…>> lanes (round 14): field names/types of the
  // element struct per column (null otherwise). Elements are rows of the
  // array's single STRUCT child — each field writes into that struct
  // vector's own child at the running element offset; the element's
  // close stamps unwritten fields null; the binding's close stamps
  // putArray like every container. Element semantics match the row path
  // and spark.read.json (probed empirically, round 14): a struct element
  // keeps PER-FIELD partials (a field that fails conversion or holds a
  // container reads null, the element and array survive), while an
  // element-level mismatch (scalar/array where the struct was expected)
  // poisons the whole array; `{}` is a present element with all-null
  // fields; null elements are kept; duplicate field keys replace.
  private[this] val elemKidNames: Array[Array[String]] =
    schema.fields.map(_.dataType match {
      case ArrayType(st: StructType, _) => st.fieldNames
      case _ => null
    }).toArray
  private[this] val elemKidTypes: Array[Array[DataType]] =
    schema.fields.map(_.dataType match {
      case ArrayType(st: StructType, _) => st.fields.map(_.dataType)
      case _ => null
    }).toArray
  // which fields of the OPEN object element have been written (valid only
  // while elemObjOpen; cleared at each element's first field key)
  private[this] val elemKidSeen: Array[Array[Boolean]] =
    elemKidNames.map(en => if (en == null) null else new Array[Boolean](en.length))
  // CONTAINERS INSIDE ELEMENT STRUCTS (round 16) — the order.items[].sku
  // / items[].tags shape, the last high-frequency real-data shape on the
  // row path: an ARRAY<STRUCT<…>> column's element-struct fields may be
  //   - ARRAY<atomic>: elements stream into the field vector's single
  //     child at a per-(col,field) running offset; the field's closing
  //     unnest stamps putArray at the ELEMENT offset (the round-15
  //     child-array machinery anchored one level down), and
  //   - STRUCT<atomic…>: grand lanes at ELEMENT offsets (the round-14
  //     grand machinery re-anchored from rows to element slots).
  // Element type per (column, element-field) when the field is an array:
  private[this] val ekArrElem: Array[Array[DataType]] =
    schema.fields.map(_.dataType match {
      case ArrayType(st: StructType, _) => st.fields.map(_.dataType match {
        case at: ArrayType => at.elementType
        case _ => null
      }).toArray
      case _ => null
    }).toArray
  private[this] val hasEkArrays =
    ekArrElem.exists(ea => ea != null && ea.exists(_ != null))
  // flat (col, field) pair list for the array-typed element fields
  private[this] val ekPairs: Array[Int] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < numCols) {
      val ea = ekArrElem(i)
      if (ea != null) {
        var j = 0
        while (j < ea.length) { if (ea(j) != null) buf += (i << 16) | j; j += 1 }
      }
      i += 1
    }
    buf.toArray
  }
  // next free inner-element slot / row-start snapshot per (col, field)
  private[this] val ekElemPos: Array[Array[Int]] =
    ekArrElem.map(ea => if (ea == null) null else new Array[Int](ea.length))
  private[this] val ekRowStartPos: Array[Array[Int]] =
    ekArrElem.map(ea => if (ea == null) null else new Array[Int](ea.length))
  // grandfield names/types per (column, element-field) when the field is
  // itself a STRUCT<atomic…>
  private[this] val ekGNames: Array[Array[Array[String]]] =
    schema.fields.map(_.dataType match {
      case ArrayType(st: StructType, _) => st.fields.map(_.dataType match {
        case g: StructType => g.fieldNames
        case _ => null
      }).toArray
      case _ => null
    }).toArray
  private[this] val ekGTypes: Array[Array[Array[DataType]]] =
    schema.fields.map(_.dataType match {
      case ArrayType(st: StructType, _) => st.fields.map(_.dataType match {
        case g: StructType => g.fields.map(_.dataType)
        case _ => null
      }).toArray
      case _ => null
    }).toArray
  private[this] val ekGSeen: Array[Array[Array[Boolean]]] =
    ekGNames.map(gn => if (gn == null) null
      else gn.map(g => if (g == null) null else new Array[Boolean](g.length)))
  private[this] val hasEkGrand =
    ekGNames.exists(gn => gn != null && gn.exists(_ != null))
  // ARRAY<atomic> STRUCT-CHILD lanes (round 15): element type per
  // (column, child) where a struct child is ARRAY<atomic> — the
  // user.tags / metadata.labels shape, the most common real shape that
  // used to fall to the row path. Elements write into the child array
  // vector's single element child at a per-(col,child) running offset;
  // the child's closing unnest stamps putArray at the ROW offset — the
  // round-13 element-offset machinery anchored one level down.
  private[this] val childArrElem: Array[Array[DataType]] =
    schema.fields.map(_.dataType match {
      case st: StructType => st.fields.map(_.dataType match {
        // ATOMIC elements only: ARRAY<STRUCT> children take the ck
        // lanes (round 17) below
        case ArrayType(et, _) if !et.isInstanceOf[StructType] => et
        case _ => null
      }).toArray
      case _ => null
    }).toArray
  private[this] val hasChildArrays =
    childArrElem.exists(ca => ca != null && ca.exists(_ != null))
  // next free element slot / row-start snapshot per (col, child)
  private[this] val childElemPos: Array[Array[Int]] =
    childArrElem.map(ca => if (ca == null) null else new Array[Int](ca.length))
  private[this] val childRowStartElem: Array[Array[Int]] =
    childArrElem.map(ca => if (ca == null) null else new Array[Int](ca.length))
  // ARRAY<STRUCT<atomic…>> STRUCT-CHILD lanes (round 17): field names/
  // types of the element struct per (column, child) where a struct child
  // is an array of structs — the user.addresses[].city shape. Elements
  // are rows of the child array's single STRUCT element vector: fields
  // write at the per-(col,child) running element offset (the shared
  // childElemPos machinery), the element's close stamps unwritten fields
  // null, the binding's close stamps putArray at the ROW offset. Element
  // semantics match the top-level ARRAY<STRUCT> rules one level down
  // (pinned by pyspark probe, 23 shapes): scalar/array elements poison
  // the whole cell, {}/unknown-key elements are present-all-null, field
  // failures null the FIELD only, dup bindings last-wins with
  // failed-dup-never-overwrites, raw-text capture for string fields.
  private[this] val ckNames: Array[Array[Array[String]]] =
    schema.fields.map(_.dataType match {
      case st: StructType => st.fields.map(_.dataType match {
        case ArrayType(g: StructType, _) => g.fieldNames
        case _ => null
      }).toArray
      case _ => null
    }).toArray
  private[this] val ckTypes: Array[Array[Array[DataType]]] =
    schema.fields.map(_.dataType match {
      case st: StructType => st.fields.map(_.dataType match {
        case ArrayType(g: StructType, _) => g.fields.map(_.dataType)
        case _ => null
      }).toArray
      case _ => null
    }).toArray
  // the element STRUCT type per ck (col, child): the plain-element target
  // type for scalar/null element events (null element kept; anything
  // else discards → poison)
  private[this] val ckElemStruct: Array[Array[DataType]] =
    schema.fields.map(_.dataType match {
      case st: StructType => st.fields.map(_.dataType match {
        case ArrayType(g: StructType, _) => (g: DataType)
        case _ => null
      }).toArray
      case _ => null
    }).toArray
  // which fields of the OPEN element have been written (valid only while
  // ckObjOpen; cleared at each element's first field key)
  private[this] val ckSeen: Array[Array[Array[Boolean]]] =
    ckNames.map(cn => if (cn == null) null
      else cn.map(c => if (c == null) null else new Array[Boolean](c.length)))
  private[this] val hasCk =
    ckNames.exists(cn => cn != null && cn.exists(_ != null))
  // MAP<STRING, atomic> STRUCT-CHILD lanes (round 17): value type per
  // (column, child) where a struct child is a string-keyed map of
  // atomics — the payload.headers shape. Entries share the child-array
  // offset machinery: keys stream into the child map vector's keys
  // child, values into its values child (childArrVecs points there), at
  // the per-(col,child) running offset; the binding's close stamps
  // putArray at the row offset (map vectors use array offset storage).
  // Pinned by pyspark probe (20 shapes): null values kept; conversion-
  // failure/container/object values poison the cell; scalar/array where
  // the map was expected nulls the FIELD; duplicate keys BOTH append;
  // dup bindings last-wins with failed-dup-never-overwrites; raw-text
  // capture for STRING values (file-based reads).
  private[this] val cmValT: Array[Array[DataType]] =
    schema.fields.map(_.dataType match {
      case st: StructType => st.fields.map(_.dataType match {
        case MapType(StringType, vt, _) => vt
        case _ => null
      }).toArray
      case _ => null
    }).toArray
  private[this] val hasCm =
    cmValT.exists(cv => cv != null && cv.exists(_ != null))
  // the plain-element/value target type per vectorized struct child:
  // atomic element, the ck element struct (null elements keep, scalars
  // discard → poison), or the cm value type
  private[this] val cTargetT: Array[Array[DataType]] =
    childArrElem.indices.map { i =>
      val ca = childArrElem(i)
      if (ca == null) null
      else Array.tabulate(ca.length) { j =>
        if (ca(j) != null) ca(j)
        else if (ckElemStruct(i)(j) != null) ckElemStruct(i)(j)
        else cmValT(i)(j)
      }
    }.toArray
  // flat (col, child) pair list for per-row iteration, packed i<<16|j —
  // EVERY vectorized child container: atomic elements (round 15), struct
  // elements, and map entries (round 17) share the offset/rewind/carry
  // machinery
  private[this] val childArrPairs: Array[Int] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < numCols) {
      val ca = cTargetT(i)
      if (ca != null) {
        var j = 0
        while (j < ca.length) {
          if (ca(j) != null) buf += (i << 16) | j
          j += 1
        }
      }
      i += 1
    }
    buf.toArray
  }

  private[this] val arrCols: Array[Int] =
    contValType.indices.filter(contValType(_) != null).toArray
  // next free element slot / row-start snapshot per array/map column
  // (rewound when a row is rejected so heavy filtering can't balloon the
  // children)
  private[this] val elemPos: Array[Int] = new Array[Int](numCols)
  private[this] val rowStartElem: Array[Int] = new Array[Int](numCols)

  private[this] var capacity = 4096
  private[this] var vectors: Array[OnHeapColumnVector] = _
  private[this] var childVecs: Array[Array[WritableColumnVector]] = _
  private[this] var arrChild: Array[WritableColumnVector] = _
  private[this] var mapKeyChild: Array[WritableColumnVector] = _
  private[this] var elemKidVecs: Array[Array[WritableColumnVector]] = _
  private[this] var gVecs: Array[Array[Array[WritableColumnVector]]] = _
  private[this] var g2Vecs: Array[Array[Array[Array[WritableColumnVector]]]] = _
  private[this] var childArrVecs: Array[Array[WritableColumnVector]] = _
  private[this] var cmKeyVecs: Array[Array[WritableColumnVector]] = _
  private[this] var ckVecs: Array[Array[Array[WritableColumnVector]]] = _
  private[this] var ekArrVecs: Array[Array[WritableColumnVector]] = _
  private[this] var ekGVecs: Array[Array[Array[WritableColumnVector]]] = _
  allocate()
  private[this] var rows = 0
  private[this] var skippedBytes = 0L
  private[this] val seen = new Array[Boolean](numCols)
  // count of distinct top-level columns filled this row; when it reaches
  // numCols the row is SATURATED and unnest answers Signal.FinishRow (the
  // parser byte-skips the remaining fields in one scan)
  private[this] var seenCnt = 0
  private[this] val canSaturate = saturate && numCols > 0

  // Key-cruise probe (Mison-style, [[graft.core.KeyProbe]]), the twin of
  // RowPlate's: unknown row-depth keys skip with no plate notification.
  // Gated on `saturate` (the cruise elides per-value validation). Child
  // names are admitted too — the cruise must never swallow a key a
  // struct lane wants (cheap false-admissions of a child-named row key
  // just take the normal nestMap path).
  private[this] val probeWanted: Array[Array[Byte]] =
    if (!saturate) null
    else (names ++ childNames.filter(_ != null).flatten ++
        elemKidNames.filter(_ != null).flatten ++
        gNames.filter(_ != null).flatten.filter(_ != null).flatten ++
        ekGNames.filter(_ != null).flatten.filter(_ != null).flatten ++
        ckNames.filter(_ != null).flatten.filter(_ != null).flatten ++
        g2Names.filter(_ != null).flatten.filter(_ != null).flatten
          .filter(_ != null).flatten ++
        filters.flatMap(_.references))
      .distinct
      .map(b => b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private[this] val probePacked: Array[Long] =
    if (probeWanted == null) null
    else probeWanted.map(b => graft.core.Swar.packPrefix(b, 0, b.length))

  // Optimistic saturated-tail support (round 16), twin of RowPlate's
  override val cruiseKeyFirstBytes: Array[Long] = KeyProbe.firstByteBitmap(probeWanted)
  override val cruiseMaxKeyLen: Int = KeyProbe.maxKeyLen(probeWanted)

  override def cruisableKey(bytes: Array[Byte], off: Int, len: Int): Boolean = {
    if (probeWanted == null) return false
    var i = 0
    while (i < probeWanted.length) {
      val w = probeWanted(i)
      if (w.length == len && {
        if (len <= 8)
          graft.core.Swar.packPrefix(bytes, off, len) == probePacked(i)
        else
          java.util.Arrays.equals(w, 0, len, bytes, off, off + len)
      }) return false
      i += 1
    }
    true
  }

  @inline private[this] def markSeen(idx: Int): Unit = {
    if (!seen(idx)) {
      seen(idx) = true
      seenCnt += 1
    } else {
      // duplicate key overwrite (last-wins, matching RowPlate and
      // spark.read.json): clear a possible null bit from the first binding
      vectors(idx).putNotNull(rows)
    }
  }

  @inline private[this] def markChildSeen(i: Int, j: Int): Unit = {
    if (!childSeen(i)(j)) childSeen(i)(j) = true
    else childVecs(i)(j).putNotNull(rows) // duplicate child key: last-wins
  }

  /** Last-wins replace of an INNER struct binding: its grandchildren
    * reset to unseen and their explicit null bits scrub (the two-level
    * twin of [[scrubChildNulls]]). Struct-typed grands scrub their
    * great lanes too.
    */
  private[this] def scrubGrandNulls(i: Int, j: Int): Unit = {
    val gs = gSeen(i)(j)
    var k = 0
    while (k < gs.length) {
      if (gs(k)) {
        gVecs(i)(j)(k).putNotNull(rows)
        if (g2Names(i)(j)(k) != null) scrubG2Nulls(i, j, k)
      }
      k += 1
    }
    java.util.Arrays.fill(gs, false)
  }

  /** Last-wins replace of a STRUCT-TYPED GRAND binding: its great-
    * grandchildren reset to unseen and their explicit null bits scrub
    * (the three-level twin of [[scrubGrandNulls]]).
    */
  private[this] def scrubG2Nulls(i: Int, j: Int, k: Int): Unit = {
    val gs = g2Seen(i)(j)(k)
    var l = 0
    while (l < gs.length) {
      if (gs(l)) g2Vecs(i)(j)(k)(l).putNotNull(rows)
      l += 1
    }
    java.util.Arrays.fill(gs, false)
  }

  /** Last-wins replace of a struct binding: the first binding's children
    * reset to unseen AND their explicit null bits scrub, so the new
    * binding's value writes (which never touch validity) read back.
    * Inner-struct children scrub their grand lanes too.
    */
  private[this] def scrubChildNulls(i: Int): Unit = {
    val cs = childSeen(i)
    var j = 0
    while (j < cs.length) {
      if (cs(j)) {
        childVecs(i)(j).putNotNull(rows)
        if (gNames(i)(j) != null) scrubGrandNulls(i, j)
      }
      j += 1
    }
    java.util.Arrays.fill(cs, false)
  }

  private[this] def resetChildSeen(): Unit = if (hasStructs) {
    var i = 0
    while (i < numCols) {
      if (childSeen(i) != null) {
        java.util.Arrays.fill(childSeen(i), false)
        if (hasGrand) {
          val gn = gNames(i)
          var j = 0
          while (j < gn.length) {
            if (gn(j) != null) {
              java.util.Arrays.fill(gSeen(i)(j), false)
              if (hasG2) {
                val g2 = g2Names(i)(j)
                var k = 0
                while (k < g2.length) {
                  if (g2(k) != null) java.util.Arrays.fill(g2Seen(i)(j)(k), false)
                  k += 1
                }
              }
            }
            j += 1
          }
        }
      }
      i += 1
    }
  }

  // nesting state: depth inside the current row; the open column index;
  // the open struct child index (depth 2)
  private[this] var depth = 0
  private[this] var curIdx = -1
  private[this] var curChild = -1
  private[this] var skipPending = false
  // array-lane state: an array binding is open on curIdx (elements span
  // [arrStart, elemPos(curIdx)) in the child); inside one element's value
  // scope; that element already wrote (containers emit several events —
  // only the first fills the slot, matching the row path's null element)
  private[this] var arrOpen = false
  private[this] var arrStart = 0
  private[this] var elemScope = false
  private[this] var elemFilled = false
  // the open entry's write slot in the value-bearing child (for maps the
  // key is already written there when the value event arrives)
  private[this] var entrySlot = 0
  // a DISCARDED element (container where an atomic was expected, or a
  // failed conversion) nulls the WHOLE array — spark.read.json
  // partial-results parity (arrays have no per-element partials); the
  // close drops the garbage run
  private[this] var arrPoison = false
  // pre-open state of the container binding's CELL: a poisoned DUP
  // binding must not overwrite the previous binding's stamped value
  // (spark parity, round 14) — the close consults these
  private[this] var arrSeenAtOpen = false
  private[this] var arrNullAtOpen = false
  // ARRAY<STRUCT> element state: the open element is an OBJECT being
  // filled (its close stamps unwritten fields null and advances the
  // run); the open FIELD lane inside it (depth 3; -1 = none)
  private[this] var elemObjOpen = false
  private[this] var curKid = -1
  // TWO-LEVEL struct state: the open GRANDCHILD lane (depth 3 under a
  // non-element inner struct; -1 = none) and the inner-struct twin of
  // structOpenThisBinding (distinguishes a duplicate inner binding from
  // the next grandchild of the same binding)
  private[this] var curGrand = -1
  private[this] var innerOpenThisBinding = false
  // THREE-LEVEL struct state (round 17): the open GREAT-GRANDCHILD lane
  // (depth 4 under a struct-typed grand; -1 = none) and the grand twin
  // of innerOpenThisBinding (distinguishes a duplicate GRAND binding
  // from the next great-field of the same binding)
  private[this] var curG2 = -1
  private[this] var grandOpenThisBinding = false
  // STRUCT-CHILD ARRAY state (round 15), the (curIdx, curChild)-anchored
  // twin of the top-level arrOpen machinery: a child-array binding is
  // open (elements span [cArrStart, childElemPos(i)(j))); inside one
  // element's value scope; that element already wrote; the open element's
  // write slot; a discarded element poisons the binding; pre-open cell
  // state for failed-dup-never-overwrites parity
  private[this] var cArrOpen = false
  private[this] var cArrStart = 0
  private[this] var cSlot = 0
  private[this] var cScope = false
  private[this] var cFilled = false
  private[this] var cPoison = false
  private[this] var cSeenAtOpen = false
  private[this] var cNullAtOpen = false
  // ck ELEMENT state (round 17): the open child-array element is an
  // OBJECT being filled (its close stamps unwritten fields null and
  // advances the run); the open FIELD lane inside it (depth 4; -1 = none)
  private[this] var ckObjOpen = false
  private[this] var curCk = -1
  // ELEMENT-FIELD ARRAY state (round 16), the (curIdx, ekKid)-anchored
  // twin of the cArr machinery one level down: an array-typed element
  // FIELD binding is open (inner elements span [ekArrStart,
  // ekElemPos(i)(ekKid))); inside one inner element's value scope; the
  // open inner element already wrote; its write slot; a discarded inner
  // element poisons the FIELD binding; pre-open cell state for
  // failed-dup-never-overwrites parity
  private[this] var ekArrOpen = false
  private[this] var ekArrStart = 0
  private[this] var ekSlot = 0
  private[this] var ekScope = false
  private[this] var ekFilled = false
  private[this] var ekPoison = false
  private[this] var ekWasSeen = false
  private[this] var ekWasNull = false
  private[this] var ekKid = -1
  // ELEMENT-FIELD STRUCT state: the open grandfield lane (depth 4 under
  // a struct-typed element field; -1 = none) and the per-binding flag
  // distinguishing a duplicate field binding from its next grandfield
  private[this] var curEkGrand = -1
  private[this] var ekInnerOpen = false
  private[this] var rowCount = 0L
  private[this] val valueColIdx = names.indexOf("value") // scalar rows land here

  private[this] val filtersByIdx: Map[Int, Array[Filter]] =
    FilterEval.normalize(filters.filter(_.references.length == 1))
      .groupBy(f => names.indexOf(f.references.head))
      .removed(-1)
  // array-indexed view of filtersByIdx: the per-scalar membership test
  // must not box the column index into a Map key
  private[this] val filterAt: Array[Array[Filter]] = {
    val a = new Array[Array[Filter]](numCols)
    filtersByIdx.foreach { case (i, fs) => if (i >= 0 && i < numCols) a(i) = fs }
    a
  }
  private[this] val hasNullFilters =
    filters.exists(f => f.isInstanceOf[IsNotNull] || f.isInstanceOf[IsNull])
  // STRUCT-CHILD filter anchors (dotted refs like `n.x`), the columnar
  // twin of the row path's nested-filter trie, restricted to one
  // nesting level — without this, vectorizing structs would silently
  // trade away the row-drop a selective nested filter buys. Decided at
  // finishRow over final written values (round 14); unwritten children
  // evaluate null, staying for Spark's residual filter.
  private[this] val childFilterAt: Array[Array[Array[Filter]]] = {
    val out = new Array[Array[Array[Filter]]](numCols)
    FilterEval.normalize(filters.filter(f => f.references.length == 1 &&
        f.references.head.contains(".") &&
        !names.contains(f.references.head))).foreach { f =>
      val ref = f.references.head
      val dot = ref.indexOf('.')
      if (ref.indexOf('.', dot + 1) < 0) { // one-level only
        val i = names.indexOf(ref.substring(0, dot))
        if (i >= 0 && childNames(i) != null) {
          val j = childNames(i).indexOf(ref.substring(dot + 1))
          if (j >= 0) {
            if (out(i) == null)
              out(i) = new Array[Array[Filter]](childNames(i).length)
            out(i)(j) = if (out(i)(j) == null) Array(f) else out(i)(j) :+ f
          }
        }
      }
    }
    out
  }
  private[this] val hasChildFilters = childFilterAt.exists(_ != null)

  // great-grandchild vectors: the children of struct-typed grand vectors
  private def g2Of(grands: Array[Array[Array[WritableColumnVector]]])
      : Array[Array[Array[Array[WritableColumnVector]]]] = {
    if (!hasG2) return null
    val out = new Array[Array[Array[Array[WritableColumnVector]]]](numCols)
    var i = 0
    while (i < numCols) {
      val gn = g2Names(i)
      if (gn != null && gn.exists(g => g != null && g.exists(_ != null)))
        out(i) = Array.tabulate(gn.length)(j =>
          if (gn(j) == null || gn(j).forall(_ == null)) null
          else Array.tabulate(gn(j).length)(k =>
            if (gn(j)(k) == null) null
            else Array.tabulate(gn(j)(k).length)(l =>
              grands(i)(j)(k).getChild(l).asInstanceOf[WritableColumnVector])))
      i += 1
    }
    out
  }

  // grandchild vectors: the children of inner-struct child vectors
  private def grandsOf(kids: Array[Array[WritableColumnVector]])
      : Array[Array[Array[WritableColumnVector]]] = {
    if (!hasGrand) return null
    val out = new Array[Array[Array[WritableColumnVector]]](numCols)
    var i = 0
    while (i < numCols) {
      if (childNames(i) != null && gNames(i).exists(_ != null)) {
        out(i) = Array.tabulate(childNames(i).length)(j =>
          if (gNames(i)(j) == null) null
          else Array.tabulate(gNames(i)(j).length)(k =>
            kids(i)(j).getChild(k).asInstanceOf[WritableColumnVector]))
      }
      i += 1
    }
    out
  }

  private def kidsOf(vs: Array[OnHeapColumnVector]): Array[Array[WritableColumnVector]] = {
    val out = new Array[Array[WritableColumnVector]](numCols)
    var i = 0
    while (i < numCols) {
      if (childNames(i) != null)
        out(i) = Array.tabulate(childNames(i).length)(j =>
          vs(i).getChild(j).asInstanceOf[WritableColumnVector])
      i += 1
    }
    out
  }

  // the VALUE-BEARING child per array/map column: elements for arrays,
  // the values lane for maps (keys live in mapKeyChild, never null)
  private def arrKidsOf(vs: Array[OnHeapColumnVector]): Array[WritableColumnVector] = {
    val out = new Array[WritableColumnVector](numCols)
    var k = 0
    while (k < arrCols.length) {
      val i = arrCols(k)
      out(i) = vs(i).getChild(if (mapValTypes(i) != null) 1 else 0)
        .asInstanceOf[WritableColumnVector]
      k += 1
    }
    out
  }

  // field vectors of the element struct per ARRAY<STRUCT> column: the
  // children of the array's struct child (element offsets, not row ones)
  private def elemKidsOf(arrKids: Array[WritableColumnVector]): Array[Array[WritableColumnVector]] = {
    val out = new Array[Array[WritableColumnVector]](numCols)
    var k = 0
    while (k < arrCols.length) {
      val i = arrCols(k)
      if (elemKidNames(i) != null)
        out(i) = Array.tabulate(elemKidNames(i).length)(j =>
          arrKids(i).getChild(j).asInstanceOf[WritableColumnVector])
      k += 1
    }
    out
  }

  private def mapKeyKidsOf(vs: Array[OnHeapColumnVector]): Array[WritableColumnVector] = {
    val out = new Array[WritableColumnVector](numCols)
    var k = 0
    while (k < arrCols.length) {
      val i = arrCols(k)
      if (mapValTypes(i) != null)
        out(i) = vs(i).getChild(0).asInstanceOf[WritableColumnVector]
      k += 1
    }
    out
  }

  // fresh vectors per batch (NOT ping-pong reuse): an A/B measured reuse
  // at zero gain on aggregate shapes — parse cost dominates — and reuse
  // breaks any consumer that holds a previous batch; allocation here is
  // one OnHeap array set per 256 KB chunk, GC-trivial
  private def allocate(): Unit = {
    vectors = OnHeapColumnVector.allocateColumns(capacity, schema)
      .asInstanceOf[Array[OnHeapColumnVector]]
    childVecs = kidsOf(vectors)
    arrChild = arrKidsOf(vectors)
    mapKeyChild = mapKeyKidsOf(vectors)
    elemKidVecs = elemKidsOf(arrChild)
    gVecs = grandsOf(childVecs)
    g2Vecs = g2Of(gVecs)
    childArrVecs = childArrKidsOf(childVecs)
    cmKeyVecs = cmKeysOf(childVecs)
    ckVecs = ckKidsOf(childArrVecs)
    ekArrVecs = ekArrKidsOf(elemKidVecs)
    ekGVecs = ekGrandsOf(elemKidVecs)
  }

  // element vectors of ARRAY<atomic> element-struct fields: the single
  // child of the array-typed field vector (inner-element offsets)
  private def ekArrKidsOf(ek: Array[Array[WritableColumnVector]])
      : Array[Array[WritableColumnVector]] = {
    if (!hasEkArrays) return null
    val out = new Array[Array[WritableColumnVector]](numCols)
    var i = 0
    while (i < numCols) {
      val ea = ekArrElem(i)
      if (ea != null && ea.exists(_ != null))
        out(i) = Array.tabulate(ea.length)(j =>
          if (ea(j) == null) null
          else ek(i)(j).getChild(0).asInstanceOf[WritableColumnVector])
      i += 1
    }
    out
  }

  // grandfield vectors of STRUCT element-struct fields (element offsets)
  private def ekGrandsOf(ek: Array[Array[WritableColumnVector]])
      : Array[Array[Array[WritableColumnVector]]] = {
    if (!hasEkGrand) return null
    val out = new Array[Array[Array[WritableColumnVector]]](numCols)
    var i = 0
    while (i < numCols) {
      val gn = ekGNames(i)
      if (gn != null && gn.exists(_ != null))
        out(i) = Array.tabulate(gn.length)(j =>
          if (gn(j) == null) null
          else Array.tabulate(gn(j).length)(g =>
            ek(i)(j).getChild(g).asInstanceOf[WritableColumnVector]))
      i += 1
    }
    out
  }

  // value-bearing vectors of vectorized struct children (element
  // offsets): the single child of array-typed child vectors — atomic
  // elements (round 15) and struct elements (round 17) alike — or the
  // VALUES child of map-typed ones (keys live in cmKeyVecs)
  private def childArrKidsOf(kids: Array[Array[WritableColumnVector]])
      : Array[Array[WritableColumnVector]] = {
    if (!hasChildArrays && !hasCk && !hasCm) return null
    val out = new Array[Array[WritableColumnVector]](numCols)
    var i = 0
    while (i < numCols) {
      val ct = cTargetT(i)
      if (ct != null && ct.exists(_ != null))
        out(i) = Array.tabulate(ct.length)(j =>
          if (ct(j) == null) null
          else kids(i)(j).getChild(if (cmValT(i)(j) != null) 1 else 0)
            .asInstanceOf[WritableColumnVector])
      i += 1
    }
    out
  }

  // keys vectors of MAP struct children (element offsets)
  private def cmKeysOf(kids: Array[Array[WritableColumnVector]])
      : Array[Array[WritableColumnVector]] = {
    if (!hasCm) return null
    val out = new Array[Array[WritableColumnVector]](numCols)
    var i = 0
    while (i < numCols) {
      val cv = cmValT(i)
      if (cv != null && cv.exists(_ != null))
        out(i) = Array.tabulate(cv.length)(j =>
          if (cv(j) == null) null
          else kids(i)(j).getChild(0).asInstanceOf[WritableColumnVector])
      i += 1
    }
    out
  }

  // field vectors of ARRAY<STRUCT> struct children (element offsets):
  // the children of the child array's struct element vector
  private def ckKidsOf(childArr: Array[Array[WritableColumnVector]])
      : Array[Array[Array[WritableColumnVector]]] = {
    if (!hasCk) return null
    val out = new Array[Array[Array[WritableColumnVector]]](numCols)
    var i = 0
    while (i < numCols) {
      val cn = ckNames(i)
      if (cn != null && cn.exists(_ != null))
        out(i) = Array.tabulate(cn.length)(j =>
          if (cn(j) == null) null
          else Array.tabulate(cn(j).length)(f =>
            childArr(i)(j).getChild(f).asInstanceOf[WritableColumnVector]))
      i += 1
    }
    out
  }

  /** Rows currently buffered in the open batch. */
  def pendingRows: Int = rows

  /** Copy one atomic cell between vectors (batch-boundary carryover):
    * the n=1 case of [[copyElemRange]] — one per-type switch to keep in
    * sync, not two.
    */
  private def copyAtomic(src: WritableColumnVector, dst: WritableColumnVector,
      dt: DataType, from: Int): Unit =
    copyElemRange(src, dst, dt, from, 1)

  /** Hand the buffered rows out as a batch and start a fresh one.
    *
    * A chunk boundary can split a row, so takeBatch() may be called with a
    * row in flight: its already-written cells live in the OLD vectors at
    * index `rows` (with `seen`/`childSeen` flags set) and must be carried
    * over to the new vectors at index 0, or the completed row would
    * silently read stale defaults for those columns in the next batch.
    */
  def takeBatch(): ColumnarBatch = {
    val batch = new ColumnarBatch(vectors.asInstanceOf[Array[org.apache.spark.sql.vectorized.ColumnVector]], rows)
    val old = vectors
    val oldKids = childVecs
    val oldArr = arrChild
    val oldMapKeys = mapKeyChild
    val oldElemKids = elemKidVecs
    val oldGrands = gVecs
    val oldChildArr = childArrVecs
    val oldCmKeys = cmKeyVecs
    val oldCk = ckVecs
    val oldEkArr = ekArrVecs
    val partialAt = rows
    // snapshot the OPEN child-array run's end before the rebase below
    // zeroes the position table (only one binding can be open)
    val openChildPos =
      if (cArrOpen) childElemPos(curIdx)(curChild) else 0
    // likewise for an open element-field array run
    val openEkPos =
      if (ekArrOpen) ekElemPos(curIdx)(ekKid) else 0
    allocate()
    rows = 0
    // struct-child array offsets rebase per batch (carried runs set them)
    var kc = 0
    while (kc < childArrPairs.length) {
      val pr = childArrPairs(kc)
      childElemPos(pr >>> 16)(pr & 0xFFFF) = 0
      childRowStartElem(pr >>> 16)(pr & 0xFFFF) = 0
      kc += 1
    }
    // element-field array offsets likewise (carryElemRun advances them)
    var ke = 0
    while (ke < ekPairs.length) {
      val pr = ekPairs(ke)
      ekElemPos(pr >>> 16)(pr & 0xFFFF) = 0
      ekRowStartPos(pr >>> 16)(pr & 0xFFFF) = 0
      ke += 1
    }
    var i = 0
    while (i < numCols) {
      if (seen(i)) {
        val src = old(i)
        types(i) match {
          case _: StructType =>
            if (src.isNullAt(partialAt)) vectors(i).putNull(0)
            else {
              val cs = childSeen(i)
              var j = 0
              while (j < cs.length) {
                if (cs(j)) {
                  if (gNames(i)(j) != null) {
                    // inner-struct child: copy only the WRITTEN grand
                    // cells (unwritten slots hold garbage not-nulls the
                    // finishRow stamping will replace — reading them as
                    // values could walk garbage string offsets)
                    val sk = oldKids(i)(j)
                    val dk = childVecs(i)(j)
                    if (sk.isNullAt(partialAt)) dk.putNull(0)
                    else {
                      val gs = gSeen(i)(j)
                      var k = 0
                      while (k < gs.length) {
                        if (gs(k)) {
                          val sg = oldGrands(i)(j)(k)
                          val dg = gVecs(i)(j)(k)
                          if (sg.isNullAt(partialAt)) dg.putNull(0)
                          else if (g2Names(i)(j)(k) != null) {
                            // struct-typed grand: copy only its WRITTEN
                            // great cells (three-level carry, round 17)
                            val g2s = g2Seen(i)(j)(k)
                            var l = 0
                            while (l < g2s.length) {
                              if (g2s(l)) {
                                val sgg = sg.getChild(l)
                                  .asInstanceOf[WritableColumnVector]
                                val dgg = g2Vecs(i)(j)(k)(l)
                                if (sgg.isNullAt(partialAt)) dgg.putNull(0)
                                else copyScalarAt(sgg, dgg,
                                  g2Types(i)(j)(k)(l), partialAt, 0)
                              }
                              l += 1
                            }
                          }
                          else copyScalarAt(sg, dg, gTypes(i)(j)(k), partialAt, 0)
                        }
                        k += 1
                      }
                    }
                  } else if (childArrElem(i)(j) != null || cmValT(i)(j) != null) {
                    // ARRAY<atomic> or MAP child of the in-flight row:
                    // move its element/entry run to the fresh vectors
                    // (closed cell re-stamps against row 0; an OPEN
                    // binding rebases its run and write cursors like the
                    // top-level mid-split). Map children carry their keys
                    // lane alongside — including a PENDING entry (key
                    // written, value still in flight) one slot past the
                    // run, mirroring the top-level map handling.
                    val vt = cTargetT(i)(j)
                    val isMap = cmValT(i)(j) != null
                    val src2 = oldKids(i)(j)
                    val dst2 = childVecs(i)(j)
                    def carryKeys(from: Int, n: Int, dstFrom: Int): Unit =
                      if (isMap)
                        copyElemRange(oldCmKeys(i)(j), cmKeyVecs(i)(j),
                          StringType, from, n, dstFrom)
                    if (cArrOpen && curIdx == i && curChild == j) {
                      if (cPoison) {
                        if (cSeenAtOpen && !cNullAtOpen) {
                          // poisoned DUP: the previous stamped run must
                          // survive the split — carry it and re-stamp
                          val off = src2.getArrayOffset(partialAt)
                          val n = src2.getArrayLength(partialAt)
                          copyElemRange(oldChildArr(i)(j), childArrVecs(i)(j), vt, off, n)
                          carryKeys(off, n, 0)
                          dst2.putArray(0, 0, n)
                          cSlot = n; childElemPos(i)(j) = n; cArrStart = n
                        } else {
                          cSlot = 0; childElemPos(i)(j) = 0; cArrStart = 0
                        }
                      } else {
                        // a DUP child binding's split preserves the
                        // PREVIOUS binding's stamped run too — a later
                        // poison leaves it standing (round-16 fix; the
                        // element-field twin had the same latent hole)
                        var pos = 0
                        if (cSeenAtOpen && !cNullAtOpen) {
                          val off0 = src2.getArrayOffset(partialAt)
                          val n0 = src2.getArrayLength(partialAt)
                          copyElemRange(oldChildArr(i)(j), childArrVecs(i)(j), vt, off0, n0)
                          carryKeys(off0, n0, 0)
                          dst2.putArray(0, 0, n0)
                          pos = n0
                        }
                        val k2 = openChildPos - cArrStart
                        copyElemRange(oldChildArr(i)(j), childArrVecs(i)(j), vt, cArrStart, k2, pos)
                        // a PENDING map entry's key lives one slot past
                        carryKeys(cArrStart,
                          if (cScope && !cFilled) k2 + 1 else k2, pos)
                        cSlot = pos + (cSlot - cArrStart)
                        childElemPos(i)(j) = pos + k2
                        cArrStart = pos
                      }
                    } else if (src2.isNullAt(partialAt)) {
                      dst2.putNull(0)
                    } else {
                      val off = src2.getArrayOffset(partialAt)
                      val n = src2.getArrayLength(partialAt)
                      copyElemRange(oldChildArr(i)(j), childArrVecs(i)(j), vt, off, n)
                      carryKeys(off, n, 0)
                      dst2.putArray(0, 0, n)
                      childElemPos(i)(j) = n
                    }
                  } else if (ckNames(i)(j) != null) {
                    // ARRAY<STRUCT> child of the in-flight row (round 17):
                    // move its element run — field vectors per element —
                    // to the fresh vectors; an OPEN binding rebases its
                    // run and cursors like the atomic mid-split, and an
                    // OPEN OBJECT ELEMENT carries its written fields one
                    // slot past the run
                    val src2 = oldKids(i)(j)
                    val dst2 = childVecs(i)(j)
                    if (cArrOpen && curIdx == i && curChild == j) {
                      if (cPoison) {
                        if (cSeenAtOpen && !cNullAtOpen) {
                          // poisoned DUP: the previous stamped run must
                          // survive the split — carry it and re-stamp
                          val off = src2.getArrayOffset(partialAt)
                          val n = src2.getArrayLength(partialAt)
                          ckCarryRun(i, j, oldChildArr(i)(j), oldCk(i)(j), off, n, 0)
                          dst2.putArray(0, 0, n)
                          cSlot = n; childElemPos(i)(j) = n; cArrStart = n
                        } else {
                          cSlot = 0; childElemPos(i)(j) = 0; cArrStart = 0
                        }
                        // the open object element's fields are garbage too
                        ckObjOpen = false
                        curCk = -1
                      } else {
                        var pos = 0
                        if (cSeenAtOpen && !cNullAtOpen) {
                          // a DUP binding's split preserves the PREVIOUS
                          // binding's stamped run — a later poison leaves
                          // it standing
                          val off0 = src2.getArrayOffset(partialAt)
                          val n0 = src2.getArrayLength(partialAt)
                          ckCarryRun(i, j, oldChildArr(i)(j), oldCk(i)(j), off0, n0, 0)
                          dst2.putArray(0, 0, n0)
                          pos = n0
                        }
                        val k2 = openChildPos - cArrStart
                        ckCarryRun(i, j, oldChildArr(i)(j), oldCk(i)(j), cArrStart, k2, pos)
                        val newSlot = pos + (cSlot - cArrStart)
                        if (ckObjOpen) {
                          // the OPEN object element lives one slot past
                          // the run: carry its WRITTEN fields there
                          childArrVecs(i)(j).reserve(newSlot + 1)
                          val ks = ckSeen(i)(j)
                          val kts = ckTypes(i)(j)
                          var f = 0
                          while (f < ks.length) {
                            if (ks(f)) {
                              val sf = oldCk(i)(j)(f)
                              val df = ckVecs(i)(j)(f)
                              df.reserve(newSlot + 1)
                              if (sf.isNullAt(cSlot)) df.putNull(newSlot)
                              else copyScalarAt(sf, df, kts(f), cSlot, newSlot)
                            }
                            f += 1
                          }
                        }
                        cSlot = newSlot
                        childElemPos(i)(j) = pos + k2
                        cArrStart = pos
                      }
                    } else if (src2.isNullAt(partialAt)) {
                      dst2.putNull(0)
                    } else {
                      val off = src2.getArrayOffset(partialAt)
                      val n = src2.getArrayLength(partialAt)
                      ckCarryRun(i, j, oldChildArr(i)(j), oldCk(i)(j), off, n, 0)
                      dst2.putArray(0, 0, n)
                      childElemPos(i)(j) = n
                    }
                  } else {
                    copyAtomic(oldKids(i)(j), childVecs(i)(j), childTypes(i)(j), partialAt)
                  }
                }
                j += 1
              }
            }
          case _ if contValType(i) != null =>
            val vt = contValType(i)
            if (arrOpen && curIdx == i) {
              // split mid-container: move the open entry run (elements,
              // or a map's keys+values) to the fresh children; the close
              // stamps putArray against row 0. A poisoned run is
              // garbage — drop it (the close writes null).
              if (arrPoison) {
                if (arrSeenAtOpen && !arrNullAtOpen) {
                  // the poisoned DUP binding will be dropped at its close
                  // and the PREVIOUS binding's value must stand: carry
                  // the previous stamped run over and re-stamp it
                  val off = src.getArrayOffset(partialAt)
                  val n = src.getArrayLength(partialAt)
                  if (elemKidNames(i) != null)
                    carryElemRun(i, oldArr(i), oldElemKids(i),
                      if (oldEkArr == null) null else oldEkArr(i), off, n)
                  else copyElemRange(oldArr(i), arrChild(i), vt, off, n)
                  if (mapValTypes(i) != null)
                    copyElemRange(oldMapKeys(i), mapKeyChild(i), StringType, off, n)
                  vectors(i).putArray(0, 0, n)
                  entrySlot = n; elemPos(i) = n; arrStart = n
                } else {
                  entrySlot = 0; elemPos(i) = 0; arrStart = 0
                }
                elemObjOpen = false // the open object element's fields are garbage too
                ekArrOpen = false; ekScope = false; ekInnerOpen = false
                ekPoison = false; curEkGrand = -1
              }
              else {
                // a DUP binding's split must also preserve the PREVIOUS
                // binding's stamped run: if this open binding later
                // POISONS, its close leaves the previous stamp standing —
                // which would point into the dropped old vectors
                var base = 0
                if (arrSeenAtOpen && !arrNullAtOpen) {
                  val off0 = src.getArrayOffset(partialAt)
                  val n0 = src.getArrayLength(partialAt)
                  if (elemKidNames(i) != null)
                    carryElemRun(i, oldArr(i), oldElemKids(i),
                      if (oldEkArr == null) null else oldEkArr(i), off0, n0)
                  else copyElemRange(oldArr(i), arrChild(i), vt, off0, n0)
                  if (mapValTypes(i) != null)
                    copyElemRange(oldMapKeys(i), mapKeyChild(i), StringType, off0, n0)
                  vectors(i).putArray(0, 0, n0)
                  base = n0
                }
                val k = elemPos(i) - arrStart
                if (elemKidNames(i) != null)
                  carryElemRun(i, oldArr(i), oldElemKids(i),
                    if (oldEkArr == null) null else oldEkArr(i), arrStart, k, base)
                else copyElemRange(oldArr(i), arrChild(i), vt, arrStart, k, base)
                if (mapValTypes(i) != null) {
                  // a PENDING entry (key written, value still in flight)
                  // lives one slot past the run: carry its key too
                  val kk = if (elemScope && !elemFilled) k + 1 else k
                  copyElemRange(oldMapKeys(i), mapKeyChild(i), StringType, arrStart, kk, base)
                }
                // an OPEN OBJECT ELEMENT (struct element mid-fields) lives
                // one slot past the run: carry its written fields there
                val kSlot = base + k
                if (elemObjOpen && oldElemKids(i) != null) {
                  arrChild(i).reserve(kSlot + 1)
                  val ks = elemKidSeen(i)
                  var j = 0
                  while (j < ks.length) {
                    if (ks(j)) {
                      val sk = oldElemKids(i)(j)
                      val dk = elemKidVecs(i)(j)
                      dk.reserve(kSlot + 1)
                      if (ekArrOpen && ekKid == j) {
                        // split mid-INNER-ARRAY: move the open inner run
                        // (or, for a poisoned dup, the previous stamped
                        // cell) and rebase the inner cursors
                        val vt2 = ekArrElem(i)(j).asInstanceOf[DataType]
                        if (ekPoison) {
                          if (ekWasSeen && !ekWasNull) {
                            val off2 = sk.getArrayOffset(entrySlot)
                            val n2 = sk.getArrayLength(entrySlot)
                            val pos = ekElemPos(i)(j)
                            copyElemRange(oldEkArr(i)(j), ekArrVecs(i)(j), vt2, off2, n2, pos)
                            dk.putArray(kSlot, pos, n2)
                            ekSlot = pos + n2; ekElemPos(i)(j) = pos + n2; ekArrStart = pos + n2
                          } else {
                            val pos = ekElemPos(i)(j)
                            ekSlot = pos; ekArrStart = pos
                          }
                        } else {
                          // a DUP field binding's split preserves the
                          // PREVIOUS binding's stamped run too — a later
                          // poison leaves it standing
                          var pos = ekElemPos(i)(j)
                          if (ekWasSeen && !ekWasNull) {
                            val off0 = sk.getArrayOffset(entrySlot)
                            val n0 = sk.getArrayLength(entrySlot)
                            copyElemRange(oldEkArr(i)(j), ekArrVecs(i)(j), vt2, off0, n0, pos)
                            dk.putArray(kSlot, pos, n0)
                            pos += n0
                          }
                          val m = openEkPos - ekArrStart
                          copyElemRange(oldEkArr(i)(j), ekArrVecs(i)(j), vt2, ekArrStart, m, pos)
                          ekSlot = pos + (ekSlot - ekArrStart)
                          ekElemPos(i)(j) = pos + m
                          ekArrStart = pos
                        }
                      } else if (sk.isNullAt(entrySlot)) dk.putNull(kSlot)
                      else elemKidTypes(i)(j) match {
                        case at: ArrayType =>
                          // a CLOSED container cell of the open element
                          val off2 = sk.getArrayOffset(entrySlot)
                          val n2 = sk.getArrayLength(entrySlot)
                          val pos = ekElemPos(i)(j)
                          copyElemRange(oldEkArr(i)(j), ekArrVecs(i)(j),
                            at.elementType, off2, n2, pos)
                          dk.putArray(kSlot, pos, n2)
                          ekElemPos(i)(j) = pos + n2
                        case gt: StructType =>
                          if (ekInnerOpen && curKid == j) {
                            // the OPEN inner struct: only its written
                            // grandfields are valid (unwritten slots hold
                            // garbage until the binding's close stamps)
                            val gs = ekGSeen(i)(j)
                            var g = 0
                            while (g < gs.length) {
                              if (gs(g)) {
                                val sg = sk.getChild(g).asInstanceOf[WritableColumnVector]
                                val dg = ekGVecs(i)(j)(g)
                                dg.reserve(kSlot + 1)
                                if (sg.isNullAt(entrySlot)) dg.putNull(kSlot)
                                else copyScalarAt(sg, dg, gt(g).dataType, entrySlot, kSlot)
                              }
                              g += 1
                            }
                          } else {
                            var g = 0
                            while (g < gt.length) {
                              val sg = sk.getChild(g).asInstanceOf[WritableColumnVector]
                              val dg = ekGVecs(i)(j)(g)
                              dg.reserve(kSlot + 1)
                              if (sg.isNullAt(entrySlot)) dg.putNull(kSlot)
                              else copyScalarAt(sg, dg, gt(g).dataType, entrySlot, kSlot)
                              g += 1
                            }
                          }
                        case dt2 => copyScalarAt(sk, dk, dt2, entrySlot, kSlot)
                      }
                    }
                    j += 1
                  }
                }
                entrySlot = base + (entrySlot - arrStart)
                elemPos(i) = base + k
                arrStart = base
              }
            } else if (src.isNullAt(partialAt)) {
              vectors(i).putNull(0)
              elemPos(i) = 0
            } else {
              // closed cell of the in-flight row: move its entry run
              val off = src.getArrayOffset(partialAt)
              val n = src.getArrayLength(partialAt)
              if (elemKidNames(i) != null)
                carryElemRun(i, oldArr(i), oldElemKids(i),
                  if (oldEkArr == null) null else oldEkArr(i), off, n)
              else copyElemRange(oldArr(i), arrChild(i), vt, off, n)
              if (mapValTypes(i) != null)
                copyElemRange(oldMapKeys(i), mapKeyChild(i), StringType, off, n)
              vectors(i).putArray(0, 0, n)
              elemPos(i) = n
            }
          case dt => copyAtomic(src, vectors(i), dt, partialAt)
        }
      } else if (contValType(i) != null) elemPos(i) = 0
      i += 1
    }
    // the in-flight row starts the fresh child vectors
    var k = 0
    while (k < arrCols.length) { rowStartElem(arrCols(k)) = 0; k += 1 }
    batch
  }

  /** Copy one scalar cell between vectors (carryover primitive). */
  private def copyScalarAt(src: WritableColumnVector, dst: WritableColumnVector,
      dt: DataType, sj: Int, dj: Int): Unit = dt match {
    case BooleanType => dst.putBoolean(dj, src.getBoolean(sj))
    case IntegerType | DateType => dst.putInt(dj, src.getInt(sj))
    case LongType | TimestampType => dst.putLong(dj, src.getLong(sj))
    case FloatType   => dst.putFloat(dj, src.getFloat(sj))
    case DoubleType  => dst.putDouble(dj, src.getDouble(sj))
    case StringType  =>
      val s = src.getUTF8String(sj)
      dst.putByteArray(dj, s.getBytes)
    case _           => dst.putNull(dj)
  }

  /** Copy `n` ATOMIC elements between array children (batch-boundary
    * carryover), landing at `dstFrom` (0 for whole-run moves; the
    * running write position for appends). STRUCT element runs take
    * [[carryElemRun]] instead — their fields may hold container cells
    * whose inner runs must re-pack.
    */
  private def copyElemRange(src: WritableColumnVector, dst: WritableColumnVector,
      dt: DataType, srcFrom: Int, n: Int, dstFrom: Int = 0): Unit = {
    dst.reserve(dstFrom + n)
    var j = 0
    while (j < n) {
      val sj = srcFrom + j
      val dj = dstFrom + j
      if (src.isNullAt(sj)) dst.putNull(dj)
      else copyScalarAt(src, dst, dt, sj, dj)
      j += 1
    }
  }

  /** Carry elements [srcFrom, srcFrom+n) of ARRAY<STRUCT> column `i`
    * into the FRESH vectors at [0, n): fields copy per element, and a
    * container field's inner run re-packs into the fresh inner child at
    * the running [[ekElemPos]] cursor (which this advances). Null
    * elements' field slots were never reserved — touched only under a
    * present element.
    */
  private def carryElemRun(i: Int,
      srcArr: WritableColumnVector, srcKids: Array[WritableColumnVector],
      oldEkArr: Array[WritableColumnVector],
      srcFrom: Int, n: Int, dstFrom: Int = 0): Unit = {
    val dstArr = arrChild(i)
    val dstKids = elemKidVecs(i)
    val kts = elemKidTypes(i)
    dstArr.reserve(dstFrom + n)
    var e = 0
    while (e < n) {
      val se = srcFrom + e
      val de = dstFrom + e
      if (srcArr.isNullAt(se)) dstArr.putNull(de)
      else {
        var j = 0
        while (j < kts.length) {
          val sk = srcKids(j)
          val dk = dstKids(j)
          dk.reserve(de + 1)
          if (sk.isNullAt(se)) dk.putNull(de)
          else kts(j) match {
            case at: ArrayType =>
              val off = sk.getArrayOffset(se)
              val len = sk.getArrayLength(se)
              val pos = ekElemPos(i)(j)
              copyElemRange(oldEkArr(j), ekArrVecs(i)(j), at.elementType, off, len, pos)
              dk.putArray(de, pos, len)
              ekElemPos(i)(j) = pos + len
            case gt: StructType =>
              var g = 0
              while (g < gt.length) {
                val sg = sk.getChild(g).asInstanceOf[WritableColumnVector]
                val dg = ekGVecs(i)(j)(g)
                dg.reserve(de + 1)
                if (sg.isNullAt(se)) dg.putNull(de)
                else copyScalarAt(sg, dg, gt(g).dataType, se, de)
                g += 1
              }
            case dt => copyScalarAt(sk, dk, dt, se, de)
          }
          j += 1
        }
      }
      e += 1
    }
  }

  /** Carry elements [srcFrom, srcFrom+n) of the ARRAY<STRUCT> struct
    * child (i,j) into the fresh element/field vectors at [dstFrom,
    * dstFrom+n) (batch-boundary carryover). Fields are atomic by
    * [[ColumnarPlate.supports]]; null elements' field slots were never
    * reserved — touched only under a present element.
    */
  private def ckCarryRun(i: Int, j: Int,
      srcElems: WritableColumnVector, srcKids: Array[WritableColumnVector],
      srcFrom: Int, n: Int, dstFrom: Int): Unit = {
    val dstElems = childArrVecs(i)(j)
    val dstKids = ckVecs(i)(j)
    val kts = ckTypes(i)(j)
    dstElems.reserve(dstFrom + n)
    var e = 0
    while (e < n) {
      val se = srcFrom + e
      val de = dstFrom + e
      if (srcElems.isNullAt(se)) dstElems.putNull(de)
      else {
        var f = 0
        while (f < kts.length) {
          val sk = srcKids(f)
          val dk = dstKids(f)
          dk.reserve(de + 1)
          if (sk.isNullAt(se)) dk.putNull(de)
          else copyScalarAt(sk, dk, kts(f), se, de)
          f += 1
        }
      }
      e += 1
    }
  }

  @inline private def ensureCapacity(): Unit =
    if (rows >= capacity) {
      capacity = capacity << 1
      var i = 0
      while (i < numCols) {
        vectors(i).reserve(capacity)
        // struct children are independent vectors: reserve them explicitly
        // (the parent's reserve only grows its own validity lane) — and
        // grandchildren likewise (row-offset lanes, so capacity-sized)
        val kids = childVecs(i)
        if (kids != null) {
          var j = 0
          while (j < kids.length) {
            kids(j).reserve(capacity)
            if (gVecs != null && gVecs(i) != null && gVecs(i)(j) != null) {
              val gs = gVecs(i)(j)
              var k = 0
              while (k < gs.length) {
                gs(k).reserve(capacity)
                // great lanes are row-offset vectors too (round 17)
                if (g2Vecs != null && g2Vecs(i) != null &&
                    g2Vecs(i)(j) != null && g2Vecs(i)(j)(k) != null) {
                  val g2 = g2Vecs(i)(j)(k)
                  var l = 0
                  while (l < g2.length) { g2(l).reserve(capacity); l += 1 }
                }
                k += 1
              }
            }
            j += 1
          }
        }
        i += 1
      }
    }

  // ------------------------------------------------------------- events

  // key-order cache: JSON rows almost always repeat the same key order, so
  // remember (key, column) per field position and hit with one compare —
  // raw UTF-8 bytes vs the parser's zero-copy ASCII views (one vectorized
  // Arrays.equals range check, no per-char CharSequence walk)
  private[this] val orderCap = 64
  private[this] val orderNames = new Array[String](orderCap)
  private[this] val orderBytes = new Array[Array[Byte]](orderCap)
  private[this] val orderCols = new Array[Int](orderCap)
  private[this] var fieldPos = 0
  // per-struct child key-order caches (see the struct branch of nestMap)
  private[this] val childOrderNames: Array[Array[String]] =
    childNames.map(cn => if (cn == null) null else new Array[String](orderCap))
  private[this] val childOrderBytes: Array[Array[Array[Byte]]] =
    childNames.map(cn => if (cn == null) null else new Array[Array[Byte]](orderCap))
  private[this] val childOrderCols: Array[Array[Int]] =
    childNames.map(cn => if (cn == null) null else new Array[Int](orderCap))
  private[this] var childFieldPos = 0
  // per-ARRAY<STRUCT>-column element field key-order caches (elements
  // repeat the same field order even more reliably than rows do)
  private[this] val elemOrderNames: Array[Array[String]] =
    elemKidNames.map(en => if (en == null) null else new Array[String](orderCap))
  private[this] val elemOrderBytes: Array[Array[Array[Byte]]] =
    elemKidNames.map(en => if (en == null) null else new Array[Array[Byte]](orderCap))
  private[this] val elemOrderCols: Array[Array[Int]] =
    elemKidNames.map(en => if (en == null) null else new Array[Int](orderCap))
  private[this] var elemFieldPos = 0
  // per-(column, child) grandchild key-order caches (two-level structs)
  private[this] val gOrderNames: Array[Array[Array[String]]] =
    gNames.map(gn => if (gn == null) null
      else gn.map(g => if (g == null) null else new Array[String](orderCap)))
  private[this] val gOrderBytes: Array[Array[Array[Array[Byte]]]] =
    gNames.map(gn => if (gn == null) null
      else gn.map(g => if (g == null) null else new Array[Array[Byte]](orderCap)))
  private[this] val gOrderCols: Array[Array[Array[Int]]] =
    gNames.map(gn => if (gn == null) null
      else gn.map(g => if (g == null) null else new Array[Int](orderCap)))
  private[this] var gFieldPos = 0
  // per-(column, child) element-field key-order caches for ARRAY<STRUCT>
  // struct children (elements repeat the same field order per row)
  private[this] val ckOrderNames: Array[Array[Array[String]]] =
    ckNames.map(cn => if (cn == null) null
      else cn.map(c => if (c == null) null else new Array[String](orderCap)))
  private[this] val ckOrderBytes: Array[Array[Array[Array[Byte]]]] =
    ckNames.map(cn => if (cn == null) null
      else cn.map(c => if (c == null) null else new Array[Array[Byte]](orderCap)))
  private[this] val ckOrderCols: Array[Array[Array[Int]]] =
    ckNames.map(cn => if (cn == null) null
      else cn.map(c => if (c == null) null else new Array[Int](orderCap)))
  private[this] var ckFieldPos = 0

  def nestMap(pathComponent: CharSequence): Signal = {
    if (depth == 0) {
      // a top-level column opens
      val pos = fieldPos
      fieldPos += 1
      var idx = -2 // -2 = unresolved; -1 = known-absent (skip)
      if (pos < orderCap && orderNames(pos) != null && {
            pathComponent match {
              case v: ByteSliceCharSeq =>
                val ob = orderBytes(pos)
                java.util.Arrays.equals(ob, 0, ob.length,
                  v.bytes, v.offset, v.offset + v.length)
              case _ => orderNames(pos).contentEquals(pathComponent)
            }
          }) {
        idx = orderCols(pos)
      } else {
        var i = 0
        idx = -1
        while (idx < 0 && i < numCols) {
          if (names(i).contentEquals(pathComponent)) idx = i
          i += 1
        }
        if (pos < orderCap) {
          val s = pathComponent.toString // copy: views are reused
          orderNames(pos) = s
          orderBytes(pos) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          orderCols(pos) = idx
        }
      }
      if (idx < 0) {
        skipPending = true
        Signal.SkipColumn
      } else {
        curIdx = idx
        depth = 1
        Signal.Continue
      }
    } else if (depth == 1 && curIdx >= 0 && childNames(curIdx) != null) {
      // a key under a STRUCT column: resolve the child lane. The struct is
      // marked present here (validity = the object appeared); a duplicate
      // struct binding replaces (last-wins): its prior children reset to
      // unseen so unwritten lanes null-fill at finishRow.
      if (!structOpenThisBinding) childFieldPos = 0
      if (!seen(curIdx)) {
        markSeen(curIdx)
        ensureCapacity()
      } else if (curChild < 0 && !structOpenThisBinding) {
        // re-opened by a duplicate key: replace the first binding —
        // including its explicit null BITS (putX value writes never clear
        // them, so a lane null in binding 1 would shadow binding 2's value)
        vectors(curIdx).putNotNull(rows)
        scrubChildNulls(curIdx)
      }
      structOpenThisBinding = true
      // child key-order cache, the struct twin of the top-level one:
      // bindings almost always repeat the same child order, so remember
      // (key bytes, lane) per field position and hit with one vectorized
      // byte compare — the linear name scan was a measured 30% of the
      // nested columnar read
      val i = curIdx
      val pos = childFieldPos
      childFieldPos += 1
      var kid = -2
      if (pos < orderCap && childOrderNames(i)(pos) != null && {
            pathComponent match {
              case v: ByteSliceCharSeq =>
                val ob = childOrderBytes(i)(pos)
                java.util.Arrays.equals(ob, 0, ob.length,
                  v.bytes, v.offset, v.offset + v.length)
              case _ => childOrderNames(i)(pos).contentEquals(pathComponent)
            }
          }) {
        kid = childOrderCols(i)(pos)
      } else {
        val cn = childNames(i)
        var j = 0
        kid = -1
        while (kid < 0 && j < cn.length) {
          if (cn(j).contentEquals(pathComponent)) kid = j
          j += 1
        }
        if (pos < orderCap) {
          val s = pathComponent.toString // copy: views are reused
          childOrderNames(i)(pos) = s
          childOrderBytes(i)(pos) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          childOrderCols(i)(pos) = kid
        }
      }
      if (kid < 0) {
        skipPending = true
        Signal.SkipColumn
      } else {
        curChild = kid
        depth = 2
        Signal.Continue
      }
    } else if (depth == 1 && curIdx >= 0 && mapValTypes(curIdx) != null) {
      // a key under a MAP column: one ENTRY — the first entry opens the
      // binding. Duplicate keys BOTH append (spark.read.json keeps
      // duplicate map keys in its ArrayBasedMapData; element_at returns
      // the first — verified empirically, round 13).
      val i = curIdx
      if (!arrOpen) {
        arrSeenAtOpen = seen(i)
        arrNullAtOpen = arrSeenAtOpen && vectors(i).isNullAt(rows)
        markSeen(i)
        ensureCapacity()
        arrOpen = true
        arrStart = elemPos(i)
      }
      entrySlot = elemPos(i)
      val kc = mapKeyChild(i)
      kc.reserve(entrySlot + 1)
      pathComponent match {
        case v: ByteSliceCharSeq => kc.putByteArray(entrySlot, v.bytes, v.offset, v.length)
        case _ => kc.putByteArray(entrySlot,
          pathComponent.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      elemScope = true
      elemFilled = false
      depth = 2
      Signal.Continue
    } else if (depth == 2 && !elemScope && curIdx >= 0 && curChild >= 0 &&
        gNames(curIdx)(curChild) != null) {
      // a key under an INNER STRUCT child (two-level lanes, round 14):
      // resolve the grandchild. The inner struct is marked present here;
      // a duplicate inner binding replaces (last-wins): its prior
      // grandchildren reset to unseen so unwritten lanes null-fill at
      // finishRow — the exact top-level struct discipline one level down.
      val i = curIdx
      val j = curChild
      if (!innerOpenThisBinding) gFieldPos = 0
      if (!childSeen(i)(j)) {
        childSeen(i)(j) = true
      } else if (curGrand < 0 && !innerOpenThisBinding) {
        // re-opened by a duplicate key: replace the first binding —
        // including its explicit null BITS
        childVecs(i)(j).putNotNull(rows)
        scrubGrandNulls(i, j)
      }
      innerOpenThisBinding = true
      val pos = gFieldPos
      gFieldPos += 1
      var kid = -2
      if (pos < orderCap && gOrderNames(i)(j)(pos) != null && {
            pathComponent match {
              case v: ByteSliceCharSeq =>
                val ob = gOrderBytes(i)(j)(pos)
                java.util.Arrays.equals(ob, 0, ob.length,
                  v.bytes, v.offset, v.offset + v.length)
              case _ => gOrderNames(i)(j)(pos).contentEquals(pathComponent)
            }
          }) {
        kid = gOrderCols(i)(j)(pos)
      } else {
        val gn = gNames(i)(j)
        var k = 0
        kid = -1
        while (kid < 0 && k < gn.length) {
          if (gn(k).contentEquals(pathComponent)) kid = k
          k += 1
        }
        if (pos < orderCap) {
          val s = pathComponent.toString // copy: views are reused
          gOrderNames(i)(j)(pos) = s
          gOrderBytes(i)(j)(pos) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          gOrderCols(i)(j)(pos) = kid
        }
      }
      if (kid < 0) {
        skipPending = true
        Signal.SkipColumn
      } else {
        curGrand = kid
        depth = 3
        Signal.Continue
      }
    } else if (depth == 2 && !elemScope && !cScope && curIdx >= 0 &&
        curChild >= 0 && cmValT(curIdx) != null &&
        cmValT(curIdx)(curChild) != null) {
      // a key under a MAP STRUCT CHILD (round 17): one ENTRY — the first
      // entry opens the binding (marks the child present; dup bindings
      // last-wins, failed dups never overwrite — the close consults the
      // pre-open state). Duplicate keys BOTH append (the top-level map
      // rule one level down; spark keeps duplicates, element_at returns
      // the first).
      val i = curIdx
      val j = curChild
      if (!cArrOpen) {
        cSeenAtOpen = childSeen(i)(j)
        cNullAtOpen = cSeenAtOpen && childVecs(i)(j).isNullAt(rows)
        markChildSeen(i, j)
        cArrOpen = true
        cArrStart = childElemPos(i)(j)
      }
      cSlot = childElemPos(i)(j)
      val kc = cmKeyVecs(i)(j)
      kc.reserve(cSlot + 1)
      pathComponent match {
        case v: ByteSliceCharSeq =>
          kc.putByteArray(cSlot, v.bytes, v.offset, v.length)
        case _ => kc.putByteArray(cSlot,
          pathComponent.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      cScope = true
      cFilled = false
      depth = 3
      Signal.Continue
    } else if (depth == 3 && !elemScope && !cScope && curIdx >= 0 &&
        curChild >= 0 && curGrand >= 0 && g2Names(curIdx)(curChild) != null &&
        g2Names(curIdx)(curChild)(curGrand) != null) {
      // a key under a STRUCT-TYPED GRANDCHILD (three-level lanes, round
      // 17): resolve the great-grandchild. The grand struct is marked
      // present here; a duplicate grand binding replaces (last-wins):
      // its prior great-fields reset to unseen so unwritten lanes
      // null-fill at finishRow — the two-level discipline one level down.
      val i = curIdx
      val j = curChild
      val k = curGrand
      if (!gSeen(i)(j)(k)) {
        gSeen(i)(j)(k) = true
      } else if (curG2 < 0 && !grandOpenThisBinding) {
        // re-opened by a duplicate key: replace the first binding —
        // including its explicit null BITS
        gVecs(i)(j)(k).putNotNull(rows)
        scrubG2Nulls(i, j, k)
      }
      grandOpenThisBinding = true
      val gn = g2Names(i)(j)(k)
      var kid = -1
      var l = 0
      while (kid < 0 && l < gn.length) {
        if (gn(l).contentEquals(pathComponent)) kid = l
        l += 1
      }
      if (kid < 0) {
        skipPending = true
        Signal.SkipColumn
      } else {
        curG2 = kid
        depth = 4
        Signal.Continue
      }
    } else if (depth == 2 && elemScope && curIdx >= 0 && !elemFilled &&
        elemKidNames(curIdx) != null) {
      // a FIELD key inside a STRUCT ELEMENT (round 14): the first key
      // turns the open element into an object element; duplicate field
      // keys replace (last-wins), unknown keys prune
      val i = curIdx
      if (!elemObjOpen) {
        elemObjOpen = true
        elemFieldPos = 0
        java.util.Arrays.fill(elemKidSeen(i), false)
      }
      val pos = elemFieldPos
      elemFieldPos += 1
      var kid = -2
      if (pos < orderCap && elemOrderNames(i)(pos) != null && {
            pathComponent match {
              case v: ByteSliceCharSeq =>
                val ob = elemOrderBytes(i)(pos)
                java.util.Arrays.equals(ob, 0, ob.length,
                  v.bytes, v.offset, v.offset + v.length)
              case _ => elemOrderNames(i)(pos).contentEquals(pathComponent)
            }
          }) {
        kid = elemOrderCols(i)(pos)
      } else {
        val en = elemKidNames(i)
        var j = 0
        kid = -1
        while (kid < 0 && j < en.length) {
          if (en(j).contentEquals(pathComponent)) kid = j
          j += 1
        }
        if (pos < orderCap) {
          val s = pathComponent.toString // copy: views are reused
          elemOrderNames(i)(pos) = s
          elemOrderBytes(i)(pos) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          elemOrderCols(i)(pos) = kid
        }
      }
      if (kid < 0) {
        skipPending = true
        Signal.SkipColumn
      } else {
        curKid = kid
        depth = 3
        Signal.Continue
      }
    } else if (depth == 3 && elemScope && !ekScope && curIdx >= 0 &&
        curKid >= 0 && ekGNames(curIdx) != null &&
        ekGNames(curIdx)(curKid) != null) {
      // a GRANDFIELD key inside a struct-typed ELEMENT FIELD (round 16):
      // the first key of a binding marks the field present (duplicate
      // field bindings replace — prior grand writes scrub); unknown
      // grandfields prune
      val i = curIdx
      if (!ekInnerOpen) {
        ekInnerOpen = true
        val v = elemKidVecs(i)(curKid)
        v.reserve(entrySlot + 1)
        if (!elemKidSeen(i)(curKid)) elemKidSeen(i)(curKid) = true
        else v.putNotNull(entrySlot)
        val gs = ekGSeen(i)(curKid)
        java.util.Arrays.fill(gs, false)
        val gv = ekGVecs(i)(curKid)
        var g = 0
        while (g < gv.length) {
          gv(g).reserve(entrySlot + 1); gv(g).putNotNull(entrySlot); g += 1
        }
      }
      val gn = ekGNames(i)(curKid)
      var kid = -1
      var g = 0
      while (kid < 0 && g < gn.length) {
        if (gn(g).contentEquals(pathComponent)) kid = g
        g += 1
      }
      if (kid < 0) {
        skipPending = true
        Signal.SkipColumn
      } else {
        curEkGrand = kid
        depth = 4
        Signal.Continue
      }
    } else if (depth == 3 && cScope && !cFilled && curIdx >= 0 &&
        curChild >= 0 && ckNames(curIdx) != null &&
        ckNames(curIdx)(curChild) != null) {
      // a FIELD key inside a CHILD-ARRAY STRUCT ELEMENT (round 17): the
      // first key turns the open element into an object element;
      // duplicate field keys replace (last-wins), unknown keys prune
      val i = curIdx
      val j = curChild
      if (!ckObjOpen) {
        ckObjOpen = true
        ckFieldPos = 0
        java.util.Arrays.fill(ckSeen(i)(j), false)
      }
      val pos = ckFieldPos
      ckFieldPos += 1
      var kid = -2
      if (pos < orderCap && ckOrderNames(i)(j)(pos) != null && {
            pathComponent match {
              case v: ByteSliceCharSeq =>
                val ob = ckOrderBytes(i)(j)(pos)
                java.util.Arrays.equals(ob, 0, ob.length,
                  v.bytes, v.offset, v.offset + v.length)
              case _ => ckOrderNames(i)(j)(pos).contentEquals(pathComponent)
            }
          }) {
        kid = ckOrderCols(i)(j)(pos)
      } else {
        val cn = ckNames(i)(j)
        var f = 0
        kid = -1
        while (kid < 0 && f < cn.length) {
          if (cn(f).contentEquals(pathComponent)) kid = f
          f += 1
        }
        if (pos < orderCap) {
          val s = pathComponent.toString // copy: views are reused
          ckOrderNames(i)(j)(pos) = s
          ckOrderBytes(i)(j)(pos) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          ckOrderCols(i)(j)(pos) = kid
        }
      }
      if (kid < 0) {
        skipPending = true
        Signal.SkipColumn
      } else {
        curCk = kid
        depth = 4
        Signal.Continue
      }
    } else {
      // container value under an atomic column (or under a struct child,
      // or an OBJECT ELEMENT inside an array of atomics — the element
      // reads null, once): the LANE reads null — stamped explicitly so a
      // duplicate binding overwrites an earlier value (RowPlate's
      // last-wins discard) — and the entries prune without plate traffic
      if (resolveTarget()) { tMark(); ensureCapacity(); tVec.putNull(tRow); tDone(); tDiscard() }
      skipPending = true
      Signal.SkipColumn
    }
  }

  // true while inside the CURRENT binding of an open struct — lets a
  // second `"s": {...}` binding in the same row be told apart from the
  // second child of the same binding
  private[this] var structOpenThisBinding = false

  def nestArr(): Signal = {
    // ELEMENT ENTRY on an array-lane column: the parser emits one
    // nestArr/unnest pair per element. The first entry opens the binding
    // (marks the column present; dup bindings last-wins like structs).
    if (depth == 1 && curIdx >= 0 && elemTypes(curIdx) != null) {
      if (!arrOpen) {
        arrSeenAtOpen = seen(curIdx)
        arrNullAtOpen = arrSeenAtOpen && vectors(curIdx).isNullAt(rows)
        markSeen(curIdx)
        ensureCapacity()
        arrOpen = true
        arrStart = elemPos(curIdx)
      }
      entrySlot = elemPos(curIdx)
      // STRUCT elements may fill only field vectors (the struct child's
      // own validity lane is read untouched for object elements): make
      // sure it covers this slot
      if (elemKidNames(curIdx) != null) arrChild(curIdx).reserve(entrySlot + 1)
      elemScope = true
      elemFilled = false
      depth = 2
      Signal.Continue
    } else if (depth == 2 && !elemScope && !cScope && curIdx >= 0 &&
        curChild >= 0 && childArrElem(curIdx) != null &&
        (childArrElem(curIdx)(curChild) != null ||
         ckNames(curIdx)(curChild) != null)) {
      // ELEMENT ENTRY on a vectorized STRUCT CHILD array — atomic
      // elements (round 15) or struct elements (round 17): one
      // nestArr/unnest pair per element; the first entry opens the
      // binding (marks the child present; dup bindings last-wins, failed
      // dups never overwrite — the close consults the pre-open state)
      val i = curIdx
      val j = curChild
      if (!cArrOpen) {
        cSeenAtOpen = childSeen(i)(j)
        cNullAtOpen = cSeenAtOpen && childVecs(i)(j).isNullAt(rows)
        markChildSeen(i, j)
        cArrOpen = true
        cArrStart = childElemPos(i)(j)
      }
      cSlot = childElemPos(i)(j)
      // STRUCT elements may fill only field vectors (the element vector's
      // validity lane is read untouched for object elements): make sure
      // it covers this slot
      if (ckNames(i)(j) != null) childArrVecs(i)(j).reserve(cSlot + 1)
      cScope = true
      cFilled = false
      depth = 3
      Signal.Continue
    } else if (depth == 3 && elemScope && !ekScope && curIdx >= 0 &&
        curKid >= 0 && ekArrElem(curIdx) != null &&
        ekArrElem(curIdx)(curKid) != null) {
      // INNER ELEMENT ENTRY on an array-typed ELEMENT FIELD (round 16):
      // one nestArr/unnest pair per inner element; the first entry opens
      // the field binding (marks it present; dup bindings last-wins,
      // failed dups never overwrite — the close consults pre-open state)
      val i = curIdx
      if (!ekArrOpen) {
        val v = elemKidVecs(i)(curKid)
        v.reserve(entrySlot + 1)
        ekWasSeen = elemKidSeen(i)(curKid)
        ekWasNull = ekWasSeen && v.isNullAt(entrySlot)
        if (!ekWasSeen) elemKidSeen(i)(curKid) = true
        else v.putNotNull(entrySlot)
        ekArrOpen = true
        ekKid = curKid
        ekArrStart = ekElemPos(i)(curKid)
      }
      ekSlot = ekElemPos(i)(ekKid)
      ekScope = true
      ekFilled = false
      depth = 4
      Signal.Continue
    } else if (depth == 0 && valueColIdx >= 0 && elemTypes(valueColIdx) != null &&
        !seen(valueColIdx)) {
      // array ROW in a schemaless stream: elements land in the "value"
      // array column (RowPlate parity); the binding has no enclosing
      // nest, so finishRow finalizes the open array
      curIdx = valueColIdx
      arrSeenAtOpen = false
      arrNullAtOpen = false
      markSeen(curIdx)
      ensureCapacity()
      arrOpen = true
      arrStart = elemPos(curIdx)
      entrySlot = elemPos(curIdx)
      if (elemKidNames(curIdx) != null) arrChild(curIdx).reserve(entrySlot + 1)
      elemScope = true
      elemFilled = false
      depth = 2
      Signal.Continue
    } else {
      // arrays fill no OTHER lane at any depth: the open lane (if any)
      // reads null — stamped explicitly for duplicate-binding last-wins,
      // like nestMap's container-under-lane branch — and elements drop.
      // In element scope this is a nested array: it poisons the array.
      if (depth > 0 && resolveTarget()) { tMark(); ensureCapacity(); tVec.putNull(tRow); tDone(); tDiscard() }
      skipPending = true
      Signal.SkipColumn
    }
  }

  def nestMeta(pathComponent: CharSequence): Signal = {
    skipPending = true
    Signal.SkipColumn
  }

  def unnest(): Signal = {
    if (skipPending) skipPending = false
    else if (depth > 0) {
      depth -= 1
      if (depth == 3) {
        curEkGrand = -1 // grandfield of an element field closed
        curCk = -1 // field of a child-array struct element closed
        curG2 = -1 // great-grandchild of a three-level struct closed
        if (ekScope) { ekScope = false; ekFilled = false } // inner element closed
      }
      if (depth == 2) {
        // an array-typed ELEMENT FIELD binding closes: stamp the
        // (offset, count) cell at the ELEMENT offset — or apply the
        // poison rule (a poisoned binding never overwrites a valid
        // earlier one)
        if (ekArrOpen) {
          val i = curIdx
          val j = ekKid
          val v = elemKidVecs(i)(j)
          if (ekPoison) {
            if (!ekWasSeen || ekWasNull) { v.reserve(entrySlot + 1); v.putNull(entrySlot) }
            scrubEkElems(i, j, ekArrStart, ekElemPos(i)(j))
            ekElemPos(i)(j) = ekArrStart
          } else {
            v.reserve(entrySlot + 1)
            v.putArray(entrySlot, ekArrStart, ekElemPos(i)(j) - ekArrStart)
          }
          ekArrOpen = false
          ekPoison = false
        }
        // a struct-typed ELEMENT FIELD binding closes: unwritten
        // grandfields of the present inner struct read null
        if (ekInnerOpen) {
          val gs = ekGSeen(curIdx)(curKid)
          val gv = ekGVecs(curIdx)(curKid)
          var g = 0
          while (g < gs.length) {
            if (!gs(g)) { gv(g).reserve(entrySlot + 1); gv(g).putNull(entrySlot) }
            g += 1
          }
          ekInnerOpen = false
        }
        curKid = -1; curGrand = -1 // field/grandchild closed
        grandOpenThisBinding = false // a grand binding (if any) closed
        // a ck OBJECT element closes: stamp its unwritten fields null at
        // the element slot and advance the run (round 17)
        if (ckObjOpen) {
          val kids = ckVecs(curIdx)(curChild)
          val ks = ckSeen(curIdx)(curChild)
          var f = 0
          while (f < ks.length) {
            if (!ks(f)) { kids(f).reserve(cSlot + 1); kids(f).putNull(cSlot) }
            f += 1
          }
          childElemPos(curIdx)(curChild) += 1
          ckObjOpen = false
        }
        if (cScope) { cScope = false; cFilled = false } // child-array element closed
      }
      if (depth == 1) {
        // a STRUCT-CHILD ARRAY binding closes: stamp the (offset, count)
        // cell at the ROW offset — or apply the poison rule (a poisoned
        // binding never overwrites a valid earlier one; only a first
        // binding or one over an explicit null nulls the cell)
        if (cArrOpen) {
          val i = curIdx
          val j = curChild
          if (cPoison) {
            if (!cSeenAtOpen || cNullAtOpen) childVecs(i)(j).putNull(rows)
            scrubChildArrElems(i, j, cArrStart, childElemPos(i)(j))
            childElemPos(i)(j) = cArrStart
          } else {
            childVecs(i)(j).putArray(rows, cArrStart, childElemPos(i)(j) - cArrStart)
          }
          cArrOpen = false
          cPoison = false
        }
        // an OBJECT element closes: stamp its unwritten fields null at
        // the element slot and advance the run (round 14)
        if (elemObjOpen) {
          val kids = elemKidVecs(curIdx)
          val ks = elemKidSeen(curIdx)
          var j = 0
          while (j < ks.length) {
            if (!ks(j)) { kids(j).reserve(entrySlot + 1); kids(j).putNull(entrySlot) }
            j += 1
          }
          elemPos(curIdx) += 1
          elemObjOpen = false
        }
        curChild = -1; elemScope = false; elemFilled = false
        innerOpenThisBinding = false
      }
      if (depth == 0) {
        // array binding closes: stamp the (offset, count) cell — or null
        // the cell and drop the garbage run if an element poisoned it
        if (arrOpen) {
          if (arrPoison) {
            // a poisoned binding never overwrites (spark parity): only a
            // FIRST binding (or one over an explicit null) nulls the
            // cell; a dup over a valid stamp leaves it standing
            if (!arrSeenAtOpen || arrNullAtOpen) vectors(curIdx).putNull(rows)
            scrubElems(curIdx, arrStart, elemPos(curIdx))
            elemPos(curIdx) = arrStart
          }
          else vectors(curIdx).putArray(rows, arrStart, elemPos(curIdx) - arrStart)
          arrOpen = false
          arrPoison = false
        }
        curIdx = -1
        structOpenThisBinding = false
        // row saturated: every schema column present — skip the rest
        if (canSaturate && seenCnt == numCols) return Signal.FinishRow
      }
    }
    Signal.Continue
  }

  // resolved scalar target, computed ONCE per event (the accessors below
  // are plain field reads — the hot flat/struct write path must not
  // re-branch on the array-element case per access): tIdx = top column,
  // tKid = child lane (-1 = the column itself), tElem = the open array
  // element; false = the event feeds nothing (including an element slot
  // already filled — containers emit several events per element, only
  // the first lands)
  private[this] var tIdx = -1
  private[this] var tKid = -1
  private[this] var tElem = false
  private[this] var tEK = false // open FIELD of a struct element
  private[this] var tGr = false // open GRANDCHILD of a two-level struct
  private[this] var tCA = false // open ELEMENT of a struct-child array
  private[this] var tEKA = false // open INNER ELEMENT of an array-typed element field
  private[this] var tEKG = false // open GRANDFIELD of a struct-typed element field
  private[this] var tCK = false // open FIELD of a child-array struct element
  private[this] var tG2 = false // open GREAT-GRANDCHILD of a three-level struct
  private[this] var tV: WritableColumnVector = _
  private[this] var tT: DataType = _
  private[this] var tR = 0
  @inline private def resolveTarget(): Boolean =
    if (depth == 1 && curIdx >= 0 && !elemScope) {
      tIdx = curIdx; tKid = -1; tElem = false; tEK = false; tGr = false; tCA = false // duplicates overwrite: last-wins
      tEKA = false; tEKG = false; tCK = false; tG2 = false
      tV = vectors(tIdx); tT = types(tIdx); tR = rows
      true
    } else if (depth == 2 && curIdx >= 0 && curChild >= 0 && !elemScope) {
      tIdx = curIdx; tKid = curChild; tElem = false; tEK = false; tGr = false; tCA = false
      tEKA = false; tEKG = false; tCK = false; tG2 = false
      tV = childVecs(tIdx)(tKid); tT = childTypes(tIdx)(tKid); tR = rows
      true
    } else if (depth == 3 && !elemScope && !cScope && curIdx >= 0 &&
        curChild >= 0 && curGrand >= 0) {
      // open GRANDCHILD of a two-level struct: a row-offset lane like
      // any child; duplicates overwrite last-wins via tMark
      tIdx = curIdx; tKid = curChild; tElem = false; tEK = false; tGr = true; tCA = false
      tEKA = false; tEKG = false; tCK = false; tG2 = false
      tV = gVecs(tIdx)(tKid)(curGrand); tT = gTypes(tIdx)(tKid)(curGrand)
      tR = rows
      true
    } else if (depth == 4 && !elemScope && !cScope && curIdx >= 0 &&
        curChild >= 0 && curGrand >= 0 && curG2 >= 0) {
      // open GREAT-GRANDCHILD of a three-level struct (round 17): a
      // row-offset lane like any child; duplicates overwrite last-wins
      tIdx = curIdx; tKid = curChild; tElem = false; tEK = false; tGr = false; tCA = false
      tEKA = false; tEKG = false; tCK = false; tG2 = true
      tV = g2Vecs(tIdx)(tKid)(curGrand)(curG2)
      tT = g2Types(tIdx)(tKid)(curGrand)(curG2)
      tR = rows
      true
    } else if (elemScope && curKid >= 0 && ekScope) {
      // open INNER ELEMENT of an array-typed element FIELD (round 16):
      // writes land at the running inner offset in the field vector's
      // element child; a discard poisons the FIELD binding (never the
      // outer element or array)
      if (ekFilled) false
      else {
        tIdx = curIdx; tKid = -1; tElem = false; tEK = false; tGr = false; tCA = false
        tEKA = true; tEKG = false; tCK = false; tG2 = false
        tR = ekSlot
        val c = ekArrVecs(tIdx)(ekKid)
        c.reserve(tR + 1)
        tV = c
        tT = ekArrElem(tIdx)(ekKid)
        true
      }
    } else if (elemScope && curKid >= 0 && curEkGrand >= 0) {
      // open GRANDFIELD of a struct-typed element FIELD (round 16): an
      // element-offset lane; duplicates overwrite last-wins via tMark,
      // failures null the grandfield only (per-field struct partials)
      tIdx = curIdx; tKid = -1; tElem = false; tEK = false; tGr = false; tCA = false
      tEKA = false; tEKG = true; tCK = false; tG2 = false
      tR = entrySlot
      val c = ekGVecs(tIdx)(curKid)(curEkGrand)
      c.reserve(tR + 1)
      tV = c
      tT = ekGTypes(tIdx)(curKid)(curEkGrand)
      true
    } else if (elemScope && curKid >= 0) {
      // open FIELD of a STRUCT ELEMENT: writes land at the element offset
      // in the struct child's field vector. A conversion failure (or a
      // container under the field) nulls the FIELD only — struct
      // per-field partials, never array poison (tElem=false keeps
      // tDiscard inert; spark parity probed in round 14)
      tIdx = curIdx; tKid = -1; tElem = false; tEK = true; tGr = false; tCA = false
      tEKA = false; tEKG = false; tCK = false; tG2 = false
      tR = entrySlot
      val c = elemKidVecs(tIdx)(curKid)
      c.reserve(tR + 1)
      tV = c
      tT = elemKidTypes(tIdx)(curKid)
      true
    } else if (elemScope) {
      if (elemFilled) false
      else {
        tIdx = curIdx; tKid = -1; tElem = true; tEK = false; tGr = false; tCA = false
        tEKA = false; tEKG = false; tCK = false; tG2 = false
        tR = entrySlot
        val c = arrChild(tIdx) // elements, or a map's VALUES lane
        c.reserve(tR + 1)
        tV = c
        tT = contValType(tIdx)
        true
      }
    } else if (cScope && curCk >= 0) {
      // open FIELD of a CHILD-ARRAY STRUCT ELEMENT (round 17): writes
      // land at the element offset in the ck field vector. A conversion
      // failure (or a container under the field) nulls the FIELD only —
      // struct per-field partials, never array poison (tCA=false keeps
      // tDiscard on the lane-restore path; pyspark-probed)
      tIdx = curIdx; tKid = -1; tElem = false; tEK = false; tGr = false; tCA = false
      tEKA = false; tEKG = false; tCK = true
      tR = cSlot
      val c = ckVecs(tIdx)(curChild)(curCk)
      c.reserve(tR + 1)
      tV = c
      tT = ckTypes(tIdx)(curChild)(curCk)
      true
    } else if (cScope) {
      // open ELEMENT of a vectorized STRUCT CHILD array (checked after
      // the hotter elemScope lanes): writes land at the running element
      // offset in the child array's element vector; a discard poisons
      // the BINDING (tDiscard), never the struct. For STRUCT elements
      // the target type is the element struct: null elements keep, any
      // scalar discards → poison (spark parity)
      if (cFilled) false
      else {
        tIdx = curIdx; tKid = -1; tElem = false; tEK = false; tGr = false; tCA = true
        tEKA = false; tEKG = false; tCK = false; tG2 = false
        tR = cSlot
        val c = childArrVecs(tIdx)(curChild)
        c.reserve(tR + 1)
        tV = c
        tT = cTargetT(tIdx)(curChild)
        true
      }
    } else if (depth == 0 && valueColIdx >= 0 && !seen(valueColIdx)) {
      tIdx = valueColIdx; tKid = -1; tElem = false; tEK = false; tGr = false; tCA = false
      tEKA = false; tEKG = false; tCK = false; tG2 = false
      tV = vectors(tIdx); tT = types(tIdx); tR = rows
      true
    } else false

  @inline private def tVec: WritableColumnVector = tV
  @inline private def tType: DataType = tT
  // pre-write state of the resolved lane, captured by tMark so a DISCARD
  // can restore it: spark.read.json parity (probed, round 14) — a FAILED
  // binding (conversion failure, type mismatch, poisoned container)
  // never overwrites an earlier value, while valid values (including
  // explicit null) stay last-wins.
  private[this] var tWasSeen = false
  private[this] var tWasNull = false
  @inline private def tMark(): Unit =
    if (tEKG) {
      // duplicate grandfield key within the element field: last-wins
      tWasSeen = ekGSeen(tIdx)(curKid)(curEkGrand)
      if (!tWasSeen) ekGSeen(tIdx)(curKid)(curEkGrand) = true
      else { tWasNull = tV.isNullAt(tR); tV.putNotNull(tR) }
    }
    else if (tGr) {
      // duplicate grandchild key: last-wins (clear a prior explicit-null)
      tWasSeen = gSeen(tIdx)(tKid)(curGrand)
      if (!tWasSeen) gSeen(tIdx)(tKid)(curGrand) = true
      else { tWasNull = tV.isNullAt(tR); tV.putNotNull(tR) }
    }
    else if (tG2) {
      // duplicate great-grandchild key: last-wins
      tWasSeen = g2Seen(tIdx)(tKid)(curGrand)(curG2)
      if (!tWasSeen) g2Seen(tIdx)(tKid)(curGrand)(curG2) = true
      else { tWasNull = tV.isNullAt(tR); tV.putNotNull(tR) }
    }
    else if (tEK) {
      // duplicate field key within the element: last-wins (clear a prior
      // explicit-null bit so the new value reads back)
      tWasSeen = elemKidSeen(tIdx)(curKid)
      if (!tWasSeen) elemKidSeen(tIdx)(curKid) = true
      else { tWasNull = tV.isNullAt(tR); tV.putNotNull(tR) }
    }
    else if (tCK) {
      // duplicate field key within the child-array element: last-wins
      tWasSeen = ckSeen(tIdx)(curChild)(curCk)
      if (!tWasSeen) ckSeen(tIdx)(curChild)(curCk) = true
      else { tWasNull = tV.isNullAt(tR); tV.putNotNull(tR) }
    }
    else if (tElem || tCA || tEKA) () // presence marked at array open
    else if (tKid < 0) {
      tWasSeen = seen(tIdx)
      if (tWasSeen) tWasNull = tV.isNullAt(tR)
      markSeen(tIdx)
    } else {
      tWasSeen = childSeen(tIdx)(tKid)
      if (tWasSeen) tWasNull = tV.isNullAt(tR)
      markChildSeen(tIdx, tKid)
    }
  // the write position: elements go at the running child offset, lanes at
  // the open row
  @inline private def tRow: Int = tR
  // element write epilogue: advance the offset, close the slot
  @inline private def tDone(): Unit =
    if (tElem) { elemPos(tIdx) += 1; elemFilled = true }
    else if (tCA) { childElemPos(tIdx)(curChild) += 1; cFilled = true }
    else if (tEKA) { ekElemPos(tIdx)(ekKid) += 1; ekFilled = true }
  // write epilogue for a DISCARD: the value failed to convert (or was a
  // container where an atomic was expected). Elements poison the open
  // array (the close applies the binding-level rule); LANES restore the
  // pre-write state — a failed binding never overwrites (spark parity,
  // round 14): the call site's putNull stands only for a first binding.
  @inline private def tDiscard(): Unit = {
    rowDiscarded = true
    if (tElem) arrPoison = true
    else if (tCA) cPoison = true
    else if (tEKA) ekPoison = true
    else if (tWasSeen) {
      if (tWasNull) tV.putNull(tR) else tV.putNotNull(tR)
    }
  }
  // any binding of the CURRENT row was discarded (malformed under
  // spark's PERMISSIVE/DROPMALFORMED modes)
  private[this] var rowDiscarded = false

  /** putX value writes never reset the validity bit, so a slot reused
    * after an abandoned row must have the partial row's null bits cleared
    * — otherwise the NEXT row's present values read back as null (e.g. an
    * abandoned `{"d": null, ..., "id": <fails filter>}` followed by a
    * kept row whose d is present).
    */
  private def clearPartialNullBits(): Unit = {
    var i = 0
    while (i < numCols) {
      if (seen(i)) {
        vectors(i).putNotNull(rows)
        val cs = childSeen(i)
        if (cs != null) {
          var j = 0
          while (j < cs.length) {
            if (cs(j)) {
              childVecs(i)(j).putNotNull(rows)
              if (gNames(i)(j) != null) {
                val gs = gSeen(i)(j)
                var k = 0
                while (k < gs.length) {
                  if (gs(k)) {
                    gVecs(i)(j)(k).putNotNull(rows)
                    if (g2Names(i)(j)(k) != null) {
                      val g2s = g2Seen(i)(j)(k)
                      var l = 0
                      while (l < g2s.length) {
                        if (g2s(l)) g2Vecs(i)(j)(k)(l).putNotNull(rows)
                        l += 1
                      }
                    }
                  }
                  k += 1
                }
              }
            }
            j += 1
          }
        }
      }
      i += 1
    }
  }

  /** putX element writes never reset the child's validity bit, so slots
    * reused after a rewind must have the dropped run's null bits scrubbed
    * — the element twin of [[clearPartialNullBits]]. Struct elements also
    * scrub their FIELD vectors (explicit field nulls at dropped slots
    * would shadow a later run's values).
    */
  private def scrubElems(i: Int, from: Int, to: Int): Unit = {
    val c = arrChild(i)
    val kids = elemKidVecs(i)
    var j = from
    while (j < to) {
      c.putNotNull(j)
      if (kids != null) {
        var f = 0
        while (f < kids.length) {
          // an abandoned open element may have unreserved field slots
          kids(f).reserve(j + 1); kids(f).putNotNull(j)
          // struct-typed fields: their grand lanes at reused slots may
          // hold stale explicit nulls that would shadow later writes
          if (ekGNames(i) != null && ekGNames(i)(f) != null) {
            val gv = ekGVecs(i)(f)
            var g = 0
            while (g < gv.length) { gv(g).reserve(j + 1); gv(g).putNotNull(j); g += 1 }
          }
          f += 1
        }
      }
      j += 1
    }
  }

  /** Scrub a dropped inner-element run of an array-typed element field
    * (the element twin of [[scrubChildArrElems]]).
    */
  private def scrubEkElems(i: Int, j: Int, from: Int, to: Int): Unit = {
    val c = ekArrVecs(i)(j)
    var k = from
    while (k < to) { c.putNotNull(k); k += 1 }
  }

  /** Scrub a dropped element run of a STRUCT-CHILD array: putX element
    * writes never reset the element vector's validity bit (the child
    * twin of [[scrubElems]]). STRUCT elements also scrub their FIELD
    * vectors (explicit field nulls at dropped slots would shadow a
    * later run's values).
    */
  private def scrubChildArrElems(i: Int, j: Int, from: Int, to: Int): Unit = {
    val c = childArrVecs(i)(j)
    val kids =
      if (ckNames(i) == null || ckNames(i)(j) == null) null else ckVecs(i)(j)
    var k = from
    while (k < to) {
      c.putNotNull(k)
      if (kids != null) {
        var f = 0
        while (f < kids.length) {
          // an abandoned open element may have unreserved field slots
          kids(f).reserve(k + 1); kids(f).putNotNull(k)
          f += 1
        }
      }
      k += 1
    }
  }

  /** Rewind the row's element writes (rejected/abandoned rows must not
    * balloon the array children) and close any open array state.
    */
  private def resetArrayState(): Unit = {
    var k = 0
    while (k < arrCols.length) {
      val i = arrCols(k)
      // an abandoned OPEN object element wrote fields one slot past the
      // run (elemPos not yet advanced): scrub that slot too
      val to = if (elemObjOpen && curIdx == i) elemPos(i) + 1 else elemPos(i)
      scrubElems(i, rowStartElem(i), to)
      elemPos(i) = rowStartElem(i)
      k += 1
    }
    arrOpen = false
    arrPoison = false
    elemScope = false
    elemFilled = false
    elemObjOpen = false
    curKid = -1
    // struct-child array runs rewind likewise; an abandoned OPEN ck
    // object element wrote fields one slot past the run — scrub it too
    var k2 = 0
    while (k2 < childArrPairs.length) {
      val pr = childArrPairs(k2)
      val i = pr >>> 16
      val j = pr & 0xFFFF
      val to =
        if (ckObjOpen && curIdx == i && curChild == j) childElemPos(i)(j) + 1
        else childElemPos(i)(j)
      scrubChildArrElems(i, j, childRowStartElem(i)(j), to)
      childElemPos(i)(j) = childRowStartElem(i)(j)
      k2 += 1
    }
    cArrOpen = false
    cScope = false
    cFilled = false
    cPoison = false
    ckObjOpen = false
    curCk = -1
    // inner-element runs of array-typed element fields rewind likewise
    var k3 = 0
    while (k3 < ekPairs.length) {
      val pr = ekPairs(k3)
      val i = pr >>> 16
      val j = pr & 0xFFFF
      scrubEkElems(i, j, ekRowStartPos(i)(j), ekElemPos(i)(j))
      ekElemPos(i)(j) = ekRowStartPos(i)(j)
      k3 += 1
    }
    ekArrOpen = false
    ekScope = false
    ekFilled = false
    ekPoison = false
    ekInnerOpen = false
    curEkGrand = -1
    ekKid = -1
  }

  private[this] val hasValueFilters = filterAt.exists(_ != null)

  /** Read back a written cell as the boxed value [[FilterEval]] compares. */
  private def vecValue(vec: WritableColumnVector, dt: DataType, r: Int): Any =
    dt match {
      case BooleanType => java.lang.Boolean.valueOf(vec.getBoolean(r))
      case IntegerType | DateType => java.lang.Integer.valueOf(vec.getInt(r))
      case LongType | TimestampType => java.lang.Long.valueOf(vec.getLong(r))
      case FloatType => java.lang.Float.valueOf(vec.getFloat(r))
      case DoubleType => java.lang.Double.valueOf(vec.getDouble(r))
      case StringType => vec.getUTF8String(r)
      case _ => null
    }

  /** Pushed value filters (top-level AND struct-child anchored), decided
    * at finishRow over the row's FINAL written cells — never per binding
    * and never per struct close: duplicate keys rebind last-wins (e.g.
    * {"n":{"x":0},"n":{"x":44},"id":1} with pushed `n.x > 10` keeps the
    * row), and pushdown must never change what an unpushed read returns
    * (round 14; round 13 fixed duplicate CHILD keys, this extends it to
    * duplicate STRUCT/scalar bindings). Unwritten/null cells evaluate as
    * null — conservative: definitelyFails(_, null) is false for
    * comparisons, so the row stays for Spark's residual filter.
    */
  private def passesValueFilters(): Boolean = {
    if (hasValueFilters) {
      var i = 0
      while (i < numCols) {
        val fs = filterAt(i)
        if (fs != null) {
          val v: Any =
            if (!seen(i) || vectors(i).isNullAt(rows)) null
            else vecValue(vectors(i), types(i), rows)
          if (fs.exists(FilterEval.definitelyFails(_, v))) return false
        }
        i += 1
      }
    }
    if (hasChildFilters) {
      var i = 0
      while (i < numCols) {
        val fa = childFilterAt(i)
        if (fa != null && seen(i) && !vectors(i).isNullAt(rows)) {
          var j = 0
          while (j < fa.length) {
            val fs = fa(j)
            if (fs != null) {
              val cv = childVecs(i)(j)
              val v: Any =
                if (!childSeen(i)(j) || cv.isNullAt(rows)) null
                else vecValue(cv, childTypes(i)(j), rows)
              if (fs.exists(FilterEval.definitelyFails(_, v))) return false
            }
            j += 1
          }
        }
        i += 1
      }
    }
    true
  }

  def nul(): Signal = {
    if (resolveTarget()) { tMark(); ensureCapacity(); tVec.putNull(tRow); tDone() }
    Signal.Continue
  }

  private def putBoolean(b: Boolean): Signal = {
    if (resolveTarget()) {
      ensureCapacity()
      tMark() // BEFORE the write: a dup key's putNotNull must not
               // un-null the mismatch branch's explicit null
      tType match {
        case BooleanType => tVec.putBoolean(tRow, b)
        case StringType =>
          tVec.putByteArray(tRow, (if (b) "true" else "false").getBytes)
        case _ => tVec.putNull(tRow); tDiscard()
      }
      tDone()
      Signal.Continue
    } else Signal.Continue
  }

  def fls(): Signal = putBoolean(false)
  def tru(): Signal = putBoolean(true)

  def map(): Signal = {
    // an EMPTY object: under a struct column it is a PRESENT struct with
    // all-null children (RowPlate parity — `{}` is not null); anywhere
    // else it reads null like any container under an atomic lane
    if (resolveTarget()) {
      ensureCapacity()
      if (!tElem && !tCA && tKid < 0 && childNames(tIdx) != null) {
        markSeen(tIdx)
        vectors(tIdx).putNotNull(rows) // clear a first binding's null bit
        scrubChildNulls(tIdx)          // last-wins replace
      } else if (!tElem && tKid < 0 && mapValTypes(tIdx) != null) {
        tMark() // `{}` on a map column: PRESENT with zero entries
        vectors(tIdx).putArray(tRow, elemPos(tIdx), 0)
      } else if (!tElem && !tGr && !tG2 && tKid >= 0 && gNames(tIdx)(tKid) != null) {
        // `{}` under an INNER-STRUCT child: a PRESENT inner struct with
        // all-null grandchildren (finishRow stamps them; a duplicate
        // binding's prior grands scrub here — last-wins). The !tGr guard
        // keeps `{}` under a GRANDCHILD lane of the same child on the
        // discard path below — without it the row was never marked
        // malformed (DROPMALFORMED kept it; spark and the row path drop
        // it — latent since round 14, caught by the round-17 audit)
        if (!childSeen(tIdx)(tKid)) childSeen(tIdx)(tKid) = true
        else tVec.putNotNull(tRow)
        scrubGrandNulls(tIdx, tKid)
      } else if (!tElem && !tCA && tKid >= 0 && cmValT(tIdx) != null &&
          cmValT(tIdx)(tKid) != null) {
        // `{}` on a MAP struct child (round 17): PRESENT with zero
        // entries (dup binding: last-wins like the top-level map)
        tMark()
        tVec.putArray(tRow, childElemPos(tIdx)(tKid), 0)
      } else if (tGr && g2Names(tIdx)(tKid) != null &&
          g2Names(tIdx)(tKid)(curGrand) != null) {
        // `{}` on a STRUCT-TYPED grandchild (round 17): a PRESENT grand
        // struct with all-null great-fields (finishRow stamps them; a
        // duplicate binding's prior greats scrub here — last-wins)
        if (!gSeen(tIdx)(tKid)(curGrand)) gSeen(tIdx)(tKid)(curGrand) = true
        else tVec.putNotNull(tRow)
        scrubG2Nulls(tIdx, tKid, curGrand)
      } else if (tEK && ekGNames(tIdx) != null && ekGNames(tIdx)(curKid) != null) {
        // `{}` on a STRUCT element field: a PRESENT inner struct with
        // all-null grandfields (stamped now — no binding ever opens)
        tMark()
        val gv = ekGVecs(tIdx)(curKid)
        var g = 0
        while (g < gv.length) { gv(g).reserve(tR + 1); gv(g).putNull(tR); g += 1 }
      } else if (tElem && elemKidNames(tIdx) != null) {
        // `{}` ELEMENT of an ARRAY<STRUCT> column: a PRESENT element with
        // all-null fields (spark parity: [{}] reads [Row(null,…)])
        val kids = elemKidVecs(tIdx)
        var j = 0
        while (j < kids.length) {
          kids(j).reserve(tRow + 1); kids(j).putNull(tRow); j += 1
        }
        tDone()
      } else if (tCA && ckNames(tIdx) != null && ckNames(tIdx)(curChild) != null) {
        // `{}` ELEMENT of an ARRAY<STRUCT> struct child (round 17): a
        // PRESENT element with all-null fields
        val kids = ckVecs(tIdx)(curChild)
        var f = 0
        while (f < kids.length) {
          kids(f).reserve(tRow + 1); kids(f).putNull(tRow); f += 1
        }
        tDone()
      } else { tMark(); tVec.putNull(tRow); tDone(); tDiscard() }
    }
    Signal.Continue
  }
  def arr(): Signal = {
    // an EMPTY array: on an array-lane column it is PRESENT with zero
    // elements (RowPlate parity — `[]` is not null); anywhere else null
    if (resolveTarget()) {
      ensureCapacity()
      // the first branch stamps the COLUMN cell — it must fire only when
      // the resolved target IS the column (round-16 fix: a `[]` bound to
      // an element-field of an ARRAY<STRUCT> column resolved tEK/tEKA
      // with tKid<0 and stamped vectors(i) at the ELEMENT slot, silently
      // zeroing whichever earlier ROW shared that index)
      if (!tElem && !tEK && !tEKA && !tEKG && tKid < 0 && elemTypes(tIdx) != null) {
        tMark() // dup binding: putNotNull clears a first binding's null
        vectors(tIdx).putArray(tRow, elemPos(tIdx), 0)
      } else if (!tElem && !tCA && tKid >= 0 && childArrElem(tIdx) != null &&
          (childArrElem(tIdx)(tKid) != null ||
           ckNames(tIdx)(tKid) != null)) {
        // `[]` on a vectorized struct-child array (atomic or struct
        // elements): PRESENT with zero elements
        tMark()
        tVec.putArray(tRow, childElemPos(tIdx)(tKid), 0)
      } else if (tEK && ekArrElem(tIdx) != null && ekArrElem(tIdx)(curKid) != null) {
        // `[]` on an array-typed ELEMENT FIELD: PRESENT with zero elements
        tMark()
        tVec.putArray(tRow, ekElemPos(tIdx)(curKid), 0)
      } else { tMark(); tVec.putNull(tRow); tDone(); tDiscard() }
    }
    Signal.Continue
  }

  def num(s: CharSequence, decIdx: Int, expIdx: Int): Signal = {
    if (resolveTarget()) {
      ensureCapacity()
      tMark()
      val vec = tVec
      val at = tRow
      try tType match {
        case LongType if decIdx < 0 && expIdx < 0 =>
          val v = s match {
            case b: ByteSliceCharSeq => // byte loop, no charAt dispatch
              val boxed = Conversions.parseLongBoxed(b.bytes, b.offset, b.length)
              if (boxed == null) { vec.putNull(at); tDone(); tDiscard(); return Signal.Continue }
              boxed.longValue
            case _ => java.lang.Long.parseLong(s, 0, s.length, 10)
          }
          vec.putLong(at, v)
          tDone()
          return Signal.Continue
        case IntegerType if decIdx < 0 && expIdx < 0 =>
          vec.putInt(at, java.lang.Integer.parseInt(s, 0, s.length, 10))
          tDone()
          return Signal.Continue
        case DoubleType =>
          if (decIdx == -2) vec.putDouble(at, Conversions.specialDouble(s))
          else {
            // exactly-rounded conversion off the zero-copy view (FastDouble:
            // Clinger/Eisel-Lemire; parseDouble only on the rare hard cases)
            val v = s match {
              case b: ByteSliceCharSeq =>
                graft.core.FastDouble.parse(b.bytes, b.offset, b.length, decIdx, expIdx)
              case _ => graft.core.FastDouble.parse(s, decIdx, expIdx)
            }
            vec.putDouble(at, v)
          }
          tDone()
          return Signal.Continue
        case FloatType =>
          if (decIdx == -2) vec.putFloat(at, Conversions.specialFloat(s))
          else vec.putFloat(at, java.lang.Float.parseFloat(s.toString))
        case StringType =>
          vec.putByteArray(at, s.toString.getBytes("UTF-8"))
        case TimestampType if decIdx < 0 && expIdx < 0 =>
          // spark parity (round 20): an integral token is epoch SECONDS
          val secs = s match {
            case b: ByteSliceCharSeq =>
              Conversions.parseLongBoxed(b.bytes, b.offset, b.length)
            case _ =>
              java.lang.Long.valueOf(java.lang.Long.parseLong(s, 0, s.length, 10))
          }
          if (secs == null) { vec.putNull(at); tDiscard() }
          else try vec.putLong(at, java.lang.Math.multiplyExact(secs.longValue, 1000000L))
          catch { case _: ArithmeticException => vec.putNull(at); tDiscard() }
        case _ =>
          vec.putNull(at); tDiscard()
      } catch { case _: NumberFormatException => vec.putNull(at); tDiscard() }
      tDone()
      Signal.Continue
    } else Signal.Continue
  }

  /** Raw-text capture (spark.read.json parity, probed round 15): a
    * container value whose resolved lane is STRING reads back as its
    * verbatim source text at every level — top column, struct child,
    * grandchild, array element, map value, element-struct field. The
    * depth>0 guard keeps top-level container ROWS out of the schemaless
    * "value" column (spark maps only object keys there).
    */
  override def wantsRawValue(): Boolean =
    depth > 0 && resolveTarget() && (tT eq StringType)

  override def rawValue(bytes: Array[Byte], off: Int, len: Int): Signal = {
    if (resolveTarget()) {
      ensureCapacity()
      tMark()
      tV.putByteArray(tR, bytes, off, len)
      tDone()
    }
    Signal.Continue
  }

  def str(s: CharSequence): Signal = {
    if (emptyCellsAsNull && s.length == 0) return nul()
    if (resolveTarget()) {
      ensureCapacity()
      tMark()
      val vec = tVec
      val at = tRow
      try tType match {
        case StringType => s match {
          case v: ByteSliceCharSeq =>
            vec.putByteArray(at, v.bytes, v.offset, v.length)
            tDone()
            return Signal.Continue
          case _ =>
            vec.putByteArray(at, s.toString.getBytes("UTF-8"))
            tDone()
            return Signal.Continue
        }
        // JSON strict token typing (spark parity, round 20): quoted
        // numbers/booleans never coerce; temporals parse via spark's own
        // DateTimeUtils (zone-less/space forms, padding, date prefixes)
        case TimestampType if strictTokens =>
          org.apache.spark.sql.catalyst.util.DateTimeUtils.stringToTimestamp(
              org.apache.spark.unsafe.types.UTF8String.fromString(s.toString),
              zoneId) match {
            case Some(us) => vec.putLong(at, us)
            case None => vec.putNull(at); tDiscard()
          }
        case DateType if strictTokens =>
          org.apache.spark.sql.catalyst.util.DateTimeUtils.stringToDate(
              org.apache.spark.unsafe.types.UTF8String.fromString(s.toString)) match {
            case Some(d) => vec.putInt(at, d)
            case None => vec.putNull(at); tDiscard()
          }
        case DoubleType if strictTokens => s.toString match {
          case "NaN" => vec.putDouble(at, Double.NaN)
          case "+INF" | "+Infinity" | "Infinity" =>
            vec.putDouble(at, Double.PositiveInfinity)
          case "-INF" | "-Infinity" =>
            vec.putDouble(at, Double.NegativeInfinity)
          case _ => vec.putNull(at); tDiscard()
        }
        case FloatType if strictTokens => s.toString match {
          case "NaN" => vec.putFloat(at, Float.NaN)
          case "+INF" | "+Infinity" | "Infinity" =>
            vec.putFloat(at, Float.PositiveInfinity)
          case "-INF" | "-Infinity" =>
            vec.putFloat(at, Float.NegativeInfinity)
          case _ => vec.putNull(at); tDiscard()
        }
        case _ if strictTokens => vec.putNull(at); tDiscard()
        case LongType =>
          vec.putLong(at, java.lang.Long.parseLong(s.toString.trim))
          tDone()
          return Signal.Continue
        case TimestampType => // same strict ISO form as the row path
          val inst = java.time.Instant.parse(s.toString.trim)
          vec.putLong(at, inst.getEpochSecond * 1000000L + inst.getNano / 1000L)
          tDone()
          return Signal.Continue
        case DateType =>
          vec.putInt(at,
            java.time.LocalDate.parse(s.toString.trim).toEpochDay.toInt)
        case IntegerType =>
          vec.putInt(at, java.lang.Integer.parseInt(s.toString.trim))
        case DoubleType =>
          vec.putDouble(at, java.lang.Double.parseDouble(s.toString.trim))
        case FloatType =>
          vec.putFloat(at, java.lang.Float.parseFloat(s.toString.trim))
        case BooleanType => s.toString.trim.toLowerCase match {
          case "true" | "t" | "1"   => vec.putBoolean(at, true)
          case "false" | "f" | "0"  => vec.putBoolean(at, false)
          case _ => vec.putNull(at); tDiscard()
        }
        case _ => vec.putNull(at); tDiscard()
      } catch { case _: RuntimeException => vec.putNull(at); tDiscard() }
      tDone()
      Signal.Continue
    } else Signal.Continue
  }

  // file ordinal of the row being finished (EVERY parsed row counts, kept
  // or not); the mask's own pointer walks its runs one-pass
  private[this] var fileOrd = maskStartOrd

  def finishRow(): Unit = {
    ensureCapacity()
    // an array VALUE row (schemaless stream) has no enclosing nest: the
    // open array finalizes here instead of at an unnest
    if (arrOpen) {
      if (arrPoison) {
        if (!arrSeenAtOpen || arrNullAtOpen) vectors(curIdx).putNull(rows)
        scrubElems(curIdx, arrStart, elemPos(curIdx))
        elemPos(curIdx) = arrStart
      }
      else vectors(curIdx).putArray(rows, arrStart, elemPos(curIdx) - arrStart)
      arrOpen = false
      arrPoison = false
    }
    var keep = true
    if (mask != null) {
      keep = !mask.masked(fileOrd)
      fileOrd += 1
    }
    if (keep && dropDiscarded && rowDiscarded) keep = false
    if (keep && hasNullFilters) {
      // value-based like the row path's passesRowEnd: an EXPLICIT null
      // binding ({"x": null}) satisfies IsNull and fails IsNotNull — the
      // seen bit alone conflated it with a present value (round 14)
      keep = filters.forall {
        case IsNotNull(col) =>
          val idx = names.indexOf(col)
          idx < 0 || (seen(idx) && !vectors(idx).isNullAt(rows))
        case IsNull(col) =>
          val idx = names.indexOf(col)
          idx < 0 || !seen(idx) || vectors(idx).isNullAt(rows)
        case _ => true
      }
    }
    if (keep) keep = passesValueFilters()
    if (keep) {
      var i = 0
      while (i < numCols) {
        if (!seen(i)) vectors(i).putNull(rows)
        else if (childSeen(i) != null && !vectors(i).isNullAt(rows)) {
          // present struct: lanes the row omitted read null; under a
          // PRESENT inner struct, grandchild lanes it omitted likewise
          val cs = childSeen(i)
          var j = 0
          while (j < cs.length) {
            if (!cs(j)) childVecs(i)(j).putNull(rows)
            else if (gNames(i)(j) != null && !childVecs(i)(j).isNullAt(rows)) {
              val gs = gSeen(i)(j)
              var k = 0
              while (k < gs.length) {
                if (!gs(k)) gVecs(i)(j)(k).putNull(rows)
                else if (g2Names(i)(j)(k) != null &&
                    !gVecs(i)(j)(k).isNullAt(rows)) {
                  // present grand struct: great lanes it omitted read null
                  val g2s = g2Seen(i)(j)(k)
                  var l = 0
                  while (l < g2s.length) {
                    if (!g2s(l)) g2Vecs(i)(j)(k)(l).putNull(rows)
                    l += 1
                  }
                }
                k += 1
              }
            }
            j += 1
          }
        }
        i += 1
      }
      // the kept row's elements are now permanent: advance the row-start
      // snapshots so a later rejected row rewinds only ITS writes
      var k = 0
      while (k < arrCols.length) {
        val c = arrCols(k)
        rowStartElem(c) = elemPos(c)
        k += 1
      }
      var k2 = 0
      while (k2 < childArrPairs.length) {
        val pr = childArrPairs(k2)
        childRowStartElem(pr >>> 16)(pr & 0xFFFF) = childElemPos(pr >>> 16)(pr & 0xFFFF)
        k2 += 1
      }
      var k3 = 0
      while (k3 < ekPairs.length) {
        val pr = ekPairs(k3)
        ekRowStartPos(pr >>> 16)(pr & 0xFFFF) = ekElemPos(pr >>> 16)(pr & 0xFFFF)
        k3 += 1
      }
      rows += 1
      rowCount += 1
    } else {
      // rejected row (null-demand filters): its slot is reused — scrub
      // the null bits its explicit nulls stamped (see clearPartialNullBits)
      clearPartialNullBits()
      resetArrayState()
    }
    java.util.Arrays.fill(seen, false)
    resetChildSeen()
    seenCnt = 0
    depth = 0
    curIdx = -1
    curChild = -1
    curGrand = -1
    curG2 = -1
    skipPending = false
    structOpenThisBinding = false
    innerOpenThisBinding = false
    grandOpenThisBinding = false
    fieldPos = 0
    rowDiscarded = false
  }

  def finishBatch(terminal: Boolean): Long = rowCount
  def skipped(bytes: Int): Unit = skippedBytes += bytes

  /** Total bytes the parser pruned for this plate (custom metric). */
  def totalSkippedBytes: Long = skippedBytes

  /** Discard any in-flight row state (malformed-record recovery): buffered
    * complete rows stay; the partial row's cells are overwritten/nulled by
    * the next row at the same index.
    */
  def abandonPartialRow(): Unit = {
    rowDiscarded = false
    clearPartialNullBits()
    seenCnt = 0
    java.util.Arrays.fill(seen, false)
    resetChildSeen()
    resetArrayState()
    depth = 0
    curIdx = -1
    curChild = -1
    curGrand = -1
    curG2 = -1
    skipPending = false
    structOpenThisBinding = false
    innerOpenThisBinding = false
    grandOpenThisBinding = false
    fieldPos = 0
  }
}

object ColumnarPlate {
  private def atomic(dt: DataType): Boolean = dt match {
    case BooleanType | IntegerType | LongType | FloatType | DoubleType |
         StringType | TimestampType | DateType => true
    case _ => false
  }

  /** Columnar reads apply to flat atomic schemas (temporal columns
    * vectorize too: micros/days are just long/int lanes — round 11),
    * ONE-LEVEL structs whose children are all atomic — the wide
    * nested-corpus shape (ugh10k-like) that used to fall off the
    * ColumnarBatch path — ONE-LEVEL containers of atomics (round 13):
    * ARRAY<atomic> (the embedding-column shape: elements stream into the
    * parent vector's child at a running offset, Arrow-style) and
    * MAP<STRING, atomic> (keys + values lanes under the map column) —
    * and, since round 14, ARRAY<STRUCT<atomic…>> (the delivery/log-record
    * shape: elements are rows of the array's struct child, fields write
    * at element offsets) plus TWO-LEVEL structs — STRUCT children may
    * themselves be STRUCT<atomic…> (the user.geo.lat shape; grand lanes
    * are row-offset vectors like child lanes) — and, since round 15,
    * ARRAY<atomic> STRUCT CHILDREN (the user.tags / metadata.labels
    * shape: elements stream into the child array vector's element child
    * at a per-(col,child) running offset) — and, since round 17,
    * ARRAY<STRUCT<atomic…>> STRUCT CHILDREN (the user.addresses[].city
    * shape: elements are rows of the child array's struct element
    * vector, fields write at per-(col,child) running element offsets)
    * and MAP<STRING, atomic> STRUCT CHILDREN (the payload.headers shape:
    * keys/values lanes under the child map vector at the same running
    * offsets) and THREE-LEVEL structs — inner-struct children may
    * themselves hold STRUCT<atomic…> fields (the event.context.device.id
    * shape; great lanes are row-offset vectors like child/grand lanes).
    * Anything deeper (four struct levels, containers under level-2+
    * structs, containers inside the element structs of struct-child
    * arrays, non-string map keys, MAP<_, container>) stays on the row
    * path.
    */
  def supports(schema: StructType): Boolean =
    schema.fields.forall(f => atomic(f.dataType) || (f.dataType match {
      // structs may nest ONE more struct level (round 14), an
      // ARRAY<atomic> child (round 15), or an ARRAY<STRUCT<atomic…>>
      // child (round 17 — the user.addresses[].city shape): children are
      // atomic, STRUCT<atomic…>, ARRAY<atomic>, or ARRAY<STRUCT<atomic…>>
      case st: StructType => st.nonEmpty && st.fields.forall(c =>
        atomic(c.dataType) || (c.dataType match {
          // inner structs may nest ONE more all-atomic struct level
          // (three-level lanes, round 17)
          case g: StructType => g.nonEmpty && g.fields.forall(x =>
            atomic(x.dataType) || (x.dataType match {
              case gg: StructType =>
                gg.nonEmpty && gg.fields.forall(z => atomic(z.dataType))
              case _ => false
            }))
          case ArrayType(g: StructType, _) =>
            g.nonEmpty && g.fields.forall(x => atomic(x.dataType))
          case at: ArrayType => atomic(at.elementType)
          case mt: MapType => mt.keyType == StringType && atomic(mt.valueType)
          case _ => false
        }))
      case ArrayType(st: StructType, _) =>
        // element-struct fields may be atomic, ARRAY<atomic>, or
        // STRUCT<atomic…> (round 16 — the order.items[].sku shape)
        st.nonEmpty && st.fields.forall(c =>
          atomic(c.dataType) || (c.dataType match {
            case g: StructType => g.nonEmpty && g.fields.forall(x => atomic(x.dataType))
            case at: ArrayType => atomic(at.elementType)
            case _ => false
          }))
      case at: ArrayType => atomic(at.elementType)
      case mt: MapType => mt.keyType == StringType && atomic(mt.valueType)
      case _ => false
    }))
}
