package graft.spark

import graft.core.{ByteSliceCharSeq, KeyCruise, KeyOrderCache, KeyProbe, Plate, Signal}

import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Vectorized sibling of [[RowPlate]] for FLAT schemas: every top-level
  * column is atomic (Boolean through Date — temporal columns are plain
  * micros/days long/int lanes). Parse events write straight into one
  * `OnHeapColumnVector` per column and the scan hands Spark whole
  * `ColumnarBatch`es: no per-row `InternalRow` allocation, and downstream
  * whole-stage codegen consumes the vectors exactly as it does from the
  * built-in parquet reader. Any struct, array or map column takes
  * [[RowPlate]], which reads every shape (see [[ColumnarPlate.supports]]).
  *
  * Pushdown is identical to the row path: absent keys → SkipColumn; a
  * container value under an atomic column reads null (a failed binding,
  * its entries byte-skipped) — except under a STRING column, which
  * captures the container's verbatim source text (spark.read.json
  * parity); definitively failing filtered rows are rejected at finishRow
  * over FINAL values (duplicate keys rebind last-wins, so no verdict is
  * final before the row ends or saturates). A failed duplicate binding
  * never overwrites an earlier value; valid ones (explicit null included)
  * replace it.
  */
final class ColumnarPlate(
    schema: StructType,
    filters: Array[Filter],
    // saturation pushdown (Signal.FinishRow) elides validation of the row
    // tail; readers that must fully validate rows (dropMalformed) turn it
    // off — the same flag as RowPlate's
    saturate: Boolean = true,
    // CSV semantics: an empty cell is NULL (Spark's csv nullValue default
    // and DuckDB's read_csv behavior) — the same flag as RowPlate's
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
  require(ColumnarPlate.supports(schema),
    s"ColumnarPlate reads flat atomic schemas only; got ${schema.simpleString}")

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

  private[this] var capacity = 4096
  private[this] var vectors: Array[OnHeapColumnVector] = _
  allocate()
  private[this] var rows = 0
  private[this] var skippedBytes = 0L
  private[this] val seen = new Array[Boolean](numCols)
  // count of distinct top-level columns filled this row; when it reaches
  // numCols the row is SATURATED and unnest answers Signal.FinishRow (the
  // parser byte-skips the remaining fields in one scan)
  private[this] var seenCnt = 0
  private[this] val canSaturate = saturate && numCols > 0

  // Key-cruise probe (Mison-style, [[graft.core.KeyCruise]]): unknown
  // row-depth keys skip with no plate notification. Gated on `saturate`
  // (the cruise elides per-value validation).
  override val keyCruise: KeyCruise =
    KeyCruise(if (!saturate) null else names ++ filters.flatMap(_.references), fastSatTail)

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

  // nesting state: depth inside the current row (0 = between keys, 1 =
  // inside a column's value; containers under a column are skipped, so it
  // never goes deeper); the open column index
  private[this] var depth = 0
  private[this] var curIdx = -1
  private[this] var skipPending = false
  private[this] var rowCount = 0L
  private[this] val valueColIdx = names.indexOf("value") // scalar rows land here

  // top-level value filters and null demands, decided at finishRow
  private[this] val rowEnd = new RowEndFilters(names, filters)

  // fresh vectors per batch (NOT ping-pong reuse): an A/B measured reuse
  // at zero gain on aggregate shapes — parse cost dominates — and reuse
  // breaks any consumer that holds a previous batch; allocation here is
  // one OnHeap array set per 256 KB chunk, GC-trivial
  private def allocate(): Unit =
    vectors = OnHeapColumnVector.allocateColumns(capacity, schema)
      .asInstanceOf[Array[OnHeapColumnVector]]

  /** Rows currently buffered in the open batch. */
  def pendingRows: Int = rows

  /** Hand the buffered rows out as a batch and start a fresh one.
    *
    * A chunk boundary can split a row, so takeBatch() may be called with a
    * row in flight: its already-written cells live in the OLD vectors at
    * index `rows` (with `seen` flags set) and must be carried over to the
    * new vectors at index 0, or the completed row would silently read
    * stale defaults for those columns in the next batch.
    */
  def takeBatch(): ColumnarBatch = {
    val batch = new ColumnarBatch(vectors.asInstanceOf[Array[org.apache.spark.sql.vectorized.ColumnVector]], rows)
    val old = vectors
    val partialAt = rows
    allocate()
    rows = 0
    var i = 0
    while (i < numCols) {
      if (seen(i)) {
        val src = old(i)
        val dst = vectors(i)
        if (src.isNullAt(partialAt)) dst.putNull(0)
        else copyScalarAt(src, dst, types(i), partialAt, 0)
      }
      i += 1
    }
    batch
  }

  /** Copy one scalar cell between vectors (batch-boundary carryover). */
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

  @inline private def ensureCapacity(): Unit =
    if (rows >= capacity) {
      capacity = capacity << 1
      var i = 0
      while (i < numCols) { vectors(i).reserve(capacity); i += 1 }
    }

  // ------------------------------------------------------------- events

  // key → column resolver, cached by key arrival position
  private[this] val keys = new KeyOrderCache(names)
  private[this] var fieldPos = 0

  def nestMap(pathComponent: CharSequence): Signal = {
    if (depth == 0) {
      // a top-level column opens
      val idx = keys.indexOf(pathComponent, fieldPos)
      fieldPos += 1
      if (idx < 0) {
        skipPending = true
        Signal.SkipColumn
      } else {
        curIdx = idx
        depth = 1
        Signal.Continue
      }
    } else failedContainer()
  }

  def nestArr(): Signal =
    // an array fills no lane: under a column (depth 1) it is a failed
    // binding; an array ROW (depth 0) never reaches the "value" column
    if (depth > 0) failedContainer()
    else {
      skipPending = true
      Signal.SkipColumn
    }

  /** A container value under an atomic column: the lane reads null —
    * stamped explicitly so a duplicate binding overwrites an earlier
    * value, and restored by [[tDiscard]] when the earlier one was valid
    * (RowPlate's discard) — and the entries prune without plate traffic.
    */
  private def failedContainer(): Signal = {
    if (resolveTarget()) discardCell()
    skipPending = true
    Signal.SkipColumn
  }

  def nestMeta(pathComponent: CharSequence): Signal = {
    skipPending = true
    Signal.SkipColumn
  }

  def unnest(): Signal = {
    if (skipPending) skipPending = false
    else if (depth > 0) {
      depth = 0
      curIdx = -1
      // row saturated: every schema column present — skip the rest
      if (canSaturate && seenCnt == numCols) return Signal.FinishRow
    }
    Signal.Continue
  }

  // resolved scalar target, computed ONCE per event: the open column at
  // depth 1, or — for a scalar ROW in a schemaless stream — the "value"
  // column; false = the event feeds nothing
  private[this] var tIdx = -1
  private[this] var tV: WritableColumnVector = _
  private[this] var tT: DataType = _
  @inline private def resolveTarget(): Boolean = {
    tIdx =
      if (depth == 1) curIdx
      else if (depth == 0 && valueColIdx >= 0 && !seen(valueColIdx)) valueColIdx
      else -1
    if (tIdx < 0) false
    else {
      tV = vectors(tIdx); tT = types(tIdx)
      true
    }
  }

  // pre-write state of the resolved lane, captured by tMark so a DISCARD
  // can restore it: spark.read.json parity (probed, round 14) — a FAILED
  // binding (conversion failure, type mismatch, container under an
  // atomic lane) never overwrites an earlier value, while valid values
  // (including explicit null) stay last-wins.
  private[this] var tWasSeen = false
  private[this] var tWasNull = false
  /** Make room for the row, then mark the resolved lane written: call
    * BEFORE the value write — a dup key's putNotNull must not un-null the
    * mismatch branch's explicit null.
    */
  @inline private def tMark(): Unit = {
    ensureCapacity()
    tWasSeen = seen(tIdx)
    if (tWasSeen) tWasNull = tV.isNullAt(rows)
    markSeen(tIdx)
  }
  // write epilogue for a DISCARD: the value failed to convert (or was a
  // container where an atomic was expected). The lane restores its
  // pre-write state — a failed binding never overwrites (spark parity,
  // round 14): the call site's putNull stands only for a first binding.
  @inline private def tDiscard(): Unit = {
    rowDiscarded = true
    if (tWasSeen) {
      if (tWasNull) tV.putNull(rows) else tV.putNotNull(rows)
    }
  }
  private def discardCell(): Unit = { tMark(); tV.putNull(rows); tDiscard() }
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
      if (seen(i)) vectors(i).putNotNull(rows)
      i += 1
    }
  }

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

  // the row being finished: an unwritten cell reads null
  private[this] val rowCells = new RowEndFilters.Cells {
    def isNull(i: Int): Boolean = !seen(i) || vectors(i).isNullAt(rows)
    def value(i: Int): Any = if (isNull(i)) null else vecValue(vectors(i), types(i), rows)
  }

  def nul(): Signal = {
    if (resolveTarget()) { tMark(); tV.putNull(rows) }
    Signal.Continue
  }

  private def putBoolean(b: Boolean): Signal = {
    if (resolveTarget()) {
      tMark()
      tT match {
        case BooleanType => tV.putBoolean(rows, b)
        case StringType =>
          tV.putByteArray(rows, (if (b) "true" else "false").getBytes)
        case _ => tV.putNull(rows); tDiscard()
      }
    }
    Signal.Continue
  }

  def fls(): Signal = putBoolean(false)
  def tru(): Signal = putBoolean(true)

  // an EMPTY object or array reads null like any container under an
  // atomic lane
  def map(): Signal = {
    if (resolveTarget()) discardCell()
    Signal.Continue
  }
  def arr(): Signal = map()

  def num(s: CharSequence, decIdx: Int, expIdx: Int): Signal = {
    if (resolveTarget()) {
      tMark()
      val vec = tV
      val at = rows
      try tT match {
        case LongType if decIdx < 0 && expIdx < 0 =>
          s match {
            case b: ByteSliceCharSeq => // byte loop, no charAt dispatch
              val boxed = Conversions.parseLongBoxed(b.bytes, b.offset, b.length)
              if (boxed == null) { vec.putNull(at); tDiscard() }
              else vec.putLong(at, boxed.longValue)
            case _ => vec.putLong(at, java.lang.Long.parseLong(s, 0, s.length, 10))
          }
        case IntegerType if decIdx < 0 && expIdx < 0 =>
          vec.putInt(at, java.lang.Integer.parseInt(s, 0, s.length, 10))
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
    }
    Signal.Continue
  }

  /** Raw-text capture (spark.read.json parity, probed round 15): a
    * container value under a STRING column reads back as its verbatim
    * source text. The depth>0 guard keeps top-level container ROWS out of
    * the schemaless "value" column (spark maps only object keys there).
    */
  override def wantsRawValue(): Boolean =
    depth > 0 && resolveTarget() && (tT eq StringType)

  override def rawValue(bytes: Array[Byte], off: Int, len: Int): Signal = {
    if (resolveTarget()) {
      tMark()
      tV.putByteArray(rows, bytes, off, len)
    }
    Signal.Continue
  }

  def str(s: CharSequence): Signal = {
    if (emptyCellsAsNull && s.length == 0) return nul()
    if (resolveTarget()) {
      tMark()
      val vec = tV
      val at = rows
      try tT match {
        case StringType => s match {
          case v: ByteSliceCharSeq =>
            vec.putByteArray(at, v.bytes, v.offset, v.length)
          case _ =>
            vec.putByteArray(at, s.toString.getBytes("UTF-8"))
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
        case DoubleType | FloatType if strictTokens =>
          val d = Conversions.quotedSpecialFloat(s.toString)
          if (d == 0.0) { vec.putNull(at); tDiscard() }
          else if (tT eq DoubleType) vec.putDouble(at, d)
          else vec.putFloat(at, d.toFloat)
        case _ if strictTokens => vec.putNull(at); tDiscard()
        case LongType =>
          vec.putLong(at, java.lang.Long.parseLong(s.toString.trim))
        case TimestampType => // same strict ISO form as the row path
          val inst = java.time.Instant.parse(s.toString.trim)
          vec.putLong(at, inst.getEpochSecond * 1000000L + inst.getNano / 1000L)
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
    }
    Signal.Continue
  }

  // file ordinal of the row being finished (EVERY parsed row counts, kept
  // or not); the mask's own pointer walks its runs one-pass
  private[this] var fileOrd = maskStartOrd

  def finishRow(): Unit = {
    ensureCapacity()
    var keep = true
    if (mask != null) {
      keep = !mask.masked(fileOrd)
      fileOrd += 1
    }
    if (keep && dropDiscarded && rowDiscarded) keep = false
    // value-based: an EXPLICIT null binding ({"x": null}) satisfies IsNull
    // and fails IsNotNull — the seen bit alone conflated it with a present
    // value (round 14)
    if (keep) keep = rowEnd.passes(rowCells)
    if (keep) {
      var i = 0
      while (i < numCols) {
        if (!seen(i)) vectors(i).putNull(rows)
        i += 1
      }
      rows += 1
      rowCount += 1
    } else {
      // rejected row: its slot is reused — scrub the null bits its
      // explicit nulls stamped (see clearPartialNullBits)
      clearPartialNullBits()
    }
    resetRow()
  }

  private def resetRow(): Unit = {
    java.util.Arrays.fill(seen, false)
    seenCnt = 0
    depth = 0
    curIdx = -1
    skipPending = false
    fieldPos = 0
    if (keyCruise != null) keyCruise.rowStart()
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
    clearPartialNullBits()
    resetRow()
  }
}

object ColumnarPlate {
  private def atomic(dt: DataType): Boolean = dt match {
    case BooleanType | IntegerType | LongType | FloatType | DoubleType |
         StringType | TimestampType | DateType => true
    case _ => false
  }

  /** Columnar reads apply to FLAT schemas only: every top-level field is
    * atomic (temporal columns vectorize too: micros/days are just
    * long/int lanes — round 11). Any struct, array or map column takes
    * [[RowPlate]], which reads every shape with the same binding, filter
    * and container rules; nested vector lanes measured no steady win over
    * it (the `*_columnar_speedup` bench lanes read 0.56–1.17).
    */
  def supports(schema: StructType): Boolean =
    schema.fields.forall(f => atomic(f.dataType))
}
