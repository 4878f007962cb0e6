package graft.core.json

import graft.core._
import graft.core.ParserControl.{BatchBroken, NeedsInput}

import scala.annotation.{switch, tailrec}
import java.nio.charset.StandardCharsets.UTF_8

/** Incremental (asynchronous) JSON parser pushing a columnar event stream
  * into a [[Plate]], with Mison-style byte-level pushdown.
  *
  * Clean-room re-derivation of the reference engine's capabilities
  * (reference json/Parser.scala:95-936): bytes arrive in arbitrary chunks
  * via `absorb`; the parser checkpoints its complete state between chunks
  * (including mid-skip) and resumes on the next chunk. Framing modes:
  *
  *  - [[JsonParser.ValueStream]]: whitespace-separated top-level values,
  *    one row each (JSON Lines superset)
  *  - [[JsonParser.UnwrapArray]]: one top-level array whose elements are
  *    the rows
  *  - [[JsonParser.SingleValue]]: exactly one value, one row
  *
  * Pushdown:
  *  - `nestMap`/`nestArr` returning [[Signal.SkipColumn]] causes the value
  *    to be byte-skipped with *no structural validation* (error-check
  *    elision — mismatched brackets inside skipped values are not errors,
  *    matching reference json/Parser.scala:823 semantics); the plate still
  *    receives the matching `unnest()` and a `skipped(bytes)` accounting
  *    call (per churn, so a skip spanning chunks reports per-chunk counts).
  *  - Any event returning [[Signal.SkipRow]] causes the remainder of the
  *    current row to be byte-skipped; the row's `finishRow()` is suppressed
  *    (the consumer asked for the row to be dropped).
  *  - [[Signal.BreakBatch]] abbreviates the batch at the next row boundary:
  *    the current call returns `ParseResult.Partial(batch, remaining)` and
  *    `continueParse()` resumes from buffered bytes.
  *  - [[Signal.Terminate]] halts the parse immediately with an error.
  *
  * Numbers are lazy: `num(text, decIdx, expIdx)` with the raw text and the
  * indices of `'.'` and `'e'/'E'` (-1 when absent); never eagerly converted.
  */
final class JsonParser[A](plate0: Plate[A], mode: JsonParser.Mode)
    extends BaseParser[A](plate0) {

  import JsonParser._

  // ------------------------------------------------------------- structure
  private[this] var phase: Int = mode match {
    case UnwrapArray => PhUnwrapStart
    case _           => PhTop
  }
  private[this] var depth = 0
  private[this] var stack = new Array[Long](1) // bit per depth: 1=object, 0=array
  private[this] var abbreviate = false

  // ------------------------------------------------------------- skip state
  private[this] var skipMode = SkipNone
  private[this] var skipPhase = SkAwait
  private[this] var skipRel = 0        // bracket depth delta inside the skip
  private[this] var skipRelTarget = 0  // row-skip: stop when skipRel hits this
  private[this] var skipEscape = false // in-string: previous byte was '\'

  // Mison-style key cruise ([[KeyProbe]]): row-depth keys the plate cannot
  // act on are consumed `"key": value` in one motion, with no plate calls.
  private[this] val cruiseProbe: KeyCruise = plate0 match {
    case k: KeyProbe => k.keyCruise
    case _           => null
  }
  // a cruise-initiated column skip is in flight: its completion must NOT
  // emit unnest (the plate never saw a nestMap for this key)
  private[this] var cruiseSkipping = false

  // Optimistic saturated tail (round 16): the blind SWAR row skip runs at
  // full speed but watches quote-follower bytes against the probe's
  // wanted-key first-byte bitmap; only a candidate hit drops to exact
  // byte-stepping, and only a CONFIRMED duplicate of a wanted key hands
  // the tail back to the phase machine for an exact last-wins re-parse.
  private[this] var optimisticTail = false
  private[this] val cruiseFirstBytes: Array[Long] =
    if (cruiseProbe == null) null else cruiseProbe.keyFirstBytes
  // longest escaped form a wanted key can take (\uXXXX inflates a raw
  // byte at most 6x) — a longer row-depth key cannot be wanted
  private[this] val cruiseConfirmBound: Int =
    if (cruiseProbe == null) 0 else 6 * cruiseProbe.maxKeyLen + 8
  // Broadcast constants for the in-word follower compare: with <= 3
  // distinct wanted first bytes (the common pruned-schema case) the
  // candidate test is pure SWAR — shift, xor, zeros, and — with no loads
  // and no per-lane loop; >3 falls back to the per-lane bitmap walk.
  // '\\' is excluded here: a backslash-bearing word exits the fast loop
  // before the check (the byte-step path consults the full bitmap).
  private[this] val optBcN: Int = {
    var n = 0
    if (cruiseFirstBytes != null) {
      var b = 0
      while (b < 256) {
        if (b != '\\' && (cruiseFirstBytes(b >>> 6) & (1L << (b & 63))) != 0L) n += 1
        b += 1
      }
    }
    n
  }
  private[this] val (optBc0, optBc1, optBc2): (Long, Long, Long) =
    if (cruiseFirstBytes == null || optBcN == 0 || optBcN > 3) (0L, 0L, 0L)
    else {
      val bs = new Array[Long](3)
      var k = 0
      var b = 0
      while (b < 256) {
        if (b != '\\' && (cruiseFirstBytes(b >>> 6) & (1L << (b & 63))) != 0L) {
          bs(k) = 0x0101010101010101L * b
          k += 1
        }
        b += 1
      }
      while (k < 3) { bs(k) = bs(0); k += 1 } // pad with duplicates
      (bs(0), bs(1), bs(2))
    }

  // Raw-text capture ([[RawValueCapture]]): a container value bound for a
  // STRING lane is byte-skipped like a column skip but its exact span is
  // delivered to the plate as the value (spark.read.json parity — objects/
  // arrays under a string target read as verbatim source text).
  // absolute offset of the current row's first value byte (corrupt-line
  // reconstruction for the PERMISSIVE reader; -1 before the first row)
  private[this] var rowStartAbs: Long = -1L

  /** The current row's source LINE, clamped to the bytes still buffered —
    * valid only DURING a `finishRow` callback (the row's value has just
    * been consumed; `curr` sits right after it). Extends the value span
    * to the enclosing newline boundaries, matching spark's line-based
    * `_corrupt_record` text for newline-framed streams; a row whose line
    * starts before the compaction window or ends in the next chunk clamps
    * to what the buffer holds.
    */
  private[graft] def currentRowLine: (Array[Byte], Int, Int) = {
    val rel = rowStartAbs - consumedBase
    var from = if (rowStartAbs < 0 || rel < 0) 0 else math.min(rel, curr.toLong).toInt
    var to = curr
    while (from > 0 && data(from - 1) != '\n') from -= 1
    while (to < len && data(to) != '\n') to += 1
    (data, from, to)
  }

  private[this] val rawCap: RawValueCapture = plate0 match {
    case r: RawValueCapture => r
    case _                  => null
  }
  private[this] var capturing = false
  private[this] var captureStart = 0   // segment start in `data`
  private[this] var capBuf: Array[Byte] = null // multi-chunk accumulation
  private[this] var capLen = 0

  // ========================================================= base contract

  protected def endOk: Boolean =
    (skipMode == SkipNone) && (depth == 0) && (phase match {
      case PhTop    => mode eq ValueStream // SingleValue still needs its value
      case PhTopEnd => true
      case _        => false
    })

  /** Main loop: dispatch on phase until input runs dry or a control
    * exception (NeedsInput / BatchBroken / ParseException) unwinds.
    */
  protected def churnLoop(): Unit = {
    while (true) {
      if (skipMode == SkipColumnMode || skipMode == SkipRowMode) {
        runSkip()
      } else {
        skipWs()
        if (curr >= len) return
        tokenStart = curr
        val b = data(curr)
        (phase: @switch) match {
          case PhTop          => rowStartAbs = consumedBase + curr; parseValue(b)
          case PhValue        =>
            // PhValue also dispatches NESTED field values (PhColon sets it)
            // and element resumes — only a depth-0 dispatch starts a row
            if (depth == 0) rowStartAbs = consumedBase + curr
            parseValue(b)
          case PhUnwrapStart  =>
            if (b == '[') { curr += 1; phase = PhUnwrapFirst }
            else die(curr, s"expected '[' at start of UnwrapArray stream, got '${b.toChar}'")
          case PhUnwrapFirst  =>
            if (b == ']') { curr += 1; phase = PhTopEnd }
            else { rowStartAbs = consumedBase + curr; parseValue(b) }
          case PhTopSep       =>
            if (b == ',') { curr += 1; phase = PhValue }
            else if (b == ']') { curr += 1; phase = PhTopEnd }
            else die(curr, s"expected ',' or ']' between rows, got '${b.toChar}'")
          case PhTopEnd       =>
            die(curr, s"unexpected trailing input '${b.toChar}'")
          case PhKeyFirst     =>
            if (b == '}') { curr += 1; depth -= 1; emitScalar(EmptyMap) }
            else if (b == '"') {
              if (cruiseProbe == null || depth != 1 || !tryCruiseKey()) parseKey()
            }
            else die(curr, s"expected object key or '}', got '${b.toChar}'")
          case PhKey          =>
            if (b == '"') {
              if (cruiseProbe == null || depth != 1 || !tryCruiseKey()) parseKey()
            }
            else die(curr, s"expected object key, got '${b.toChar}'")
          case PhColon        =>
            if (b == ':') {
              curr += 1
              if (skipMode == SkipColumnPending) {
                skipMode = SkipColumnMode; skipPhase = SkAwait; skipRel = 0
              } else phase = PhValue
            } else die(curr, s"expected ':', got '${b.toChar}'")
          case PhArrFirst     =>
            if (b == ']') { curr += 1; depth -= 1; emitScalar(EmptyArr) }
            else startElement(b)
          case PhAfter        =>
            if (b == ',') {
              curr += 1
              if (inObject) phase = PhKey
              else {
                skipWs()
                if (curr >= len) { phase = PhArrNext; return }
                startElement(data(curr))
              }
            } else if (b == '}') {
              if (!inObject) die(curr, "mismatched '}' closing an array")
              curr += 1; depth -= 1; valueDone()
            } else if (b == ']') {
              if (inObject) die(curr, "mismatched ']' closing an object")
              curr += 1; depth -= 1; valueDone()
            } else die(curr, s"expected ',' or container close, got '${b.toChar}'")
          case PhArrNext      =>
            startElement(b)
          case _ => die(curr, s"illegal parser phase $phase")
        }
      }
    }
  }

  // ============================================================ internals

  private[this] def pushContainer(isObject: Boolean): Unit = {
    val word = depth >> 6
    if (word >= stack.length) {
      val next = new Array[Long](stack.length * 2)
      System.arraycopy(stack, 0, next, 0, stack.length)
      stack = next
    }
    val bit = 1L << (depth & 63)
    if (isObject) stack(word) |= bit else stack(word) &= ~bit
    depth += 1
  }

  /** Is the innermost open container an object? (depth must be > 0) */
  private[this] def inObject: Boolean =
    (stack((depth - 1) >> 6) & (1L << ((depth - 1) & 63))) != 0

  private[this] def skipWs(): Unit = {
    // locals, not fields: this runs between every pair of tokens, and the
    // common case is zero or one space — field load/store per byte showed
    // up as ~9% of full-parse samples. This is also the line-bookkeeping
    // hook (BaseParser.countNewline): every structural newline — incl. the
    // row separators of JSONL streams — is consumed here, so error
    // positions stay exact for validated content with NO retirement
    // re-walk; newlines inside byte-skipped spans drift (reference parity)
    val buf = data
    val limit = len
    var i = curr
    while (i < limit && {
      val b = buf(i)
      b == ' ' || b == '\t' || b == '\r' ||
        (b == '\n' && { countNewline(i); true })
    }) i += 1
    curr = i
  }

  /** Array element entry: emit nestArr, honor its signal, then parse (or
    * skip) the element value.
    */
  private[this] def startElement(b: Byte): Unit = {
    val s = plate.nestArr()
    if (s eq Signal.SkipColumn) {
      skipMode = SkipColumnMode; skipPhase = SkAwait; skipRel = 0
    } else {
      handleRowSignals(s)
      if (skipMode == SkipNone) {
        // nestArr is already emitted: re-anchor the rewind point at the
        // value so an input-starved value parse resumes without re-emitting
        phase = PhValue
        tokenStart = curr
        parseValue(b)
      }
    }
  }

  /** Common handling for SkipRow / BreakBatch / Terminate from any event. */
  private[this] def handleRowSignals(s: Signal): Unit =
    if (s eq Signal.SkipRow) beginRowSkip()
    else if (s eq Signal.FinishRow) beginFinishRowSkip()
    else if (s eq Signal.BreakBatch) abbreviate = true
    else if (s eq Signal.Terminate)
      die(curr, "parse terminated by consumer (Signal.Terminate)")

  /** Saturation pushdown: the plate has every value it needs from this
    * row. At ROW depth with a key probe available (the production
    * plates), the tail is consumed by the CHAINED KEY CRUISE instead of
    * a blind row skip (round 15): unwanted keys take the same inline
    * skip path as pre-saturation fields, while a DUPLICATE of a schema
    * key falls out of the cruise into the ordinary parse — so late
    * rebindings stay last-wins, exactly like `spark.read.json` (this
    * retired the "post-saturation duplicate keys keep the FIRST value"
    * divergence; tail validation remains best-effort — container values
    * under unwanted keys still skip structurally unvalidated). Deeper
    * saturation points (inside an open container) keep the one-scan
    * byte skip — duplicates cannot rebind mid-container at row depth
    * until the container closes, and the cruise resumes from PhAfter.
    */
  private[this] var finishAfterRowSkip = false
  private[this] def beginFinishRowSkip(): Unit =
    if (depth == 1 && cruiseProbe != null && !cruiseProbe.fastSaturationTail) {
      if (cruiseFirstBytes != null && inObject) {
        // OPTIMISTIC blind tail (round 16): one SWAR scan to the row's
        // close, watching quote followers for candidate wanted-key
        // duplicates; exact parity preserved by the fallback in runSkip
        finishAfterRowSkip = true
        optimisticTail = true
        skipMode = SkipRowMode
        skipPhase = SkContainer
        skipRel = 0
        skipRelTarget = -1
      }
      // else: phase machine continues: PhAfter → ',' → chained cruise
    } else if (depth > 0) { // at depth 0 the row is already complete
      finishAfterRowSkip = true
      skipMode = SkipRowMode
      skipPhase = SkContainer
      skipRel = 0
      skipRelTarget = -depth
    }

  private[this] def beginRowSkip(): Unit = {
    if (depth == 0) {
      // the row's value is already fully consumed: just suppress finishRow.
      // rowDoneAfterSkip may throw BatchBroken (abbreviate set earlier in
      // the row) — then the unwind itself suppresses valueDone, so the
      // flag is only set on normal return.
      rowDoneAfterSkip()
      rowSuppressed = true
    } else {
      skipMode = SkipRowMode
      skipPhase = SkContainer
      skipRel = 0
      skipRelTarget = -depth
    }
  }

  // SkipRow arrived for a fully-consumed top-level value (bare scalar row):
  // the pending valueDone()/finishRow() at the emit site must not fire.
  private[this] var rowSuppressed = false

  /** A scalar was emitted and its signal handled: complete the value unless
    * a top-level SkipRow just suppressed the row or a skip is in progress.
    */
  @inline private[this] def scalarDone(): Unit =
    if (rowSuppressed) rowSuppressed = false
    else if (skipMode == SkipNone) valueDone()

  private[this] def rowDoneAfterSkip(): Unit = {
    depth = 0
    phase = mode match {
      case ValueStream => PhTop
      case UnwrapArray => PhTopSep
      case SingleValue => PhTopEnd
    }
    if (abbreviate) { abbreviate = false; throw BatchBroken }
  }

  /** A complete value just ended (scalar emitted or container closed). */
  private[this] def valueDone(): Unit = {
    if (depth == 0) {
      plate.finishRow()
      phase = mode match {
        case ValueStream => PhTop
        case UnwrapArray => PhTopSep
        case SingleValue => PhTopEnd
      }
      if (abbreviate) { abbreviate = false; throw BatchBroken }
    } else {
      val s = plate.unnest()
      phase = PhAfter
      handleRowSignals(s)
    }
  }

  private[this] def emitScalar(kind: Int): Unit = {
    val s = (kind: @switch) match {
      case EmptyMap => plate.map()
      case EmptyArr => plate.arr()
      case KNull    => plate.nul()
      case KTrue    => plate.tru()
      case KFalse   => plate.fls()
    }
    handleRowSignals(s)
    scalarDone()
  }

  private[this] def parseValue(b: Byte): Unit = (b: @switch) match {
    case '{' =>
      if (rawCap != null && rawCap.wantsRawValue()) beginRawCapture()
      else { curr += 1; pushContainer(isObject = true); phase = PhKeyFirst }
    case '[' =>
      if (rawCap != null && rawCap.wantsRawValue()) beginRawCapture()
      else { curr += 1; pushContainer(isObject = false); phase = PhArrFirst }
    case '"' =>
      val s = parseValueStringToken()
      val sig = plate.str(s)
      handleRowSignals(sig)
      scalarDone()
    case 't' => expectWord("true"); emitScalar(KTrue)
    case 'f' => expectWord("false"); emitScalar(KFalse)
    case 'n' => expectWord("null"); emitScalar(KNull)
    case '-' => parseNumToken()
    // non-numeric number tokens (spark's allowNonNumericNumbers default,
    // probed round 20): NaN / Infinity / +Infinity / -Infinity parse as
    // number events with the decIdx = -2 sentinel — double/float lanes
    // read the special value, integral/decimal lanes read a failed
    // binding (null), exactly like spark
    case 'N' => parseNonNumeric("NaN")
    case 'I' => parseNonNumeric("Infinity")
    case '+' => parseNonNumeric("+Infinity")
    case _   =>
      if (b >= '0' && b <= '9') parseNumToken()
      else die(curr, s"expected JSON value, got '${b.toChar}'")
  }

  /** Consume one non-numeric number word and emit it as a `num` event
    * with `decIdx = -2` (the NON-NUMERIC sentinel; `expIdx = -1`).
    */
  private[this] def parseNonNumeric(w: String): Unit = {
    val start = curr
    expectWord(w)
    numView.set(data, start, w.length)
    val sig = plate.num(numView, -2, -1)
    handleRowSignals(sig)
    scalarDone()
  }

  // Reusable zero-copy views handed to nestMap (keys) and str (values) for
  // plain ASCII runs: valid only for the duration of the call (plates must
  // copy if they retain content, which ReplayPlate/ReifiedPlate do).
  // Escaped/non-ASCII strings take the full decode path.
  private[this] val keyView = new ByteSliceCharSeq
  private[this] val valueView = new ByteSliceCharSeq
  private[this] val numView = new ByteSliceCharSeq // numbers are ASCII

  private[this] def parseKey(): Unit = {
    val key = parseKeyToken()
    val s = plate.nestMap(key)
    phase = PhColon
    if (s eq Signal.SkipColumn) skipMode = SkipColumnPending
    else handleRowSignals(s)
  }

  /** Key cruise: scan the row-depth key non-committally; if it is plain
    * ASCII, complete in buffer, and the plate's [[KeyCruise]] rules it
    * out, consume it silently and set up a no-notification column skip
    * for its value.
    * A wanted key is delivered from the same scan (no re-scan). Returns
    * false — state untouched — for escapes / UTF-8 / incomplete keys,
    * which take the ordinary parseKey path.
    *
    * CHAINED cruise: after consuming an unwanted scalar or plain-string
    * value inline, a following `, "key"` run is consumed in the same call
    * — consecutive skipped fields never round-trip through the phase
    * machine. Once any field has been consumed (`committed`), a key the
    * fast scan cannot handle exits at that key's opening quote with
    * `phase = PhKey` so the ordinary path re-dispatches it.
    */
  private[this] def tryCruiseKey(): Boolean = {
    val buf = data
    val limit = len
    var keyQuote = curr   // opening '"' of the key under scan
    var committed = false // fields already consumed: may no longer return false
    while (true) {
      val start = keyQuote + 1
      var i = start
      var end = -1
      var scanning = true
      var hardKey = false // escape / ctrl / UTF-8 / incomplete in buffer
      while (scanning && i + 8 <= limit) {
        val w = JsonParser.readLongLE(buf, i)
        val special =
          JsonParser.swarZeros(w ^ JsonParser.BcQuote) |
          JsonParser.swarZeros(w ^ JsonParser.BcBackslash) |
          ((w - JsonParser.BcCtrl) & ~w & JsonParser.BcHigh) | // ascii byte < 0x20
          (w & JsonParser.BcHigh)                              // byte >= 0x80
        if (special == 0L) i += 8
        else {
          val j = i + (java.lang.Long.numberOfTrailingZeros(special) >>> 3)
          if (buf(j) != '"') hardKey = true // full decode path
          else end = j
          scanning = false
        }
      }
      if (scanning && !hardKey) { // tail: fewer than 8 bytes left in buffer
        while (end < 0 && !hardKey && i < limit) {
          val b = buf(i)
          if (b == '"') end = i
          else if (b == '\\' || b < 0x20) hardKey = true
          else i += 1
        }
        if (end < 0) hardKey = true // key incomplete: parseKey suspends properly
      }
      if (hardKey) {
        if (!committed) return false
        curr = keyQuote; phase = PhKey // re-dispatch this key ordinarily
        return true
      }
      if (!cruiseProbe.cruisableKey(buf, start, end - start)) {
        // wanted: deliver the already-scanned key through the normal protocol
        keyView.set(buf, start, end - start)
        curr = end + 1
        val s = plate.nestMap(keyView)
        phase = PhColon
        if (s eq Signal.SkipColumn) skipMode = SkipColumnPending
        else handleRowSignals(s)
        return true
      }
      // not wanted: consume the key, then skip ": value" silently.
      // Fast lane first: a scalar or plain-string value that completes in
      // buffer is consumed INLINE — no PhColon/runSkip round trip, no
      // phase-machine dispatch per skipped field (the dominant cost for
      // short values). Containers, escapes, and buffer-starved values fall
      // back to the suspendable pending path below; nothing beyond already-
      // chained fields is committed until a lane is chosen.
      var j = end + 1
      while (j < limit && {
        val b = buf(j); b == ' ' || b == '\n' || b == '\t' || b == '\r' }) j += 1
      if (j < limit && buf(j) == ':') {
        j += 1
        val afterColon = j
        while (j < limit && {
          val b = buf(j); b == ' ' || b == '\n' || b == '\t' || b == '\r' }) j += 1
        if (j < limit) {
          val vb = buf(j)
          var valueEnd = -1 // position AFTER the value when inline-consumed
          if (vb == '"') {
            // bare string value: SWAR to the closing quote (same exits as
            // runSkip's bare-string scan — backslash bails, no validation)
            var k = j + 1
            var vend = -1
            var bail = false
            var scanning2 = true
            while (scanning2 && k + 8 <= limit) {
              val w = JsonParser.readLongLE(buf, k)
              val special =
                JsonParser.swarZeros(w ^ JsonParser.BcQuote) |
                JsonParser.swarZeros(w ^ JsonParser.BcBackslash)
              if (special == 0L) k += 8
              else {
                val m = k + (java.lang.Long.numberOfTrailingZeros(special) >>> 3)
                if (buf(m) == '"') vend = m else bail = true
                scanning2 = false
              }
            }
            if (scanning2 && !bail) {
              while (vend < 0 && !bail && k < limit) {
                val b = buf(k)
                if (b == '"') vend = k
                else if (b == '\\') bail = true
                else k += 1
              }
            }
            if (vend >= 0) {
              plate.skipped(vend + 1 - afterColon) // parity with runSkip's accounting
              valueEnd = vend + 1
            }
          } else if (vb == '{' || vb == '[') {
            // container value: consume the opening bracket and enter the
            // skip scanner DIRECTLY in container state — saves the PhColon
            // dispatch round trip and the SkAwait step
            curr = j + 1
            phase = PhColon // finishColumnSkip (cruise) sets PhAfter
            skipMode = SkipColumnMode
            skipPhase = SkContainer
            skipRel = 1
            skipEscape = false
            cruiseSkipping = true
            plate.skipped(j + 1 - afterColon)
            return true
          } else {
            // scalar value: scan to its delimiter (must complete in buffer)
            var k = j
            var stop = -1
            while (stop < 0 && k < limit) {
              val b = buf(k)
              if (b == ',' || b == '}' || b == ']' ||
                  b == ' ' || b == '\n' || b == '\t' || b == '\r') stop = k
              else k += 1
            }
            if (stop >= 0) {
              plate.skipped(stop - afterColon)
              valueEnd = stop
            }
          }
          if (valueEnd >= 0) {
            // chain: if `, "` follows in buffer, scan the next key in this
            // same call; otherwise exit with the delimiter unconsumed
            var p = valueEnd
            while (p < limit && {
              val b = buf(p); b == ' ' || b == '\n' || b == '\t' || b == '\r' }) p += 1
            if (p < limit && buf(p) == ',') {
              var q2 = p + 1
              while (q2 < limit && {
                val b = buf(q2); b == ' ' || b == '\n' || b == '\t' || b == '\r' }) q2 += 1
              if (q2 < limit && buf(q2) == '"') {
                keyQuote = q2
                committed = true
              } else {
                // comma consumed; the key (or a proper error) follows later
                curr = p + 1; phase = PhKey
                return true
              }
            } else {
              curr = valueEnd; phase = PhAfter
              return true
            }
          } else {
            // value did not inline-consume: suspendable pending path
            curr = end + 1
            phase = PhColon
            skipMode = SkipColumnPending
            cruiseSkipping = true
            return true
          }
        } else {
          curr = end + 1
          phase = PhColon
          skipMode = SkipColumnPending
          cruiseSkipping = true
          return true
        }
      } else {
        curr = end + 1
        phase = PhColon
        skipMode = SkipColumnPending
        cruiseSkipping = true
        return true
      }
    }
    false // unreachable
  }

  /** Key fast path: a quote-terminated run of plain ASCII bytes becomes a
    * reusable buffer view (no allocation, no UTF-8 decode) — keys are the
    * dominant string traffic under column-skipping workloads.
    */
  private[this] def parseKeyToken(): CharSequence = parseViewOr(keyView)

  /** Same fast path for string VALUES (separate view: a consumer may still
    * be comparing the key view when the value arrives).
    */
  private[this] def parseValueStringToken(): CharSequence = parseViewOr(valueView)

  private[this] def parseViewOr(view: ByteSliceCharSeq): CharSequence = {
    val buf = data
    val limit = len
    var i = curr + 1
    // SWAR hop: one word op classifies 8 bytes — the first '"', '\\',
    // control, or >= 0x80 byte is located by trailing-zero count. Short
    // keys (the dominant emit-path string traffic) resolve in ONE word.
    while (i + 8 <= limit) {
      val w = JsonParser.readLongLE(buf, i)
      val special =
        JsonParser.swarZeros(w ^ JsonParser.BcQuote) |
        JsonParser.swarZeros(w ^ JsonParser.BcBackslash) |
        ((w - JsonParser.BcCtrl) & ~w & JsonParser.BcHigh) | // ascii byte < 0x20
        (w & JsonParser.BcHigh)                              // byte >= 0x80
      if (special == 0L) i += 8
      else {
        val j = i + (java.lang.Long.numberOfTrailingZeros(special) >>> 3)
        if (buf(j) == '"') {
          view.set(buf, curr + 1, j - curr - 1)
          curr = j + 1
          return view
        }
        // escape / control / multi-byte UTF-8 -> full decode path
        return parseStringToken()
      }
    }
    while (i < limit) {
      val b = buf(i)
      if (b == '"') {
        view.set(buf, curr + 1, i - curr - 1)
        curr = i + 1
        return view
      }
      // '\\' = escape; b < 0x20 covers control chars AND (signed) bytes
      // >= 0x80, i.e. multi-byte UTF-8 -> full decode path
      if (b == '\\' || b < 0x20) return parseStringToken()
      i += 1
    }
    throw NeedsInput
  }

  private[this] def expectWord(w: String): Unit = {
    val n = w.length
    if (curr + n > len) {
      if (done) die(curr, s"invalid JSON literal (expected '$w')")
      throw NeedsInput
    }
    var i = 0
    while (i < n) {
      if (data(curr + i) != w.charAt(i)) die(curr, s"invalid JSON literal (expected '$w')")
      i += 1
    }
    // the literal must be followed by a delimiter, not more atom characters
    if (curr + n < len) {
      val nb = data(curr + n)
      if ((nb >= 'a' && nb <= 'z') || (nb >= 'A' && nb <= 'Z') || (nb >= '0' && nb <= '9'))
        die(curr, s"invalid JSON literal")
    } else if (!done) throw NeedsInput
    curr += n
  }

  // --------------------------------------------------------------- string

  /** Parse the string token at `curr` (opening quote included). Fast path:
    * no escapes / control bytes — decode the byte range directly; slow path
    * processes escapes and raw UTF-8 sequences.
    */
  private[this] def parseStringToken(): CharSequence = {
    val start = curr // at '"'
    var i = curr + 1
    while (i < len) {
      val b = data(i)
      if (b == '"') {
        val s = new String(data, start + 1, i - start - 1, UTF_8)
        curr = i + 1
        return s
      } else if (b == '\\' || (b >= 0 && b < 0x20)) {
        return parseStringSlow(start)
      }
      i += 1
    }
    throw NeedsInput
  }

  private[this] def parseStringSlow(start: Int): CharSequence = {
    val sb = new java.lang.StringBuilder
    var i = start + 1
    while (true) {
      if (i >= len) throw NeedsInput
      val b = data(i)
      if (b == '"') {
        curr = i + 1
        return sb.toString
      } else if (b == '\\') {
        if (i + 1 >= len) throw NeedsInput
        val e = data(i + 1)
        (e: @switch) match {
          case '"'  => sb.append('"');  i += 2
          case '\\' => sb.append('\\'); i += 2
          case '/'  => sb.append('/');  i += 2
          case 'b'  => sb.append('\b'); i += 2
          case 'f'  => sb.append('\f'); i += 2
          case 'n'  => sb.append('\n'); i += 2
          case 'r'  => sb.append('\r'); i += 2
          case 't'  => sb.append('\t'); i += 2
          case 'u'  =>
            if (i + 6 > len) throw NeedsInput
            var cp = 0
            var k = i + 2
            while (k < i + 6) {
              val h = data(k)
              val v =
                if (h >= '0' && h <= '9') h - '0'
                else if (h >= 'a' && h <= 'f') h - 'a' + 10
                else if (h >= 'A' && h <= 'F') h - 'A' + 10
                else die(k, "invalid \\u escape")
              cp = (cp << 4) | v
              k += 1
            }
            sb.append(cp.toChar)
            i += 6
          case _ => die(i, s"invalid escape character '\\${e.toChar}'")
        }
      } else if (b >= 0 && b < 0x20) {
        die(i, "unescaped control character in string")
      } else if (b >= 0) {
        sb.append(b.toChar)
        i += 1
      } else {
        // UTF-8 multi-byte sequence
        val ub = b & 0xFF
        val n =
          if (ub >= 0xC0 && ub < 0xE0) 2
          else if (ub >= 0xE0 && ub < 0xF0) 3
          else if (ub >= 0xF0 && ub < 0xF8) 4
          else die(i, "invalid UTF-8 leading byte in string")
        if (i + n > len) throw NeedsInput
        var cp = ub & (0x3F >> (n - 1))
        var k = i + 1
        while (k < i + n) {
          val cb = data(k) & 0xFF
          if ((cb & 0xC0) != 0x80) die(k, "invalid UTF-8 continuation byte in string")
          cp = (cp << 6) | (cb & 0x3F)
          k += 1
        }
        sb.appendCodePoint(cp)
        i += n
      }
    }
    sys.error("unreachable")
  }

  // --------------------------------------------------------------- number

  /** Lazy number scan: validates JSON number grammar, records the indices
    * of '.' and 'e'/'E', and hands the raw text to the plate unconverted.
    */
  private[this] def parseNumToken(): Unit = {
    val start = curr
    val limit = len
    val buf = data
    var i = curr
    var decIdx = -1
    var expIdx = -1

    @inline def byteAt(j: Int): Int =
      if (j < limit) buf(j) else -1 // -1 = end of available input

    var b = byteAt(i)
    if (b == '-') {
      i += 1; b = byteAt(i)
      if (b == 'I') { parseNonNumeric("-Infinity"); return }
    }
    // integer part: 0 | [1-9][0-9]*
    if (b == '0') { i += 1; b = byteAt(i) }
    else if (b >= '1' && b <= '9') {
      // hot loop: SWAR-cruise full 8-digit windows (one load + two masked
      // compares per 8 bytes), then finish byte-wise
      i += 1
      while (i + 8 <= limit && Swar.is8Digits(Swar.readLongLE(buf, i))) i += 8
      while (i < limit && { b = buf(i); b >= '0' && b <= '9' }) i += 1
      if (i >= limit) b = -1
    } else {
      if (b == -1 && !done) throw NeedsInput
      die(i, "invalid number: expected digit")
    }
    if (b == '.') {
      decIdx = i - start
      i += 1; b = byteAt(i)
      if (!(b >= '0' && b <= '9')) {
        if (b == -1 && !done) throw NeedsInput
        die(i, "invalid number: expected digit after '.'")
      }
      i += 1
      while (i + 8 <= limit && Swar.is8Digits(Swar.readLongLE(buf, i))) i += 8
      while (i < limit && { b = buf(i); b >= '0' && b <= '9' }) i += 1
      if (i >= limit) b = -1
    }
    if (b == 'e' || b == 'E') {
      expIdx = i - start
      i += 1; b = byteAt(i)
      if (b == '+' || b == '-') { i += 1; b = byteAt(i) }
      if (!(b >= '0' && b <= '9')) {
        if (b == -1 && !done) throw NeedsInput
        die(i, "invalid number: expected digit in exponent")
      }
      i += 1
      while (i < limit && { b = buf(i); b >= '0' && b <= '9' }) i += 1
      if (i >= limit) b = -1
    }
    if (b == -1 && !done) throw NeedsInput // the number may continue in the next chunk

    // zero-copy: number text is always ASCII; consumers needing to retain
    // it (ReplayPlate etc.) copy via toString
    numView.set(data, start, i - start)
    curr = i
    val sig = plate.num(numView, decIdx, expIdx)
    handleRowSignals(sig)
    scalarDone()
  }

  // ----------------------------------------------------------------- skip

  /** Byte-level skip scanner ("rskip"): consumes bytes with NO structural
    * validation — only string boundaries and bracket depth are tracked, so
    * mismatched brackets inside skipped values are deliberately not errors.
    * State persists across chunks; `skipped(n)` is reported per churn.
    */
  /** Begin a raw-text capture at `curr` (which points at the container's
    * opening bracket): the skip scanner consumes the value; finishColumnSkip
    * assembles and delivers the exact span.
    */
  private[this] def beginRawCapture(): Unit = {
    capturing = true
    capLen = 0
    skipMode = SkipColumnMode
    skipPhase = SkAwait
    skipRel = 0
  }

  /** Stash the current capture segment (chunk boundary / final assembly):
    * the buffer may be compacted or swapped between churns, so consumed
    * capture bytes must be copied out before the parser yields.
    */
  private[this] def stashCapture(): Unit = {
    val n = curr - captureStart
    if (n > 0) {
      if (capBuf == null)
        capBuf = new Array[Byte](math.max(256, java.lang.Integer.highestOneBit(n) << 1))
      else if (capLen + n > capBuf.length) {
        var size = capBuf.length
        while (size < capLen + n) size <<= 1
        capBuf = java.util.Arrays.copyOf(capBuf, size)
      }
      System.arraycopy(data, captureStart, capBuf, capLen, n)
      capLen += n
    }
    captureStart = curr
  }

  private[this] def runSkip(): Unit = {
    if (optimisticTail) { runOptTail(); return }
    val chunkStart = curr
    // every entry is either a fresh capture (captureStart == curr trivially)
    // or a resume after a chunk-boundary stash (the new segment starts here)
    if (capturing) captureStart = curr
    @inline def report(): Unit =
      if (!capturing && curr > chunkStart) plate.skipped(curr - chunkStart)

    // hot loop: keep all state in locals (registers), commit to fields
    // only when pausing for input; one byte never touches object fields
    val buf = data
    val limit = len
    var i = curr
    var phase = skipPhase
    var rel = skipRel
    var esc = skipEscape
    val columnMode = skipMode == SkipColumnMode
    val relTarget = skipRelTarget
    while (i < limit) {
      (phase: @switch) match {
        case SkAwait =>
          val b = buf(i)
          if (b == ' ' || b == '\n' || b == '\t' || b == '\r') i += 1
          else if (b == '"') { phase = SkString; esc = false; i += 1 }
          else if (b == '{' || b == '[') { phase = SkContainer; rel = 1; i += 1 }
          else { phase = SkScalar; i += 1 }
        case SkScalar =>
          var b = buf(i)
          while (!(b == ',' || b == '}' || b == ']' ||
                   b == ' ' || b == '\n' || b == '\t' || b == '\r')) {
            i += 1
            if (i >= limit) {
              { curr = i; skipPhase = phase; skipRel = rel; skipEscape = esc }; report()
              if (done && columnMode) { finishColumnSkip(); return }
              if (capturing) stashCapture()
              tokenStart = curr
              throw NeedsInput
            }
            b = buf(i)
          }
          { curr = i; skipPhase = phase; skipRel = rel; skipEscape = esc }; report(); finishColumnSkip(); return
        case SkString | SkContainer =>
          if (phase == SkString && columnMode && rel == 0) {
            // bare string value being column-skipped: the exit is the first
            // unescaped '"'. SWAR-hop whole words free of '"' and '\\',
            // then byte-step the word containing the candidate.
            while (phase == SkString && i < limit) {
              if (!esc) {
                while (i + 8 <= limit && {
                  val w = JsonParser.readLongLE(buf, i)
                  (JsonParser.swarZeros(w ^ JsonParser.BcQuote) |
                   JsonParser.swarZeros(w ^ JsonParser.BcBackslash)) == 0L
                }) i += 8
              }
              val stop = if (i + 8 <= limit) i + 8 else limit
              while (phase == SkString && i < stop) {
                val b = buf(i)
                i += 1
                if (esc) esc = false
                else if (b == '\\') esc = true
                else if (b == '"') { { curr = i; skipPhase = phase; skipRel = rel; skipEscape = esc }; report(); finishColumnSkip(); return }
              }
            }
          } else {
            // inside a skipped container: aggregate SWAR word loop
            // (simdjson-style, one word = 8 bytes). Per word: exact '"'
            // marks (unfolded) -> inclusive prefix-XOR gives per-lane quote
            // parity -> brackets at in-string lanes are masked out of the
            // (OR-folded, exact) bracket tests. Depth then advances by
            // popcounts. Words bearing backslashes, a pending escape, or a
            // possible depth exit fall to the byte loop below for exact
            // semantics; everything else advances 8 bytes in ~25 ALU ops
            // regardless of how quote-dense the content is.
            val target = if (columnMode) 0 else relTarget
            var inStr = phase == SkString
            while (i < limit) {
              if (!esc) {
                var go = true
                while (go && i + 8 <= limit) {
                  val w = JsonParser.readLongLE(buf, i)
                  if (JsonParser.swarZeros(w ^ JsonParser.BcBackslash) != 0L) go = false
                  else {
                    val q = JsonParser.swarZeros(w ^ JsonParser.BcQuote)
                    if (q == 0L) {
                      // quote-free word: parity is unchanged, every lane
                      // shares inStr — the two dominant shapes get a short
                      // op sequence (string content: nothing; structural:
                      // no parity chain, no outside mask)
                      if (inStr) i += 8
                      else {
                        val wf = w | JsonParser.BcFold
                        val close = JsonParser.swarZeros(wf ^ JsonParser.BcClose)
                        val nc = java.lang.Long.bitCount(close)
                        val open = JsonParser.swarZeros(wf ^ JsonParser.BcOpen)
                        if (nc > 0 && rel - nc <= target) {
                          // exact in-word replay: brackets in lane order —
                          // either the exit is here (return without ever
                          // leaving the fast loop) or depth is updated
                          var events = close | open
                          var exitAt = -1
                          while (exitAt < 0 && events != 0L) {
                            val lane = java.lang.Long.numberOfTrailingZeros(events) >>> 3
                            if (((close >>> (lane << 3)) & 0x80L) != 0L) {
                              rel -= 1
                              if (rel == target) exitAt = lane
                            } else rel += 1
                            events &= events - 1L
                          }
                          if (exitAt >= 0) {
                            i += exitAt + 1
                            phase = SkContainer
                            esc = false
                            curr = i; skipPhase = phase; skipRel = rel; skipEscape = esc
                            report()
                            if (columnMode) finishColumnSkip() else finishRowSkip()
                            return
                          }
                          i += 8
                        } else {
                          rel += java.lang.Long.bitCount(open) - nc
                          i += 8
                        }
                      }
                    } else {
                      val wf = w | JsonParser.BcFold
                      val anyClose = JsonParser.swarZeros(wf ^ JsonParser.BcClose)
                      val anyOpen = JsonParser.swarZeros(wf ^ JsonParser.BcOpen)
                      if ((anyClose | anyOpen) == 0L) {
                        // quote-bearing but bracket-free word (the dominant
                        // shape in string-heavy rows): only the in-string
                        // parity advances — no masks, no popcounts
                        inStr ^= (java.lang.Long.bitCount(q) & 1) == 1
                        i += 8
                      } else {
                      var p = q
                      p ^= p << 8; p ^= p << 16; p ^= p << 32 // inclusive prefix parity
                      val outside = ~((p << 8) ^ (if (inStr) JsonParser.BcHigh else 0L))
                      val close = anyClose & outside
                      val nc = java.lang.Long.bitCount(close)
                      val open = anyOpen & outside
                      if (nc > 0 && rel - nc <= target) {
                        // exact in-word replay (quote-bearing flavor)
                        var events = close | open
                        var exitAt = -1
                        while (exitAt < 0 && events != 0L) {
                          val lane = java.lang.Long.numberOfTrailingZeros(events) >>> 3
                          if (((close >>> (lane << 3)) & 0x80L) != 0L) {
                            rel -= 1
                            if (rel == target) exitAt = lane
                          } else rel += 1
                          events &= events - 1L
                        }
                        if (exitAt >= 0) {
                          i += exitAt + 1
                          phase = SkContainer
                          esc = false
                          curr = i; skipPhase = phase; skipRel = rel; skipEscape = esc
                          report()
                          if (columnMode) finishColumnSkip() else finishRowSkip()
                          return
                        }
                        inStr ^= p < 0
                        i += 8
                      } else {
                        rel += java.lang.Long.bitCount(open) - nc
                        inStr ^= p < 0 // bit 63 of p = parity of all 8 lanes
                        i += 8
                      }
                      }
                    }
                  }
                }
              }
              phase = if (inStr) SkString else SkContainer
              // exact byte-step over (at most) the word the fast loop stopped on
              val stop = if (i + 8 <= limit) i + 8 else limit
              while (i < stop) {
                if (phase == SkString) {
                  val b = buf(i)
                  i += 1
                  if (esc) esc = false
                  else if (b == '\\') esc = true
                  else if (b == '"') phase = SkContainer
                } else {
                  val b = buf(i)
                  i += 1
                  if (b == '"') { phase = SkString; esc = false }
                  else if (b == '{' || b == '[') rel += 1
                  else if (b == '}' || b == ']') {
                    rel -= 1
                    if (rel == target) {
                      { curr = i; skipPhase = phase; skipRel = rel; skipEscape = esc }; report()
                      if (columnMode) finishColumnSkip() else finishRowSkip()
                      return
                    }
                  }
                }
              }
              inStr = phase == SkString
            }
          }
      }
    }
    curr = i; skipPhase = phase; skipRel = rel; skipEscape = esc
    // out of input mid-skip: report what we consumed; state is checkpointed
    report()
    if (done && skipMode == SkipColumnMode && skipPhase == SkScalar) {
      // a scalar can legally terminate at EOF; structure cannot
      finishColumnSkip()
      return
    }
    if (capturing) stashCapture()
    tokenStart = curr // skipped bytes are consumed for good: nothing to rewind
    throw NeedsInput  // at EOF this becomes IncompleteParseException
  }


  /** Optimistic saturated-tail scan (round 16) — the row-skip flavor of
    * [[runSkip]] in its OWN method: the generic scanner keeps its r14-size
    * compile (a bigger body and a confirm call site measurably slowed
    * column skips that never run this code), and this loop gets its own
    * register allocation. Entered only from runSkip when [[optimisticTail]]
    * is set (saturation at row depth with a first-byte bitmap available):
    * phase is SkContainer/SkString mid-tail or SkOptQuote at a suspended
    * candidate quote; SkAwait/SkScalar cannot occur, capturing is never
    * active, and the mode is always a row skip (target -1).
    *
    * The scan is the same aggregate SWAR word loop as the generic
    * container scanner plus an inline candidate watch: per quote-bearing
    * word that could touch row level, compare each quote's FOLLOWER byte
    * against <= 3 broadcast wanted-first-byte constants (pure SWAR, no
    * loads); a hit byte-steps that word exactly, and a row-level string
    * open resolves through [[optimisticConfirm]] — so a duplicate of a
    * wanted key hands off for an exact last-wins re-parse while the
    * no-duplicate common case never leaves this method. With > 3 distinct
    * wanted first bytes every gate-passing quote word byte-steps (rare
    * schema shape; still exact, just slower).
    */
  private[this] def runOptTail(): Unit = {
    val chunkStart = curr
    @inline def report(): Unit =
      if (curr > chunkStart) plate.skipped(curr - chunkStart)
    val buf = data
    val limit = len
    var i = curr
    var phase = skipPhase
    var rel = skipRel
    var esc = skipEscape
    val relTarget = skipRelTarget
    val optBm = cruiseFirstBytes
    val obN = optBcN
    val ob0 = optBc0
    val ob1 = optBc1
    val ob2 = optBc2
    if (phase == SkOptQuote) {
      // resumed at an unconsumed row-level '"' pending confirmation
      val r = optimisticConfirm(i, chunkStart)
      if (r < 0L) return // handoff committed: skip state is dead
      i = (r >>> 2).toInt
      val code = (r & 3L).toInt
      phase = if (code == 0) SkContainer else SkString
      esc = code == 2
    }
    {
      {
        {
          {
            val target = relTarget
            var inStr = phase == SkString
            while (i < limit) {
              if (!esc) {
                var go = true
                while (go && i + 8 <= limit) {
                  val w = JsonParser.readLongLE(buf, i)
                  if (JsonParser.swarZeros(w ^ JsonParser.BcBackslash) != 0L) go = false
                  else {
                    val q = JsonParser.swarZeros(w ^ JsonParser.BcQuote)
                    if (q == 0L) {
                      // quote-free word: no key can open here
                      if (inStr) i += 8
                      else {
                        val wf = w | JsonParser.BcFold
                        val close = JsonParser.swarZeros(wf ^ JsonParser.BcClose)
                        val nc = java.lang.Long.bitCount(close)
                        val open = JsonParser.swarZeros(wf ^ JsonParser.BcOpen)
                        if (nc > 0 && rel - nc <= target) {
                          var events = close | open
                          var exitAt = -1
                          while (exitAt < 0 && events != 0L) {
                            val lane = java.lang.Long.numberOfTrailingZeros(events) >>> 3
                            if (((close >>> (lane << 3)) & 0x80L) != 0L) {
                              rel -= 1
                              if (rel == target) exitAt = lane
                            } else rel += 1
                            events &= events - 1L
                          }
                          if (exitAt >= 0) {
                            i += exitAt + 1
                            phase = SkContainer
                            esc = false
                            curr = i; skipPhase = phase; skipRel = rel; skipEscape = esc
                            report()
                            finishRowSkip()
                            return
                          }
                          i += 8
                        } else {
                          rel += java.lang.Long.bitCount(open) - nc
                          i += 8
                        }
                      }
                    } else {
                      val wf = w | JsonParser.BcFold
                      val anyClose = JsonParser.swarZeros(wf ^ JsonParser.BcClose)
                      val anyOpen = JsonParser.swarZeros(wf ^ JsonParser.BcOpen)
                      // candidate watch: only words that could reach row
                      // level (conservative: in-string closes counted)
                      var cand = false
                      if (rel - java.lang.Long.bitCount(anyClose) <= 0) {
                        if (obN <= 3) {
                          val w2 = w >>> 8
                          var zz = JsonParser.swarZeros(w2 ^ ob0)
                          if (obN > 1) zz |= JsonParser.swarZeros(w2 ^ ob1)
                          if (obN > 2) zz |= JsonParser.swarZeros(w2 ^ ob2)
                          cand = (zz & q) != 0L
                        } else cand = true
                        if (!cand && (q & 0x8000000000000000L) != 0L) {
                          // lane-7 quote: follower is the next word's byte
                          cand = i + 8 >= limit || {
                            val b = buf(i + 8) & 0xFF
                            (optBm(b >>> 6) & (1L << (b & 63))) != 0L
                          }
                        }
                      }
                      if (cand) {
                        // byte-step this word exactly (entry state intact)
                        go = false
                      } else if ((anyClose | anyOpen) == 0L) {
                        inStr ^= (java.lang.Long.bitCount(q) & 1) == 1
                        i += 8
                      } else {
                      var p = q
                      p ^= p << 8; p ^= p << 16; p ^= p << 32
                      val outside = ~((p << 8) ^ (if (inStr) JsonParser.BcHigh else 0L))
                      val close = anyClose & outside
                      val nc = java.lang.Long.bitCount(close)
                      val open = anyOpen & outside
                      if (nc > 0 && rel - nc <= target) {
                        var events = close | open
                        var exitAt = -1
                        while (exitAt < 0 && events != 0L) {
                          val lane = java.lang.Long.numberOfTrailingZeros(events) >>> 3
                          if (((close >>> (lane << 3)) & 0x80L) != 0L) {
                            rel -= 1
                            if (rel == target) exitAt = lane
                          } else rel += 1
                          events &= events - 1L
                        }
                        if (exitAt >= 0) {
                          i += exitAt + 1
                          phase = SkContainer
                          esc = false
                          curr = i; skipPhase = phase; skipRel = rel; skipEscape = esc
                          report()
                          finishRowSkip()
                          return
                        }
                        inStr ^= p < 0
                        i += 8
                      } else {
                        rel += java.lang.Long.bitCount(open) - nc
                        inStr ^= p < 0
                        i += 8
                      }
                      }
                    }
                  }
                }
              }
              phase = if (inStr) SkString else SkContainer
              // exact byte-step (escape words, candidate words, buffer tail)
              val stop = if (i + 8 <= limit) i + 8 else limit
              while (i < stop) {
                if (phase == SkString) {
                  val b = buf(i)
                  i += 1
                  if (esc) esc = false
                  else if (b == '\\') esc = true
                  else if (b == '"') phase = SkContainer
                } else {
                  val b = buf(i)
                  i += 1
                  if (b == '"') {
                    if (rel == 0) {
                      // possible row-level key opening: confirm exactly
                      val r = optimisticConfirm(i - 1, chunkStart)
                      if (r < 0L) return // handoff committed
                      i = (r >>> 2).toInt
                      val code = (r & 3L).toInt
                      if (code != 0) { phase = SkString; esc = code == 2 }
                    } else { phase = SkString; esc = false }
                  }
                  else if (b == '{' || b == '[') rel += 1
                  else if (b == '}' || b == ']') {
                    rel -= 1
                    if (rel == target) {
                      { curr = i; skipPhase = phase; skipRel = rel; skipEscape = esc }; report()
                      finishRowSkip()
                      return
                    }
                  }
                }
              }
              inStr = phase == SkString
            }
          }
        }
      }
    }
    curr = i
    skipPhase = phase
    skipRel = rel
    skipEscape = esc
    // out of input mid-tail: report what we consumed; state is checkpointed
    report()
    tokenStart = curr
    throw NeedsInput
  }

  private[this] def finishColumnSkip(): Unit = {
    skipMode = SkipNone
    if (capturing) {
      // raw-text capture complete: deliver the exact span as the value and
      // close it like any scalar (the plate said Continue at the nest, so
      // the ordinary unnest/finishRow protocol applies — NOT the skip's)
      capturing = false
      val sig =
        if (capLen == 0) rawCap.rawValue(data, captureStart, curr - captureStart)
        else { stashCapture(); rawCap.rawValue(capBuf, 0, capLen) }
      handleRowSignals(sig)
      scalarDone()
      return
    }
    if (cruiseSkipping) {
      // cruise skip: the plate never saw this key — no unnest to emit
      cruiseSkipping = false
      phase = PhAfter
      // chained cruise through the container exit: when `, "` follows in
      // buffer, hand the next key straight back to the cruise — a row of
      // skipped fields then never round-trips through the phase machine
      if (depth == 1) {
        val buf = data
        val limit = len
        var p = curr
        while (p < limit && {
          val b = buf(p); b == ' ' || b == '\n' || b == '\t' || b == '\r' }) p += 1
        if (p < limit && buf(p) == ',') {
          var q = p + 1
          while (q < limit && {
            val b = buf(q); b == ' ' || b == '\n' || b == '\t' || b == '\r' }) q += 1
          if (q < limit && buf(q) == '"') {
            curr = q
            phase = PhKey
            tryCruiseKey() // false = hard key: PhKey re-dispatches to parseKey
            ()
          } else {
            curr = p + 1 // comma consumed; key (or a proper error) follows
            phase = PhKey
          }
        }
      }
      return
    }
    // the skipped value still closes its nest: emit unnest, honor its signal
    if (depth == 0) {
      // (defensive: nestArr-skips always occur at depth >= 1 today)
      plate.finishRow()
      rowDoneAfterSkip()
    } else {
      val s = plate.unnest()
      phase = PhAfter
      handleRowSignals(s)
    }
  }

  private[this] def finishRowSkip(): Unit = {
    skipMode = SkipNone
    optimisticTail = false
    if (finishAfterRowSkip) { finishAfterRowSkip = false; plate.finishRow() }
    rowDoneAfterSkip()
  }

  /** Optimistic-tail candidate confirmation: `qpos` is an unconsumed '"'
    * at ROW level (skip rel 0) whose follower byte hit the wanted-key
    * first-byte bitmap. Resolve it exactly: scan to the string's close
    * (bounded — longer than any escaped wanted key means not actionable),
    * look for ':' to decide key vs value string, and compare a plain key
    * against the probe. A duplicate of a wanted key (or an escaped /
    * non-ASCII key the fast compare cannot rule out) HANDS OFF to the
    * phase machine at the quote — parseKey / the cruise re-parse it and
    * the plate rebinds last-wins, exactly like `spark.read.json`.
    *
    * Returns packed `(newI << 2) | code` — code 0: resume the structural
    * scan at newI (string consumed); 1: resume IN-string at newI; 2: as 1
    * with a pending escape; negative: handoff committed (caller must
    * return from runSkip without touching skip state). Throws NeedsInput
    * (state committed, curr rewound to the quote) when the decision needs
    * bytes beyond the buffer — the re-scan on resume is bounded by the
    * confirm bound, and a cleared candidate never re-enters this path.
    */
  private[this] def optimisticConfirm(qpos: Int, chunkStart: Int): Long = {
    val buf = data
    val limit = len
    def suspend(): Nothing = {
      curr = qpos
      skipPhase = SkOptQuote
      skipRel = 0
      skipEscape = false
      if (curr > chunkStart) plate.skipped(curr - chunkStart)
      tokenStart = curr
      throw NeedsInput
    }
    var k = qpos + 1
    if (k >= limit) suspend()
    val fb = buf(k) & 0xFF
    if ((cruiseFirstBytes(fb >>> 6) & (1L << (fb & 63))) == 0L)
      return (k.toLong << 2) | 1L // follower cleared the bitmap: plain string
    var sawHard = false // escape / ctrl / UTF-8: the fast compare can't rule it out
    var esc = false
    var end = -1
    val bound = qpos + 1 + cruiseConfirmBound
    while (end < 0 && k < limit && k <= bound) {
      val b = buf(k)
      if (esc) { esc = false; k += 1 }
      else if (b == '\\') { esc = true; sawHard = true; k += 1 }
      else if (b == '"') end = k
      else { if (b < 0x20) sawHard = true; k += 1 } // signed: ctrl OR >= 0x80
    }
    if (end < 0) {
      if (k > bound) // longer than any wanted key, even fully escaped
        return (k.toLong << 2) | (if (esc) 2L else 1L)
      suspend() // close not in buffer (bounded re-scan on resume)
    }
    var p = end + 1
    while (p < limit && {
      val b = buf(p); b == ' ' || b == '\n' || b == '\t' || b == '\r' }) p += 1
    if (p >= limit) suspend()
    if (buf(p) != ':')
      return ((end + 1).toLong << 2) | 0L // a VALUE string: skip onward
    if (!sawHard && cruiseProbe.cruisableKey(buf, qpos + 1, end - qpos - 1))
      return ((end + 1).toLong << 2) | 0L // unwanted key: ':' + value skip structurally
    // confirmed candidate: hand the key to the phase machine
    curr = qpos
    if (curr > chunkStart) plate.skipped(curr - chunkStart)
    skipMode = SkipNone
    optimisticTail = false
    finishAfterRowSkip = false
    phase = PhKey
    -1L
  }
}

object JsonParser {
  // ------------------------------------------------------- SWAR skip scan
  @inline private[json] def readLongLE(buf: Array[Byte], i: Int): Long =
    Swar.readLongLE(buf, i)

  @inline private[json] def swarZeros(x: Long): Long = Swar.zeros(x)

  private[json] final val BcFold      = 0x2020202020202020L // '{'|0x20=='{', '['|0x20=='{' etc.
  private[json] final val BcQuote     = 0x2222222222222222L // '"' (bit 5 already set)
  private[json] final val BcOpen      = 0x7B7B7B7B7B7B7B7BL // '{' and (folded) '['
  private[json] final val BcClose     = 0x7D7D7D7D7D7D7D7DL // '}' and (folded) ']'
  private[json] final val BcBackslash = 0x5C5C5C5C5C5C5C5CL // '\\'
  private[json] final val BcHigh      = 0x8080808080808080L // lane high bits
  private[json] final val BcCtrl      = 0x2020202020202020L // lt-compare threshold 0x20

  sealed trait Mode
  /** Whitespace-separated top-level values; each value is a row. */
  case object ValueStream extends Mode
  /** One top-level `[ ... ]`; each element is a row. */
  case object UnwrapArray extends Mode
  /** Exactly one top-level value; one row. */
  case object SingleValue extends Mode

  // phases
  private final val PhTop = 0
  private final val PhValue = 1
  private final val PhUnwrapStart = 2
  private final val PhUnwrapFirst = 3
  private final val PhTopSep = 4
  private final val PhTopEnd = 5
  private final val PhKeyFirst = 6
  private final val PhKey = 7
  private final val PhColon = 8
  private final val PhArrFirst = 9
  private final val PhAfter = 10
  private final val PhArrNext = 11

  // scalar kinds for emitScalar
  private final val EmptyMap = 0
  private final val EmptyArr = 1
  private final val KNull = 2
  private final val KTrue = 3
  private final val KFalse = 4

  // skip modes
  private final val SkipNone = 0
  private final val SkipColumnPending = 1 // nestMap said skip; ':' not yet consumed
  private final val SkipColumnMode = 2
  private final val SkipRowMode = 3

  // skip phases
  private final val SkAwait = 0
  private final val SkScalar = 1
  private final val SkString = 2
  private final val SkContainer = 3
  // optimistic tail: suspended AT an unconsumed row-level '"' pending
  // candidate confirmation (the decision needed bytes beyond the buffer)
  private final val SkOptQuote = 4

  /** Convenience: parse a complete input in one call (absorb, drain all
    * Partial batches, finish), merging batch values with `merge`.
    */
  def parseAll[A](input: String, plate: Plate[A], mode: Mode)(merge: (A, A) => A): ParseResult[A] = {
    val p = new JsonParser[A](plate, mode)
    var res = p.absorb(input)
    @tailrec def drainPartials(): Unit = res match {
      case ParseResult.Partial(_, _) =>
        res = ParseResult.combine(res, p.continueParse())(merge)
        drainPartials()
      case _ => ()
    }
    drainPartials()
    res match {
      case ParseResult.Complete(_) =>
        res = ParseResult.combine(res, p.finish())(merge)
        drainPartials()
      case _ => ()
    }
    res
  }
}
