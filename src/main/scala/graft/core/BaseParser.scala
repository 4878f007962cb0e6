package graft.core

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

private[core] object ParserControl {
  /** Control-flow sentinel: out of input mid-token (state checkpointed;
    * `curr` is rewound to the token start so the token re-parses when more
    * bytes arrive).
    */
  object NeedsInput extends Exception with scala.util.control.NoStackTrace
  /** Control-flow sentinel: BreakBatch honored at a row boundary. */
  object BatchBroken extends Exception with scala.util.control.NoStackTrace
}

/** Chunked byte intake shared by the incremental parsers (behavioral
  * counterpart of reference BaseParser.scala:57-181): a growable input
  * buffer with sliding-window compaction, UTF-8 BOM stripping, and the
  * absorb / continueParse / finish lifecycle. Subclasses implement
  * [[churnLoop]] (consume bytes, push plate events, throw
  * `ParserControl.NeedsInput` when starved mid-token) and [[endOk]]
  * (is the current state a legal end-of-input?).
  */
abstract class BaseParser[A](protected val plate: Plate[A]) {

  import ParserControl._

  protected var data = new Array[Byte](BaseParser.InitialBufferSize)
  protected var len = 0
  protected var curr = 0
  protected var consumedBase: Long = 0L // absolute offset of data(0)
  // Incremental line bookkeeping (round 17, reference-parity): subclasses
  // call countNewline(i) as they CONSUME row/whitespace newlines — exactly
  // the reference's `newline(i)` hook. The previous scheme re-walked every
  // consumed byte at buffer retirement with a SWAR newline count purely
  // for error positions: a full second (cache-cold) pass over the input,
  // ~14% of the PRUNED skip path's profile and a constant added to both
  // sides of the projection-skip ratio. Like the reference, newlines
  // inside byte-SKIPPED JSON spans are not tracked — error lines are exact
  // for validated content (JsonParserSpec pins the zero-copy multi-chunk
  // cases; CSV counts its quoted cells' newlines) and best-effort after
  // unvalidated skips.
  private[this] var nlSeen = 0L     // newlines consumed (counted) so far
  private[this] var lastNlAbs = 0L  // ABSOLUTE offset of the byte after it
  protected var done = false
  protected var finished = false
  private[this] var bomChecked = false

  /** Record one consumed newline at buffer index `i`. */
  protected final def countNewline(i: Int): Unit = {
    nlSeen += 1
    lastNlAbs = consumedBase + i + 1
  }

  /** Rewind point when input runs dry mid-token. */
  protected var tokenStart = 0

  /** Consume buffered bytes from `curr`, pushing plate events. Returns
    * normally when input is exhausted at a token boundary.
    */
  protected def churnLoop(): Unit

  /** Is the current parse state a legal end of input? */
  protected def endOk: Boolean

  // ================================================================== API

  /** Absorb one chunk of input; returns the plate's (non-terminal) batch. */
  def absorb(bytes: Array[Byte], off: Int, n: Int): ParseResult[A] = {
    if (finished) return alreadyFinished
    // zero-copy fast path: nothing buffered and the chunk starts at the
    // array base — parse straight from the caller's array (never retained
    // past this call; only the unconsumed tail is copied back in). Saves
    // the allocate-zero-copy cycle entirely for whole-buffer callers.
    if (off == 0 && curr == len) absorbBorrowed(bytes, n)
    else {
      append(bytes, off, n)
      churn()
    }
  }

  private[this] def absorbBorrowed(bytes: Array[Byte], n: Int): ParseResult[A] = {
    // retire the fully-consumed owned content (no copy: curr == len means
    // nothing remains; line bases advanced incrementally via countNewline)
    consumedBase += curr
    len = 0; curr = 0; tokenStart = 0
    val owned = data
    data = bytes
    len = n
    try churn()
    finally {
      // keep only the unconsumed tail (partial token / undrained rows)
      val rem = len - curr
      consumedBase += curr
      val dst =
        if (owned.length >= rem) owned
        else {
          var size = owned.length
          while (size < rem) size =
            if (size >= (Int.MaxValue >> 1)) Int.MaxValue else size << 1
          new Array[Byte](size)
        }
      System.arraycopy(data, curr, dst, 0, rem)
      data = dst
      len = rem
      curr = 0
      tokenStart = 0
    }
  }

  def absorb(bytes: Array[Byte]): ParseResult[A] = absorb(bytes, 0, bytes.length)
  def absorb(s: String): ParseResult[A] = absorb(s.getBytes(UTF_8))
  def absorb(buf: ByteBuffer): ParseResult[A] = {
    val arr = new Array[Byte](buf.remaining())
    buf.get(arr)
    absorb(arr)
  }

  /** Keep draining buffered bytes after a `Partial` result (BreakBatch). */
  def continueParse(): ParseResult[A] =
    if (finished) alreadyFinished else churn()

  /** Signal end of input and drain. The terminal batch is produced exactly
    * once; input ending mid-value yields `Failure(IncompleteParseException)`.
    */
  def finish(): ParseResult[A] = {
    done = true
    if (finished) alreadyFinished else churn()
  }

  private[this] def alreadyFinished: ParseResult[A] =
    ParseResult.Failure(new ParseException(
      "parser already finished", absAt(curr).toInt, lineAt(curr), colAt(curr)))

  // ============================================================ internals

  private[this] def churn(): ParseResult[A] =
    try {
      if (!bomChecked) checkBom()
      churnLoop()
      if (done) terminalResult()
      else ParseResult.Complete(plate.finishBatch(false))
    } catch {
      case NeedsInput =>
        if (done)
          ParseResult.Failure(new IncompleteParseException(
            s"unexpected end of input at offset ${absAt(len)}"))
        else {
          curr = tokenStart
          ParseResult.Complete(plate.finishBatch(false))
        }
      case BatchBroken =>
        ParseResult.Partial(plate.finishBatch(false), len - curr)
      case e: ParseException =>
        finished = true
        ParseResult.Failure(e)
    }

  private[this] def terminalResult(): ParseResult[A] =
    if (endOk) {
      finished = true
      ParseResult.Complete(plate.finishBatch(true))
    } else
      ParseResult.Failure(new IncompleteParseException(
        s"unexpected end of input at offset ${absAt(len)} (open structure)"))

  private[this] def append(bytes: Array[Byte], off: Int, n: Int): Unit = {
    // sliding-window compaction: discard the consumed prefix once it passes
    // the threshold, so unbounded streams parse in bounded memory (line
    // bases advanced incrementally via countNewline as bytes are consumed)
    if (curr >= BaseParser.CompactionThreshold) {
      System.arraycopy(data, curr, data, 0, len - curr)
      consumedBase += curr
      len -= curr
      tokenStart -= curr
      curr = 0
    }
    if (len + n > data.length) {
      var size = data.length
      while (size < len + n) size =
        if (size >= (Int.MaxValue >> 1)) Int.MaxValue else size << 1
      val next = new Array[Byte](size)
      System.arraycopy(data, 0, next, 0, len)
      data = next
    }
    System.arraycopy(bytes, off, data, len, n)
    len += n
  }

  private[this] def checkBom(): Unit = {
    if (consumedBase == 0 && curr == 0) {
      if (len >= 3) {
        if ((data(0) & 0xFF) == 0xEF) {
          if ((data(1) & 0xFF) == 0xBB && (data(2) & 0xFF) == 0xBF) curr = 3
          else die(0, "invalid UTF-8 BOM prefix")
        }
        bomChecked = true
      } else if (len > 0 && (data(0) & 0xFF) != 0xEF) {
        bomChecked = true
      } else if (len > 0 && done) {
        die(0, "truncated UTF-8 BOM")
      } else if (len > 0) {
        // 1-2 buffered bytes that might be a BOM prefix: wait for more input
        tokenStart = 0
        throw ParserControl.NeedsInput
      }
    } else bomChecked = true
  }

  // ------------------------------------------------------ error positions

  protected def absAt(i: Int): Long = consumedBase + i

  protected def lineAt(i: Int): Int = {
    // consumed newlines are counted incrementally; an error position sits
    // at (or just past) the consumption point, so no in-buffer re-count is
    // needed — but newlines scanned-ahead-of-consumption between the last
    // counted one and `i` (e.g. inside the very token that failed) are
    // added from the buffer, bounded by the current token. The converse
    // also happens (CSV counts a cell's ROW terminator before the caller
    // validates the cell and dies at the cell start): when the last
    // counted newline sits at/after `i`, the error is on the line BEFORE
    // it, so the +1 is dropped. Long math throughout — a multi-GiB single
    // line must not wrap the Int conversions.
    val iAbs = consumedBase + i
    if (lastNlAbs > iAbs)
      return math.min(math.max(1L, nlSeen), Int.MaxValue.toLong).toInt
    var line = nlSeen + 1
    var j = math.min(math.max(0L, lastNlAbs - consumedBase), len.toLong).toInt
    val limit = math.min(i, len)
    while (j < limit) { if (data(j) == '\n') line += 1; j += 1 }
    math.min(line, Int.MaxValue.toLong).toInt
  }

  protected def colAt(i: Int): Int = {
    var j = math.min(i, len) - 1
    while (j >= 0 && data(j) != '\n') j -= 1
    if (j >= 0) i - j
    else if (lastNlAbs > consumedBase + i)
      // the last counted newline is AHEAD of the error (see lineAt): the
      // error line starts at or before data(0) — in-buffer distance is
      // the best available position (exact when the buffer never slid)
      i + 1
    else
      math.min(math.max(1L, consumedBase + i - lastNlAbs + 1),
        Int.MaxValue.toLong).toInt
  }

  protected def die(i: Int, msg: String): Nothing =
    throw new ParseException(msg, absAt(i).toInt, lineAt(i), colAt(i))

  /** Current capacity of the internal byte buffer (memory-bound tests). */
  private[graft] def bufferCapacity: Int = data.length
}

object BaseParser {
  final val InitialBufferSize = 131072
  final val CompactionThreshold = 1 << 20
}
