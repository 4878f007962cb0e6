package graft.core.csv

import graft.core._
import graft.core.ParserControl.{BatchBroken, NeedsInput}

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

/** Incremental CSV parser pushing a columnar event stream into a [[Plate]]
  * (clean-room counterpart of reference csv/Parser.scala:30-478).
  *
  * Every record becomes a single-level map of strings:
  * `nestMap(header) str(value) unnest` per cell, then `finishRow` — no type
  * coercion. Headers come from the first record (`header = true`) or are
  * inferred Excel-style (`A..Z, AA, AB, …` — reference csv/Parser.scala:
  * 439-454) when `header = false`.
  *
  * Fully configurable single-byte delimiters with a two-byte row delimiter
  * (`row1`/`row2`, e.g. CRLF; set `row2 = 0` for single-byte rows). A lone
  * `row1` byte inside an unquoted value is literal content. Quoted values
  * may contain record and row delimiters; `escape == closeQuote` gives
  * Excel-style quote doubling.
  *
  * Pushdown (an extension over the reference, whose CSV backend ignores
  * signals): `nestMap` returning SkipColumn skips the cell's value without
  * string materialization (`skipped(bytes)` reported); SkipRow from any
  * event skips to the end of the record and suppresses its `finishRow`;
  * BreakBatch abbreviates at the next row boundary.
  */
final class CsvParser[A](plate0: Plate[A], config: CsvParser.Config)
    extends BaseParser[A](plate0) {

  import CsvParser._

  private[this] val headers = new ArrayBuffer[String]
  headers ++= config.providedHeader
  private[this] var readingHeader = config.header && config.providedHeader.isEmpty
  private[this] var column = 0
  private[this] var abbreviate = false
  private[this] var rowSkip = false
  private[this] var rowSkipBytes = 0
  private[this] var skipRowRequested = false
  // nestMap for the current cell is already emitted (survives a mid-cell
  // input starvation so the resume does not re-emit it)
  private[this] var nestEmitted = false
  private[this] var cellSkip = false

  protected def endOk: Boolean = true

  protected def churnLoop(): Unit = {
    while (true) {
      if (rowSkip) runRowSkip()
      if (curr >= len) {
        if (!done) return
        if (column == 0) return
        // EOF right after a record delimiter: one empty trailing cell
        tokenStart = curr
        // ... which in the header row is an empty header cell (e.g. "a,"):
        // a positioned error, same as parseCell's in-row check
        if (readingHeader) die(curr, "empty header cell")
        emitTrailingEmptyCell()
      } else {
        tokenStart = curr
        parseCell()
      }
    }
  }

  private[this] def headerFor(col: Int): String = {
    if (col < headers.length) headers(col)
    else if (readingHeader) sys.error("unreachable: header cells are accumulated")
    else if (config.header) die(curr, s"record has more fields than the ${headers.length} header(s)")
    else {
      // Excel-style inferred names, generated (and memoized) on demand
      while (headers.length <= col) headers += asHeader(headers.length)
      headers(col)
    }
  }

  /** Parse one cell plus its terminator, emitting its events. */
  private[this] def parseCell(): Unit = {
    if (readingHeader) {
      val term = scanCell(buildValue = true); val value = cellValue
      if (value.length == 0) die(tokenStart, "empty header cell")
      headers += value.toString
      finishCell(term)
    } else {
      if (!nestEmitted) {
        val sig = plate.nestMap(headerFor(column))
        if (sig eq Signal.SkipColumn) cellSkip = true
        else {
          cellSkip = false
          noteSignal(sig)
          if (skipRowRequested) {
            // the cell is not consumed yet: byte-skip from here to row end
            skipRowRequested = false
            rowSkip = true
            rowSkipBytes = 0
            return
          }
        }
        nestEmitted = true
      }
      if (cellSkip) {
        val before = curr
        val term = scanCell(buildValue = false)
        nestEmitted = false
        // terminator bytes are not part of the skipped value accounting
        val termLen = term match {
          case TermRecord => 1
          case TermRow    => if (config.row2 == 0) 1 else 2
          case _          => 0
        }
        plate.skipped(curr - before - termLen)
        noteSignal(plate.unnest())
        finishCell(term)
      } else {
        val term = scanCell(buildValue = true); val value = cellValue
        nestEmitted = false
        noteSignal(plate.str(value))
        // a SkipRow from str() drops the row: its unnest is suppressed too
        if (!skipRowRequested) noteSignal(plate.unnest())
        finishCell(term)
      }
    }
  }

  private[this] def emitTrailingEmptyCell(): Unit = {
    val name = headerFor(column)
    val sig = plate.nestMap(name)
    if (sig eq Signal.SkipColumn) {
      plate.skipped(0)
      noteSignal(plate.unnest())
    } else {
      noteSignal(sig)
      if (!skipRowRequested) {
        noteSignal(plate.str(""))
        noteSignal(plate.unnest())
      }
    }
    finishCell(TermEof)
  }

  /** Advance past a completed cell, honoring a SkipRow that arrived from
    * its `str`/`unnest` events: if the record continues, byte-skip the
    * remaining cells; if the terminator already ended the record, just
    * suppress its finishRow.
    */
  private[this] def finishCell(term: Int): Unit = {
    if (skipRowRequested) {
      skipRowRequested = false
      if (term == TermRecord) { rowSkip = true; rowSkipBytes = 0 }
      else {
        if (readingHeader) readingHeader = false
        column = 0
        if (abbreviate) { abbreviate = false; throw BatchBroken }
      }
    } else if (term == TermRecord) column += 1
    else rowEnd()
  }

  private[this] def rowEnd(): Unit = {
    if (readingHeader) readingHeader = false
    else {
      plate.finishRow()
      if (abbreviate) { abbreviate = false; column = 0; throw BatchBroken }
    }
    column = 0
  }

  private[this] def noteSignal(s: Signal): Unit =
    if (s eq Signal.SkipRow) skipRowRequested = true
    else if (s eq Signal.BreakBatch) abbreviate = true
    else if (s eq Signal.Terminate)
      die(curr, "parse terminated by consumer (Signal.Terminate)")

  /** Skip raw cells until the end of the current record; the record's
    * finishRow is suppressed (the consumer dropped the row).
    */
  private[this] def runRowSkip(): Unit = {
    while (rowSkip) {
      if (curr >= len) {
        if (!done) { tokenStart = curr; throw NeedsInput }
        // EOF terminates the skipped record
        if (rowSkipBytes > 0) plate.skipped(rowSkipBytes)
        rowSkip = false
        column = 0
        return
      }
      tokenStart = curr
      val before = curr
      val term = scanCell(buildValue = false)
      rowSkipBytes += curr - before
      if (term != TermRecord) {
        if (rowSkipBytes > 0) plate.skipped(rowSkipBytes)
        rowSkip = false
        column = 0
        if (abbreviate) { abbreviate = false; throw BatchBroken }
      }
    }
  }

  // ------------------------------------------------------------ cell scan

  // reusable zero-copy view for ASCII unquoted cells (valid only for the
  // duration of the plate call; header capture copies via toString)
  private[this] val cellView = new ByteSliceCharSeq

  // broadcast byte-lane patterns for the unquoted-cell SWAR cruise
  // (config is fixed per parser instance)
  private[this] val recordPat = 0x0101010101010101L * (config.record & 0xFFL)
  private[this] val row1Pat = 0x0101010101010101L * (config.row1 & 0xFFL)
  private[this] val quotePat = 0x0101010101010101L * (config.closeQuote & 0xFFL)
  private[this] val escapePat = 0x0101010101010101L * (config.escape & 0xFFL)

  /** The value of the last cell scanned by [[scanCell]]/[[scanQuoted]]
    * (a reusable buffer view for pure-ASCII unquoted cells — no decode,
    * no alloc; valid until the next scan).
    */
  private[this] var cellValue: CharSequence = ""

  /** Scan one cell starting at `curr`; consumes the terminator. Returns
    * the terminator kind and leaves the value in [[cellValue]]. With
    * `buildValue = false` the value is not materialized (byte-skip path)
    * and [[cellValue]] is "". Returns Int (not a tuple) and passes the
    * ascii flag explicitly so the hot path allocates nothing.
    */
  private[this] def scanCell(buildValue: Boolean): Int = {
    val start = curr
    if (curr < len && data(curr) == config.openQuote) scanQuoted(buildValue)
    else {
      var i = start
      var ascii = true
      @inline def value(until: Int, asciiNow: Boolean): CharSequence =
        if (!buildValue) ""
        else if (asciiNow) { cellView.set(data, start, until - start); cellView }
        else new String(data, start, until - start, UTF_8)
      while (true) {
        // SWAR cruise: plain cell content (not delimiter, not row1, and —
        // while the cell is still ASCII — no high bit) advances 8 byte
        // lanes per step; the first stopper lane drops to the byte machine
        var cruising = i + 8 <= len
        while (cruising) {
          val w = Swar.readLongLE(data, i)
          val hits = Swar.zeros(w ^ recordPat) | Swar.zeros(w ^ row1Pat) |
            (if (ascii) w & 0x8080808080808080L else 0L)
          if (hits != 0L) {
            i += java.lang.Long.numberOfTrailingZeros(hits) >> 3
            cruising = false
          } else {
            i += 8
            cruising = i + 8 <= len
          }
        }
        if (i >= len) {
          if (!done) throw NeedsInput
          cellValue = value(i, ascii)
          curr = i
          return TermEof
        }
        val b = data(i)
        if (b == config.record) {
          cellValue = value(i, ascii)
          curr = i + 1
          return TermRecord
        } else if (b == config.row1) {
          if (config.row2 == 0) {
            cellValue = value(i, ascii)
            if (config.row1 == '\n') countNewline(i)
            curr = i + 1
            return TermRow
          } else if (i + 1 < len) {
            if (data(i + 1) == config.row2) {
              cellValue = value(i, ascii)
              noteRowNl(i)
              curr = i + 2
              return TermRow
            } else i += 1 // lone row1 byte is literal content
          } else if (done) {
            i += 1 // trailing row1 at EOF: literal
          } else throw NeedsInput
        } else {
          if (b < 0) ascii = false // multi-byte UTF-8: decode path
          i += 1
        }
      }
      sys.error("unreachable")
    }
  }

  /** Line bookkeeping (round 17, BaseParser.countNewline): a consumed row
    * terminator whose bytes include '\n' advances the error-position line
    * base — the incremental replacement for the retired full-buffer
    * newline re-walk. A quoted cell counts its own newlines once it
    * completes ([[countQuotedNewlines]]).
    */
  @inline private[this] def noteRowNl(row1Idx: Int): Unit =
    if (config.row2 == '\n') countNewline(row1Idx + 1)
    else if (config.row1 == '\n') countNewline(row1Idx)

  /** Quoted cell: `curr` is at the opening quote. Fast path slices the
    * bytes when no escape appears; the slow path processes quote doubling
    * (escape == closeQuote) or dedicated escape bytes.
    */
  private[this] def scanQuoted(buildValue: Boolean): Int = {
    val start = curr
    var i = curr + 1
    var needSlow = false
    var end = -1
    while (end < 0) {
      // SWAR cruise: quoted content stops only at closeQuote or escape
      // (newlines/delimiters are literal inside quotes)
      var cruising = i + 8 <= len
      while (cruising) {
        val w = Swar.readLongLE(data, i)
        val hits = Swar.zeros(w ^ quotePat) |
          (if (config.escape != config.closeQuote) Swar.zeros(w ^ escapePat) else 0L)
        if (hits != 0L) {
          i += java.lang.Long.numberOfTrailingZeros(hits) >> 3
          cruising = false
        } else {
          i += 8
          cruising = i + 8 <= len
        }
      }
      if (i >= len) {
        if (done) die(start, "unclosed quoted value at end of input")
        throw NeedsInput
      }
      val b = data(i)
      if (b == config.escape && config.escape != config.closeQuote) {
        needSlow = true
        if (i + 1 >= len) { if (done) die(i, "dangling escape at end of input"); throw NeedsInput }
        i += 2
      } else if (b == config.closeQuote) {
        if (config.escape == config.closeQuote && i + 1 < len && data(i + 1) == config.closeQuote) {
          needSlow = true
          i += 2 // doubled quote = literal quote
        } else if (config.escape == config.closeQuote && i + 1 >= len && !done) {
          throw NeedsInput // can't yet tell closing quote from doubling
        } else {
          end = i
        }
      } else i += 1
    }
    cellValue =
      if (!buildValue) ""
      else if (!needSlow) new String(data, start + 1, end - start - 1, UTF_8)
      else unescapeQuoted(start + 1, end)
    curr = end + 1
    // after the closing quote: a record/row delimiter or EOF must follow
    val term =
      if (curr >= len) { if (!done) throw NeedsInput; TermEof }
      else {
        val b = data(curr)
        if (b == config.record) TermRecord
        else if (b == config.row1 && config.row2 == 0) TermRow
        else if (b == config.row1 && curr + 1 < len) {
          if (data(curr + 1) == config.row2) TermRow
          else die(curr, "unexpected content after closing quote")
        } else if (b == config.row1 && !done) throw NeedsInput
        else die(curr, "unexpected content after closing quote")
      }
    // the cell is complete: count its newlines now, so a scan that a
    // NeedsInput above restarts never counts them twice
    countQuotedNewlines(start + 1, end)
    if (term == TermRecord) curr += 1
    else if (term == TermRow) {
      if (config.row2 == 0) {
        if (config.row1 == '\n') countNewline(curr)
        curr += 1
      } else { noteRowNl(curr); curr += 2 }
    }
    term
  }

  /** Line bookkeeping for a quoted cell's content `[from, to)`: its '\n'
    * bytes are literal, so the cell scan above passes them uncounted.
    */
  private[this] def countQuotedNewlines(from: Int, to: Int): Unit = {
    var i = from
    while (i < to) { if (data(i) == '\n') countNewline(i); i += 1 }
  }

  private[this] def unescapeQuoted(from: Int, to: Int): String = {
    val raw = new java.io.ByteArrayOutputStream(to - from)
    var i = from
    while (i < to) {
      val b = data(i)
      if (b == config.escape && config.escape != config.closeQuote && i + 1 < to) {
        raw.write(data(i + 1).toInt); i += 2
      } else if (b == config.closeQuote && config.escape == config.closeQuote &&
                 i + 1 < to && data(i + 1) == config.closeQuote) {
        raw.write(b.toInt); i += 2
      } else { raw.write(b.toInt); i += 1 }
    }
    new String(raw.toByteArray, UTF_8)
  }
}

object CsvParser {
  /** Parser configuration; defaults are Excel-style with Windows newlines
    * (reference csv/Parser.scala:470-477). Set `row2 = 0` when the row
    * delimiter is a single byte.
    */
  /** `providedHeader` supplies the column names without consuming a header
    * row from the stream — the byte-range split case, where only the first
    * range sees the file's header line.
    */
  final case class Config(
      header: Boolean = true,
      record: Byte = ',',
      row1: Byte = '\r',
      row2: Byte = '\n',
      openQuote: Byte = '"',
      closeQuote: Byte = '"',
      escape: Byte = '"',
      providedHeader: Seq[String] = Nil)

  private final val TermRecord = 0
  private final val TermRow = 1
  private final val TermEof = 2

  /** Excel-style column naming: 0 -> A … 25 -> Z, 26 -> AA, … (bijective
    * base-26, reference csv/Parser.scala:439-454).
    */
  def asHeader(column: Int): String = {
    var n = column + 1
    val sb = new java.lang.StringBuilder
    while (n > 0) {
      n -= 1
      sb.append(('A' + n % 26).toChar)
      n /= 26
    }
    sb.reverse.toString
  }

  /** Convenience: parse a complete input in one call. */
  def parseAll[A](input: String, plate: Plate[A], config: Config)(merge: (A, A) => A): ParseResult[A] = {
    val p = new CsvParser[A](plate, config)
    var res = p.absorb(input)
    def drainPartials(): Unit = while (res match {
      case ParseResult.Partial(_, _) =>
        res = ParseResult.combine(res, p.continueParse())(merge); true
      case _ => false
    }) ()
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
