package graft.core.csv

import graft.core._
import graft.testkit.ParserHarness._
import org.scalatest.funsuite.AnyFunSuite

import Event._

/** Golden event-stream tests for the incremental CSV parser (semantics per
  * reference csv/ParserSpecs.scala:30-227, re-derived).
  */
class CsvParserSpec extends AnyFunSuite {

  private val excel = CsvParser.Config()
  private val unix = CsvParser.Config(row1 = '\n', row2 = 0)

  test("single value in one column") {
    assert(csvEvents("abc\r\nfubar\r\n") ==
      List(NestMap("abc"), Str("fubar"), Unnest, FinishRow))
  }

  test("three values across three columns, three rows") {
    val input = "a,b,c\r\nr1c1,r1c2,r1c3\r\nr2c1,r2c2,r2c3\r\n"
    assert(csvEvents(input) == List(
      NestMap("a"), Str("r1c1"), Unnest,
      NestMap("b"), Str("r1c2"), Unnest,
      NestMap("c"), Str("r1c3"), Unnest, FinishRow,
      NestMap("a"), Str("r2c1"), Unnest,
      NestMap("b"), Str("r2c2"), Unnest,
      NestMap("c"), Str("r2c3"), Unnest, FinishRow))
  }

  test("lone \\r inside a value is literal under CRLF rows") {
    assert(csvEvents("a\r\nfu\rbar\r\n") ==
      List(NestMap("a"), Str("fu\rbar"), Unnest, FinishRow))
  }

  test("comma inside quoted value") {
    assert(csvEvents("a\r\n\"fu,bar\"\r\n") ==
      List(NestMap("a"), Str("fu,bar"), Unnest, FinishRow))
  }

  test("record delimiter after quoted value") {
    assert(csvEvents("a,b\r\n\"fu,bar\",baz\r\n") == List(
      NestMap("a"), Str("fu,bar"), Unnest,
      NestMap("b"), Str("baz"), Unnest, FinishRow))
  }

  test("doubled quote is an escaped quote") {
    assert(csvEvents("a\r\n\"fu\"\"bar\"\r\n") ==
      List(NestMap("a"), Str("fu\"bar"), Unnest, FinishRow))
  }

  test("row delimiter sequence inside quoted value") {
    assert(csvEvents("a\r\n\"fu\r\nbar\"\r\n") ==
      List(NestMap("a"), Str("fu\r\nbar"), Unnest, FinishRow))
  }

  test("header inference: Excel names") {
    val input = "r1c1,r1c2,r1c3\r\n"
    assert(csvEvents(input, excel.copy(header = false)) == List(
      NestMap("A"), Str("r1c1"), Unnest,
      NestMap("B"), Str("r1c2"), Unnest,
      NestMap("C"), Str("r1c3"), Unnest, FinishRow))
  }

  test("inferred names run A..Z then AA..AZ") {
    val names = (0 until 52).map(CsvParser.asHeader)
    assert(names.take(4) == Seq("A", "B", "C", "D"))
    assert(names(25) == "Z")
    assert(names(26) == "AA")
    assert(names(51) == "AZ")
    assert(CsvParser.asHeader(52) == "BA")
    assert(CsvParser.asHeader(701) == "ZZ")
    assert(CsvParser.asHeader(702) == "AAA")
  }

  test("row ending at EOF") {
    assert(csvEvents("abc\r\nfubar") ==
      List(NestMap("abc"), Str("fubar"), Unnest, FinishRow))
    assert(csvEvents("abc,def\r\nfubar,baz") == List(
      NestMap("abc"), Str("fubar"), Unnest,
      NestMap("def"), Str("baz"), Unnest, FinishRow))
  }

  test("inferred header with EOF row") {
    assert(csvEvents("fubar", excel.copy(header = false)) ==
      List(NestMap("A"), Str("fubar"), Unnest, FinishRow))
  }

  test("quoted value ending at EOF") {
    assert(csvEvents("abc\r\n\"fubar\"") ==
      List(NestMap("abc"), Str("fubar"), Unnest, FinishRow))
    assert(csvEvents("\"fubar\"", excel.copy(header = false)) ==
      List(NestMap("A"), Str("fubar"), Unnest, FinishRow))
  }

  test("doubled row delimiter yields an empty-string row") {
    assert(csvEvents("foo\r\n\r\n") ==
      List(NestMap("foo"), Str(""), Unnest, FinishRow))
  }

  test("trailing record delimiter yields a trailing empty cell") {
    assert(csvEvents("a,b\r\nx,") == List(
      NestMap("a"), Str("x"), Unnest,
      NestMap("b"), Str(""), Unnest, FinishRow))
  }

  test("unix newlines") {
    assert(csvEvents("abc\nfubar\n", unix) ==
      List(NestMap("abc"), Str("fubar"), Unnest, FinishRow))
  }

  test("custom delimiters (TSV with backslash escape)") {
    val tsv = CsvParser.Config(record = '\t', row1 = '\n', row2 = 0,
      openQuote = '\'', closeQuote = '\'', escape = '\\')
    assert(csvEvents("a\tb\n1\t'x\\'y'\n", tsv) == List(
      NestMap("a"), Str("1"), Unnest,
      NestMap("b"), Str("x'y"), Unnest, FinishRow))
  }

  test("empty input parses to zero rows") {
    assert(csvEvents("") == Nil)
  }

  test("empty header cell fails") {
    assert(csvError("abc,,def", unix).isInstanceOf[ParseException])
  }

  test("trailing empty header cell at EOF is a positioned parse error") {
    // "a," ends the header row on a record delimiter at EOF: the implied
    // trailing header cell is empty — a ParseException, not a RuntimeException
    val e = csvError("a,")
    assert(e.isInstanceOf[ParseException])
    assert(e.getMessage.contains("empty header cell"))
  }

  test("unclosed quote fails") {
    assert(csvError("a\r\n\"fubar").isInstanceOf[ParseException])
  }

  test("newline-terminated empty header cell reports line 1 (round 17)") {
    // the incremental line bookkeeping counts the cell's ROW terminator
    // before the caller validates the (empty) cell and dies at the cell
    // start — the error position must still be on line 1, at the cell
    val e = csvError("a,\nx,y\n", unix).asInstanceOf[ParseException]
    assert(e.getMessage.contains("empty header cell"))
    assert(e.line == 1, s"line ${e.line}")
    assert(e.col == 3, s"col ${e.col}")
  }

  test("error lines count the newlines inside multi-line quoted cells") {
    // a two-line quoted cell, then a malformed row on line 5 — at every
    // split into two chunks, so a quoted cell whose scan a chunk boundary
    // restarts still counts its newline once
    for ((input, config) <- Seq(
        ("a,b\n\"two\nlines\",x\nok,1\n\"bad\"junk,2\n", unix),
        ("a,b\r\n\"two\r\nlines\",x\r\nok,1\r\n\"bad\"junk,2\r\n", excel))) {
      val bytes = input.getBytes("UTF-8")
      for (i <- 0 to bytes.length) {
        val p = new CsvParser(new ReifiedPlate, config)
        val failure = Iterator(
            () => p.absorb(bytes.slice(0, i)),
            () => p.absorb(bytes.slice(i, bytes.length)),
            () => p.finish())
          .map(_.apply()).collectFirst { case ParseResult.Failure(e) => e }
        failure match {
          case Some(e: ParseException) =>
            assert(e.getMessage.contains("unexpected content after closing quote"))
            assert((e.line, e.col) == ((5, 6)), s"split $i of ${input.length}")
          case other => fail(s"split $i: expected a ParseException, got $other")
        }
      }
    }
  }

  test("junk after closing quote fails") {
    assert(csvError("a\r\n\"fu\"bar\r\n").isInstanceOf[ParseException])
  }

  test("every chunk split yields identical events") {
    csvEverySplitMatches("a,b\r\n\"fu,\r\nbar\",\"x\"\"y\"\r\nplain,2\r\n")
    csvEverySplitMatches("col\nv1\nv2\n", unix)
  }

  // ------------------------------------------------------------ pushdown

  test("SkipColumn skips the cell bytes and still unnests") {
    val wrap: EventPlate => EventPlate = d => new DelegatingPlate[List[Event]](d) {
      override def nestMap(p: CharSequence): Signal =
        if (p.toString == "b") Signal.SkipColumn else super.nestMap(p)
    }
    assert(csvEvents("a,b,c\r\n1,longvalue,3\r\n", wrap = wrap) == List(
      NestMap("a"), Str("1"), Unnest,
      Skipped(9), Unnest,
      NestMap("c"), Str("3"), Unnest, FinishRow))
  }

  test("SkipRow drops the rest of the record and its finishRow") {
    val wrap: EventPlate => EventPlate = d => new DelegatingPlate[List[Event]](d) {
      override def str(s: CharSequence): Signal = {
        val sig = super.str(s)
        if (s.toString == "drop") Signal.SkipRow else sig
      }
    }
    val events = csvEvents("a,b\r\nkeep,1\r\ndrop,2\r\nalso,3\r\n", wrap = wrap)
    assert(events.filterNot(_.isInstanceOf[Skipped]) == List(
      NestMap("a"), Str("keep"), Unnest, NestMap("b"), Str("1"), Unnest, FinishRow,
      NestMap("a"), Str("drop"),
      NestMap("a"), Str("also"), Unnest, NestMap("b"), Str("3"), Unnest, FinishRow))
  }

  test("BreakBatch abbreviates at the row boundary") {
    val wrap: EventPlate => EventPlate = d => new DelegatingPlate[List[Event]](d) {
      override def finishRow(): Unit = super.finishRow()
      override def str(s: CharSequence): Signal = { super.str(s); Signal.BreakBatch }
    }
    val p = new CsvParser(wrap(new ReifiedPlate), CsvParser.Config(row1 = '\n', row2 = 0))
    val r1 = p.absorb("h\n1\n2\n")
    assert(r1 == ParseResult.Partial(List(NestMap("h"), Str("1"), Unnest, FinishRow), 2))
    val r2 = p.continueParse()
    assert(r2 == ParseResult.Partial(List(NestMap("h"), Str("2"), Unnest, FinishRow), 0))
    assert(p.continueParse() == ParseResult.Complete(Nil))
    assert(p.finish() == ParseResult.Complete(Nil))
  }
}
