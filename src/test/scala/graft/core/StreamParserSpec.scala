package graft.core

import graft.core.json.JsonParser
import graft.core.csv.CsvParser
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8

import Event._

/** Stream transducer + row-count harness + ParseResult algebra +
  * mapDelegate behavior.
  */
class StreamParserSpec extends AnyFunSuite {

  private def chunksOf(s: String, n: Int): Iterator[Array[Byte]] =
    s.getBytes(UTF_8).grouped(n)

  test("transduce emits per-chunk batches then the terminal batch") {
    val parser = new JsonParser(new ReifiedPlate, JsonParser.ValueStream)
    val out = StreamParser.transduce(chunksOf("{\"a\": 1}\n{\"a\": 2}", 7), parser).toList
    assert(out.flatten == List(
      NestMap("a"), Num("1", -1, -1), Unnest, FinishRow,
      NestMap("a"), Num("2", -1, -1), Unnest, FinishRow))
  }

  test("transduce drains Partial batches without pulling input") {
    val breaker = new DelegatingPlate[List[Event]](new ReifiedPlate) {
      override def num(s: CharSequence, d: Int, e: Int): Signal = {
        super.num(s, d, e); Signal.BreakBatch
      }
    }
    val parser = new JsonParser(breaker, JsonParser.ValueStream)
    val out = StreamParser.transduce(Iterator("1 2 3".getBytes(UTF_8)), parser).toList
    assert(out.flatten == List(
      Num("1", -1, -1), FinishRow, Num("2", -1, -1), FinishRow, Num("3", -1, -1), FinishRow))
    assert(out.length >= 3) // at least one batch per row boundary
  }

  test("transduce surfaces parse failures as exceptions") {
    val parser = new JsonParser(new ReifiedPlate, JsonParser.ValueStream)
    intercept[ParseException] {
      StreamParser.transduce(Iterator("{bad".getBytes(UTF_8)), parser).toList
    }
  }

  test("row-count harness counts JSON rows across chunk sizes") {
    val input = (1 to 137).map(i => s"""{"v": $i}""").mkString("\n")
    (1 to 40 by 7).foreach { n =>
      val parser = new JsonParser(new RowCountPlate, JsonParser.ValueStream)
      assert(StreamParser.fold(chunksOf(input, n), parser, 0L)(_ + _) == 137L, s"chunk=$n")
    }
  }

  test("row-count harness counts CSV rows") {
    val input = "h\n" + (1 to 55).map(_.toString).mkString("\n")
    val parser = new CsvParser(new RowCountPlate, CsvParser.Config(row1 = '\n', row2 = 0))
    assert(StreamParser.fold(chunksOf(input, 9), parser, 0L)(_ + _) == 55L)
  }

  test("countRowsFile drives a real file end to end") {
    val p = java.nio.file.Files.createTempFile("rows", ".jsonl")
    try {
      java.nio.file.Files.write(p, (1 to 42).map(i => s"""{"i": $i}""").mkString("\n").getBytes(UTF_8))
      assert(RowCountHarness.countRowsFile(p, chunkSize = 16) == 42L)
    } finally java.nio.file.Files.deleteIfExists(p)
  }

  // ------------------------------------------------------- ParseResult

  test("ParseResult.combine keeps failures and Partial status from the right") {
    import ParseResult._
    val err = Failure(new ParseException("x", 0, 1, 1))
    assert(combine[Int](err, Complete(1))(_ + _) == err)
    assert(combine[Int](Complete(1), err)(_ + _) == err)
    assert(combine[Int](Complete(1), Complete(2))(_ + _) == Complete(3))
    assert(combine[Int](Complete(1), Partial(2, 9))(_ + _) == Partial(3, 9))
    assert(combine[Int](Partial(1, 5), Complete(2))(_ + _) == Complete(3))
    assert(combine[Int](Partial(1, 5), Partial(2, 3))(_ + _) == Partial(3, 3))
  }

  test("ParseResult map/fold/toOption/unsafeGet") {
    import ParseResult._
    assert(Complete(2).map(_ * 3) == Complete(6))
    assert(Partial(2, 7).map(_ * 3) == Partial(6, 7))
    assert(Complete(5).toOption.contains(5))
    assert(Failure(new RuntimeException).toOption.isEmpty)
    assert(Complete(5).unsafeGet == 5)
    assert(Partial(5, 1).unsafeGet == 5)
    intercept[RuntimeException](Failure(new RuntimeException("boom")).unsafeGet)
    assert(Complete(1).fold(_ => "c", (_, _) => "p", _ => "f") == "c")
    assert(Partial(1, 0).fold(_ => "c", (_, _) => "p", _ => "f") == "p")
  }

  // -------------------------------------------------------- mapDelegate

  test("mapDelegate transforms only the batch result") {
    val plate: Plate[Long] = (new RowCountPlate).mapDelegate(_ * 10)
    val parser = new JsonParser(plate, JsonParser.ValueStream)
    // "3" cannot complete mid-stream (more digits could follow): 2 rows now
    assert(parser.absorb("1 2 3") == ParseResult.Complete(20L))
    // counts reset per batch boundary: the final batch has the last row
    assert(parser.finish() == ParseResult.Complete(10L))
  }
}
