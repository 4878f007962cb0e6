package graft.spark

import graft.core.{Plate, Signal}
import graft.core.csv.CsvParser
import graft.core.json.JsonParser
import org.apache.hadoop.conf.Configuration
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

/** The range protocol of [[RangeFeeder]], driven directly on local files
  * with no SparkSession. However a file is cut — at every byte offset of
  * small JSON-lines and CSV corpora (into two ranges, and into three with
  * a one-byte middle range), around the 256 KiB chunk edge of a larger
  * corpus, and at row boundaries for exact (block-pruned) ranges — the
  * ranges' rows in order are the whole-file parse, with and without
  * drop-malformed resync.
  */
class RangeFeederSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val conf = new Configuration()
  private val dir = Files.createTempDirectory("graft-range-feeder")
  private val csvConfig = CsvParser.Config(row1 = '\n', row2 = 0)
  private val csvCols = Array("id", "name", "v")

  override def afterAll(): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)

  /** Counts rows and keeps each one as its keys and scalar values, so the
    * ranges' union can be compared with the whole-file parse row by row.
    */
  private final class RowsPlate extends Plate[Long] {
    val rows = ArrayBuffer.empty[String]
    private val cur = new StringBuilder
    private def put(s: Any): Signal = { cur.append(s).append('|'); Signal.Continue }
    def nul(): Signal = put("null")
    def fls(): Signal = put("false")
    def tru(): Signal = put("true")
    def map(): Signal = Signal.Continue
    def arr(): Signal = Signal.Continue
    def num(s: CharSequence, decIdx: Int, expIdx: Int): Signal = put(s)
    def str(s: CharSequence): Signal = put(s)
    def nestMap(pathComponent: CharSequence): Signal = put(pathComponent)
    def nestArr(): Signal = Signal.Continue
    def nestMeta(pathComponent: CharSequence): Signal = put(pathComponent)
    def unnest(): Signal = Signal.Continue
    def finishRow(): Unit = { rows += cur.toString; cur.clear() }
    def finishBatch(terminal: Boolean): Long = rows.length.toLong
    def skipped(bytes: Int): Unit = ()
    /** A resync abandons the malformed row's partial values. */
    def abandon(): Unit = cur.clear()
  }

  private final class Corpus(val path: String, val bytes: Array[Byte], val json: Boolean) {
    def len: Long = bytes.length.toLong
    /** Offsets where a row starts (the byte after each row end). */
    def rowStarts: Seq[Int] = bytes.indices.filter(i => bytes(i) == '\n').map(_ + 1)
      .filter(_ < bytes.length)
  }

  private def write(name: String, text: String, json: Boolean): Corpus = {
    val p = dir.resolve(name)
    Files.write(p, text.getBytes(UTF_8))
    new Corpus(p.toUri.toString, text.getBytes(UTF_8), json)
  }

  /** Rows of [start, end) and the records the range dropped. */
  private def read(c: Corpus, start: Long, end: Long, aligned: Boolean = false,
      drop: Boolean = false): (Seq[String], Long) = {
    val part = GraftInputPartition(c.path, start, end, c.len, aligned = aligned)
    val plate = new RowsPlate
    val feeder =
      if (c.json)
        new RangeFeeder[Long](part, conf,
          () => { plate.abandon(); new JsonParser(plate, JsonParser.ValueStream) }, '\n', drop)
      else RangeFeeder.csv(part, conf, plate, csvConfig, csvCols)
    try while (!feeder.isExhausted) feeder.step()
    finally feeder.close()
    (plate.rows.toSeq, feeder.droppedRecords)
  }

  /** Cuts `c` at each offset k into [0, k) and [k, len), and also into
    * [0, k), [k, k + 1) and [k + 1, len) — a one-byte middle range, which
    * must own exactly the row (if any) that starts inside it — and checks
    * the ranges' rows (in order) and drops against the whole-file parse.
    */
  private def assertSplits(c: Corpus, offsets: Seq[Int], aligned: Boolean = false,
      drop: Boolean = false): Unit = {
    val (whole, wholeDropped) = read(c, 0, c.len, drop = drop)
    def check(cuts: Seq[Long]): Unit = {
      val ranges = (0L +: cuts).zip(cuts :+ c.len)
        .map { case (s, e) => read(c, s, e, aligned, drop) }
      assert(ranges.flatMap(_._1) == whole, s"cuts at $cuts of ${c.len}")
      assert(ranges.map(_._2).sum == wholeDropped, s"drops, cuts at $cuts of ${c.len}")
    }
    offsets.foreach { k =>
      check(Seq(k.toLong))
      if (!aligned && k + 1 < c.len) check(Seq(k.toLong, k + 1L))
    }
  }

  private def jsonLines(n: Int, pad: Int => Int): String =
    (1 to n).map(i => s"""{"id": $i, "s": "${"x" * pad(i)}", "a": [${i % 3}, null]}""")
      .mkString("", "\n", "\n")

  private val smallJson = write("small.jsonl", jsonLines(8, i => i % 5), json = true)
  private val smallCsv = write("small.csv",
    "id,name,v\n" + (1 to 28).map(i => s"$i,n${"y" * (i % 4)},${i * 7}").mkString("\n"),
    json = false)

  test("small corpora split at every byte offset read as the whole file") {
    assert(smallJson.len >= 250 && smallCsv.len >= 250, (smallJson.len, smallCsv.len))
    assert(read(smallJson, 0, smallJson.len)._1.length == 8)
    assert(read(smallCsv, 0, smallCsv.len)._1.length == 28)
    assertSplits(smallJson, 1 until smallJson.bytes.length)
    assertSplits(smallCsv, 1 until smallCsv.bytes.length)
  }

  test("drop-malformed resync: every split drops the corrupt line exactly once") {
    val lines = jsonLines(8, i => i % 5).split('\n')
    lines(4) = """{"id": 5, "s": oops, "a": []}"""
    val c = write("corrupt.jsonl", lines.mkString("", "\n", "\n"), json = true)
    val (whole, dropped) = read(c, 0, c.len, drop = true)
    assert(whole.length == 7 && dropped == 1L, (whole, dropped))
    assertSplits(c, 1 until c.bytes.length, drop = true)
  }

  test("offsets around the 256 KiB chunk edge") {
    val c = write("large.jsonl", jsonLines(9000, i => (i * 31) % 67), json = true)
    val edge = 256 * 1024
    assert(c.len > 2 * edge, c.len)
    assertSplits(c, (edge - 8) to (edge + 8))
  }

  test("exact (block-pruned) ranges split on row boundaries") {
    assertSplits(smallJson, smallJson.rowStarts, aligned = true)
    assertSplits(smallCsv, smallCsv.rowStarts, aligned = true)
  }
}
