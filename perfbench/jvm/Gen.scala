package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generators. Every file is a pure function of (seed, file
  * index), so files can be written in parallel and the same seed always
  * gives the same bytes.
  */
object Gen {
  private val letters = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
  val devices = Array("mobile", "desktop", "tablet", "tv")
  val systems = Array("ios", "android", "linux", "windows", "mac")
  val statuses = Array("new", "paid", "shipped", "returned", "lost")
  /** 50 countries: `country = <one of them>` selects ~2% of rows. */
  val countries: Array[String] = Array.tabulate(50)(i => f"C$i%02d")

  /** Part-name vocabulary, shared with sfgen.py's p_name. */
  val adjectives = Array("large", "small", "hot", "cold", "blue", "red", "old", "new")
  val nouns = Array("ring", "bolt", "plate", "gear", "nut", "screw", "pipe", "valve")

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 1)

  def word(r: SplittableRandom, minLen: Int, span: Int): String = {
    val n = minLen + r.nextInt(span)
    val cs = new Array[Char](n)
    var i = 0
    while (i < n) { cs(i) = letters.charAt(r.nextInt(letters.length)); i += 1 }
    new String(cs)
  }

  private def sci(r: SplittableRandom, sb: java.lang.StringBuilder): Unit = {
    if (r.nextBoolean()) sb.append('-')
    sb.append(r.nextLong(1L, 1000000000000L)).append('.').append(r.nextInt(10000))
      .append('e').append(r.nextInt(-30, 30))
  }

  private def money(r: SplittableRandom, sb: java.lang.StringBuilder, maxUnits: Int): Unit = {
    val cents = r.nextInt(maxUnits * 100)
    sb.append(cents / 100).append('.').append(f"${cents % 100}%02d")
  }

  /** One JSON-lines file of ~20-field rows: flat scalars, an ugh10k-shaped
    * nested struct (`duh`), a mixed-type array (`abc`), a string array,
    * two more structs and a long string.
    */
  def jsonFile(seed: Long, file: Int, rows: Int): Array[Byte] = {
    val r = rng(seed, 1000 + file)
    val sb = new java.lang.StringBuilder(rows * 460)
    val base = file.toLong * rows
    var i = 0
    while (i < rows) {
      sb.append("{\"id\": ").append(base + i)
        .append(", \"ts\": ").append(1700000000000L + r.nextLong(0L, 86400000L * 30))
        .append(", \"user\": \"user-").append(r.nextInt(20000))
        .append("\", \"country\": \"").append(countries(r.nextInt(countries.length)))
        .append("\", \"city\": \"city-").append(r.nextInt(500))
        .append("\", \"device\": \"").append(devices(r.nextInt(devices.length)))
        .append("\", \"os\": \"").append(systems(r.nextInt(systems.length)))
        .append("\", \"price\": ")
      money(r, sb, 1000)
      sb.append(", \"qty\": ").append(1 + r.nextInt(50))
        .append(", \"discount\": 0.").append(f"${r.nextInt(11)}%02d")
        .append(", \"score\": ")
      sci(r, sb)
      sb.append(", \"flag\": ").append(r.nextBoolean())
        .append(", \"tags\": [")
      val nt = r.nextInt(4)
      var t = 0
      while (t < nt) {
        if (t > 0) sb.append(", ")
        sb.append("\"t").append(r.nextInt(40)).append('"')
        t += 1
      }
      sb.append("], \"abc\": [\"").append(word(r, 7, 10)).append("\", ")
      sci(r, sb); sb.append(", "); sci(r, sb); sb.append(", "); sci(r, sb)
      sb.append("], \"duh\": {\"a\": ")
      sci(r, sb); sb.append(", \"c\": "); sci(r, sb); sb.append(", \"b\": "); sci(r, sb)
      sb.append("}, \"xyz\": {\"yy\": \"").append(word(r, 10, 12))
        .append("\", \"zz\": \"").append(word(r, 20, 18))
        .append("\"}, \"geo\": {\"lat\": ").append(r.nextInt(-90, 90)).append('.')
        .append(r.nextInt(1000000)).append(", \"lon\": ").append(r.nextInt(-180, 180))
        .append('.').append(r.nextInt(1000000))
        .append("}, \"note\": \"").append(word(r, 60, 120))
        .append("\", \"status\": \"").append(statuses(r.nextInt(statuses.length)))
        .append("\", \"seq\": ").append(r.nextInt(1000000))
        .append("}\n")
      i += 1
    }
    sb.toString.getBytes(UTF_8)
  }

  val jsonSchema: StructType = StructType.fromDDL(
    "id BIGINT, ts BIGINT, user STRING, country STRING, city STRING, device STRING, " +
      "os STRING, price DOUBLE, qty INT, discount DOUBLE, score DOUBLE, flag BOOLEAN, " +
      "tags ARRAY<STRING>, abc ARRAY<STRING>, duh STRUCT<a: DOUBLE, c: DOUBLE, b: DOUBLE>, " +
      "xyz STRUCT<yy: STRING, zz: STRING>, geo STRUCT<lat: DOUBLE, lon: DOUBLE>, " +
      "note STRING, status STRING, seq INT")

  /** One CSV file with a header row; no empty cells, so CSV null rules
    * never come into play.
    */
  def csvFile(seed: Long, file: Int, rows: Int): Array[Byte] = {
    val r = rng(seed, 2000 + file)
    val sb = new java.lang.StringBuilder(rows * 110)
    sb.append("id,name,city,amount,qty,day,flag,note\n")
    val base = file.toLong * rows
    var i = 0
    while (i < rows) {
      sb.append(base + i).append(",name-").append(r.nextInt(5000))
        .append(",city-").append(r.nextInt(500)).append(',')
      money(r, sb, 5000)
      sb.append(',').append(1 + r.nextInt(100)).append(',').append(r.nextInt(365))
        .append(',').append(r.nextBoolean()).append(',').append(word(r, 30, 40))
        .append('\n')
      i += 1
    }
    sb.toString.getBytes(UTF_8)
  }

  val csvSchema: StructType = StructType.fromDDL(
    "id BIGINT, name STRING, city STRING, amount DOUBLE, qty INT, day INT, flag BOOLEAN, note STRING")

  /** Write the jsonl-scan inputs: `jsonFiles` JSON-lines files under
    * `dir/json` and `csvFiles` CSV files under `dir/csv`. Returns the
    * total bytes written.
    */
  def writeScanInputs(dir: Path, seed: Long, jsonFiles: Int, jsonRows: Int,
      csvFiles: Int, csvRows: Int): Long = {
    Files.createDirectories(dir.resolve("json"))
    Files.createDirectories(dir.resolve("csv"))
    val jobs = (0 until jsonFiles).map(f => () =>
      Files.write(dir.resolve(f"json/part-$f%02d.jsonl"), jsonFile(seed, f, jsonRows)).toFile.length) ++
      (0 until csvFiles).map(f => () =>
        Files.write(dir.resolve(f"csv/part-$f%02d.csv"), csvFile(seed, f, csvRows)).toFile.length)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, Runtime.getRuntime.availableProcessors()))
    try {
      val fs = jobs.map(j => pool.submit(new java.util.concurrent.Callable[Long] { def call(): Long = j() }))
      fs.map(_.get).sum
    } finally pool.shutdown()
  }

  // ---------------------------------------------------------------- ingest

  val ingestSchemaDDL = "id BIGINT, k INT, day INT, amount DOUBLE, qty INT, tag STRING, note STRING"
  val ingestSchema: StructType = StructType.fromDDL(ingestSchemaDDL)

  /** Append batch `b`: ids `[b * rows, (b + 1) * rows)`. */
  def ingestBatch(seed: Long, b: Int, rows: Int): IndexedSeq[Row] = {
    val r = rng(seed, 3000 + b)
    (0 until rows).map { i =>
      Row(b.toLong * rows + i, r.nextInt(10), b, r.nextInt(1000000) / 100.0,
        1 + r.nextInt(100), "tag-" + r.nextInt(50), word(r, 40, 40))
    }
  }

  /** Bytes of a row as JSON lines, the user-data yardstick for
    * stored_bytes_ratio.
    */
  def userBytes(row: Row): Long =
    (s"""{"id":${row.getLong(0)},"k":${row.getInt(1)},"day":${row.getInt(2)},""" +
      s""""amount":${row.getDouble(3)},"qty":${row.getInt(4)},"tag":"${row.getString(5)}",""" +
      s""""note":"${row.getString(6)}"}""" + "\n").length.toLong

  /** Name pairs shaped like sf part names, for the string kernels. */
  def namePairs(seed: Long, n: Int): Array[(String, String)] = {
    val r = rng(seed, 4000)
    def name(): String = adjectives(r.nextInt(adjectives.length)) + " " + nouns(r.nextInt(nouns.length))
    Array.fill(n)((name(), name()))
  }

  /** `Gen <dir> <seed> <jsonRows> <csvRows>`: write the jsonl-scan inputs
    * (two JSON files, one CSV file) for the determinism test.
    */
  def main(args: Array[String]): Unit = {
    val n = writeScanInputs(Paths.get(args(0)), args(1).toLong, 2, args(2).toInt, 1, args(3).toInt)
    println(n)
  }
}
