package graft

/** Ad-hoc parse-throughput profiler (not part of the driver contract):
  * measures the RowPlate full-materialization path on flat JSONL — the
  * shape where spark.read.json's Jackson reader is the competition.
  *
  * Usage: sbt "runMain graft.ProfParse [rows] [reps]"
  */
object ProfParse {
  import graft.core._
  import graft.core.json.JsonParser
  import graft.spark.RowPlate
  import org.apache.spark.sql.types._

  private def mkFlat(rows: Int): Array[Byte] = {
    val sb = new java.lang.StringBuilder(rows * 200)
    var i = 0
    while (i < rows) {
      sb.append("{\"id\": ").append(i)
        .append(", \"user\": \"user-").append(i % 9973)
        .append("\", \"score\": ").append((i % 1000) / 10.0)
        .append(", \"flag\": ").append(i % 3 == 0)
        .append(", \"ts\": ").append(1700000000L + i)
        .append(", \"city\": \"city-").append(i % 211)
        .append("\", \"amount\": ").append(i % 100000).append(".").append(i % 97)
        .append(", \"tag\": \"t").append(i % 17).append("\"}\n")
      i += 1
    }
    sb.toString.getBytes("UTF-8")
  }

  private val flatSchema = StructType.fromDDL(
    "id LONG, user STRING, score DOUBLE, flag BOOLEAN, ts LONG, city STRING, amount DOUBLE, tag STRING")

  def main(args: Array[String]): Unit = {
    if (args.contains("skip")) {
      val r = SkipBench.run()
      println(f"skip off ${r.offMbps}%.1f MB/s, on ${r.onMbps}%.1f MB/s, speedup ${r.speedup}%.2f")
      return
    }
    if (args.contains("skip7")) {
      // the BENCH's own statistic: median paired ratio over 7 isolated
      // classloader rounds (JIT-luck cancels within a round)
      val (r, csv) = SkipBench.runIsolatedRounds(7)
      println(f"skip7 off ${r.offMbps}%.1f MB/s, on ${r.onMbps}%.1f MB/s, " +
        f"median speedup ${r.speedup}%.2f (csv $csv%.1f)")
      return
    }
    if (args.contains("bound")) {
      // skip-machinery ceiling: SkipAllCountPlate byte-skips every value of
      // the skip corpus (no schema, no emit) — the max the scanner can do
      val d = SkipBench.profCorpus()
      val mb = d.length / 1e6
      val iters = args.find(_.startsWith("n=")).map(_.drop(2).toInt).getOrElse(40)
      var i = 0
      var best = Double.MaxValue
      while (i < iters) {
        val plate = new SkipAllCountPlate
        val p = new JsonParser(plate, JsonParser.ValueStream)
        val t0 = System.nanoTime()
        p.absorb(d) match { case ParseResult.Failure(e) => throw e; case _ => () }
        p.finish() match { case ParseResult.Failure(e) => throw e; case _ => () }
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        i += 1
      }
      println(f"skip-all bound: best ${mb / best}%.1f MB/s")
      return
    }
    if (args.contains("swar")) {
      // isolate the skip scanner's aggregate rate by segment shape: long
      // strings, long containers, and ugh-shaped mixed rows
      def corpus(kind: String, rows: Int): Array[Byte] = {
        val sb = new java.lang.StringBuilder(rows * 420)
        val letters = "abcdefghijklmnopqrstuvwxyzABCDEF"
        var i = 0
        while (i < rows) {
          kind match {
            case "longstr" =>
              sb.append("{\"pad\": \"")
              var k = 0
              while (k < 380) { sb.append(letters.charAt((i + k) % 32)); k += 1 }
              sb.append("\"}\n")
            case "container" =>
              sb.append("{\"pad\": {")
              var k = 0
              while (k < 24) {
                if (k > 0) sb.append(", ")
                sb.append("\"k").append(k).append("\": [1.5, \"ab\", {\"z\": 9}]")
                k += 1
              }
              sb.append("}}\n")
            case "manyscalars" =>
              sb.append("{")
              var k = 0
              while (k < 24) {
                if (k > 0) sb.append(", ")
                sb.append("\"key").append(k).append("\": ").append(i + k)
                k += 1
              }
              sb.append("}\n")
          }
          i += 1
        }
        sb.toString.getBytes("UTF-8")
      }
      for (kind <- Seq("longstr", "container", "manyscalars")) {
        val d = corpus(kind, 25000)
        val mb = d.length / 1e6
        var best = Double.MaxValue
        var it = 0
        while (it < 40) {
          val plate = new SkipAllCountPlate
          val p = new JsonParser(plate, JsonParser.ValueStream)
          val t0 = System.nanoTime()
          p.absorb(d) match { case ParseResult.Failure(e) => throw e; case _ => () }
          p.finish() match { case ParseResult.Failure(e) => throw e; case _ => () }
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
          it += 1
        }
        println(f"$kind%-12s ${mb / best}%8.1f MB/s  (row ~${d.length / 25000} B)")
      }
      return
    }
    if (args.contains("e2eskip")) { e2eSkip(); return }
    if (args.contains("csv")) {
      // isolated loop for profiling the CSV row-count path (the Bench
      // csv_count_mbps scenario, minus classloader isolation)
      val iters = args.find(_.startsWith("n=")).map(_.drop(2).toInt).getOrElse(40)
      var i = 0
      var best = 0.0
      while (i < iters) {
        best = math.max(best, SkipBench.csvRowCountMbps())
        i += 1
      }
      println(f"csv count: best $best%.1f MB/s")
      return
    }
    if (args.contains("skipon") || args.contains("skipoff")) {
      // isolated loop for profiling one side of the skip micro-bench
      val on = args.contains("skipon")
      val d = SkipBench.profCorpus()
      val mb = d.length / 1e6
      val iters = args.find(_.startsWith("n=")).map(_.drop(2).toInt).getOrElse(40)
      var i = 0
      var best = Double.MaxValue
      while (i < iters) {
        val t0 = System.nanoTime()
        SkipBench.profParse(d, on)
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        i += 1
      }
      println(f"${if (on) "pruned" else "full"}: best ${mb / best}%.1f MB/s")
      return
    }
    val rows = if (args.length > 0) args(0).toInt else 200000
    val reps = if (args.length > 1) args(1).toInt else 10
    val data = mkFlat(rows)
    val mb = data.length / 1e6
    println(f"corpus: $mb%.1f MB, $rows rows")

    if (args.contains("columnar")) {
      // the DEFAULT DSv2 path for flat schemas: ColumnarPlate batches
      def onceCol(): Long = {
        var n = 0L
        val plate = new graft.spark.ColumnarPlate(flatSchema, Array.empty)
        val p = new JsonParser[Long](plate, JsonParser.ValueStream)
        var off = 0
        val chunk = 256 * 1024
        while (off < data.length) {
          val len = math.min(chunk, data.length - off)
          p.absorb(data, off, len) match { case ParseResult.Failure(e) => throw e; case _ => () }
          off += len
          while (plate.pendingRows > 0) n += plate.takeBatch().numRows()
        }
        p.finish() match { case ParseResult.Failure(e) => throw e; case _ => () }
        while (plate.pendingRows > 0) n += plate.takeBatch().numRows()
        require(n == rows, s"rows $n")
        n
      }
      var w = 0
      while (w < 5) { onceCol(); w += 1 }
      var best = Double.MaxValue
      var r = 0
      while (r < reps) {
        val t0 = System.nanoTime()
        onceCol()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        r += 1
      }
      println(f"ColumnarPlate flat: best ${mb / best}%.1f MB/s")
      return
    }

    def once(): Long = {
      var n = 0L
      var plateRef: RowPlate = null
      val plate = new RowPlate(flatSchema, Array.empty,
        r => { n += 1; plateRef.recycle(r) })
      plateRef = plate
      val p = new JsonParser(plate, JsonParser.ValueStream)
      p.absorb(data) match { case ParseResult.Failure(e) => throw e; case _ => () }
      p.finish() match { case ParseResult.Failure(e) => throw e; case _ => () }
      require(n == rows, s"rows $n")
      n
    }
    var w = 0
    while (w < 5) { once(); w += 1 }
    var best = Double.MaxValue
    var r = 0
    while (r < reps) {
      val t0 = System.nanoTime()
      once()
      val dt = (System.nanoTime() - t0) / 1e9
      best = math.min(best, dt)
      r += 1
    }
    println(f"RowPlate flat: best ${mb / best}%.1f MB/s")

    if (args.contains("e2e")) e2e(data, mb)
  }

  /** Single-task end-to-end PRUNED projection: one double column out of
    * ugh10k-shaped wide rows — the cruise + saturation + SkipColumn path
    * as Spark actually drives it, vs spark.read.json with the same
    * user-supplied 1-column schema (Jackson still tokenizes every byte).
    */
  private def e2eSkip(): Unit = {
    import org.apache.spark.sql.functions._
    // ~120 MB: large enough that per-query planning/listing overhead
    // (~100 ms fixed) stops dominating the rate
    val data = SkipBench.profCorpus(300000)
    val mb = data.length / 1e6
    val spark = GraftSession.local("prof-parse", 1)
    val path = "/tmp/prof_parse/ugh.json"
    new java.io.File("/tmp/prof_parse").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(path), data)
    val pruned = StructType.fromDDL("bar DOUBLE")

    def bench(label: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      def once(): Unit = mk.agg(sum(col("bar"))).collect()
      once(); once()
      var best = Double.MaxValue
      var i = 0
      while (i < 7) {
        val t0 = System.nanoTime()
        once()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        i += 1
      }
      println(f"$label: ${mb / best}%.1f MB/s")
    }
    bench("graft-json pruned e2e")(
      spark.read.format("graft-json").schema(pruned).load(path))
    bench("spark.read.json pruned e2e")(spark.read.schema(pruned).json(path))
    spark.stop()
  }

  /** Single-task end-to-end: graft-json DSv2 scan vs spark.read.json
    * (Jackson) over the same file, count(*) forced through a real scan by
    * aggregating a data column.
    */
  private def e2e(data: Array[Byte], mb: Double): Unit = {
    import org.apache.spark.sql.functions._
    val spark = GraftSession.local("prof-parse", 1)
    val path = "/tmp/prof_parse/flat.json"
    val dir = new java.io.File("/tmp/prof_parse")
    dir.mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(path), data)

    def bench(label: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      def once(): Unit = mk.agg(sum(length(col("user"))), sum(col("id"))).collect()
      once(); once() // warmup
      var best = Double.MaxValue
      var i = 0
      while (i < 5) {
        val t0 = System.nanoTime()
        once()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        i += 1
      }
      println(f"$label: ${mb / best}%.1f MB/s")
    }
    bench("graft-json e2e")(spark.read.format("graft-json").schema(flatSchema).load(path))
    bench("spark.read.json e2e")(spark.read.schema(flatSchema).json(path))
    spark.stop()
  }
}
