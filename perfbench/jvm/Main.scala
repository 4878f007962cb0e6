package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.sources.{EqualTo, Filter, IsNotNull}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: Path, work: Path, out: Path, breakReference: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("data")), Paths.get(m("work")), Paths.get(m("out")),
      m.get("break-reference").contains("1"))
  }
}

/** The benchmark's JVM side: one closed-loop client, one op in flight.
  *
  * Generates the workload's inputs, sets up a session three times (timed),
  * computes references (untimed), measures a fixed number of passes (see
  * `Workload.basePasses`) with tracing off and, when asked, again with tracing on plus the
  * single-layer probes, and writes everything to `<out>/result.json` for
  * run.py to check and summarize.
  *
  * `Main --oracle-sql <file>` only writes the sf-queries reference SQL, as
  * a JSON object of op kind to SQL, for run.py to run in DuckDB first.
  */
object Main {
  final case class OpRec(pass: Int, kind: String, write: Boolean, startMs: Long, endMs: Long,
      ns: Long, buildNs: Long, bytes: Long, got: String, want: String, error: String,
      extra: Map[String, Long])

  def session(a: Args): SparkSession = {
    val k = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$k]")
      .appName("perfbench")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap still reachable after a full collection. */
  def liveHeap(): Long = {
    System.gc()
    val rt = Runtime.getRuntime
    rt.totalMemory - rt.freeMemory
  }

  /** Runs `passes` whole passes. Returns the op records, the wall time
    * and the peak live heap, sampled at the end of every pass and after any
    * op that ends 4 s or more after the last sample. The samples'
    * collections and each op's bookkeeping are not counted in the wall
    * time.
    */
  def measure(s: SparkSession, w: Workload, passes: Int): (Seq[OpRec], Double, Long) = {
    val recs = mutable.ArrayBuffer[OpRec]()
    val t0 = System.nanoTime()
    var outsideNs = 0L
    var heapPeak = 0L
    var lastSample = t0
    def outside(body: => Unit): Unit = {
      val g = System.nanoTime()
      body
      outsideNs += System.nanoTime() - g
    }
    def sample(): Unit = outside {
      heapPeak = math.max(heapPeak, liveHeap())
      lastSample = System.nanoTime()
    }
    (0 until passes).foreach { p =>
      w.pass(p).foreach { op =>
        val startMs = System.currentTimeMillis()
        val a = System.nanoTime()
        val (out, err) =
          try (op.run(s), "")
          catch { case e: Throwable => (Out.empty, s"${e.getClass.getName}: ${e.getMessage}".take(300)) }
        val b = System.nanoTime()
        val endMs = System.currentTimeMillis()
        outside(if (err.isEmpty) op.book())
        val got = if (err.nonEmpty || op.write) "" else Digest.of(out.columns, out.rows, out.ordered)
        val want = if (err.nonEmpty || op.write) "" else w.want(op, out)
        val bytes = w.bytes(op)
        recs += OpRec(p, op.kind, op.write, startMs, endMs, b - a,
          if (out.builtNs > 0) out.builtNs - a else 0L, bytes, got, want, err, w.after(op))
        if (System.nanoTime() - lastSample >= 4000000000L) sample()
      }
      sample()
    }
    (recs.toSeq, (System.nanoTime() - t0 - outsideNs) / 1e9, heapPeak)
  }

  // ---------------------------------------------------------------- layer probes

  /** Median of 9 timed calls after 10 untimed ones: the JIT has to settle
    * on these paths even on workloads whose ops never ran them.
    */
  private def medianNs(body: => Unit): Double = {
    (0 until 10).foreach(_ => body)
    val xs = (0 until 9).map { _ => val t = System.nanoTime(); body; (System.nanoTime() - t).toDouble }
    xs.sorted.apply(4)
  }

  private def ok(r: graft.core.ParseResult[_]): Unit = r match {
    case graft.core.ParseResult.Failure(e) => throw e
    case _ => ()
  }

  private val NoOptions = java.util.Collections.emptyMap[String, String]()

  /** Feeds `data` to a parser in 256 KiB chunks, draining the columnar
    * plate's batches between chunks, as graft's DSv2 readers do.
    */
  private def feed(data: Array[Byte], absorb: (Int, Int) => Unit, drain: () => Unit): Unit = {
    var off = 0
    while (off < data.length) {
      val len = math.min(256 * 1024, data.length - off)
      absorb(off, len)
      off += len
      drain()
    }
  }

  private def jsonRate(data: Array[Byte], schema: StructType, filters: Array[Filter],
      columnar: Boolean): Double = data.length / 1e6 / (medianNs {
    val mode = graft.spark.GraftSources.jsonMode(NoOptions)
    if (columnar) {
      val plate = new graft.spark.ColumnarPlate(schema, filters, strictTokens = true, timeZoneId = "UTC")
      val p = new graft.core.json.JsonParser[Long](plate, mode)
      feed(data, (o, n) => ok(p.absorb(data, o, n)), () => while (plate.pendingRows > 0) plate.takeBatch())
      ok(p.finish())
    } else {
      val p = new graft.core.json.JsonParser[Long](rowPlate(schema, filters), mode)
      feed(data, (o, n) => ok(p.absorb(data, o, n)), () => ())
      ok(p.finish())
    }
  } / 1e9)

  private def rowPlate(schema: StructType, filters: Array[Filter]): graft.spark.RowPlate = {
    var ref: graft.spark.RowPlate = null
    ref = new graft.spark.RowPlate(schema, filters, r => ref.recycle(r), strictTokens = true,
      timeZoneId = "UTC")
    ref
  }

  /** The parse an op's planned graft scan does: the schema its plate
    * gets, and whether its reader is the columnar one. A scan with a pushed
    * aggregate reads the aggregate's result (its read schema names no data
    * column); it parses `aggInputs` through the row reader.
    */
  def scanOf(df: DataFrame, data: StructType, aggInputs: Seq[String]): (StructType, Boolean) = {
    val scans = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
    require(scans.size == 1, s"expected one scan, found ${scans.size}")
    val read = scans.head.scan.readSchema()
    if (read.fieldNames.forall(data.fieldNames.contains)) (read, scans.head.supportsColumnar)
    else {
      require(aggInputs.nonEmpty, s"a pushed aggregate ($read) with no declared input columns")
      (StructType(aggInputs.map(data(_))), false)
    }
  }

  /** Single-thread parser rates on the jsonl-scan ops' own scans. Each
    * probe parses the first input file with the schema the op's planned
    * scan gives its plate, the filters the op pushes, and the plate its
    * reader uses (ColumnarPlate for the columnar reader, else RowPlate),
    * feeding the bytes as the readers do.
    */
  def coreProbes(s: SparkSession, w: JsonlScan, a: Args): Map[String, Double] = {
    val json = Files.readAllBytes(a.data.resolve("json/part-00.jsonl"))
    val csv = Files.readAllBytes(a.data.resolve("csv/part-00.csv"))
    val pushed = Map[String, Array[Filter]](
      "filter" -> Array(IsNotNull("country"), EqualTo("country", w.country))).withDefaultValue(Array.empty)
    val out = mutable.LinkedHashMap[String, Double]()
    Seq("narrow" -> "core.json_pruned_mbps", "filter" -> "core.json_filtered_mbps",
      "full" -> "core.json_full_mbps", "nested" -> "core.json_nested_mbps").foreach { case (kind, name) =>
      val (schema, columnar) = scanOf(w.frame(s, kind), Gen.jsonSchema, w.aggInputs(kind))
      out(name) = jsonRate(json, schema, pushed(kind), columnar)
    }
    // the bytes the narrow op's parse skips; only RowPlate counts them
    val (narrow, _) = scanOf(w.frame(s, "narrow"), Gen.jsonSchema, w.aggInputs("narrow"))
    val skipping = rowPlate(narrow, Array.empty)
    val p = new graft.core.json.JsonParser[Long](skipping, graft.spark.GraftSources.jsonMode(NoOptions))
    ok(p.absorb(json)); ok(p.finish())
    out("core.skipped_frac") = skipping.totalSkippedBytes.toDouble / json.length

    val (csvSchema, csvColumnar) = scanOf(w.frame(s, "csv"), Gen.csvSchema, w.aggInputs("csv"))
    val csvConfig = graft.spark.GraftSources.csvConfig(NoOptions)
    out("core.csv_mbps") = csv.length / 1e6 / (medianNs {
      val plate =
        if (csvColumnar) new graft.spark.ColumnarPlate(csvSchema, Array.empty, emptyCellsAsNull = true)
        else new graft.spark.RowPlate(csvSchema, Array.empty, _ => (), emptyCellsAsNull = true)
      val p = new graft.core.csv.CsvParser(plate, csvConfig)
      feed(csv, (o, n) => ok(p.absorb(csv, o, n)), () => plate match {
        case c: graft.spark.ColumnarPlate => while (c.pendingRows > 0) c.takeBatch()
        case _ =>
      })
      ok(p.finish())
    } / 1e9)
    out.toMap
  }

  /** The string kernels on part-name pairs. */
  def functionProbes(a: Args): Map[String, Double] = {
    val pairs = Gen.namePairs(a.seed, 20000).map { case (x, y) => (UTF8String.fromString(x), UTF8String.fromString(y)) }
    var sink = 0.0
    val out = Map(
      "functions.jw_ns_per_eval" -> medianNs {
        pairs.foreach { case (x, y) => sink += graft.functions.JaroWinklerImpl.compute(x, y) }
      } / pairs.length,
      "functions.lev_ns_per_eval" -> medianNs {
        pairs.foreach { case (x, y) => sink += graft.functions.LevenshteinBandedImpl.compute(x, y, 2) }
      } / pairs.length)
    require(!sink.isNaN)
    out
  }

  // ---------------------------------------------------------------- output

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case p: Product if p.productArity > 0 && !p.isInstanceOf[Seq[_]] =>
      (0 until p.productArity).map(i => json(p.productElementName(i)) + ":" + json(p.productElement(i)))
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--oracle-sql")) {
      Files.write(Paths.get(argv(1)), json(SfQueries.oracleSql).getBytes(UTF_8))
      return
    }
    val a = Args.parse(argv)
    Files.createDirectories(a.work)
    Files.createDirectories(a.data)
    val w: Workload = a.workload match {
      case "jsonl-scan" => new JsonlScan(a)
      case "sf-queries" => new SfQueries(a)
      case "ingest-maintain" => new IngestMaintain(a)
    }
    val genStart = System.nanoTime()
    w.generate()
    val genS = (System.nanoTime() - genStart) / 1e9

    // the references are computed in the first session, so the last
    // set-up's warm-up runs right before the measurement
    var spark: SparkSession = null
    var prepS = 0.0
    val setups = (0 until 3).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t = System.nanoTime()
      spark = session(a)
      w.warmup(spark, i)
      val setupS = (System.nanoTime() - t) / 1e9
      if (i == 0) {
        val prepStart = System.nanoTime()
        w.prepare(spark)
        prepS = (System.nanoTime() - prepStart) / 1e9
      }
      setupS
    }
    val fillStart = System.nanoTime()
    w.fill(spark)
    val fillS = (System.nanoTime() - fillStart) / 1e9

    val passes = math.max(1, math.round(w.basePasses * a.seconds / 8).toInt)
    val (ops, wall, heapPeak) = measure(spark, w, passes)

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> Runtime.getRuntime.availableProcessors(),
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory(),
      "generate_s" -> genS, "prepare_s" -> prepS, "setup_s" -> setups, "fill_s" -> fillS,
      "ops" -> ops, "wall_s" -> wall, "heap_live_peak_bytes" -> heapPeak)

    if (a.trace) {
      // traced, then untraced again: the overhead compares two windows
      // that both follow a full measurement, so neither is the colder one
      w.restart(spark)
      val tr = new Trace(spark)
      tr.start()
      val (tops, _, _) = measure(spark, w, passes)
      tr.stop()
      w.restart(spark)
      val (uops, _, _) = measure(spark, w, passes)
      result("traced_ops") = tops
      result("untraced_after_ops") = uops
      result("trace") = Map("jobs" -> tr.jobs.asScala.toSeq, "stages" -> tr.stages.asScala.toSeq,
        "tasks" -> tr.tasks.asScala.toSeq, "queries" -> tr.queries.asScala.toSeq,
        "batches" -> tr.batches.asScala.toSeq)
      result("probes") = functionProbes(a) ++ (w match {
        case j: JsonlScan => coreProbes(spark, j, a)
        case _ => Map.empty
      })
    }
    result("final_checks") = w.finalChecks(spark).map { case (k, g, x) => Map("kind" -> k, "got" -> g, "want" -> x) }
    result("facts") = w.facts
    spark.stop()
    Files.write(a.out, json(result).getBytes(UTF_8))
  }
}
