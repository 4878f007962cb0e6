package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One timed operation. `run` returns the collected result; the digest is
  * taken afterwards, outside the timed region, and so is `book`: the
  * benchmark's own bookkeeping for the op (its reference model), which is
  * not program time.
  */
final case class Op(kind: String, write: Boolean, run: SparkSession => Out, addressed: Long = -1L,
    book: () => Unit = () => ())

/** An op's collected result, plus the nanoTime at which the DataFrame was
  * built (0 when the op has no separate build step).
  */
final case class Out(columns: Seq[String], rows: Seq[Row], ordered: Boolean, builtNs: Long)

object Out {
  def of(df: DataFrame, builtNs: Long, ordered: Boolean): Out =
    Out(df.columns.toSeq, df.collect().toSeq, ordered, builtNs)
  val empty: Out = Out(Nil, Nil, ordered = false, 0L)
}

trait Workload {
  /** Passes a measurement runs at `--seconds 8` (run_seconds in
    * BENCHMARK.json); other values scale it. The count does not depend on
    * how fast the program is, so a faster program runs the same ops in less
    * time, and op_tail_ms keeps its rank.
    */
  def basePasses: Int
  /** Write the inputs the ops read; untimed. */
  def generate(): Unit
  /** Warm the session up; part of every timed set-up. */
  def warmup(s: SparkSession, round: Int): Unit
  /** Fill caches once after the set-ups; timed, and added to setup_s. */
  def fill(s: SparkSession): Unit = ()
  /** Compute references and any untimed initial state. */
  def prepare(s: SparkSession): Unit
  /** The ops of pass `p`, in that pass's seeded order. */
  def pass(p: Int): Seq[Op]
  /** Reference digest for an op's result. */
  def want(op: Op, out: Out): String
  /** Bytes the op addresses (its input). */
  def bytes(op: Op): Long
  /** Called after each op and its `book`, untimed; returns per-op facts. */
  def after(op: Op): Map[String, Long] = Map.empty
  /** Return to the state right after `prepare`, so a second measurement
    * runs the same op sequence as the first.
    */
  def restart(s: SparkSession): Unit = ()
  /** Untimed checks after the measurement: (kind, got, want). */
  def finalChecks(s: SparkSession): Seq[(String, String, String)] = Nil
  /** Workload facts for the result file. */
  def facts: Map[String, Any] = Map.empty
}

object Workload {
  def shuffled[A: scala.reflect.ClassTag](xs: Seq[A], seed: Long, p: Int): Seq[A] = {
    val r = Gen.rng(seed, 5000 + p)
    val a = xs.toArray
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toSeq
  }

  /** Sizes of the files under `dir`; without `hidden`, only data files
    * (no `.`- or `_`-prefixed path segment: no log, sidecar or vector).
    */
  def files(dir: Path, hidden: Boolean): Map[String, Long] = {
    if (!Files.exists(dir)) return Map.empty
    val st = Files.walk(dir)
    try st.iterator.asScala.filter(Files.isRegularFile(_)).filter { p =>
      hidden || !dir.relativize(p).iterator.asScala.exists { seg =>
        val n = seg.toString; n.startsWith(".") || n.startsWith("_")
      }
    }.map(p => p.toString -> Files.size(p)).toMap
    finally st.close()
  }

  def dirBytes(dir: Path, hidden: Boolean): (Long, Int) = {
    val fs = files(dir, hidden)
    (fs.values.sum, fs.size)
  }
}

// ------------------------------------------------------------------ jsonl-scan

/** Read-only pushdown mix over raw JSON-lines and CSV files. The files
  * are written by the benchmark, never by graft's sink, so they carry no
  * stats sidecars and every op really parses.
  */
final class JsonlScan(a: Args) extends Workload {
  import JsonlScan._
  val basePasses = 4
  private val jsonDir = a.data.resolve("json").toString
  private val csvDir = a.data.resolve("csv").toString
  private val kinds = Seq("narrow", "filter", "full", "nested", "groupby", "csv")
  val country: String = Gen.countries(Gen.rng(a.seed, 6000).nextInt(Gen.countries.length))
  private val wants = mutable.Map[String, String]()
  private var jsonBytes = 0L
  private var csvBytes = 0L

  def generate(): Unit = {
    Gen.writeScanInputs(a.data, a.seed, JsonFiles, JsonRows, CsvFiles, CsvRows)
    jsonBytes = Workload.dirBytes(a.data.resolve("json"), hidden = true)._1
    csvBytes = Workload.dirBytes(a.data.resolve("csv"), hidden = true)._1
  }

  def query(kind: String, json: DataFrame, csv: DataFrame): DataFrame = kind match {
    case "narrow" =>
      json.agg(count(lit(1)).as("n"), round(sum(col("price")), 2).as("price"))
    case "filter" =>
      json.filter(col("country") === country)
        .agg(count(lit(1)).as("n"), round(sum(col("price")), 2).as("price"), max(col("id")).as("max_id"))
    case "full" =>
      json.agg(count(lit(1)).as("n"),
        bit_xor(xxhash64(json.columns.toSeq.map(col): _*)).as("h"))
    case "nested" =>
      json.agg(max(col("duh.a")).as("a"), min(col("duh.b")).as("b"),
        sum(length(col("xyz.zz"))).as("zz"))
    case "groupby" =>
      json.groupBy(col("device"), col("status"))
        .agg(count(lit(1)).as("n"), round(sum(col("price") * col("qty")), 2).as("revenue"))
        .orderBy(col("device"), col("status"))
    case "csv" =>
      csv.agg(count(lit(1)).as("n"), round(sum(col("amount")), 2).as("amount"),
        sum(length(col("note"))).as("note_len"), max(col("qty")).as("max_qty"))
  }

  /** The data columns an op's aggregate reads, for the ops whose aggregate
    * graft's scan takes over (the probes parse them as that scan does).
    */
  val aggInputs: Map[String, Seq[String]] = Map("narrow" -> Seq("price")).withDefaultValue(Nil)

  /** The op's query over graft's readers. */
  def frame(s: SparkSession, kind: String): DataFrame = query(kind,
    s.read.format("graft-json").schema(Gen.jsonSchema).load(jsonDir),
    s.read.format("graft-csv").schema(Gen.csvSchema).load(csvDir))

  private val ops = kinds.map(k => k -> Op(k, write = false, s =>
    Out.of(frame(s, k), System.nanoTime(), ordered = k == "groupby"))).toMap

  /** One full pass: the first pass over all files runs ~1.6x slower than
    * later ones, so anything less leaves set-up work in the measurement.
    */
  def warmup(s: SparkSession, round: Int): Unit = kinds.foreach(k => ops(k).run(s))

  /** References: the same aggregates through Spark's built-in json and
    * csv readers, untimed. To parse the JSON once for four ops, the
    * filter op's aggregates are computed as conditional aggregates.
    */
  def prepare(s: SparkSession): Unit = {
    val parsed = s.read.schema(Gen.jsonSchema).json(jsonDir)
    val json = if (a.breakReference) parsed.filter(col("id") =!= 7L) else parsed
    val csv = s.read.schema(Gen.csvSchema).option("header", "true").csv(csvDir)
    val hit = col("country") === country
    val cols = Map(
      "narrow" -> Seq("n", "price"), "filter" -> Seq("n", "price", "max_id"),
      "full" -> Seq("n", "h"), "nested" -> Seq("a", "b", "zz"))
    val r = json.agg(count(lit(1)).as("n"), round(sum(col("price")), 2).as("price"),
      bit_xor(xxhash64(json.columns.toSeq.map(col): _*)).as("h"),
      max(col("duh.a")).as("a"), min(col("duh.b")).as("b"), sum(length(col("xyz.zz"))).as("zz"),
      count_if(hit).as("f_n"), round(sum(when(hit, col("price"))), 2).as("f_price"),
      max(when(hit, col("id"))).as("f_max_id")).head()
    def pick(names: Seq[String]): Row = Row.fromSeq(names.map(r.getAs[Any]))
    Seq("narrow", "full", "nested").foreach { k =>
      wants(k) = Digest.of(cols(k), Seq(pick(cols(k))), ordered = false)
    }
    wants("filter") = Digest.of(cols("filter"),
      Seq(Row(r.getAs[Long]("f_n"), r.getAs[Any]("f_price"), r.getAs[Any]("f_max_id"))), ordered = false)
    Seq("groupby", "csv").foreach { k =>
      val df = query(k, json, csv)
      wants(k) = Digest.of(df.columns.toSeq, df.collect().toSeq, ordered = k == "groupby")
    }
  }

  def pass(p: Int): Seq[Op] = Workload.shuffled(kinds, a.seed, p).map(ops)
  def want(op: Op, out: Out): String = wants(op.kind)
  def bytes(op: Op): Long = if (op.kind == "csv") csvBytes else jsonBytes
  override def facts: Map[String, Any] = Map(
    "json_bytes" -> jsonBytes, "csv_bytes" -> csvBytes, "filter_country" -> country)
}

object JsonlScan {
  val JsonFiles = 8
  val JsonRows = 7000
  val CsvFiles = 4
  val CsvRows = 20000
}

// ------------------------------------------------------------------ sf-queries

/** Registry queries over seeded TPC-H-shaped parquet tables (written by
  * sfgen.py), plus one drain of the graft-json streaming source. The
  * references are DuckDB's results for the same SQL (`SfQueries.oracleSql`),
  * which run.py writes as parquet under `<data>/oracle` before the JVM
  * starts; they are digested here like the ops' results.
  */
final class SfQueries(a: Args) extends Workload {
  import SfQueries._
  private val dir = a.data.toString
  private val feed = a.data.resolve("stream").toString
  private val streamSchema = "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
  private var streams = 0
  private val inputBytes = mutable.Map[String, Long]()
  private val wants = mutable.Map[String, String]()

  val basePasses = 2

  def generate(): Unit =
    inputBytes("stream_events") = Workload.dirBytes(a.data.resolve("stream"), hidden = true)._1

  private def registryOp(name: String): Op = Op(name, write = false, s => {
    val df = registry(name).build(s, dir)
    Out.of(df, System.nanoTime(), ordered = true)
  })

  private val streamOp = Op("stream_events", write = false, s => {
    streams += 1
    val name = s"stream_events_$streams"
    val agg = s.readStream.format("graft-json").schema(streamSchema)
      .option("maxbytespertrigger", (inputBytes("stream_events") / 2 + 1).toString)
      .load(feed)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
    val built = System.nanoTime()
    val q = agg.writeStream.format("memory").queryName(name).outputMode("complete")
      .option("checkpointLocation", a.work.resolve(s"checkpoints/$name").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = Out.of(s.table(name).orderBy(col("event_type")), built, ordered = true)
    s.catalog.dropTempView(name)
    out
  })

  private val ops: Map[String, Op] =
    queryNames.map(n => n -> registryOp(n)).toMap + ("stream_events" -> streamOp)

  /** Two cheap queries: a scan-aggregate and a broadcast join load the
    * planner and codegen paths every op shares.
    */
  def warmup(s: SparkSession, round: Int): Unit =
    Seq("q01_pricing_summary", "q03_broadcast_join_brand_volume").foreach(k => ops(k).run(s))

  /** One whole pass, so every measured op repeats an op the JVM has
    * already planned, compiled and run, however many passes a run holds.
    * It also notes the parquet bytes each query reads.
    */
  override def fill(s: SparkSession): Unit = {
    queryNames.foreach { n =>
      val df = registry(n).build(s, dir)
      df.collect()
      inputBytes(n) = df.inputFiles.map(f => Files.size(java.nio.file.Paths.get(new java.net.URI(f)))).sum
    }
    ops("stream_events").run(s)
  }

  def prepare(s: SparkSession): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      oracleSql.keys.toSeq.map { n =>
        n -> pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            val df = s.read.parquet(a.data.resolve(s"oracle/$n.parquet").toString)
            Digest.of(df.columns.toSeq, df.collect().toSeq, ordered = true)
          }
        })
      }.foreach { case (n, f) => wants(n) = f.get }
    } finally pool.shutdown()
  }

  def pass(p: Int): Seq[Op] = Workload.shuffled(queryNames :+ "stream_events", a.seed, p).map(ops)
  def want(op: Op, out: Out): String = wants(op.kind)
  def bytes(op: Op): Long = inputBytes(op.kind)
  override def facts: Map[String, Any] = Map("input_bytes" -> inputBytes.toMap)
}

object SfQueries {
  val queryNames: Seq[String] = Seq(
    "q01_pricing_summary", "q02_revenue_by_segment", "q03_broadcast_join_brand_volume",
    "q08_asof_join_last_click_before_purchase", "q12_window_topk_per_customer",
    "q24_explode_top_tokens", "q09_agg_distinct_stats", "q10_rollup_region_nation",
    "q13_window_running_total", "q15_topk_orders", "q17_string_functions",
    "q186_native_asof_join", "q185_optimizer_bounded_lev")
  private val registry = graft.SparkEntry.registry.map(q => q.name -> q).toMap

  /** The reference SQL per op, for DuckDB over the same tables: each
    * query's registry oracle, and for the stream drain the same aggregate
    * over the events it reads.
    */
  def oracleSql: Map[String, String] =
    queryNames.map(n => n -> registry(n).oracle.get).toMap + ("stream_events" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
        |FROM events WHERE event_id < 10000
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
}

// ------------------------------------------------------------------ ingest-maintain

/** Writes beside reads on one graft table written by graft's own sink
  * (stats sidecars on): appends, merge-on-read deletes, copy-on-write
  * updates, selective and full reads. Every read and the final table are
  * checked against an in-memory model of the same op sequence.
  */
final class IngestMaintain(a: Args) extends Workload {
  import IngestMaintain._
  val basePasses = 4
  private var tables = 0
  private var table = a.work.resolve("table-0")
  private val model = mutable.LongMap[Row]()
  private var batches = 0
  private var userBytes = 0L
  private var liveDataBytes = 0L
  private var r = Gen.rng(a.seed, 7000)
  // the cheap kinds are two thirds of a pass, so the median op falls inside
  // their cluster rather than on the edge between cheap and costly ops
  private val kinds = Seq("append", "append", "append", "read_filter", "read_filter",
    "read_filter", "read_agg", "delete_dv", "update_cow")

  def generate(): Unit = ()

  private def read(s: SparkSession, dir: Path): DataFrame =
    s.read.format("graft-json").schema(Gen.ingestSchema).load(dir.toString)

  /** Returns the nanoTime at which the batch DataFrame was built. */
  private def append(s: SparkSession, dir: Path, rows: Seq[Row]): Long = {
    val df = s.createDataFrame(rows.asJava, Gen.ingestSchema)
    val built = System.nanoTime()
    df.write.format("graft-json").mode("append").save(dir.toString)
    built
  }

  private def cents(d: Double): Long = Math.round(d * 100)

  private val aggCols = Seq("n", "amount", "qty", "tag_len", "min_id", "max_id")
  private def agg(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"), round(sum(col("amount")), 2).as("amount"),
      sum(col("qty")).as("qty"), sum(length(col("tag"))).as("tag_len"),
      min(col("id")).as("min_id"), max(col("id")).as("max_id"))
  private def modelAgg(rows: Iterable[Row]): Row =
    if (rows.isEmpty) Row(0L, null, null, null, null, null)
    else Row(rows.size.toLong, rows.map(x => cents(x.getDouble(3))).sum / 100.0,
      rows.map(_.getInt(4).toLong).sum, rows.map(_.getString(5).length.toLong).sum,
      rows.map(_.getLong(0)).min, rows.map(_.getLong(0)).max)

  // each op draws its parameters when the pass is built, so the op
  // sequence is a function of the seed alone
  private def appendOp(): Op = {
    val b = batches; batches += 1
    val rows = Gen.ingestBatch(a.seed, b, BatchRows)
    val bytes = rows.map(Gen.userBytes).sum
    Op("append", write = true, s => Out(Nil, Nil, ordered = false, append(s, table, rows)),
      addressed = bytes, book = () => {
        rows.foreach(x => model(x.getLong(0)) = x)
        userBytes += bytes
      })
  }

  private def readFilterOp(): Op = {
    val span = BatchRows.toLong / 10
    val lo = r.nextLong(0L, math.max(1L, batches.toLong * BatchRows - span))
    Op("read_filter", write = false, s =>
      Out.of(agg(read(s, table).filter(col("id").between(lo, lo + span - 1))), System.nanoTime(),
        ordered = false)).copy(kind = s"read_filter:$lo:$span")
  }

  /** Merge-on-read delete of a tenth of the rows in one batch-sized id
    * window, so stats pruning leaves a few candidate files.
    */
  private def deleteOp(): Op = {
    val span = BatchRows.toLong
    val lo = r.nextLong(0L, math.max(1L, batches.toLong * BatchRows - span))
    val m = r.nextInt(10)
    val pred = s"id BETWEEN $lo AND ${lo + span - 1} AND id % 10 = $m"
    Op(s"delete_dv:$pred", write = true, s => {
      graft.api.TrainingData.deleteWhereDV(s, table.toString, Gen.ingestSchemaDDL, pred)
      Out.empty
    }, book = () => model.filterInPlace { case (id, _) => !(id >= lo && id <= lo + span - 1 && id % 10 == m) })
  }

  private def updateOp(): Op = {
    val span = BatchRows.toLong / 4
    val lo = r.nextLong(0L, math.max(1L, batches.toLong * BatchRows - span))
    val pred = s"id BETWEEN $lo AND ${lo + span - 1} AND k < 5"
    Op(s"update_cow:$pred", write = true, s => {
      graft.api.TrainingData.updateWhere(s, table.toString, Gen.ingestSchemaDDL, pred,
        Map("qty" -> "qty + 1", "tag" -> "'upd'"))
      Out.empty
    }, book = () => model.mapValuesInPlace { (id, x) =>
      if (id >= lo && id <= lo + span - 1 && x.getInt(1) < 5)
        Row(x.getLong(0), x.getInt(1), x.getInt(2), x.getDouble(3), x.getInt(4) + 1, "upd", x.getString(6))
      else x
    })
  }

  private val readAggOp = Op("read_agg", write = false, s =>
    Out.of(agg(read(s, table)), System.nanoTime(), ordered = false))

  def warmup(s: SparkSession, round: Int): Unit = {
    val dir = a.work.resolve(s"warmup-$round")
    append(s, dir, Gen.ingestBatch(a.seed + 1, 0, 2000))
    agg(read(s, dir).filter(col("id") < 100)).collect()
    graft.api.TrainingData.deleteWhereDV(s, dir.toString, Gen.ingestSchemaDDL, "id % 10 = 3")
    graft.api.TrainingData.updateWhere(s, dir.toString, Gen.ingestSchemaDDL, "id < 500",
      Map("qty" -> "qty + 1"))
    agg(read(s, dir)).collect()
  }

  /** Initial load: a few batches, so the first reads see several files. */
  def prepare(s: SparkSession): Unit = (0 until InitialBatches).foreach { _ =>
    val op = appendOp()
    op.run(s)
    op.book()
    after(op)
  }

  /** A fresh table with the same initial load, and the same op sequence
    * to come.
    */
  override def restart(s: SparkSession): Unit = {
    tables += 1
    table = a.work.resolve(s"table-$tables")
    model.clear()
    batches = 0
    userBytes = 0L
    dataFiles = Map.empty
    r = Gen.rng(a.seed, 7000)
    prepare(s)
  }

  def pass(p: Int): Seq[Op] = Workload.shuffled(kinds, a.seed, p).map {
    case "append" => appendOp()
    case "read_filter" => readFilterOp()
    case "read_agg" => readAggOp
    case "delete_dv" => deleteOp()
    case "update_cow" => updateOp()
  }

  def want(op: Op, out: Out): String = {
    val rows = op.kind.split(":") match {
      case Array("read_filter", lo, span) =>
        val l = lo.toLong; val h = l + span.toLong - 1
        Seq(modelAgg(model.values.filter(x => x.getLong(0) >= l && x.getLong(0) <= h)))
      case Array("read_agg") => Seq(modelAgg(model.values))
    }
    val broken = if (a.breakReference) rows.map(x => Row.fromSeq(x.toSeq.updated(0, -1L))) else rows
    Digest.of(aggCols, broken, ordered = false)
  }

  def bytes(op: Op): Long = if (op.addressed >= 0) op.addressed else liveDataBytes

  private var dataFiles = Map.empty[String, Long]

  /** Data files written and removed by a write op. */
  override def after(op: Op): Map[String, Long] = {
    if (!op.write) return Map.empty
    val before = dataFiles
    val now = Workload.files(table, hidden = false)
    val added = (now.keySet -- before.keySet).toSeq
    val removed = (before.keySet -- now.keySet).toSeq
    dataFiles = now
    liveDataBytes = now.values.sum
    Map("files_written" -> added.size.toLong, "bytes_written" -> added.map(now).sum,
      "bytes_removed" -> removed.map(before).sum)
  }

  override def finalChecks(s: SparkSession): Seq[(String, String, String)] = {
    val df = read(s, table)
    val got = Digest.of(df.columns.toSeq, df.collect().toSeq, ordered = false)
    val want = Digest.of(df.columns.toSeq, model.values.toSeq, ordered = false)
    Seq(("final_table", got, want))
  }

  override def facts: Map[String, Any] = {
    val (stored, files) = Workload.dirBytes(table, hidden = true)
    val (data, dataFiles) = Workload.dirBytes(table, hidden = false)
    val logDir = table.resolve(".graft-log")
    val logEntries =
      if (!Files.exists(logDir)) 0
      else Files.list(logDir).iterator.asScala.count(_.getFileName.toString.matches("\\d+"))
    Map("user_bytes" -> userBytes, "stored_bytes" -> stored, "stored_files" -> files,
      "data_bytes" -> data, "data_files" -> dataFiles, "log_entries" -> logEntries,
      "live_rows" -> model.size, "batches" -> batches)
  }
}

object IngestMaintain {
  val BatchRows = 10000
  val InitialBatches = 4
}
