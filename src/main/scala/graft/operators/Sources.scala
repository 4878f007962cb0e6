package graft.operators

import graft.{GQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8

/** Driver-contract queries for the graft DSv2 sources (SURVEY §2.11 rows
  * "Scans: JSON (graft reader)" / "Scans: CSV (graft reader)").
  *
  * Each query materializes a deterministic fixture derived from the
  * SF-independent dimension tables (nation: 25 rows, region: 5 rows) so
  * the same file is read by our reader AND by the DuckDB oracle
  * (`read_json` / `read_csv`) — end-to-end scan parity, not just unit
  * parity. Numeric derived values (name lengths) are baked into the
  * fixture so both engines read them rather than recompute them.
  */
object Sources {

  private val fixtureDir = "/tmp/graft_fixtures"
  private val jsonFixture = s"$fixtureDir/q27_nation.jsonl"
  private val csvFixture = s"$fixtureDir/q28_region.csv"
  private val jsonGzFixture = s"$fixtureDir/q77_nation.jsonl.gz"
  private val csvGzFixture = s"$fixtureDir/q77_region.csv.gz"

  private def gzWrite(path: String, bytes: Array[Byte]): Unit = {
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(Paths.get(path)))
    try out.write(bytes) finally out.close()
  }

  /** Round 16 (optimization): a per-trigger byte cap sized to the feed so
    * AvailableNow drains in ~4 micro-batches at ANY scale factor. The
    * gates exercise byte-capped admission control, not a fixed batch
    * count — a constant cap made batch counts scale with SF (q162: 11
    * micro-batch rounds at sf0.1, each ~1.3 s of pure per-batch planner/
    * sink machinery; the same gate at a 100 TB feed would spin forever).
    * The old constant stays as the FLOOR, so the small correctness SFs
    * drain in exactly the batch counts they always did, and final results
    * are batch-count-independent (complete-mode aggregates / per-key
    * upserts / append unions). */
  /** Total DATA bytes under a feed path: commit-log internals
    * (.graft-log) and dotfiles are not admitted by the sources, so they
    * don't count (round-17, ADVICE). One definition of "feed bytes",
    * shared by the trigger cap below and the stream state-partition
    * sizing (Extensions.withStreamShuffle).
    */
  private[operators] def dataBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) { if (f.getName.startsWith(".")) 0L else f.length }
      else if (f.getName == ".graft-log") 0L
      else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(path))
  }

  private def triggerBytes(dir: String, floor: Long): String = {
    // the snapshot is taken once at build time — a followLog feed appended
    // after start keeps the start-time cap, which only shifts batch
    // counts, never results
    math.max(floor, dataBytes(dir) / 4 + 1).toString
  }

  /** Nested-schema gates (q229–q240): the graft scan must read ROWS.
    * ColumnarPlate serves flat schemas only; every struct, array and map
    * shape reads through RowPlate, whose pathology semantics (poison,
    * duplicate bindings, conversion failures, raw capture) are pinned by
    * RowPlateSpec, ColumnarPlateSpec's nested split-point cases (which
    * run on RowPlate), RawCaptureSpec and the JSON source fuzzers.
    */
  private def requireRowScan(df: DataFrame, gate: String): Unit = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    require(scans.nonEmpty && scans.forall(!_.supportsColumnar),
      s"$gate: nested schema must read through the row scan:\n" +
        df.queryExecution.executedPlan)
  }

  /** Write both fixtures (driver-side, 30 rows total, SF-independent). */
  private def ensureFixtures(spark: SparkSession, dir: String): Unit = {
    Files.createDirectories(Paths.get(fixtureDir))
    val nation = Tables(spark, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey")
      .collect() // 25 rows: fixture generation, not a data path
    val jsonContent = nation.map { r =>
      val k = r.getAs[Number](0).longValue
      val name = r.getString(1)
      val reg = r.getAs[Number](2).longValue
      s"""{"n_nationkey": $k, "n_name": "$name", "n_regionkey": $reg, "meta": {"r": $reg, "len": ${name.length}}}"""
    }.mkString("", "\n", "\n")
    Files.write(Paths.get(jsonFixture), jsonContent.getBytes(UTF_8))
    gzWrite(jsonGzFixture, jsonContent.getBytes(UTF_8))

    val region = Tables(spark, dir, "region")
      .select("r_regionkey", "r_name")
      .orderBy("r_regionkey")
      .collect()
    val csvContent = "r_regionkey,r_name,name_len\r\n" + region.map { r =>
      s"${r.getAs[Number](0).longValue},${r.getString(1)},${r.getString(1).length}"
    }.mkString("", "\r\n", "\r\n")
    Files.write(Paths.get(csvFixture), csvContent.getBytes(UTF_8))
    gzWrite(csvGzFixture, csvContent.getBytes(UTF_8))
  }

  // ---------------------------------------------------------------- q27
  // Read the JSONL fixture through the graft DSv2 reader: schema inference,
  // nested-field extraction (SkipColumn prunes everything else at the byte
  // level), and a pushed filter (SkipRow). Oracle reads the same file with
  // DuckDB's read_json.
  private val q27 = GQuery(
    "q27_json_scan_parity",
    "graft-json DSv2 scan: inference + nested extraction + pushdown vs DuckDB read_json",
    (s, d) => {
      ensureFixtures(s, d)
      s.read.format("graft-json").load(jsonFixture)
        .filter(col("n_regionkey") <= 3)
        .select(
          col("n_nationkey"),
          col("n_name"),
          col("meta.r").as("r"),
          col("meta.len").as("len"))
        .orderBy("n_nationkey")
    },
    Some(s"""SELECT n_nationkey, n_name, meta.r AS r, meta.len AS len
             FROM read_json('$jsonFixture', format='newline_delimited')
             WHERE n_regionkey <= 3
             ORDER BY n_nationkey"""))

  // ---------------------------------------------------------------- q28
  // Read the CSV fixture (CRLF rows, Excel dialect) through the graft DSv2
  // reader; cells are strings, typed by explicit casts on both sides.
  private val q28 = GQuery(
    "q28_csv_scan",
    "graft-csv DSv2 scan: header + typed casts vs DuckDB read_csv",
    (s, d) => {
      ensureFixtures(s, d)
      s.read.format("graft-csv").option("linesep", "\r\n").load(csvFixture)
        .select(
          col("r_regionkey").cast("long").as("r_regionkey"),
          col("r_name"),
          col("name_len").cast("long").as("name_len"))
        .filter(col("name_len") > 0)
        .orderBy("r_regionkey")
    },
    Some(s"""SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name,
                    CAST(name_len AS BIGINT) AS name_len
             FROM read_csv('$csvFixture', header=true, all_varchar=true)
             WHERE CAST(name_len AS BIGINT) > 0
             ORDER BY r_regionkey"""))

  // ---------------------------------------------------------------- q44
  // The graft-json DSv2 source under readStream: byte-capped micro-batches
  // (BreakBatch ≈ ReadLimit admission control) drained with AvailableNow,
  // aggregated, and checked exactly against DuckDB over the same file.
  private val q44 = GQuery(
    "q44_json_stream_ingest",
    "graft-json micro-batch streaming ingest (admission-controlled) vs DuckDB",
    (s, d) => {
      import s.implicits._
      ensureFixtures(s, d)
      val schema = s.read.format("graft-json").load(jsonFixture).schema
      val stream = s.readStream.format("graft-json")
        .schema(schema)
        .option("maxbytespertrigger", "256") // several micro-batches over 25 rows
        .load(jsonFixture)
        .groupBy($"n_regionkey")
        .agg(count(lit(1)).as("n"), sum(col("meta.len")).as("total_len"))
      // round 17: state partitions sized to the fixture feed (see
      // Extensions.withStreamShuffle) — the 25-row drain was paying 32
      // state-store commits per micro-batch
      Extensions.withStreamShuffle(s, jsonFixture) {
        val q = stream.writeStream
          .format("memory")
          .queryName("q44_stream")
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table("q44_stream").orderBy($"n_regionkey")
    },
    Some(s"""SELECT n_regionkey, count(*) AS n, CAST(sum(meta.len) AS BIGINT) AS total_len
             FROM read_json('$jsonFixture', format='newline_delimited')
             GROUP BY n_regionkey
             ORDER BY n_regionkey"""))

  // ---------------------------------------------------------------- q47
  // Open-typed VARIANT ingestion: no inference, one VARIANT column built
  // event-by-event (exact decimal scale preserved); relational shape is
  // recovered lazily with variant_get — the schemaless row model of
  // SURVEY §1.3 option 1, end-to-end against DuckDB's JSON reader.
  private val q47 = GQuery(
    "q47_variant_ingest",
    "schema-free VARIANT ingestion + lazy typed extraction (variant_get)",
    (s, d) => {
      ensureFixtures(s, d)
      s.read.format("graft-json").option("variant", "true").load(jsonFixture)
        .selectExpr(
          "variant_get(value, '$.n_regionkey', 'long') AS n_regionkey",
          "variant_get(value, '$.n_name', 'string') AS n_name",
          "variant_get(value, '$.meta.len', 'long') AS len")
        .where("len > 5")
        .orderBy("n_regionkey", "n_name")
    },
    Some(s"""SELECT n_regionkey, n_name, meta.len AS len
             FROM read_json('$jsonFixture', format='newline_delimited')
             WHERE meta.len > 5
             ORDER BY n_regionkey, n_name"""))

  // ---------------------------------------------------------------- q49
  // Sink surface: DataFrameWriter emits multi-part CSV and JSON
  // directories (distributed write — each task a part file), and the graft
  // readers ingest them back; the joined round-trip must reproduce the
  // source table exactly.
  private val q49 = GQuery(
    "q49_sink_roundtrip",
    "DataFrameWriter csv/json sinks round-tripped through the graft readers",
    (s, d) => {
      import s.implicits._
      val nation = Tables(s, d, "nation")
        .select($"n_nationkey".cast("long").as("n_nationkey"), $"n_name")
      val csvDir = "/tmp/graft_sink/nation_csv"
      val jsonDir = "/tmp/graft_sink/nation_json"
      nation.write.mode("overwrite").option("header", "true").csv(csvDir)
      nation.write.mode("overwrite").json(jsonDir)
      val fromCsv = s.read.format("graft-csv").load(csvDir)
        .select($"n_nationkey".cast("long").as("n_nationkey"), $"n_name".as("name_csv"))
      val fromJson = s.read.format("graft-json").load(jsonDir)
        .select($"n_nationkey", $"n_name".as("name_json"))
      fromCsv.join(fromJson, "n_nationkey")
        .orderBy($"n_nationkey")
    },
    Some("""SELECT n_nationkey, n_name AS name_csv, n_name AS name_json
            FROM nation
            ORDER BY n_nationkey"""))

  // ---------------------------------------------------------------- q54
  // DSv2 aggregate + limit pushdown: an ungrouped COUNT(*) becomes a
  // parse-only scan (SkipAllCountPlate byte-skips every value, one partial
  // count per partition — the row-count harness of SURVEY §2.7 as a Spark
  // optimization), and LIMIT n stops the parser after n rows (the
  // Terminate analog, SURVEY §2.5). The limited aggregate is order-safe
  // because the fixture is a single split read in file order on both
  // engines.
  private val q54 = GQuery(
    "q54_count_limit_pushdown",
    "COUNT(*) agg pushdown (parse-only scan) + LIMIT pushdown into the reader",
    (s, d) => {
      ensureFixtures(s, d)
      val counted = s.read.format("graft-json").load(jsonFixture)
        .groupBy().count().withColumnRenamed("count", "n_rows")
      val limited = s.read.format("graft-json").load(jsonFixture)
        .limit(10)
        .agg(
          sum("n_nationkey").cast("long").as("s10"),
          count(lit(1)).as("n10"))
      counted.crossJoin(limited)
    },
    Some(s"""SELECT
               (SELECT count(*) FROM read_json('$jsonFixture', format='newline_delimited')) AS n_rows,
               (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM
                 (SELECT n_nationkey FROM read_json('$jsonFixture', format='newline_delimited') LIMIT 10)) AS s10,
               (SELECT count(*) FROM
                 (SELECT 1 FROM read_json('$jsonFixture', format='newline_delimited') LIMIT 10)) AS n10"""))

  // ---------------------------------------------------------------- q69
  // DSv2 GROUPED aggregate pushdown (the general battery, beyond q54's
  // lone COUNT(*)): min / max / count(col) / count(*) grouped by a data
  // column all fold INSIDE the scan — the readers parse only the
  // referenced columns (everything else is byte-skipped), hold one state
  // entry per group, and ship one partial row per group per partition;
  // Spark plans the merging final aggregate (min-of-mins, sum-of-counts),
  // so multi-split parallelism is preserved and no full row is ever
  // materialized (AggPushdownSpec asserts the pushedAgg plan shape and
  // the capped-state overflow path).
  private val q69 = GQuery(
    "q69_grouped_agg_pushdown",
    "grouped min/max/count battery pushed into the graft-json scan",
    (s, d) => {
      ensureFixtures(s, d)
      s.read.format("graft-json").load(jsonFixture)
        .groupBy(col("n_regionkey"))
        .agg(
          min("n_name").as("first_name"),
          max("n_name").as("last_name"),
          min("n_nationkey").as("min_key"),
          max("n_nationkey").as("max_key"),
          count("n_name").as("n_named"),
          count(lit(1)).as("n_rows"))
        .orderBy("n_regionkey")
    },
    Some(s"""SELECT n_regionkey,
                    min(n_name) AS first_name, max(n_name) AS last_name,
                    min(n_nationkey) AS min_key, max(n_nationkey) AS max_key,
                    count(n_name) AS n_named, count(*) AS n_rows
             FROM read_json('$jsonFixture', format='newline_delimited')
             GROUP BY n_regionkey
             ORDER BY n_regionkey"""))

  // ---------------------------------------------------------------- q72
  // SUM / AVG pushdown (round 5, extending q69's battery): integral sums
  // fold in a Long lane with overflow piece-splitting (GraftAgg.FSum —
  // the final merge keeps the query's evalMode, so ANSI/try/legacy
  // overflow semantics survive the pushdown), and AVG rides the planner's
  // partial-pushdown rewrite into SUM/COUNT. The scan parses only the two
  // referenced columns; AggPushdownSpec asserts the plan shape and the
  // overflow path.
  private val q72 = GQuery(
    "q72_sum_avg_pushdown",
    "grouped sum/avg pushed into the graft-json scan via the sum/count rewrite",
    (s, d) => {
      ensureFixtures(s, d)
      s.read.format("graft-json").load(jsonFixture)
        .groupBy(col("n_regionkey"))
        .agg(
          sum("n_nationkey").as("sum_key"),
          avg("n_nationkey").as("avg_key"),
          count(lit(1)).as("n_rows"))
        .orderBy("n_regionkey")
    },
    Some(s"""SELECT n_regionkey,
                    CAST(sum(n_nationkey) AS BIGINT) AS sum_key,
                    avg(n_nationkey) AS avg_key,
                    count(*) AS n_rows
             FROM read_json('$jsonFixture', format='newline_delimited')
             GROUP BY n_regionkey
             ORDER BY n_regionkey"""))

  // ---------------------------------------------------------------- q70
  // DSv2 partial TopN pushdown: ORDER BY + LIMIT over the scan ships only
  // each split's bounded-heap best n rows into Spark's global sort
  // (GraftTopNReaderFactory; isPartiallyPushed, so Spark's final Sort +
  // Limit makes the result exact). At 100 TB this is the difference
  // between shuffling n rows per split and shuffling the table.
  private val q70 = GQuery(
    "q70_topn_pushdown",
    "ORDER BY + LIMIT pushed into the graft-json scan as a per-split bounded heap",
    (s, d) => {
      import s.implicits._
      ensureFixtures(s, d)
      s.read.format("graft-json").load(jsonFixture)
        .orderBy($"n_name".desc)
        .limit(5)
        .select($"n_name", $"n_nationkey")
    },
    Some(s"""SELECT n_name, n_nationkey
             FROM read_json('$jsonFixture', format='newline_delimited')
             ORDER BY n_name DESC LIMIT 5"""))

  // ---------------------------------------------------------------- q57
  // Materialization & replay through the gate (SURVEY §2.6): each task
  // parses its lines through ReplayPlate (packed 4-bit event recording),
  // finishes the batch into an EventCursor, and REPLAYS the recorded
  // stream into a kind-collecting plate via drive() — the record/replay
  // path a downstream engine uses to iterate rows without re-parsing. The
  // fixture's shape is fixed, so the per-kind event counts have an exact
  // SQL oracle (6 nestMap + 4 num + 1 str + 6 unnest + 1 finishRow per
  // row).
  private val q57 = GQuery(
    "q57_event_replay_explode",
    "ReplayPlate/EventCursor record+replay exploded to per-kind event counts",
    (s, d) => {
      import s.implicits._
      ensureFixtures(s, d)
      val lines = s.read.textFile(jsonFixture).repartition(2)
      val kinds = lines.mapPartitions { it =>
        import graft.core._
        val plate = new ReplayPlate()
        val parser = new json.JsonParser[Option[EventCursor]](plate, json.JsonParser.ValueStream)
        it.foreach { l =>
          parser.absorb(l + "\n") match {
            case ParseResult.Failure(e) => throw e
            case _ => ()
          }
        }
        val cursor = parser.finish() match {
          case ParseResult.Complete(c) => c
          case ParseResult.Failure(e)  => throw e
          case ParseResult.Partial(c, _) => c
        }
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        val collector = new Plate[Unit] {
          def nul(): Signal = { buf += "nul"; Signal.Continue }
          def fls(): Signal = { buf += "bool"; Signal.Continue }
          def tru(): Signal = { buf += "bool"; Signal.Continue }
          def map(): Signal = { buf += "emptyMap"; Signal.Continue }
          def arr(): Signal = { buf += "emptyArr"; Signal.Continue }
          def num(t: CharSequence, d: Int, e: Int): Signal = { buf += "num"; Signal.Continue }
          def str(t: CharSequence): Signal = { buf += "str"; Signal.Continue }
          def nestMap(k: CharSequence): Signal = { buf += "nestMap"; Signal.Continue }
          def nestArr(): Signal = { buf += "nestArr"; Signal.Continue }
          def nestMeta(k: CharSequence): Signal = { buf += "nestMeta"; Signal.Continue }
          def unnest(): Signal = { buf += "unnest"; Signal.Continue }
          def finishRow(): Unit = buf += "finishRow"
          def finishBatch(terminal: Boolean): Unit = ()
          def skipped(bytes: Int): Unit = ()
        }
        cursor.foreach(_.drive(collector))
        buf.iterator
      }
      kinds.toDF("kind")
        .groupBy($"kind")
        .agg(count(lit(1)).as("n"))
        .orderBy($"kind")
    },
    Some(s"""WITH c AS (SELECT count(*) AS rows FROM
               read_json('$jsonFixture', format='newline_delimited'))
             SELECT kind, n FROM (
               SELECT 'finishRow' AS kind, rows AS n FROM c
               UNION ALL SELECT 'nestMap', 6 * rows FROM c
               UNION ALL SELECT 'num', 4 * rows FROM c
               UNION ALL SELECT 'str', rows FROM c
               UNION ALL SELECT 'unnest', 6 * rows FROM c)
             ORDER BY kind"""))

  // ---------------------------------------------------------------- q58
  // Hive-partitioned scan: nation staged as region=R directories; the
  // partition column comes from the directory name (typed long), and the
  // pushed partition filter prunes two of five files at PLANNING time.
  // The oracle reconstructs the partition value from the file path.
  private val partDir = s"$fixtureDir/q58_nation_part"

  private val q58 = GQuery(
    "q58_partitioned_scan",
    "hive-partitioned directory scan with planning-time partition pruning",
    (s, d) => {
      ensureFixtures(s, d)
      val nation = Tables(s, d, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey").collect()
      nation.groupBy(_.getAs[Number](2).longValue).foreach { case (reg, rows) =>
        val dir = Paths.get(s"$partDir/region=$reg")
        Files.createDirectories(dir)
        Files.write(dir.resolve("nation.jsonl"), rows.map { r =>
          s"""{"n_nationkey": ${r.getAs[Number](0).longValue}, "n_name": "${r.getString(1)}"}"""
        }.mkString("", "\n", "\n").getBytes(UTF_8))
      }
      s.read.format("graft-json").load(partDir)
        .filter(col("region") <= 2)
        .select(col("n_nationkey"), col("n_name"), col("region"))
        .orderBy("n_nationkey")
    },
    Some(s"""SELECT n_nationkey, n_name,
                    CAST(regexp_extract(filename, 'region=([0-9]+)', 1) AS BIGINT) AS region
             FROM read_json('$partDir/*/*.jsonl', format='newline_delimited', filename=true)
             WHERE CAST(regexp_extract(filename, 'region=([0-9]+)', 1) AS BIGINT) <= 2
             ORDER BY n_nationkey"""))

  // ---------------------------------------------------------------- q59
  // Splittable CSV scan: a staged lineitem extract read through byte-range
  // splits (maxsplitbytes small enough for ~10 ranges; mid-header and
  // mid-row cuts realign executor-side, later ranges never re-read the
  // header). Integer-only aggregate so the oracle hash is exact.
  private val csvSplitFixture = s"$fixtureDir/q59_lineitem.csv"

  private val q59 = GQuery(
    "q59_csv_split_scan",
    "byte-range-split CSV scan (opt-in splittable) vs DuckDB read_csv",
    (s, d) => {
      ensureFixtures(s, d)
      val li = Tables(s, d, "lineitem")
        .selectExpr("l_orderkey", "l_linenumber",
          "CAST(l_quantity AS BIGINT) AS qty",
          "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(5000).collect()
      val content = "ok,ln,qty,cents\n" + li.map(r =>
        s"${r.getAs[Number](0).longValue},${r.getAs[Number](1).longValue}," +
          s"${r.getLong(2)},${r.getLong(3)}").mkString("\n") + "\n"
      Files.write(Paths.get(csvSplitFixture), content.getBytes(UTF_8))
      s.read.format("graft-csv")
        .option("linesep", "\n")
        .option("splittable", "true")
        .option("maxsplitbytes", "16384")
        .load(csvSplitFixture)
        .selectExpr("CAST(ok AS BIGINT) AS ok", "CAST(qty AS BIGINT) AS qty",
          "CAST(cents AS BIGINT) AS cents")
        .groupBy(expr("ok % 7").as("g"))
        .agg(count(lit(1)).as("n"), sum("qty").as("sum_qty"), sum("cents").as("sum_cents"))
        .orderBy("g")
    },
    Some(s"""SELECT ok % 7 AS g, count(*) AS n,
                    CAST(sum(qty) AS BIGINT) AS sum_qty,
                    CAST(sum(cents) AS BIGINT) AS sum_cents
             FROM read_csv('$csvSplitFixture', header=true)
             GROUP BY 1
             ORDER BY g"""))

  // ---------------------------------------------------------------- q62
  // PERMISSIVE malformed-record handling: every corrupt line becomes a
  // null-filled row carrying the raw line in _corrupt_record (Spark
  // PERMISSIVE semantics, line-resync recovery — one bad record costs one
  // line, never the split). The oracle cross-checks with DuckDB: good rows
  // via read_json(ignore_errors), the total via raw line count.
  private val permissiveFixture = s"$fixtureDir/q62_mixed.jsonl"

  private val q62 = GQuery(
    "q62_permissive_ingest",
    "badrecords=keep PERMISSIVE ingest (corrupt lines -> _corrupt_record rows)",
    (s, d) => {
      ensureFixtures(s, d)
      val li = Tables(s, d, "nation")
        .select("n_nationkey", "n_name").orderBy("n_nationkey").collect()
      val content = li.map { r =>
        val k = r.getAs[Number](0).longValue
        if (k % 7 == 3) s"""{"id": $k, BROKEN LINE $k"""
        else s"""{"id": $k, "name": "${r.getString(1)}"}"""
      }.mkString("", "\n", "\n")
      Files.write(Paths.get(permissiveFixture), content.getBytes(UTF_8))
      s.read.format("graft-json")
        .schema("id LONG, name STRING, _corrupt_record STRING")
        .option("badrecords", "keep")
        .load(permissiveFixture)
        .agg(
          count(lit(1)).as("total_rows"),
          count(col("_corrupt_record")).as("n_bad"),
          sum(col("id")).as("sum_good_ids"),
          count(col("name")).as("n_named"))
    },
    Some(s"""WITH raw AS (
               SELECT unnest(string_split(rtrim(content, chr(10)), chr(10))) AS line
               FROM read_text('$permissiveFixture')),
             good AS (
               SELECT * FROM read_json('$permissiveFixture',
                 format='newline_delimited', ignore_errors=true,
                 columns={id: 'BIGINT', name: 'VARCHAR'})
               WHERE id IS NOT NULL)
             SELECT (SELECT count(*) FROM raw) AS total_rows,
                    (SELECT count(*) FROM raw) - (SELECT count(*) FROM good) AS n_bad,
                    (SELECT CAST(sum(id) AS BIGINT) FROM good) AS sum_good_ids,
                    (SELECT count(name) FROM good) AS n_named"""))

  // ---------------------------------------------------------------- q68
  // DSv2 write path: nation flows THROUGH the graft-json sink (per-task
  // staged files + atomic rename publish, overwrite = truncate) and back
  // through the graft-json reader; the oracle reads the very files our
  // sink produced with DuckDB's read_json — sink format + reader + oracle
  // all agree end to end.
  private val sinkDir = "/tmp/graft_fixtures/q68_sink"

  private val q68 = GQuery(
    "q68_dsv2_sink_roundtrip",
    "graft-json DSv2 sink write + read-back (atomic task commit, overwrite)",
    (s, d) => {
      import s.implicits._
      Tables(s, d, "nation")
        .select($"n_nationkey".cast("long").as("k"), $"n_name".as("name"),
          $"n_regionkey".cast("long").as("r"),
          struct(length($"n_name").as("len"), upper($"n_name").as("up")).as("meta"))
        .write.format("graft-json").mode("overwrite").save(sinkDir)
      s.read.format("graft-json")
        .schema("k LONG, name STRING, r LONG, meta STRUCT<len: INT, up: STRING>")
        .load(sinkDir)
        .groupBy($"r")
        .agg(count(lit(1)).as("n"),
          sum($"meta.len").as("sum_len"),
          min($"name").as("first_name"),
          max($"meta.up").as("last_up"))
        .orderBy($"r")
    },
    Some(s"""SELECT r, count(*) AS n,
                    CAST(sum(meta.len) AS BIGINT) AS sum_len,
                    min(name) AS first_name, max(meta.up) AS last_up
             FROM read_json('$sinkDir/*.jsonl',
                            columns={k: 'BIGINT', name: 'VARCHAR', r: 'BIGINT',
                                     meta: 'STRUCT(len INT, up VARCHAR)'})
             GROUP BY r
             ORDER BY r"""))

  // ---------------------------------------------------------------- q77
  // Gzip-compressed ingest through BOTH graft readers: the feeders run in
  // decompressed coordinates over whole-file partitions (gzip members are
  // unsplittable — planning never byte-splits them), schema inference
  // samples a decompressed prefix, and the regions dim broadcasts. Oracle:
  // DuckDB reads the same .gz files natively.
  private val q77 = GQuery(
    "q77_gzip_scan",
    "gzip-compressed graft-json + graft-csv ingest (decompressed whole-file partitions)",
    (s, d) => {
      ensureFixtures(s, d)
      val nations = s.read.format("graft-json").load(jsonGzFixture)
      val regions = s.read.format("graft-csv").option("linesep", "\r\n").load(csvGzFixture)
        .select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name"))
      nations.join(broadcast(regions), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_regionkey"), col("r_name"))
        .agg(count(lit(1)).as("n_nations"), sum(col("meta.len")).as("total_len"))
        .orderBy(col("n_regionkey"))
    },
    Some(s"""SELECT n_regionkey, r_name, count(*) AS n_nations,
                    CAST(sum(meta.len) AS BIGINT) AS total_len
             FROM read_json('$jsonGzFixture', format='newline_delimited')
             JOIN read_csv('$csvGzFixture', header=true, all_varchar=true)
               ON n_regionkey = CAST(r_regionkey AS BIGINT)
             GROUP BY n_regionkey, r_name
             ORDER BY n_regionkey"""))

  // ---------------------------------------------------------------- q78
  // graft-csv DSv2 sink: header + quote-doubling dialect (exactly what the
  // graft-csv reader parses), per-task staged files published by atomic
  // rename, mode("overwrite") via SupportsTruncate. Written across 2
  // partitions, read back through the graft-csv reader (each part file
  // carries its own header), compared against the source table.
  private val q78 = GQuery(
    "q78_csv_sink_roundtrip",
    "graft-csv DSv2 sink write + read-back round-trip (header, quoting, atomic rename)",
    (s, d) => {
      val out = s"$fixtureDir/q78_nation_out"
      Tables(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .repartition(2)
        .write.format("graft-csv").mode("overwrite").save(out)
      s.read.format("graft-csv").load(out)
        .select(
          col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
        .orderBy("n_nationkey")
    },
    Some("""SELECT n_nationkey, n_name, n_regionkey
            FROM nation
            ORDER BY n_nationkey"""))

  // ---------------------------------------------------------------- q81
  // Data-skipping sidecars (Delta/parquet-footer-style min/max pruning for
  // JSON, which has no native footer): the graft-json sink records
  // per-file (rows, nulls, min, max) in a hidden sidecar; the scan drops
  // whole files whose ranges cannot satisfy a pushed filter at PLANNING
  // time — no task, no bytes. Orders are range-partitioned into 4 files
  // by key, the filter touches one range, and DataSkippingSpec asserts
  // the other 3 files never produce partitions. Exactness is oracle-
  // checked here against the source table.
  private val q81 = GQuery(
    "q81_stats_skipping",
    "sidecar min/max data skipping: ranged sink write + pruned filtered scan",
    (s, d) => {
      import s.implicits._
      val out = s"$fixtureDir/q81_orders_ranged"
      Tables(s, d, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .repartitionByRange(4, $"o_orderkey")
        .write.format("graft-json").mode("overwrite").save(out)
      s.read.format("graft-json").load(out)
        .filter($"o_orderkey" <= 1500)
        .groupBy()
        .agg(
          count(lit(1)).as("n"),
          sum($"o_orderkey").as("key_sum"),
          round(sum($"o_totalprice"), 2).as("price_sum"))
    },
    Some("""SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                   round(sum(o_totalprice), 2) AS price_sum
            FROM orders
            WHERE o_orderkey <= 1500"""))

  // ---------------------------------------------------------------- q83
  // CSV data skipping: the graft-csv sink now writes the same stats
  // sidecars as graft-json (length-bound, truncated string bounds), so a
  // ranged CSV write + filtered scan prunes whole files at planning time
  // and COUNT/MIN/MAX can answer from metadata. Mirror of q81 over the
  // CSV lane; DataSkippingSpec asserts the pruning counts and the
  // poisoned-file metadata-only proof.
  private val q83 = GQuery(
    "q83_csv_stats_skipping",
    "sidecar min/max data skipping over graft-csv: ranged sink write + pruned filtered scan",
    (s, d) => {
      import s.implicits._
      val out = s"$fixtureDir/q83_orders_ranged_csv"
      Tables(s, d, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .repartitionByRange(4, $"o_orderkey")
        .write.format("graft-csv").mode("overwrite").save(out)
      s.read.format("graft-csv")
        .schema("o_orderkey LONG, o_custkey LONG, o_totalprice DOUBLE")
        .load(out)
        .filter($"o_orderkey" <= 1500)
        .groupBy()
        .agg(
          count(lit(1)).as("n"),
          sum($"o_orderkey").as("key_sum"),
          round(sum($"o_totalprice"), 2).as("price_sum"))
    },
    Some("""SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                   round(sum(o_totalprice), 2) AS price_sum
            FROM orders
            WHERE o_orderkey <= 1500"""))

  // ---------------------------------------------------------------- q84
  // DECIMAL lanes end-to-end: a money-shaped DECIMAL(14,2) column derived
  // exactly from o_orderkey (double→decimal casts round differently
  // across engines; integer→decimal is exact in both) round-trips through
  // the graft-json sink (decimal sidecar stats) and scan (decimal parse),
  // and the grouped SUM/MIN/MAX/COUNT battery folds inside the scan via
  // the new FSumDec piece-splitting lane (AggPushdownSpec pins the plan
  // shape and overflow semantics).
  private val q84 = GQuery(
    "q84_decimal_agg_pushdown",
    "decimal money column: sink round-trip + grouped sum/min/max/count pushed into the scan",
    (s, d) => {
      import s.implicits._
      val out = s"$fixtureDir/q84_orders_decimal"
      Tables(s, d, "orders")
        .select($"o_orderpriority",
          $"o_orderkey".cast("decimal(14,2)").as("amt"))
        .repartition(3)
        .write.format("graft-json").mode("overwrite").save(out)
      // The grouped battery still folds inside the scan on the DECIMAL
      // column (AggPushdownSpec pins that plan); only the FINAL projection
      // canonicalizes to rounded DOUBLE, matching the representation every
      // other money gate uses — driver-side exact hashing of DECIMAL
      // outputs is representation-sensitive across engines.
      s.read.format("graft-json")
        .schema("o_orderpriority STRING, amt DECIMAL(14,2)")
        .load(out)
        .groupBy($"o_orderpriority")
        .agg(
          sum($"amt").as("amt_sum_dec"),
          min($"amt").as("amt_min_dec"),
          max($"amt").as("amt_max_dec"),
          count($"amt").as("n"))
        .select($"o_orderpriority",
          round($"amt_sum_dec".cast("double"), 2).as("amt_sum"),
          round($"amt_min_dec".cast("double"), 2).as("amt_min"),
          round($"amt_max_dec".cast("double"), 2).as("amt_max"),
          $"n")
        .orderBy($"o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
                   round(CAST(sum(CAST(o_orderkey AS DECIMAL(14,2))) AS DOUBLE), 2) AS amt_sum,
                   round(CAST(min(CAST(o_orderkey AS DECIMAL(14,2))) AS DOUBLE), 2) AS amt_min,
                   round(CAST(max(CAST(o_orderkey AS DECIMAL(14,2))) AS DOUBLE), 2) AS amt_max,
                   count(o_orderkey) AS n
            FROM orders
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority"""))

  // ---------------------------------------------------------------- q86
  // Partitioned WRITE: `partitionBy` on the graft-json sink produces the
  // hive-style `col=value/` layout (values escaped, partition columns
  // stripped from the data lines, per-leaf sidecars + manifest) that the
  // graft scan lists, partition-prunes, and reads back — the full
  // corpus-layout round trip with no metastore. The read filters one
  // partition (planning touches one directory) and aggregates; oracle
  // recomputes from the source table.
  private val q86 = GQuery(
    "q86_partitioned_sink_roundtrip",
    "partitionBy sink write (hive layout) + partition-pruned read-back",
    (s, d) => {
      import s.implicits._
      val out = s"$fixtureDir/q86_orders_partitioned"
      Tables(s, d, "orders")
        .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
        .write.format("graft-json").partitionBy("o_orderpriority")
        .mode("overwrite").save(out)
      s.read.format("graft-json")
        .schema("o_orderkey LONG, o_totalprice DOUBLE, o_orderpriority STRING")
        .load(out)
        .filter($"o_orderpriority" === "1-URGENT")
        .groupBy()
        .agg(
          count(lit(1)).as("n"),
          sum($"o_orderkey").as("key_sum"),
          round(sum($"o_totalprice"), 2).as("price_sum"))
    },
    Some("""SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                   round(sum(o_totalprice), 2) AS price_sum
            FROM orders
            WHERE o_orderpriority = '1-URGENT'"""))

  // ---------------------------------------------------------------- q87
  // Bloom-filter sidecars: a HASH-partitioned layout gives every file the
  // full key range, so min/max stats prune nothing for `key IN (...)` —
  // the per-column bloom in the sidecar answers "definitely not in this
  // file" and drops the others at planning time (the parquet-bloom /
  // Delta-bloom-index analog for JSON corpora). DataSkippingSpec pins the
  // pruning counts, saturation drop, and no-false-negative property;
  // exactness is oracle-checked here.
  private val q87 = GQuery(
    "q87_bloom_skipping",
    "sidecar bloom filters: hash-layout sink write + point-lookup pruned scan",
    (s, d) => {
      import s.implicits._
      val out = s"$fixtureDir/q87_orders_hashed"
      Tables(s, d, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .repartition(4, $"o_orderkey")
        .write.format("graft-json").mode("overwrite").save(out)
      s.read.format("graft-json").load(out)
        .filter($"o_orderkey".isin(1L, 2L, 3L, 4L, 5L, 6L, 7L, 1000000007L))
        .groupBy()
        .agg(
          count(lit(1)).as("n"),
          sum($"o_orderkey").as("key_sum"),
          round(sum($"o_totalprice"), 2).as("price_sum"))
    },
    Some("""SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                   round(sum(o_totalprice), 2) AS price_sum
            FROM orders
            WHERE o_orderkey IN (1, 2, 3, 4, 5, 6, 7, 1000000007)"""))

  // ---------------------------------------------------------------- q88
  // Dynamic FILE pruning: SupportsRuntimeFiltering now reports data
  // columns, so a join's build-side key set — known only at EXECUTION
  // time — prunes fact files through the sidecar ranges and blooms before
  // any task launches (the Delta/Iceberg dynamic-file-pruning shape; at
  // 100 TB this is "read the files the dim keys admit", not the corpus).
  // The dim is a real filtered scan so DPP's selectivity check engages;
  // correctness is oracle-checked against the same join in DuckDB.
  private val q88 = GQuery(
    "q88_runtime_file_pruning",
    "join-key runtime filtering prunes sink-written fact files via sidecar stats",
    (s, d) => {
      import s.implicits._
      val out = s"$fixtureDir/q88_orders_hashed"
      Tables(s, d, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .repartition(4, $"o_orderkey")
        .write.format("graft-json").mode("overwrite").save(out)
      val fact = s.read.format("graft-json").load(out)
      val dim = Tables(s, d, "orders")
        .filter($"o_orderkey" <= 7L && $"o_orderpriority" =!= "")
        .select($"o_orderkey".as("k"), $"o_orderpriority")
      fact.join(broadcast(dim), $"o_orderkey" === $"k")
        .groupBy($"o_orderpriority")
        .agg(
          count(lit(1)).as("n"),
          round(sum($"o_totalprice"), 2).as("price_sum"))
        .orderBy($"o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS n,
                   round(sum(o_totalprice), 2) AS price_sum
            FROM orders
            WHERE o_orderkey <= 7 AND o_orderpriority <> ''
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority"""))

  // ---------------------------------------------------------------- q90
  // Storage-partitioned join: two hive-partitioned sink layouts report
  // KeyGroupedPartitioning (each split carries its typed directory key),
  // so with spark.sql.sources.v2.bucketing.enabled the per-side
  // group-bys on the partition column AND the join between them plan
  // with ZERO exchanges — at 100 TB, co-partitioned corpora aggregate
  // and merge file-against-file with no shuffle at all (SpjOrderingSpec
  // pins the plan shapes, incl. the sort-free raw-scan merge join).
  // Exactness is oracle-checked against the equivalent DuckDB join.
  private val q90 = GQuery(
    "q90_storage_partitioned_join",
    "co-partitioned sink layouts: shuffle-free group-bys + zero-exchange join",
    (s, d) => {
      import s.implicits._
      val outA = s"$fixtureDir/q90_orders_pa"
      val outB = s"$fixtureDir/q90_orders_pb"
      val src = Tables(s, d, "orders")
        .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
      src.write.format("graft-json").partitionBy("o_orderpriority")
        .mode("overwrite").save(outA)
      src.write.format("graft-json").partitionBy("o_orderpriority")
        .mode("overwrite").save(outB)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      try {
        val fa = s.read.format("graft-json")
          .schema("o_orderkey LONG, o_totalprice DOUBLE, o_orderpriority STRING")
          .load(outA)
          .groupBy($"o_orderpriority")
          .agg(round(sum($"o_totalprice"), 2).as("price_sum"))
        val fb = s.read.format("graft-json")
          .schema("o_orderkey LONG, o_totalprice DOUBLE, o_orderpriority STRING")
          .load(outB)
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"), max($"o_orderkey").as("max_key"))
        // eager localCheckpoint: the SPJ plan must MATERIALIZE while the
        // conf is set (DataFrames are lazy; unsetting first would replan
        // without SPJ) and later consumers must not depend on it
        fa.join(fb, "o_orderpriority").orderBy($"o_orderpriority")
          .select($"o_orderpriority", $"price_sum", $"n", $"max_key")
          .localCheckpoint(true)
      } finally s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    },
    Some("""WITH a AS (
              SELECT o_orderpriority, round(sum(o_totalprice), 2) AS price_sum
              FROM orders GROUP BY o_orderpriority),
            b AS (
              SELECT o_orderpriority, count(*) AS n, max(o_orderkey) AS max_key
              FROM orders GROUP BY o_orderpriority)
            SELECT a.o_orderpriority AS o_orderpriority, price_sum, n,
                   CAST(max_key AS BIGINT) AS max_key
            FROM a JOIN b ON a.o_orderpriority = b.o_orderpriority
            ORDER BY a.o_orderpriority"""))

  // ---------------------------------------------------------------- q91
  // Z-order clustered layout (api.TrainingData.zorderBy — the Delta
  // OPTIMIZE ZORDER analog): interleaved rank-normalized bits give BOTH
  // listed columns partially-tight per-file ranges, so filters on either
  // one prune files through the sidecars (a linear sort only ever prunes
  // its own column — DataSkippingSpec proves the contrast and the
  // pruning counts). The layout never affects results, which is exactly
  // what the oracle checks: both dimension filters recompute identically
  // from the unclustered source table.
  private val q91 = GQuery(
    "q91_zorder_skipping",
    "z-order clustered sink write: multi-column data skipping, result-identical layout",
    (s, d) => {
      import s.implicits._
      val out = s"$fixtureDir/q91_orders_zorder"
      graft.api.TrainingData.zorderBy(
        Tables(s, d, "orders")
          .select($"o_orderkey", $"o_custkey", $"o_totalprice"),
        8, Seq("o_orderkey", "o_custkey"), bits = 6)
        .write.format("graft-json").mode("overwrite").save(out)
      val t = s.read.format("graft-json").load(out)
      val byKey = t.filter($"o_orderkey" <= 1500)
        .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("p"))
        .select(lit("by_key").as("dim"), $"n", $"p")
      val byCust = t.filter($"o_custkey" <= 150)
        .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("p"))
        .select(lit("by_cust").as("dim"), $"n", $"p")
      byKey.unionAll(byCust).orderBy($"dim")
    },
    Some("""SELECT 'by_cust' AS dim, count(*) AS n,
                   round(sum(o_totalprice), 2) AS p
            FROM orders WHERE o_custkey <= 150
            UNION ALL
            SELECT 'by_key' AS dim, count(*) AS n,
                   round(sum(o_totalprice), 2) AS p
            FROM orders WHERE o_orderkey <= 1500
            ORDER BY dim"""))

  // ---------------------------------------------------------------- q92
  // Small-file compaction (api.TrainingData.compactLayout): a layout
  // fragmented into many tiny part files (the streaming-epoch shape)
  // rewrites into few target-sized files through the same sink —
  // refreshing sidecars, blooms, and the manifest as a side effect —
  // optionally re-clustered for data skipping. The oracle checks the
  // compaction moved NO data: the clustered rewrite answers exactly like
  // the source table, and the filtered read prunes like q81's ranged
  // layout (DataSkippingSpec asserts the file-count collapse).
  private val q92 = GQuery(
    "q92_compaction",
    "small-file compaction through the sink: fragment -> few clustered files, data unmoved",
    (s, d) => {
      import s.implicits._
      val frag = s"$fixtureDir/q92_orders_fragmented"
      val out = s"$fixtureDir/q92_orders_compacted"
      Tables(s, d, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .repartition(16) // the many-small-files shape
        .write.format("graft-json").mode("overwrite").save(frag)
      graft.api.TrainingData.compactLayout(s, frag, out,
        targetFileBytes = 1L << 20,
        schema = "o_orderkey LONG, o_custkey LONG, o_totalprice DOUBLE",
        clusterBy = "o_orderkey")
        .filter($"o_orderkey" <= 1500)
        .groupBy()
        .agg(
          count(lit(1)).as("n"),
          sum($"o_orderkey").as("key_sum"),
          round(sum($"o_totalprice"), 2).as("price_sum"))
    },
    Some("""SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                   round(sum(o_totalprice), 2) AS price_sum
            FROM orders
            WHERE o_orderkey <= 1500"""))

  // ---------------------------------------------------------------- q102
  // q84's decimal lane through the PARTITIONED layout: the money column
  // round-trips a hive-style partitionBy sink write (per-leaf sidecars +
  // manifest carry BigDecimal stats), then the grouped battery keyed by
  // the partition column folds via the manifest path. A decimal range
  // filter narrows the read so partition listing, decimal parse, and
  // decimal stats all engage (DataSkippingSpec's partitioned-decimal
  // battery pins the metadata-only equivalence and leaf pruning).
  private val q102 = GQuery(
    "q102_decimal_partitioned_agg",
    "decimal money column through a partitionBy layout: grouped sum/min/max/count per partition",
    (s, d) => {
      import s.implicits._
      val out = s"$fixtureDir/q102_orders_decimal_part"
      Tables(s, d, "orders")
        .select($"o_orderpriority",
          $"o_orderkey".cast("decimal(14,2)").as("amt"))
        .write.format("graft-json").partitionBy("o_orderpriority")
        .mode("overwrite").save(out)
      s.read.format("graft-json")
        .schema("amt DECIMAL(14,2), o_orderpriority STRING")
        .load(out)
        .filter($"amt" >= new java.math.BigDecimal("1000.00"))
        .groupBy($"o_orderpriority")
        .agg(
          sum($"amt").as("amt_sum_dec"),
          min($"amt").as("amt_min_dec"),
          max($"amt").as("amt_max_dec"),
          count($"amt").as("n"))
        .select($"o_orderpriority",
          round($"amt_sum_dec".cast("double"), 2).as("amt_sum"),
          round($"amt_min_dec".cast("double"), 2).as("amt_min"),
          round($"amt_max_dec".cast("double"), 2).as("amt_max"),
          $"n")
        .orderBy($"o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
                   round(CAST(sum(amt) AS DOUBLE), 2) AS amt_sum,
                   round(CAST(min(amt) AS DOUBLE), 2) AS amt_min,
                   round(CAST(max(amt) AS DOUBLE), 2) AS amt_max,
                   count(amt) AS n
            FROM (SELECT o_orderpriority,
                         CAST(o_orderkey AS DECIMAL(14,2)) AS amt
                  FROM orders) t
            WHERE amt >= CAST('1000.00' AS DECIMAL(14,2))
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority"""))

  // --------------------------------------------------------------- q119
  // Schema evolution on read: two appended batches with DIFFERENT column
  // subsets (the streaming-corpus reality — producers add fields over
  // time) read back under the widened union schema. Keys absent from a
  // row read as NULL (RowPlate's missing-key semantics), keys outside
  // the schema byte-skip — no rewrite of old files, no read failure.
  // The per-batch marker column proves which file shape each row came
  // from, and the nested struct only the NEWER batch carries exercises
  // evolution below the top level.
  private val q119sink = s"$fixtureDir/q119_evolving"
  private val q119 = GQuery(
    "q119_schema_evolution_scan",
    "append batches with different column subsets; widened-schema read (missing → null)",
    (s, d) => {
      import s.implicits._
      val n = Tables(s, d, "nation")
      n.select($"n_nationkey".cast("long").as("k"), $"n_name".as("name"))
        .write.format("graft-json").mode("overwrite").save(q119sink)
      n.select(($"n_nationkey" + 100).cast("long").as("k"),
          $"n_regionkey".cast("long").as("r"),
          struct(length($"n_name").cast("long").as("len")).as("meta"))
        .write.format("graft-json").mode("append")
        // the batch adds columns the table has never seen: schema
        // tracking requires the evolution to be explicit (q198 proves the
        // recorded-schema read; this gate reads with an explicit schema)
        .option("mergeschema", "true").save(q119sink)
      s.read.format("graft-json")
        .schema("k LONG, name STRING, r LONG, meta STRUCT<len: LONG>")
        .load(q119sink)
        .select($"k", coalesce($"name", lit("?")).as("name"),
          coalesce($"r", lit(-1L)).as("r"),
          coalesce($"meta.len", lit(-1L)).as("meta_len"))
        .orderBy($"k")
    },
    Some(s"""SELECT k, coalesce(name, '?') AS name, coalesce(r, -1) AS r,
                    coalesce(meta.len, -1) AS meta_len
             FROM read_json('$q119sink/*.jsonl',
                            columns={k: 'BIGINT', name: 'VARCHAR', r: 'BIGINT',
                                     meta: 'STRUCT(len BIGINT)'})
             ORDER BY k"""))

  // ---------------------------------------------------------------- q137
  // ORC interchange: Spark's second first-class columnar format, written
  // and read back through the built-in vectorized ORC source with a
  // pushed timestamp filter (`spark.read.orc` pushes predicates into ORC
  // stripe/row-group elimination exactly as parquet does footer pruning).
  // A 100 TB estate is rarely one format — the engine must round-trip the
  // columnar interchange formats losslessly, timestamps included. The
  // oracle aggregates the original parquet, so any ORC write/read
  // divergence (type mapping, timezone handling) breaks the hash.
  private val q137 = GQuery(
    "q137_orc_roundtrip",
    "ORC columnar interchange: write + vectorized filtered read-back",
    (s, d) => {
      import s.implicits._
      val path = "/tmp/graft_orc/lineitem"
      Tables(s, d, "lineitem")
        .select($"l_orderkey", $"l_quantity", $"l_returnflag", $"l_shipdate")
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity".cast("long")).as("qty"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
            GROUP BY l_returnflag
            ORDER BY l_returnflag"""))

  // ---------------------------------------------------------------- q141
  // SQL-DDL surface: CREATE TABLE ... USING graft-json LOCATION — the
  // catalog hands the table its storage root via TABLE PROPERTIES (not
  // per-read options), which GraftSources.mergeTableProps folds into the
  // scan, so a SQL-first user drives the DSv2 source with no DataFrame
  // code: DDL once, then plain SELECTs with full pushdown. The gate
  // stages supplier as graft-written JSONL, registers it as a catalog
  // table, and aggregates through spark.sql; the oracle aggregates the
  // original parquet.
  private val q141 = GQuery(
    "q141_sql_ddl_table",
    "CREATE TABLE USING graft-json (catalog DDL → DSv2 scan with pushdown)",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_ddl/supplier"
      Tables(s, d, "supplier")
        .select($"s_suppkey", $"s_nationkey", $"s_acctbal")
        .write.format("graft-json").mode("overwrite").save(dir)
      s.sql("DROP TABLE IF EXISTS graft_supplier")
      s.sql(s"""CREATE TABLE graft_supplier
               |  (s_suppkey BIGINT, s_nationkey BIGINT, s_acctbal DOUBLE)
               |USING `graft-json` LOCATION '$dir'""".stripMargin)
      val out = s.sql(
        """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
          |       round(sum(s_acctbal), 2) AS bal
          |FROM graft_supplier
          |WHERE s_acctbal > 0
          |GROUP BY s_nationkey
          |ORDER BY s_nationkey""".stripMargin)
      out.collect() // materialize before dropping the catalog entry
      s.sql("DROP TABLE graft_supplier")
      out
    },
    Some("""SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
                   round(sum(s_acctbal), 2) AS bal
            FROM supplier
            WHERE s_acctbal > 0
            GROUP BY s_nationkey
            ORDER BY s_nationkey"""))

  // ---------------------------------------------------------------- q142
  // Federated heterogeneous-format join: one query over a graft-json
  // table (DSv2), an ORC table (vectorized built-in), and parquet — the
  // real shape of a 100 TB estate, where raw ingest lands as JSONL, warm
  // data is columnar, and nothing gets rewritten just to be joinable.
  // Each source keeps its own pushdown (the JSON scan byte-skips unused
  // columns, ORC/parquet prune stripes/row-groups); the dims broadcast.
  // The oracle runs the same join over the original parquet tables, so
  // any per-format read divergence breaks the hash.
  private val q142 = GQuery(
    "q142_federated_formats_join",
    "three-format federated join (graft-json × ORC × parquet), per-source pushdown",
    (s, d) => {
      import s.implicits._
      val jsonDir = "/tmp/graft_fed/nation_json"
      val orcDir = "/tmp/graft_fed/region_orc"
      Tables(s, d, "nation").write.format("graft-json").mode("overwrite").save(jsonDir)
      Tables(s, d, "region").write.mode("overwrite").orc(orcDir)
      val nation = s.read.format("graft-json")
        .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
        .load(jsonDir)
      val region = s.read.orc(orcDir)
      Tables(s, d, "customer")
        .join(nation, $"c_nationkey" === $"n_nationkey")
        .join(region, $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(count(lit(1)).as("n_cust"), round(sum($"c_acctbal"), 2).as("bal"))
        .orderBy($"r_name", $"n_name")
    },
    Some("""SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_cust,
                   round(sum(c_acctbal), 2) AS bal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
            ORDER BY r_name, n_name"""))

  // ---------------------------------------------------------------- q145
  // Avro container interchange through the graft-avro DSv2 lane: write a
  // deflate-compressed container per task, read back with Catalyst column
  // pruning pushed as the Avro READER schema (decoder-level field skip)
  // and byte-range splits realigned on sync markers — the row-interchange
  // format of a 100 TB ingest bus, alongside the ORC (q137) and parquet
  // (native) columnar lanes. Oracle aggregates the original parquet.
  private val q145 = GQuery(
    "q145_avro_roundtrip",
    "Avro interchange: splittable graft-avro write + reader-schema-pruned read",
    (s, d) => {
      import s.implicits._
      val path = "/tmp/graft_avro/lineitem"
      Tables(s, d, "lineitem")
        .select($"l_orderkey", $"l_quantity", $"l_extendedprice",
          $"l_returnflag", $"l_linestatus", $"l_shipdate")
        .write.format("graft-avro").option("codec", "deflate")
        .mode("overwrite").save(path)
      s.read.format("graft-avro")
        .option("maxsplitbytes", (256 * 1024).toString) // exercise range splits
        .load(path)
        .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("qty"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
                   round(sum(l_quantity), 2) AS qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""))

  // ---------------------------------------------------------------- q150
  // Snapshot time travel over the graft sink's commit log: every batch
  // commit appends `.graft-log/<version>` (put-if-absent allocation, the
  // Delta protocol shape), and `option("versionAsOf", v)` pins a read to
  // the union of commits ≤ v. The property that matters at 100 TB: a
  // multi-day consumer pins one version and sees a frozen corpus while
  // hourly appends keep landing — no copy, no lock service. The gate
  // writes nation in two batches (keys < 10, then the rest), reads back
  // AS OF version 0, and checks only the first batch is visible; the
  // oracle filters the original parquet the same way.
  private val q150 = GQuery(
    "q150_time_travel",
    "versionAsOf snapshot read over the sink's put-if-absent commit log",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/nation"
      val nation = Tables(s, d, "nation").select($"n_nationkey", $"n_name", $"n_regionkey")
      nation.filter($"n_nationkey" < 10)
        .write.format("graft-json").mode("overwrite").save(dir) // version 0
      nation.filter($"n_nationkey" >= 10)
        .write.format("graft-json").mode("append").save(dir)    // version 1
      s.read.format("graft-json")
        .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
        .option("versionAsOf", "0")
        .load(dir)
        .orderBy($"n_nationkey")
    },
    Some("""SELECT n_nationkey, n_name, n_regionkey
            FROM nation WHERE n_nationkey < 10
            ORDER BY n_nationkey"""))

  // ---------------------------------------------------------------- q159
  // Incremental consumption off the commit log (Delta-CDF shape for an
  // append-only table): a consumer remembers the last version it
  // processed and `option("changesSinceVersion", v)` reads ONLY the files
  // newer commits added — the nightly-delta pattern that avoids
  // reprocessing a 100 TB corpus to pick up yesterday's appends. Strict:
  // an unknown checkpoint version (e.g. after an overwrite rewrote
  // history) fails loudly instead of silently re-reading everything.
  private val q159 = GQuery(
    "q159_incremental_read",
    "changesSinceVersion incremental read (process-only-new-commits)",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/nation_incr"
      val nation = Tables(s, d, "nation").select($"n_nationkey", $"n_name", $"n_regionkey")
      nation.filter($"n_nationkey" < 10)
        .write.format("graft-json").mode("overwrite").save(dir) // version 0
      nation.filter($"n_nationkey" >= 10)
        .write.format("graft-json").mode("append").save(dir)    // version 1
      s.read.format("graft-json")
        .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
        .option("changesSinceVersion", "0")
        .load(dir)
        .orderBy($"n_nationkey")
    },
    Some("""SELECT n_nationkey, n_name, n_regionkey
            FROM nation WHERE n_nationkey >= 10
            ORDER BY n_nationkey"""))

  // ---------------------------------------------------------------- q161
  // VACUUM (TrainingData.vacuumOrphans): delete data files the commit
  // log never committed — failed-job debris and out-of-band copies that
  // un-pinned reads would otherwise absorb forever. The gate plants a
  // rogue JSONL file next to two committed batches, vacuums, and proves
  // the un-pinned read now returns exactly the committed corpus (the
  // rogue row would otherwise surface); log-referenced files and hidden
  // planning artifacts survive (VacuumSpec pins the inverse guarantees).
  private val q161 = GQuery(
    "q161_vacuum",
    "vacuum un-committed orphan files (log-referenced data is untouchable)",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/nation_vacuum"
      val nation = Tables(s, d, "nation").select($"n_nationkey", $"n_name", $"n_regionkey")
      nation.filter($"n_nationkey" < 10)
        .write.format("graft-json").mode("overwrite").save(dir) // version 0
      nation.filter($"n_nationkey" >= 10)
        .write.format("graft-json").mode("append").save(dir)    // version 1
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "rogue.json"),
        "{\"n_nationkey\":999,\"n_name\":\"ROGUE\",\"n_regionkey\":0}\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      graft.api.TrainingData.vacuumOrphans(s, dir)
      s.read.format("graft-json")
        .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
        .load(dir)
        .orderBy($"n_nationkey")
    },
    Some("""SELECT n_nationkey, n_name, n_regionkey
            FROM nation
            ORDER BY n_nationkey"""))

  // ---------------------------------------------------------------- q162
  // Commit-log-following stream (the Delta-streaming-source shape):
  // `option("followLog", true)` makes the graft-json stream discover
  // files from the sink's `.graft-log` instead of raw listing — only
  // COMMITTED files enter the stream, in commit order, so tailing a
  // table that concurrent jobs append to is coherent (a rogue uncommitted
  // file is planted and must stay invisible; the raw-listing stream
  // would absorb it). Drained with AvailableNow and checked exactly.
  private val q162 = GQuery(
    "q162_stream_follow_log",
    "streaming tail of a sink table via commit log (uncommitted files invisible)",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/supplier_stream"
      Tables(s, d, "supplier")
        .select($"s_suppkey", $"s_nationkey", $"s_acctbal")
        .write.format("graft-json").mode("overwrite").save(dir)   // version 0
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "rogue.json"),
        "{\"s_suppkey\":999999,\"s_nationkey\":0,\"s_acctbal\":1.0}\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val stream = s.readStream.format("graft-json")
        .schema("s_suppkey BIGINT, s_nationkey BIGINT, s_acctbal DOUBLE")
        .option("followLog", "true")
        .option("maxbytespertrigger", triggerBytes(dir, 8192)) // ~4 micro-batches at any SF
        .load(dir)
        .groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n"), round(sum($"s_acctbal"), 2).as("bal"))
      // round 17: state partitions sized to the feed (Extensions.withStreamShuffle)
      Extensions.withStreamShuffle(s, dir) {
        val q = stream.writeStream
          .format("memory")
          .queryName("q162_followlog")
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table("q162_followlog").orderBy($"s_nationkey")
    },
    Some("""SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
                   round(sum(s_acctbal), 2) AS bal
            FROM supplier
            GROUP BY s_nationkey
            ORDER BY s_nationkey"""))

  // ---------------------------------------------------------------- q165
  // Incremental materialized-view maintenance POWERED BY THE COMMIT LOG:
  // the view's state is the aggregate over snapshot v; when new commits
  // land, only `changesSinceVersion(v)` is aggregated and merged — q129
  // proved the algebra (base ⊎ delta == full recompute); this gate proves
  // the LOG supplies the delta, which is what makes never-recompute-
  // history real on a 100 TB table: each refresh reads only the new
  // files, not the corpus. The oracle recomputes from scratch.
  private val q165 = GQuery(
    "q165_incremental_mv_log",
    "incremental view refresh from commit-log deltas == full recompute",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/orders_mv"
      val orders = Tables(s, d, "orders")
        .select($"o_orderkey", $"o_orderpriority",
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      orders.filter($"o_orderkey" % 2 === 0)
        .write.format("graft-json").mode("overwrite").save(dir) // version 0
      orders.filter($"o_orderkey" % 2 === 1)
        .write.format("graft-json").mode("append").save(dir)    // version 1
      val schema = "o_orderkey BIGINT, o_orderpriority STRING, cents BIGINT"
      def agg(df: DataFrame) = df.groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
      val base = agg(s.read.format("graft-json").schema(schema)
        .option("versionAsOf", "0").load(dir))              // the stored view
      val delta = agg(s.read.format("graft-json").schema(schema)
        .option("changesSinceVersion", "0").load(dir))      // only new files
      base.union(delta)
        .groupBy($"o_orderpriority")
        .agg(sum($"n").as("n"), sum($"sum_cents").as("sum_cents"))
        .orderBy($"o_orderpriority")
    },
    Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
            FROM orders
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority"""))

  // ---------------------------------------------------------------- q167
  // Storage tiering: hot ingest lands as many small JSONL files (the
  // streaming-epoch shape); the tiering pass rewrites a cold slice into
  // few large PARQUET files via the same stats-sized compaction operator
  // (compactLayout with a different output format) — the jsonl→columnar
  // lifecycle every 100 TB estate runs nightly. The gate fragments
  // lineitem across 64 graft-json files, tiers to parquet, and
  // aggregates the parquet tier; the oracle aggregates the source table.
  private val q167 = GQuery(
    "q167_format_tiering",
    "hot-jsonl → warm-parquet tiering via stats-sized compaction",
    (s, d) => {
      import s.implicits._
      val hot = "/tmp/graft_tier/lineitem_hot"
      val warm = "/tmp/graft_tier/lineitem_warm"
      Tables(s, d, "lineitem")
        .select($"l_orderkey", $"l_returnflag", $"l_quantity")
        .repartition(64) // the small-file debris of streaming ingest
        .write.format("graft-json").mode("overwrite").save(hot)
      graft.api.TrainingData.compactLayout(s, hot, warm,
        targetFileBytes = 64L << 20, format = "graft-json",
        schema = "l_orderkey BIGINT, l_returnflag STRING, l_quantity DOUBLE")
      // the warm tier re-lands as parquet (columnar) for scan-heavy reads
      s.read.format("graft-json")
        .schema("l_orderkey BIGINT, l_returnflag STRING, l_quantity DOUBLE")
        .load(warm)
        .write.mode("overwrite").parquet(warm + "_pq")
      s.read.parquet(warm + "_pq")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("qty"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                   round(sum(l_quantity), 2) AS qty
            FROM lineitem
            GROUP BY l_returnflag
            ORDER BY l_returnflag"""))

  // ---------------------------------------------------------------- q169
  // Semantic diff between two table VERSIONS: full-outer-join the pinned
  // snapshots on the row key and classify added/removed/unchanged — the
  // "what changed between yesterday and today" query the commit log makes
  // cheap (each side reads only its snapshot's files; for adjacent
  // versions the delta side can use changesSinceVersion instead). The
  // gate diffs version 0 (keys < 10) against version 1 (all 25) and must
  // see exactly 15 'added' and 10 'unchanged'.
  private val q169 = GQuery(
    "q169_version_diff",
    "row-level diff of two pinned table versions (added/removed/unchanged)",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/nation_diff"
      val nation = Tables(s, d, "nation").select($"n_nationkey", $"n_name", $"n_regionkey")
      nation.filter($"n_nationkey" < 10)
        .write.format("graft-json").mode("overwrite").save(dir) // version 0
      nation.filter($"n_nationkey" >= 10)
        .write.format("graft-json").mode("append").save(dir)    // version 1
      val schema = "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT"
      val v0 = s.read.format("graft-json").schema(schema)
        .option("versionAsOf", "0").load(dir).select($"n_nationkey".as("k0"))
      val v1 = s.read.format("graft-json").schema(schema)
        .option("versionAsOf", "1").load(dir).select($"n_nationkey".as("k1"))
      v0.join(v1, $"k0" === $"k1", "full_outer")
        .select(
          coalesce($"k0", $"k1").as("n_nationkey"),
          when($"k0".isNull, "added")
            .when($"k1".isNull, "removed")
            .otherwise("unchanged").as("change"))
        .groupBy($"change")
        .agg(count(lit(1)).as("n"))
        .orderBy($"change")
    },
    Some("""SELECT CASE WHEN n_nationkey >= 10 THEN 'added' ELSE 'unchanged' END AS change,
                   CAST(count(*) AS BIGINT) AS n
            FROM nation
            GROUP BY 1
            ORDER BY change"""))

  // ---------------------------------------------------------------- q170
  // Copy-on-write DELETE (TrainingData.deleteWhere, commit-log protocol
  // v2): rows matching the predicate are removed by rewriting ONLY the
  // files that contain them; the rewrites and the `r` actions retiring
  // the originals publish in ONE atomic log entry (docs/TABLE_FORMAT.md).
  // The gate clusters the writes by return flag so the stats sidecars
  // refute the predicate for most files — phase 1's pushed predicate
  // never reads them, and their file names survive the delete untouched
  // (DeleteCowSpec pins that inverse). The oracle applies SQL DELETE
  // semantics (drop rows where the predicate is TRUE; null keeps).
  private val q170 = GQuery(
    "q170_delete_cow",
    "copy-on-write DELETE: rewrite only matching files, atomic add+remove commit",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/lineitem_del"
      val li = Tables(s, d, "lineitem")
        .select($"l_orderkey", $"l_quantity", $"l_returnflag")
      li.filter($"l_returnflag" === "R")
        .write.format("graft-json").mode("overwrite").save(dir) // version 0
      li.filter($"l_returnflag" =!= "R")
        .write.format("graft-json").mode("append").save(dir)    // version 1
      graft.api.TrainingData.deleteWhere(s, dir,
        "l_orderkey BIGINT, l_quantity DOUBLE, l_returnflag STRING",
        "l_returnflag = 'R' AND l_quantity > 40.0")
      s.read.format("graft-json")
        .schema("l_orderkey BIGINT, l_quantity DOUBLE, l_returnflag STRING")
        .load(dir)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("qty"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                   round(sum(l_quantity), 2) AS qty
            FROM lineitem
            WHERE NOT (l_returnflag = 'R' AND l_quantity > 40.0)
            GROUP BY l_returnflag
            ORDER BY l_returnflag"""))

  // ---------------------------------------------------------------- q171
  // Copy-on-write UPDATE (TrainingData.updateWhere): matched rows get
  // their SET expressions evaluated against the OLD row (standard UPDATE
  // semantics — the set can reference the very columns it replaces);
  // unmatched rows in rewritten files and all untouched files survive
  // byte-for-byte. Same v2 atomic add+remove commit as q170.
  private val q171 = GQuery(
    "q171_update_cow",
    "copy-on-write UPDATE: OLD-row SET semantics over stats-pruned rewrites",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/lineitem_upd"
      val li = Tables(s, d, "lineitem")
        .select($"l_orderkey", $"l_quantity", $"l_discount", $"l_returnflag")
      li.filter($"l_returnflag" === "A")
        .write.format("graft-json").mode("overwrite").save(dir) // version 0
      li.filter($"l_returnflag" =!= "A")
        .write.format("graft-json").mode("append").save(dir)    // version 1
      graft.api.TrainingData.updateWhere(s, dir,
        "l_orderkey BIGINT, l_quantity DOUBLE, l_discount DOUBLE, l_returnflag STRING",
        "l_returnflag = 'A' AND l_quantity >= 45.0",
        Map("l_discount" -> "least(l_discount + 0.05, 0.1)",
            "l_quantity" -> "l_quantity - l_discount * 10.0"))
      s.read.format("graft-json")
        .schema("l_orderkey BIGINT, l_quantity DOUBLE, l_discount DOUBLE, l_returnflag STRING")
        .load(dir)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum($"l_quantity"), 2).as("qty"),
          round(sum($"l_discount"), 2).as("disc"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                   round(sum(CASE WHEN l_returnflag = 'A' AND l_quantity >= 45.0
                                  THEN l_quantity - l_discount * 10.0
                                  ELSE l_quantity END), 2) AS qty,
                   round(sum(CASE WHEN l_returnflag = 'A' AND l_quantity >= 45.0
                                  THEN least(l_discount + 0.05, 0.1)
                                  ELSE l_discount END), 2) AS disc
            FROM lineitem
            GROUP BY l_returnflag
            ORDER BY l_returnflag"""))

  // ---------------------------------------------------------------- q179
  // Streaming UPSERT into a graft table — the Delta "streaming merge"
  // pattern: each micro-batch runs TrainingData.upsert, whose delete
  // phase is JOIN-SHAPED: the batch's keys stay a DataFrame end to end
  // (no driver collect, no IN-list SQL — the r8 verdict's scale-killer).
  // Candidate discovery pushes only the keys' min/max bounds into the
  // scan (2 scalars of driver traffic) and left-semi joins the batch;
  // the rewrite anti-joins it. Idempotent under batch replay (the delete
  // makes the re-append converge), exactly-once in the final state. The
  // feed drains with AvailableNow over byte-window micro-batches.
  private val q179 = GQuery(
    "q179_stream_merge_cow",
    "foreachBatch streaming upsert (join-shaped COW merge per micro-batch)",
    (s, d) => {
      import s.implicits._
      val table = "/tmp/graft_tt/supplier_merge"
      val feed = "/tmp/graft_tt/supplier_merge_feed"
      val schema = "s_suppkey BIGINT, s_nationkey BIGINT, s_acctbal DOUBLE"
      // cast to the DDL's types up front: schema tracking refuses an
      // append whose types drift from what the base write recorded
      val sup = Tables(s, d, "supplier")
        .select($"s_suppkey", $"s_nationkey".cast("long").as("s_nationkey"),
          $"s_acctbal")
      sup.write.format("graft-json").mode("overwrite").save(table) // base state
      sup.filter($"s_suppkey" % 3 === 0)
        .withColumn("s_acctbal", $"s_acctbal" + 1000.0)
        .write.format("graft-json").mode("overwrite").save(feed)   // update feed
      val q = s.readStream.format("graft-json").schema(schema)
        .option("maxbytespertrigger", triggerBytes(feed, 8192)) // ~4 micro-batches at any SF
        .load(feed)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          graft.api.TrainingData.upsert(s, table, schema, b, Seq("s_suppkey"))
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.format("graft-json").schema(schema).load(table)
        .groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n"), round(sum($"s_acctbal"), 2).as("bal"))
        .orderBy($"s_nationkey")
    },
    Some("""SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
                   round(sum(CASE WHEN s_suppkey % 3 = 0 THEN s_acctbal + 1000.0
                                  ELSE s_acctbal END), 2) AS bal
            FROM supplier
            GROUP BY s_nationkey
            ORDER BY s_nationkey"""))

  // ---------------------------------------------------------------- q182
  // Row provenance → ingest-batch attribution: `withFilePath` stamps each
  // row's source file and the commit log knows which VERSION added each
  // file — joining the two answers "which ingest batch produced these
  // rows" (the first question an ops on-call asks about a bad record).
  // The file→version map is log-sized (driver-side parse, broadcast);
  // rows never carry more than the 8-byte-ish file reference they already
  // have. Oracle: the batches were split on n_nationkey < 10, so the
  // version is derivable from the data.
  private val q182 = GQuery(
    "q182_provenance_versions",
    "rows attributed to their ingest commit via _graft_file x commit log",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/nation_prov"
      val nation = Tables(s, d, "nation").select($"n_nationkey", $"n_name", $"n_regionkey")
      nation.filter($"n_nationkey" < 10)
        .write.format("graft-json").mode("overwrite").save(dir) // version 0
      nation.filter($"n_nationkey" >= 10)
        .write.format("graft-json").mode("append").save(dir)    // version 1
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      val log = graft.spark.GraftCommitLog
      val fileToVersion = log.versions(fs, root).flatMap { v =>
        log.entryActions(fs, root, v).filter(_.add).map(a => (a.path, v))
      }.groupBy(_._1).map { case (f, vs) => (f, vs.map(_._2).min) }.toSeq
      val vmap = fileToVersion.toDF("f", "version")
      s.read.format("graft-json")
        .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT, _graft_file STRING")
        .option("withfilepath", "true")
        .load(dir)
        .join(broadcast(vmap), $"_graft_file" === $"f")
        .groupBy($"version")
        .agg(count(lit(1)).as("n"),
          min($"n_nationkey").as("min_key"), max($"n_nationkey").as("max_key"))
        .orderBy($"version")
    },
    Some("""SELECT CAST(CASE WHEN n_nationkey < 10 THEN 0 ELSE 1 END AS BIGINT) AS version,
                   CAST(count(*) AS BIGINT) AS n,
                   min(n_nationkey) AS min_key, max(n_nationkey) AS max_key
            FROM nation
            GROUP BY 1
            ORDER BY version"""))

  // ---------------------------------------------------------------- q183
  // In-place OPTIMIZE (TrainingData.optimizeTable): the nightly pass that
  // turns streaming-ingest small-file debris into few stats-sized,
  // range-clustered files WITHOUT moving the table — adds + removes
  // publish in one atomic v2 entry, so concurrent pinned readers never
  // see a half-compacted directory (compactLayout's new-directory answer
  // forces a root switch; this is the Delta OPTIMIZE shape). The gate
  // fragments lineitem across 64 files in two commits, optimizes with
  // l_orderkey clustering, and runs a RANGE-filtered aggregate that the
  // freshly-tight sidecar ranges prune; the oracle filters the source.
  private val q183 = GQuery(
    "q183_optimize_inplace",
    "atomic in-place OPTIMIZE with range clustering (fragments -> tight files)",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/lineitem_opt"
      val schema = "l_orderkey BIGINT, l_quantity DOUBLE, l_returnflag STRING"
      val li = Tables(s, d, "lineitem")
        .select($"l_orderkey", $"l_quantity", $"l_returnflag")
      li.filter($"l_orderkey" % 2 === 0)
        .repartition(32).write.format("graft-json").mode("overwrite").save(dir)
      li.filter($"l_orderkey" % 2 === 1)
        .repartition(32).write.format("graft-json").mode("append").save(dir)
      graft.api.TrainingData.optimizeTable(s, dir, schema,
        targetFileBytes = 2L << 20, clusterBy = Seq("l_orderkey"))
      s.read.format("graft-json").schema(schema).load(dir)
        .filter($"l_orderkey".between(1000L, 3000L))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("qty"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                   round(sum(l_quantity), 2) AS qty
            FROM lineitem
            WHERE l_orderkey BETWEEN 1000 AND 3000
            GROUP BY l_returnflag
            ORDER BY l_returnflag"""))

  // ---------------------------------------------------------------- q184
  // Write-time CHECK constraints (`option("check", ...)`, the Delta
  // table-constraint shape): every row the sink accepts must satisfy the
  // predicate — a violating row fails the JOB, and the atomic-rename
  // protocol guarantees the failed job published NOTHING, so the table
  // can never hold a constraint-violating row (the invariant a curated
  // corpus needs from every ingest path, batch and streaming alike).
  // The gate writes a conforming slice under a real constraint, proves a
  // violating append changes nothing, and aggregates the table; the
  // oracle aggregates the conforming source rows.
  private val q184 = GQuery(
    "q184_check_constraints",
    "write-time CHECK constraint: violating jobs publish nothing",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/orders_checked"
      val schema = "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING"
      val orders = Tables(s, d, "orders")
        .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
      val check = "o_totalprice > 0.0 AND length(o_orderpriority) BETWEEN 1 AND 15"
      orders.filter($"o_orderkey" % 2 === 0)
        .write.format("graft-json").option("check", check)
        .mode("overwrite").save(dir)
      // a violating batch must fail and publish NOTHING
      try {
        orders.filter($"o_orderkey" % 2 === 1)
          .withColumn("o_totalprice",
            when($"o_orderkey" % 1000 === 1, -1.0).otherwise($"o_totalprice"))
          .write.format("graft-json").option("check", check)
          .mode("append").save(dir)
        throw new IllegalStateException("violating write unexpectedly succeeded")
      } catch {
        case _: IllegalStateException => throw new IllegalStateException(
          "violating write unexpectedly succeeded")
        case _: Exception => () // expected: CHECK violation fails the job
      }
      s.read.format("graft-json").schema(schema).load(dir)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"))
        .orderBy($"o_orderpriority")
    },
    Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            WHERE o_orderkey % 2 = 0
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority"""))

  // ---------------------------------------------------------------- q188
  // Dead-letter routing — the production ingest topology for dirty
  // feeds: ONE permissive read (badrecords=keep) splits valid rows into
  // the clean table and captured corrupt lines into a DLQ table, both
  // through the graft sink (each a committed, time-travelable table).
  // Unlike q62 (which just counts corrupt rows), the corrupt ORIGINALS
  // are preserved byte-for-byte for replay after the producer is fixed.
  // The gate plants 3 garbage lines among nation rows; the clean
  // aggregate must match the source and the DLQ exactly the 3 lines.
  private val q188 = GQuery(
    "q188_dead_letter_split",
    "permissive ingest split: valid rows -> table, corrupt originals -> DLQ",
    (s, d) => {
      import s.implicits._
      val feed = "/tmp/graft_tt/nation_dirty"
      val clean = "/tmp/graft_tt/nation_clean"
      val dlq = "/tmp/graft_tt/nation_dlq"
      Tables(s, d, "nation").select($"n_nationkey", $"n_name", $"n_regionkey")
        .coalesce(1).write.format("graft-json").mode("overwrite").save(feed)
      val garbage = Seq("{broken", "not json at all", "[1,2,}")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(feed, "garbage.jsonl"),
        garbage.mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // rawlisting: the FEED is a producer drop-directory, not a curated
      // table — ingest must read whatever landed on disk (the planted
      // garbage arrives out-of-band, exactly like a dirty producer), not
      // the committed snapshot (round-13 log-first default)
      val read = s.read.format("graft-json")
        .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT, _corrupt_record STRING")
        .option("badrecords", "keep")
        .option("rawlisting", "true")
        .load(feed)
      read.filter($"_corrupt_record".isNull)
        .drop("_corrupt_record")
        .write.format("graft-json").mode("overwrite").save(clean)
      read.filter($"_corrupt_record".isNotNull)
        .select($"_corrupt_record".as("raw"))
        .write.format("graft-json").mode("overwrite").save(dlq)
      val perRegion = s.read.format("graft-json")
        .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
        .load(clean)
        .groupBy($"n_regionkey".cast("string").as("bucket"))
        .agg(count(lit(1)).as("n"))
      val dlqCount = s.read.format("graft-json").schema("raw STRING").load(dlq)
        .agg(count(lit(1)).as("n")).select(lit("__dlq__").as("bucket"), $"n")
      perRegion.unionByName(dlqCount).orderBy($"bucket")
    },
    Some("""SELECT bucket, n FROM (
              SELECT CAST(n_regionkey AS VARCHAR) AS bucket,
                     CAST(count(*) AS BIGINT) AS n
              FROM nation GROUP BY n_regionkey
              UNION ALL SELECT '__dlq__', CAST(3 AS BIGINT))
            ORDER BY bucket"""))

  // ---------------------------------------------------------------- q189
  // Row-level CDC between two pinned versions — q169 counted the diff;
  // downstream SYNC consumers need the rows: after a COW UPDATE, joining
  // snapshot v and v+1 on the key classifies every row as
  // updated (old+new values) or unchanged — the change feed a replica
  // applies without re-reading the table. Pinned reads make this exact
  // even while further appends land.
  private val q189 = GQuery(
    "q189_cdc_row_changes",
    "row-level change feed from two pinned snapshots after a COW update",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/supplier_cdc"
      val schema = "s_suppkey BIGINT, s_acctbal DOUBLE"
      Tables(s, d, "supplier").select($"s_suppkey", $"s_acctbal")
        .write.format("graft-json").mode("overwrite").save(dir) // version 0
      graft.api.TrainingData.updateWhere(s, dir, schema,
        "s_suppkey % 5 = 0", Map("s_acctbal" -> "s_acctbal + 500.0"),
        retainHistory = true)                                    // version 1
      val v0 = s.read.format("graft-json").schema(schema)
        .option("versionAsOf", "0").load(dir)
        .select($"s_suppkey", $"s_acctbal".as("old_bal"))
      val v1 = s.read.format("graft-json").schema(schema)
        .option("versionAsOf", "1").load(dir)
        .select($"s_suppkey", $"s_acctbal".as("new_bal"))
      v0.join(v1, "s_suppkey")
        .select($"s_suppkey",
          when($"old_bal" === $"new_bal", "unchanged").otherwise("updated").as("change"),
          round($"old_bal", 2).as("old_bal"), round($"new_bal", 2).as("new_bal"))
        .filter($"change" === "updated")
        .orderBy($"s_suppkey")
    },
    Some("""SELECT s_suppkey, 'updated' AS change,
                   round(s_acctbal, 2) AS old_bal,
                   round(s_acctbal + 500.0, 2) AS new_bal
            FROM supplier
            WHERE s_suppkey % 5 = 0
            ORDER BY s_suppkey"""))

  // ---------------------------------------------------------------- q190
  // In-place OPTIMIZE through the Z-ORDER path: multi-column clustering
  // means filters on EITHER column prune files through the sidecar
  // ranges after the rewrite (a linear sort gives one tight column and
  // useless full-span ranges on the rest). Same atomic add+remove commit
  // as q183; the gate filters on the SECOND z-order column, which a
  // single-column clustering would not help.
  private val q190 = GQuery(
    "q190_optimize_zorder",
    "in-place OPTIMIZE with multi-column z-order clustering",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/orders_zopt"
      val schema = "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE"
      Tables(s, d, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .repartition(48)
        .write.format("graft-json").mode("overwrite").save(dir)
      graft.api.TrainingData.optimizeTable(s, dir, schema,
        targetFileBytes = 1L << 20,
        clusterBy = Seq("o_orderkey", "o_custkey"), zorderBits = 6)
      s.read.format("graft-json").schema(schema).load(dir)
        .filter($"o_custkey".between(100L, 400L))
        .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            WHERE o_custkey BETWEEN 100 AND 400"""))

  // ---------------------------------------------------------------- q193
  // Streaming enrichment through the NATIVE as-of operator: each
  // micro-batch of purchases as-of joins the static click history inside
  // foreachBatch — the custom operator composes with Structured
  // Streaming exactly like a built-in join (its strategy plans inside
  // the batch's own query execution). Results land in a graft sink
  // table; the oracle is q08's (the stream drains the same purchases).
  private val q193 = GQuery(
    "q193_stream_asof_enrich",
    "micro-batch as-of enrichment via the native operator in foreachBatch",
    (s, d) => {
      import s.implicits._
      val feed = "/tmp/graft_tt/purchase_feed"
      val out = "/tmp/graft_tt/purchase_enriched"
      val ev = Tables(s, d, "events")
      // micros on the wire: timestamps ride the JSONL feed as BIGINT
      // (the operator takes Long-backed times directly)
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"))
      ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"))
        .write.format("graft-json").mode("overwrite").save(feed)
      val q = s.readStream.format("graft-json")
        .schema("event_id BIGINT, user_id BIGINT, ts_us BIGINT")
        .option("maxbytespertrigger", triggerBytes(feed, 65536)) // ~4 micro-batches at any SF
        .load(feed)
        .writeStream
        .foreachBatch { (b: DataFrame, epoch: Long) =>
          graft.plans.AsOfJoin.asofJoin(b, clicks,
            on = Seq("user_id"), leftTimeCol = "ts_us", rightTimeCol = "ts_us",
            rightTiebreakCols = Seq("event_id"))
            .select($"event_id".as("purchase_id"),
              coalesce($"right_event_id", lit(-1L)).as("last_click_id"))
            .write.format("graft-json")
            .mode(if (epoch == 0) "overwrite" else "append").save(out)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.format("graft-json")
        .schema("purchase_id BIGINT, last_click_id BIGINT")
        .load(out)
        .orderBy($"purchase_id")
    },
    Some("""SELECT purchase_id, coalesce(c_id, -1) AS last_click_id FROM (
              SELECT p.event_id AS purchase_id, c.event_id AS c_id,
                     row_number() OVER (PARTITION BY p.event_id
                                        ORDER BY c.ts DESC, c.event_id DESC) AS rn
              FROM (SELECT * FROM events WHERE event_type = 'purchase') p
              LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
                ON c.user_id = p.user_id AND c.ts <= p.ts) t
            WHERE rn = 1
            ORDER BY purchase_id"""))

  // ---------------------------------------------------------------- q194
  // Time-range data skipping (round-11 temporal sidecar lanes): events
  // re-land as day-clustered JSONL files whose sidecars carry micros
  // min/max, and a time-window aggregate prunes every file outside the
  // window at PLANNING time — the predicate shape every time-series
  // corpus actually queries by. clusterForSkipping on ts gives the
  // disjoint ranges; the oracle windows the source parquet.
  private val q194 = GQuery(
    "q194_time_range_skipping",
    "time-window aggregate over day-clustered files (temporal sidecar pruning)",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/events_by_time"
      val ev = Tables(s, d, "events")
        .select($"event_id", $"ts", $"event_type", $"value")
      graft.api.TrainingData.clusterForSkipping(ev, 8, "ts")
        .write.format("graft-json").mode("overwrite").save(dir)
      val lo = ev.agg(min($"ts")).head.getTimestamp(0).toInstant
      val cut = lo.plusSeconds(6 * 3600) // a 6-hour window from the start
      s.read.format("graft-json")
        .schema("event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE")
        .load(dir)
        .filter($"ts" < lit(java.sql.Timestamp.from(cut)))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   round(sum(value), 2) AS total
            FROM events
            WHERE ts < (SELECT min(ts) FROM events) + INTERVAL 6 HOUR
            GROUP BY event_type
            ORDER BY event_type"""))

  // ---------------------------------------------------------------- q195
  // Commit-log checkpointing (the Delta _last_checkpoint shape): 13
  // commits at checkpoint interval 5 leave checkpoints at v5 and v10;
  // the gate then POISONS every raw entry below v10 and reads the latest
  // and a v11 pin anyway — the reads can only succeed by seeding from
  // the checkpoint and folding the suffix, which is exactly the
  // O(suffix)-not-O(#commits) planning property a per-micro-batch
  // streaming upsert (q179's cadence) needs at month scale. The final
  // COW delete (v12) also proves removes fold exactly ACROSS the
  // checkpoint boundary.
  private val q195 = GQuery(
    "q195_log_checkpoint",
    "checkpointed log: poisoned pre-checkpoint entries, exact reads from checkpoint+suffix",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/log_ckpt"
      val schema = "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT"
      // cast to the DDL's types up front (schema tracking refuses drift)
      val nation = Tables(s, d, "nation")
        .select($"n_nationkey".cast("long").as("n_nationkey"), $"n_name",
          $"n_regionkey".cast("long").as("n_regionkey"))
      val hconf = s.sparkContext.hadoopConfiguration
      val key = graft.spark.GraftCommitLog.CheckpointIntervalKey
      val prior = hconf.get(key)
      hconf.setInt(key, 5)
      try {
        (0 to 11).foreach { i => // v0..v11: slice i = keys with mod 12 == i
          nation.filter($"n_nationkey" % 12 === i)
            .write.format("graft-json")
            .mode(if (i == 0) "overwrite" else "append").save(dir)
        }
        graft.api.TrainingData.deleteWhere(s, dir, schema,
          "n_nationkey % 5 = 0", retainHistory = true) // v12, crosses the ckpt
      } finally {
        if (prior == null) hconf.unset(key) else hconf.set(key, prior)
      }
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(hconf)
      val log = graft.spark.GraftCommitLog
      require(log.checkpointVersions(fs, root).contains(10L),
        "q195: expected an auto-checkpoint at v10 — the poisoning proof would be vacuous")
      log.versions(fs, root).filter(_ < 10L).foreach { v =>
        val p = new org.apache.hadoop.fs.Path(log.logDir(root), f"$v%020d")
        val out = fs.create(p, true)
        try out.write("#### poisoned ####\n".getBytes("UTF-8")) finally out.close()
      }
      def agg(v: Long, src: String) =
        s.read.format("graft-json").schema(schema)
          .option("versionAsOf", v.toString).load(dir)
          .groupBy($"n_regionkey")
          .agg(count(lit(1)).as("n"), sum($"n_nationkey").as("sk"))
          .select(lit(src).as("src"), $"n_regionkey", $"n", $"sk")
      agg(12L, "latest").unionAll(agg(11L, "pinned"))
        .orderBy($"src", $"n_regionkey")
    },
    Some("""SELECT 'latest' AS src, n_regionkey, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(n_nationkey) AS BIGINT) AS sk
            FROM nation WHERE n_nationkey % 5 <> 0
            GROUP BY n_regionkey
            UNION ALL
            SELECT 'pinned' AS src, n_regionkey, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(n_nationkey) AS BIGINT) AS sk
            FROM nation
            GROUP BY n_regionkey
            ORDER BY src, n_regionkey"""))

  // ---------------------------------------------------------------- q197
  // "Latest event per day" from MANIFESTS ALONE: events re-land
  // day-partitioned, the grouped MIN/MAX/COUNT battery groups on the
  // partition column (a per-file directory constant) and the temporal
  // bounds come from the sidecar 't' lanes — so the gate POISONS every
  // data file and the answers must still be exact, the zero-data-bytes
  // proof. At 100 TB this is the ops dashboard query ("how fresh is each
  // day's ingest?") answering from metadata instead of a full scan.
  private val q197 = GQuery(
    "q197_latest_event_per_day_metadata",
    "partition-grouped temporal battery answered from sidecars (poisoned-file proof)",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/events_daily_meta"
      Tables(s, d, "events").select($"event_id", $"ts", $"value")
        .withColumn("d", to_date($"ts"))
        .repartition(2)
        .write.format("graft-json").partitionBy("d").mode("overwrite").save(dir)
      // poison every data file with same-length garbage: only the
      // sidecar lanes + directory constants can answer the battery now
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).toArray.map(_.toString)
        .filter(_.endsWith(".jsonl")).foreach { f =>
          val fp = java.nio.file.Paths.get(f)
          val len = java.nio.file.Files.size(fp)
          java.nio.file.Files.write(fp,
            (("#" * (len.toInt - 1)) + "\n").getBytes("UTF-8"))
          java.nio.file.Files.deleteIfExists(
            fp.getParent.resolve("." + fp.getFileName + ".crc"))
        }
      s.read.format("graft-json")
        .schema("event_id BIGINT, ts TIMESTAMP, value DOUBLE, d DATE")
        .load(dir)
        .groupBy($"d")
        .agg(count(lit(1)).as("n"), max($"ts").as("last_ts"), min($"ts").as("first_ts"))
        .orderBy($"d")
    },
    Some("""SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n,
                   max(ts) AS last_ts, min(ts) AS first_ts
            FROM events
            GROUP BY 1
            ORDER BY d"""))

  // ---------------------------------------------------------------- q198
  // Schema evolution on a logged table (docs/TABLE_FORMAT.md "Schema
  // tracking"): v0 writes (s_suppkey, s_name), v1 appends a third column
  // behind option("mergeschema","true"), and BOTH reads are schemaless —
  // the latest read's (3-column, exactly-typed) shape can only come from
  // the commit log's recorded schema (sampling inference would type
  // nothing better than the JSON text), old rows surface the new column
  // as NULL, and the versionAsOf=0 pin still sees the ORIGINAL 2-column
  // schema (v0_cols proves it). At 100 TB this is the "add a quality
  // score to a year-old corpus without rewriting it" operation.
  private val q198 = GQuery(
    "q198_schema_evolution",
    "mergeschema append: log-recorded schema read, old-row nulls, versioned schema",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/schema_evo"
      val sup = Tables(s, d, "supplier")
      sup.filter($"s_suppkey" % 2 === 0)
        .select($"s_suppkey", $"s_name")
        .write.format("graft-json").mode("overwrite").save(dir)
      sup.filter($"s_suppkey" % 2 === 1)
        .select($"s_suppkey", $"s_name", $"s_acctbal")
        .write.format("graft-json").mode("append")
        .option("mergeschema", "true").save(dir)
      val v0 = s.read.format("graft-json").option("versionAsOf", "0").load(dir)
      s.read.format("graft-json").load(dir)
        .select($"s_suppkey", $"s_name", $"s_acctbal")
        .withColumn("v0_cols", lit(v0.columns.length))
        .withColumn("v0_rows", lit(v0.count()))
        .orderBy($"s_suppkey")
    },
    Some("""SELECT s_suppkey, s_name,
                   CASE WHEN s_suppkey % 2 = 1 THEN s_acctbal END AS s_acctbal,
                   2 AS v0_cols,
                   (SELECT CAST(count(*) AS BIGINT) FROM supplier
                    WHERE s_suppkey % 2 = 0) AS v0_rows
            FROM supplier
            ORDER BY s_suppkey"""))

  // ---------------------------------------------------------------- q199
  // Intra-file BLOCK skipping (the parquet row-group analog, docs/
  // TABLE_FORMAT.md "Stats sidecars"): events land SORTED in one file
  // with 64 KiB blocks, every block the filter cannot select is POISONED
  // with same-length garbage, and the filtered read must still be exact —
  // the proof that planning turned the pushed filter into exact surviving
  // byte ranges and the pruned ranges were never parsed. At 100 TB this
  // is what makes a selective filter on a sorted/z-ordered corpus read
  // MBs per file instead of the whole ~1 GB file.
  private val q199 = GQuery(
    "q199_block_skipping",
    "intra-file block pruning on a sorted file (poisoned-block proof)",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/block_skip"
      val ev = Tables(s, d, "events").select($"event_id", $"event_type", $"value")
      val maxId = ev.agg(max($"event_id")).head().getLong(0) // one scalar
      val cut = maxId / 10 // the filter window, scale-relative
      ev.repartition(1).sortWithinPartitions("event_id")
        .write.format("graft-json").mode("overwrite")
        .option("blockbytes", "4096").save(dir)
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      val dataFile = fs.listStatus(root).map(_.getPath)
        .filter(p => p.getName.endsWith(".jsonl") && !p.getName.startsWith("."))
        .head
      val len = fs.getFileStatus(dataFile).getLen
      val blocks = graft.spark.FileStats.load(fs, dataFile).get.validBlocks(len)
      require(blocks.length > 4, s"q199: expected many blocks, got ${blocks.length}")
      // poison every block the `event_id < cut` filter can never select
      // (margin of 2x so a block straddling the cut stays clean)
      val p = java.nio.file.Paths.get(dataFile.toUri)
      val bytes = java.nio.file.Files.readAllBytes(p)
      val victims = blocks.filter(_.cols("event_id").min.asInstanceOf[Long] >= 2 * cut)
      require(victims.nonEmpty, "q199: poisoning proof would be vacuous")
      victims.foreach { b =>
        java.util.Arrays.fill(bytes, b.start.toInt, b.end.toInt, '#'.toByte)
        bytes(b.end.toInt - 1) = '\n'.toByte
      }
      java.nio.file.Files.write(p, bytes)
      java.nio.file.Files.deleteIfExists(
        p.getParent.resolve("." + p.getFileName + ".crc"))
      s.read.format("graft-json")
        .schema("event_id BIGINT, event_type STRING, value DOUBLE")
        .load(dir)
        .filter($"event_id" < cut)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"event_id").as("sum_id"),
          min($"value").as("min_v"), max($"value").as("max_v"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(event_id) AS BIGINT) AS sum_id,
                   min(value) AS min_v, max(value) AS max_v
            FROM events
            WHERE event_id < (SELECT max(event_id) // 10 FROM events)
            GROUP BY event_type
            ORDER BY event_type"""))

  // ---------------------------------------------------------------- q200
  // Numeric type widening through the protocol (docs/TABLE_FORMAT.md
  // "Schema tracking"): v0 writes s_nationkey as INT, v1 appends it as
  // BIGINT — the recorded schema widens to the common wider type and the
  // schemaless read returns LONG for BOTH halves (text values re-parse
  // identically under the wider type; the oracle's CAST proves the
  // values and the widened column type in one hash compare).
  private val q200 = GQuery(
    "q200_type_widening",
    "int->long widening on append: recorded schema widens, reads stay exact",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/widen_gate"
      val sup = Tables(s, d, "supplier")
      sup.filter($"s_suppkey" % 2 === 0)
        .select($"s_suppkey", $"s_nationkey")
        .write.format("graft-json").mode("overwrite").save(dir)
      sup.filter($"s_suppkey" % 2 === 1)
        .select($"s_suppkey", $"s_nationkey".cast("long").as("s_nationkey"))
        .write.format("graft-json").mode("append").save(dir)
      s.read.format("graft-json").load(dir)
        .groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n"), sum($"s_suppkey").as("key_sum"))
        .orderBy($"s_nationkey")
    },
    Some("""SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(s_suppkey) AS BIGINT) AS key_sum
            FROM supplier
            GROUP BY 1
            ORDER BY s_nationkey"""))

  // ---------------------------------------------------------------- q202
  // ALTER TABLE add/drop column as SCHEMA-ONLY commit-log entries: the
  // drop is LOGICAL (no rewrite — the column's bytes now byte-skip, so
  // dropping makes reads faster), versionAsOf before the drop still
  // serves it (time-travel-correct), and the added column reads back
  // null on existing rows. The v0-pinned balance sum proves the dropped
  // column's DATA survived the metadata change.
  private val q202 = GQuery(
    "q202_alter_table",
    "schema-only ALTER add/drop column; logical drop with time-travel retention",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/alter_gate"
      Tables(s, d, "supplier")
        .select($"s_suppkey", $"s_name", $"s_acctbal")
        .write.format("graft-json").mode("overwrite").save(dir) // v0
      graft.api.TrainingData.alterTableDropColumn(s, dir, "s_acctbal") // v1
      graft.api.TrainingData.alterTableAddColumn(s, dir, "quality", "DOUBLE") // v2
      val v0 = s.read.format("graft-json").option("versionAsOf", "0").load(dir)
      val v0BalSum = math.round(
        v0.agg(sum($"s_acctbal")).head().getDouble(0) * 100.0) / 100.0
      s.read.format("graft-json").load(dir)
        .select($"s_suppkey", $"s_name", $"quality")
        .withColumn("v0_bal_sum", lit(v0BalSum))
        .orderBy($"s_suppkey")
    },
    Some("""SELECT s_suppkey, s_name, CAST(NULL AS DOUBLE) AS quality,
                   (SELECT round(sum(s_acctbal), 2) FROM supplier) AS v0_bal_sum
            FROM supplier
            ORDER BY s_suppkey"""))

  // ---------------------------------------------------------------- q203
  // option("snapshot","true") — log-mediated LATEST-snapshot reads: the
  // Delta-consistent mode without pinning a version number. The gate
  // plants BOTH hazards a raw listing is documented to see — a retained-
  // retired original (deleteWhere retainHistory=true) and a rogue
  // uncommitted file — and the snapshot read must see neither. At 100 TB
  // this is the read mode a training job uses against a corpus that
  // ingests and compacts concurrently.
  private val q203 = GQuery(
    "q203_snapshot_read",
    "log-mediated latest-snapshot read: rogue + retained-retired files invisible",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/snapshot_read"
      val ddl = "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT"
      Tables(s, d, "nation")
        .select($"n_nationkey".cast("long").as("n_nationkey"), $"n_name",
          $"n_regionkey".cast("long").as("n_regionkey"))
        .write.format("graft-json").mode("overwrite").save(dir) // v0
      // v1: COW delete with retainHistory — the retired originals stay on
      // disk, and a RAW listing read would still count their rows
      graft.api.TrainingData.deleteWhere(s, dir, ddl,
        "n_nationkey < 5", retainHistory = true)
      // a rogue uncommitted file (an in-flight writer / stray copy)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "part-rogue-00000.jsonl"),
        "{\"n_nationkey\":900,\"n_name\":\"ROGUE\",\"n_regionkey\":0}\n".getBytes("UTF-8"))
      s.read.format("graft-json").schema(ddl)
        .option("snapshot", "true").load(dir)
        .groupBy($"n_regionkey")
        .agg(count(lit(1)).as("n"), sum($"n_nationkey").as("sk"))
        .orderBy($"n_regionkey")
    },
    Some("""SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(n_nationkey) AS BIGINT) AS sk
            FROM nation
            WHERE n_nationkey >= 5
            GROUP BY n_regionkey
            ORDER BY n_regionkey"""))

  // ---------------------------------------------------------------- q204
  // Exact row provenance: option("withrowindex","true") stamps each
  // row's 0-based ordinal within its FILE — (file, index) addresses a
  // row for as long as the file lives (the deletion-vector address
  // space, and the "point at the exact bad record" ops primitive). The
  // sorted single-file write makes the ordinal independently derivable,
  // so the oracle pins the stamped values exactly.
  private val q204 = GQuery(
    "q204_row_provenance",
    "per-file row ordinals (withRowIndex): every 100th row, exactly addressed",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/row_prov"
      Tables(s, d, "documents").select($"doc_id", $"n_chars")
        .repartition(1).sortWithinPartitions("doc_id")
        .write.format("graft-json").mode("overwrite").save(dir)
      s.read.format("graft-json")
        .option("withrowindex", "true").load(dir)
        .filter($"_graft_row_index" % 100 === 0)
        .select($"_graft_row_index".as("idx"), $"doc_id", $"n_chars")
        .orderBy($"idx")
    },
    Some("""SELECT idx, doc_id, n_chars FROM (
              SELECT (row_number() OVER (ORDER BY doc_id)) - 1 AS idx,
                     doc_id, n_chars
              FROM documents)
            WHERE idx % 100 = 0
            ORDER BY idx"""))

  // ---------------------------------------------------------------- q205
  // Merge-on-read DELETE via deletion vectors (the Delta DV shape): two
  // successive deletes write per-file ordinal MASKS — zero data files are
  // rewritten (the gate asserts name+length+mtime fixed) — and the
  // snapshot read applies the cumulative masks exactly. At 100 TB this is
  // the difference between an O(matches) metadata commit and rewriting
  // terabytes of clean rows to drop a few bad ones.
  private val q205 = GQuery(
    "q205_deletion_vectors",
    "merge-on-read DELETE: cumulative per-file row masks, zero files rewritten",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/dv_gate"
      val ddl = "s_suppkey BIGINT, s_name STRING, s_acctbal DOUBLE, s_nationkey BIGINT"
      Tables(s, d, "supplier")
        .select($"s_suppkey".cast("long").as("s_suppkey"), $"s_name",
          $"s_acctbal", $"s_nationkey".cast("long").as("s_nationkey"))
        .write.format("graft-json").mode("overwrite").save(dir) // v0
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def dataFiles() = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
        .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
        .sortBy(_._1).toSeq
      val before = dataFiles()
      graft.api.TrainingData.deleteWhereDV(s, dir, ddl, "s_suppkey % 10 < 3")
      graft.api.TrainingData.deleteWhereDV(s, dir, ddl, "s_acctbal < 0")
      require(dataFiles() == before,
        "deletion-vector DELETE must not touch any data file")
      s.read.format("graft-json").schema(ddl)
        .option("snapshot", "true").load(dir)
        .groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n"), sum($"s_suppkey").as("key_sum"))
        .orderBy($"s_nationkey")
    },
    Some("""SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(s_suppkey) AS BIGINT) AS key_sum
            FROM supplier
            WHERE s_suppkey % 10 >= 3 AND s_acctbal >= 0
            GROUP BY 1
            ORDER BY s_nationkey"""))

  // ---------------------------------------------------------------- q206
  // REORG / APPLY (PURGE): materializeDeletes rewrites exactly the
  // vectored files without their masked rows and drops the vectors in one
  // atomic entry — restoring the scan fast paths (sidecar stats, whole-
  // file reads) the masks disabled. The raw-listing read at the end
  // proves the rows are PHYSICALLY gone, not just masked.
  private val q206 = GQuery(
    "q206_materialize_deletes",
    "purge deletion vectors: vectored files rewritten clean, masks retired",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/dv_purge"
      val ddl = "c_custkey BIGINT, c_mktsegment STRING, c_nationkey BIGINT"
      Tables(s, d, "customer")
        .select($"c_custkey".cast("long").as("c_custkey"), $"c_mktsegment",
          $"c_nationkey".cast("long").as("c_nationkey"))
        .write.format("graft-json").mode("overwrite").save(dir) // v0
      graft.api.TrainingData.deleteWhereDV(s, dir, ddl, "c_custkey % 7 = 0")
      val rewritten = graft.api.TrainingData.materializeDeletes(s, dir, ddl)
      require(rewritten.nonEmpty, "materializeDeletes rewrote nothing")
      // RAW listing (no snapshot/version option): the masked rows must be
      // physically absent from the live files
      s.read.format("graft-json").schema(ddl).load(dir)
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"), sum($"c_custkey").as("key_sum"))
        .orderBy($"c_mktsegment")
    },
    Some("""SELECT c_mktsegment,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(c_custkey) AS BIGINT) AS key_sum
            FROM customer
            WHERE c_custkey % 7 <> 0
            GROUP BY 1
            ORDER BY c_mktsegment"""))

  // ---------------------------------------------------------------- q207
  // Merge-on-read WITHOUT the read-side cliff: a deletion-vector snapshot
  // keeps the vectorized columnar path (masks drop inside the plate at
  // finishRow), keeps min/max file pruning (a mask only shrinks a file's
  // row set), and keeps the pushed COUNT(*) (sidecar base − mask
  // cardinality). The gate asserts the plan stayed columnar and that a
  // disjoint-range filter still pruned files — at 100 TB this is the
  // difference between a delete-heavy corpus reading at full speed and
  // falling to row-at-a-time whole-table scans until the next OPTIMIZE.
  private val q207 = GQuery(
    "q207_dv_vectorized_read",
    "deletion-vector snapshot stays vectorized + file-pruned + count-pushed",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/dv_vec"
      val ddl = "o_orderkey BIGINT, o_custkey BIGINT"
      Tables(s, d, "orders")
        .select($"o_orderkey".cast("long").as("o_orderkey"),
          $"o_custkey".cast("long").as("o_custkey"))
        .repartitionByRange(4, $"o_orderkey").sortWithinPartitions("o_orderkey")
        .write.format("graft-json").mode("overwrite").save(dir)
      graft.api.TrainingData.deleteWhereDV(s, dir, ddl, "o_orderkey % 5 = 0")
      val df = s.read.format("graft-json").schema(ddl)
        .option("snapshot", "true").load(dir)
      require(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        "deletion-vector snapshot fell off the vectorized path")
      // masked files still prune on sidecar min/max: a range filter keeps
      // only the files whose pre-mask range may match
      graft.spark.GraftScan.lastStatsPruned.set(-1)
      val hi = df.agg(max($"o_orderkey")).collect()(0).getLong(0)
      val maxKey = df.filter($"o_orderkey" > hi / 2)
        .agg(max($"o_orderkey")).collect()(0).getLong(0)
      require(graft.spark.GraftScan.lastStatsPruned.get >= 1,
        "masked files must still stats-prune on disjoint ranges")
      require(maxKey % 5 != 0, "pruned read resurrected a masked row")
      df.groupBy(($"o_orderkey" % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), sum($"o_custkey").as("ck_sum"))
        .orderBy($"bucket")
    },
    Some("""SELECT o_orderkey % 10 AS bucket, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(o_custkey) AS BIGINT) AS ck_sum
            FROM orders WHERE o_orderkey % 5 <> 0
            GROUP BY 1 ORDER BY bucket"""))

  // ---------------------------------------------------------------- q208
  // Row-level CHANGE DATA FEED across deletion-vector history (the Delta
  // CDF shape, net-effect semantics): a consumer that processed version
  // v applies exactly the returned diff — 'insert' rows from in-range
  // adds (under the latest masks) + 'delete' rows from the range's mask
  // DELTAS (pre-image read at v, O(changed rows), never a scan of
  // unchanged files). This is what used to be the loud `changesSince
  // refuses dv history` wall; COW rewrites still refuse (a rewrite moves
  // rows it didn't change — inexpressible without false changes).
  private val q208 = GQuery(
    "q208_dv_change_feed",
    "CDF across DV history: mask deltas as 'delete' rows, net adds as 'insert'",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/dv_cdf"
      val ddl = "n_nationkey BIGINT, n_name STRING"
      val nation = Tables(s, d, "nation")
        .select($"n_nationkey".cast("long").as("n_nationkey"), $"n_name")
      // v0: the first 15 nations — the consumer's processed snapshot
      nation.filter($"n_nationkey" < 15)
        .write.format("graft-json").mode("overwrite").save(dir)
      // v1: the rest arrive
      nation.filter($"n_nationkey" >= 15)
        .write.format("graft-json").mode("append").save(dir)
      // v2: a DV delete hits BOTH vintages
      graft.api.TrainingData.deleteWhereDV(s, dir, ddl, "n_nationkey % 4 = 1")
      graft.api.TrainingData.changeFeed(s, dir, ddl, sinceVersion = 0L)
        .orderBy($"_change_type", $"n_nationkey")
    },
    Some("""SELECT * FROM (
              SELECT n_nationkey, n_name, 'delete' AS _change_type
              FROM nation WHERE n_nationkey < 15 AND n_nationkey % 4 = 1
              UNION ALL
              SELECT n_nationkey, n_name, 'insert' AS _change_type
              FROM nation WHERE n_nationkey >= 15 AND n_nationkey % 4 <> 1)
            ORDER BY _change_type, n_nationkey"""))

  // ---------------------------------------------------------------- q209
  // timestampAsOf time travel: v5 entries record a commit-time line
  // (in-entry like Delta's InCommitTimestamps — file mtimes don't survive
  // copies), readers clamp monotonically (a skewed writer clock can never
  // reorder history) and resolve to the latest version at-or-before the
  // timestamp — out-of-range and expired history fail loudly. The gate
  // pins BETWEEN two shifted-clock commits: the later DV delete must be
  // invisible.
  private val q209 = GQuery(
    "q209_timestamp_travel",
    "timestampAsOf resolves between shifted-clock commits; later delete invisible",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/ts_travel"
      val ddl = "p_partkey BIGINT, p_brand STRING"
      val conf = s.sparkContext.hadoopConfiguration
      def at[A](ts: Long)(body: => A): A = {
        conf.setLong(graft.spark.GraftCommitLog.CommitTimestampKey, ts)
        try body
        finally conf.unset(graft.spark.GraftCommitLog.CommitTimestampKey)
      }
      at(1000000L) {
        Tables(s, d, "part")
          .select($"p_partkey".cast("long").as("p_partkey"), $"p_brand")
          .write.format("graft-json").mode("overwrite").save(dir)
      }
      at(2000000L) {
        graft.api.TrainingData.deleteWhereDV(s, dir, ddl, "p_partkey % 3 = 0")
      }
      s.read.format("graft-json").schema(ddl)
        .option("timestampasof", "1500000").load(dir)
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n"), sum($"p_partkey").as("pk_sum"))
        .orderBy($"p_brand")
    },
    Some("""SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(p_partkey) AS BIGINT) AS pk_sum
            FROM part GROUP BY 1 ORDER BY p_brand"""))

  // ---------------------------------------------------------------- q210
  // ALTER TABLE RENAME COLUMN via column mapping (the Delta shape,
  // name-based): the rename is a SCHEMA-ONLY commit — the physical key in
  // data files never changes — so zero data moves across a 100 TB
  // corpus, files written before AND after keep reading, and versionAsOf
  // pins each epoch's own names. The gate renames mid-history, appends
  // under the new name, and reads both sides.
  private val q210 = GQuery(
    "q210_rename_column",
    "column-mapping rename mid-history: both epochs read, zero data movement",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/col_rename"
      val customer = Tables(s, d, "customer")
        .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
      customer.filter($"c_custkey" < 500)
        .write.format("graft-json").mode("overwrite").save(dir) // v0
      graft.api.TrainingData.alterTableRenameColumn(s, dir, "c_acctbal", "balance") // v1
      customer.filter($"c_custkey" >= 500 && $"c_custkey" < 700)
        .toDF("c_custkey", "balance")
        .write.format("graft-json").mode("append").save(dir) // v2, new name
      val latest = s.read.format("graft-json")
        .schema("c_custkey BIGINT, balance DOUBLE").load(dir)
        .select(lit("latest").as("epoch"), $"c_custkey",
          round($"balance", 2).as("balance"))
      val v0 = s.read.format("graft-json")
        .schema("c_custkey BIGINT, c_acctbal DOUBLE")
        .option("versionasof", "0").load(dir)
        .select(lit("v0").as("epoch"), $"c_custkey",
          round($"c_acctbal", 2).as("balance"))
      latest.unionByName(v0).orderBy($"epoch", $"c_custkey")
    },
    Some("""SELECT * FROM (
              SELECT 'latest' AS epoch, c_custkey, round(c_acctbal, 2) AS balance
              FROM customer WHERE c_custkey < 700
              UNION ALL
              SELECT 'v0' AS epoch, c_custkey, round(c_acctbal, 2) AS balance
              FROM customer WHERE c_custkey < 500)
            ORDER BY epoch, c_custkey"""))

  // ---------------------------------------------------------------- q211
  // Auto-materialize dial (Delta's shape): deleteWhereDV(dvMaxRatio = x)
  // escalates files whose CUMULATIVE mask density would exceed x to a
  // COW rewrite of their post-delete survivors, committed in the SAME
  // atomic entry as the light files' vectors. At 100 TB this is the
  // policy that keeps near-dead files from dragging a mask through
  // every scan while sparse deletes stay O(matches) metadata. The gate
  // splits supplier into a dense-hit and a sparse-hit file and asserts
  // the mixed outcome landed atomically and reads exactly.
  private val q211 = GQuery(
    "q211_dv_auto_materialize",
    "dvMaxRatio: dense file escalates to COW, sparse file vectors, one atomic entry",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/dv_ratio"
      val ddl = "s_suppkey BIGINT, s_name STRING, s_nationkey BIGINT"
      Tables(s, d, "supplier")
        .select($"s_suppkey".cast("long").as("s_suppkey"), $"s_name",
          $"s_nationkey".cast("long").as("s_nationkey"))
        .repartitionByRange(2, $"s_suppkey").sortWithinPartitions("s_suppkey")
        .write.format("graft-json").mode("overwrite").save(dir) // v0
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val rootP = new org.apache.hadoop.fs.Path(dir)
      val v0 = graft.spark.GraftCommitLog.versions(fs, rootP).max
      // dense over the LOW half (~80% of its file at ANY scale factor),
      // sparse elsewhere — the half boundary is the range split point
      val hi = Tables(s, d, "supplier")
        .agg(max($"s_suppkey".cast("long"))).collect()(0).getLong(0)
      // pin WHICH file is the dense-hit one (the low key range) from its
      // sidecar min, so the assertions below verify the dial's DIRECTION —
      // "some file escalated" would also pass with the comparison inverted
      val pre = graft.spark.GraftCommitLog.liveStateAsOf(fs, rootP, v0).keySet
      require(pre.size == 2, s"expected 2 files at v0, got ${pre.size}")
      def minKey(n: String): Long =
        graft.spark.FileStats.load(fs, new org.apache.hadoop.fs.Path(rootP, n))
          .get.cols("s_suppkey").min.asInstanceOf[Number].longValue
      val Seq(densePath, sparsePath) = pre.toSeq.sortBy(minKey)
      graft.api.TrainingData.deleteWhereDV(s, dir, ddl,
        s"s_suppkey % 5 < 4 AND s_suppkey <= ${hi / 2} OR s_suppkey % 17 = 0",
        dvMaxRatio = 0.5)
      require(graft.spark.GraftCommitLog.versions(fs, rootP).max == v0 + 1,
        "escalation must land in ONE atomic entry")
      val state = graft.spark.GraftCommitLog.liveStateAsOf(fs, rootP, v0 + 1)
      require(!state.contains(densePath),
        s"dense-hit file $densePath must escalate to COW (leave the live set)")
      require(state.get(sparsePath).exists(_ != null),
        s"sparse-hit file $sparsePath must stay live with a deletion vector")
      val rewritten = state.keySet - sparsePath
      require(rewritten.nonEmpty && rewritten.forall(state(_) == null),
        "the COW rewrite's survivor file(s) must carry no vector")
      s.read.format("graft-json").schema(ddl)
        .option("snapshot", "true").load(dir)
        .groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n"), sum($"s_suppkey").as("key_sum"))
        .orderBy($"s_nationkey")
    },
    Some("""SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(s_suppkey) AS BIGINT) AS key_sum
            FROM supplier
            WHERE NOT (s_suppkey % 5 < 4 AND
                       s_suppkey <= (SELECT CAST(max(s_suppkey) AS BIGINT) // 2
                                     FROM supplier)
                       OR s_suppkey % 17 = 0)
            GROUP BY 1
            ORDER BY s_nationkey"""))

  // ---------------------------------------------------------------- q212
  // RESTORE TABLE (the Delta shape): one atomic METADATA-ONLY commit
  // rolls the table back to a prior version — files added since are
  // retired, deletion vectors detached (retire + re-pin in the same
  // entry), retired files re-pinned — with ALL intermediate history
  // still readable. At 100 TB this is the bad-ingest undo button: zero
  // data movement, O(files-touched) log actions.
  private val q212 = GQuery(
    "q212_restore_table",
    "restoreTable: post-restore snapshot equals the target version, history intact",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/restore"
      val ddl = "c_custkey BIGINT, c_acctbal DOUBLE"
      val customer = Tables(s, d, "customer")
        .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
      customer.filter($"c_custkey" < 800)
        .write.format("graft-json").mode("overwrite").save(dir) // v0
      customer.filter($"c_custkey" >= 800 && $"c_custkey" < 1000)
        .write.format("graft-json").mode("append").save(dir) // v1
      graft.api.TrainingData.deleteWhereDV(s, dir, ddl, "c_custkey % 7 = 0") // v2
      customer.filter($"c_custkey" >= 1000 && $"c_custkey" < 1100)
        .write.format("graft-json").mode("append").save(dir) // v3
      val rootP = new org.apache.hadoop.fs.Path(dir)
      val fs = rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
      val restored = graft.api.TrainingData.restoreTable(s, dir, 1L)
      require(restored == 4L, s"expected the restore to commit version 4, got $restored")
      require(graft.spark.GraftCommitLog.liveStateAsOf(fs, rootP, 4L) ==
        graft.spark.GraftCommitLog.liveStateAsOf(fs, rootP, 1L),
        "post-restore live state must equal the target version's")
      // intermediate history stays readable: v2 still sees the masked rows
      val v2n = s.read.format("graft-json").schema(ddl)
        .option("versionasof", "2").load(dir).count()
      val expectV2 = customer
        .filter($"c_custkey" < 1000 && !($"c_custkey" % 7 === 0)).count()
      require(v2n == expectV2, s"versionAsOf=2 after restore: $v2n rows, want $expectV2")
      // restoring to the state the table is already in is a no-op
      require(graft.api.TrainingData.restoreTable(s, dir, 1L) == -1L,
        "second restore to the same state must be a no-op")
      s.read.format("graft-json").schema(ddl)
        .option("snapshot", "true").load(dir)
        .select($"c_custkey", round($"c_acctbal", 2).as("balance"))
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey, round(c_acctbal, 2) AS balance
            FROM customer WHERE c_custkey < 1000
            ORDER BY c_custkey"""))

  // ---------------------------------------------------------------- q213
  // Avro joins the merge-on-read surface: deletion vectors mask by
  // whole-file record ordinal, updateWhereDV lands masks + updated rows
  // in one atomic entry through the avro sink's commit riders, and
  // pushed COUNT(*) answers block-header sums minus mask cardinality —
  // zero datum decodes. The binary format gets the same row-level
  // maintenance the text formats have.
  private val q213 = GQuery(
    "q213_avro_dv",
    "avro deletion vectors: DV delete + DV update, snapshot read exact",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/avro_dv"
      val ddl = "s_suppkey BIGINT, s_name STRING, s_nationkey BIGINT"
      Tables(s, d, "supplier")
        .select($"s_suppkey".cast("long").as("s_suppkey"), $"s_name",
          $"s_nationkey".cast("long").as("s_nationkey"))
        .repartitionByRange(2, $"s_suppkey").sortWithinPartitions("s_suppkey")
        .write.format("graft-avro").mode("overwrite").save(dir) // v0
      graft.api.TrainingData.deleteWhereDV(s, dir, ddl,
        "s_suppkey % 3 = 0", format = "graft-avro") // v1
      val rootP = new org.apache.hadoop.fs.Path(dir)
      val fs = rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
      val v1 = graft.spark.GraftCommitLog.versions(fs, rootP).max
      graft.api.TrainingData.updateWhereDV(s, dir, ddl, "s_suppkey % 5 = 1",
        Map("s_name" -> "concat(s_name, '*')"), format = "graft-avro") // v2
      require(graft.spark.GraftCommitLog.versions(fs, rootP).max == v1 + 1,
        "DV update must land masks + new rows in ONE atomic entry")
      val snap = s.read.format("graft-avro").schema(ddl)
        .option("snapshot", "true").load(dir)
      // pushed COUNT(*) under masks: block-header sums minus cardinality
      val expect = snap.collect().length.toLong
      require(snap.count() == expect,
        s"pushed COUNT(*) disagrees with the row read: ${snap.count()} vs $expect")
      snap.orderBy($"s_suppkey")
    },
    Some("""SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey,
                   CASE WHEN s_suppkey % 5 = 1 THEN s_name || '*' ELSE s_name END
                     AS s_name,
                   CAST(s_nationkey AS BIGINT) AS s_nationkey
            FROM supplier WHERE s_suppkey % 3 <> 0
            ORDER BY s_suppkey"""))

  // ---------------------------------------------------------------- q214
  // Scoped OPTIMIZE (the Delta bin-packing shape): smallFileBytes
  // compacts ONLY the small-file debris — right-sized files are never
  // re-read or re-written. At 100 TB this is the difference between
  // maintenance costing O(new debris) per pass and a full-table rewrite
  // every time. The gate lands one right-sized file plus small appends,
  // scopes the pass, and asserts the big file survived untouched.
  private val q214 = GQuery(
    "q214_optimize_scoped",
    "smallFileBytes bin-packing: debris compacts, right-sized files untouched",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/opt_scope"
      val ddl = "o_orderkey BIGINT, o_custkey BIGINT"
      val orders = Tables(s, d, "orders")
        .select($"o_orderkey".cast("long").as("o_orderkey"),
          $"o_custkey".cast("long").as("o_custkey"))
      orders.filter($"o_orderkey" <= 10000)
        .repartition(1).sortWithinPartitions("o_orderkey")
        .write.format("graft-json").mode("overwrite").save(dir) // v0: big
      val rootP = new org.apache.hadoop.fs.Path(dir)
      val fs = rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
      val bigFile = graft.spark.GraftCommitLog.liveStateAsOf(fs, rootP, 0L).keys.head
      val bigLen = fs.getFileStatus(
        new org.apache.hadoop.fs.Path(rootP, bigFile)).getLen
      orders.filter($"o_orderkey" > 10000 && $"o_orderkey" <= 11000)
        .repartition(1)
        .write.format("graft-json").mode("append").save(dir) // v1: debris
      orders.filter($"o_orderkey" > 11000 && $"o_orderkey" <= 12000)
        .repartition(1)
        .write.format("graft-json").mode("append").save(dir) // v2: debris
      val rewritten = graft.api.TrainingData.optimizeTable(s, dir, ddl,
        smallFileBytes = bigLen)
      require(rewritten.size == 2 && !rewritten.contains(bigFile),
        s"expected exactly the 2 debris files rewritten, got $rewritten")
      val after = graft.spark.GraftCommitLog.liveStateAsOf(fs, rootP,
        graft.spark.GraftCommitLog.versions(fs, rootP).max)
      require(after.contains(bigFile),
        "the right-sized file must stay live untouched")
      require(after.size == 2,
        s"debris must compact into one file, got ${after.size} live files")
      s.read.format("graft-json").schema(ddl)
        .option("snapshot", "true").load(dir)
        .groupBy(($"o_orderkey" % 7).as("g"))
        .agg(count(lit(1)).as("n"), sum($"o_orderkey").as("key_sum"))
        .orderBy($"g")
    },
    Some("""SELECT CAST(o_orderkey % 7 AS BIGINT) AS g,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(o_orderkey) AS BIGINT) AS key_sum
            FROM orders WHERE o_orderkey <= 12000
            GROUP BY 1 ORDER BY g"""))

  // ---------------------------------------------------------------- q215
  // DESCRIBE HISTORY (the Delta shape): one row per readable version —
  // resolved commit time, the operation (v6 tag or derived from the
  // entry's action shape), action counts. Driver-sized metadata reads
  // only; deterministic here via the per-commit timestamp override the
  // protocol provides for backfills.
  private val q215 = GQuery(
    "q215_table_history",
    "tableHistory: per-version operation/timestamp/action-count rows",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/history"
      val ddl = "c_custkey BIGINT, c_acctbal DOUBLE"
      val customer = Tables(s, d, "customer")
        .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
      val conf = s.sparkContext.hadoopConfiguration
      val tsKey = graft.spark.GraftCommitLog.CommitTimestampKey
      try {
        conf.setLong(tsKey, 1000L)
        customer.filter($"c_custkey" < 600).repartition(1)
          .write.format("graft-json").mode("overwrite").save(dir) // v0
        conf.setLong(tsKey, 2000L)
        customer.filter($"c_custkey" >= 600 && $"c_custkey" < 700).repartition(1)
          .write.format("graft-json").mode("append").save(dir) // v1
        conf.setLong(tsKey, 3000L)
        graft.api.TrainingData.deleteWhereDV(s, dir, ddl,
          "c_custkey >= 650") // v2: one vector on v1's file
        conf.setLong(tsKey, 4000L)
        graft.api.TrainingData.restoreTable(s, dir, 1L) // v3: detach = r+f
      } finally conf.unset(tsKey)
      graft.api.TrainingData.tableHistory(s, dir)
    },
    Some("""SELECT * FROM (VALUES
              (CAST(3 AS BIGINT), CAST(4000 AS BIGINT), 'restore 1',
               CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
              (CAST(2 AS BIGINT), CAST(3000 AS BIGINT), 'delete-vector',
               CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
              (CAST(1 AS BIGINT), CAST(2000 AS BIGINT), 'append',
               CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT)),
              (CAST(0 AS BIGINT), CAST(1000 AS BIGINT), 'append',
               CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT))
            ) AS t(version, ts_millis, operation, n_adds, n_removes, n_dvs, schema_recorded)
            ORDER BY version DESC"""))

  // ---------------------------------------------------------------- q216
  // Avro micro-batch streaming: followLog tails the commit log (only
  // committed files enter the stream, in commit order) with whole-file
  // admission — the ingest-bus tail for the binary interchange format.
  // A rogue uncommitted file proves discovery is log-mediated.
  private val q216 = GQuery(
    "q216_avro_streaming",
    "avro followLog stream: committed files only, all rows delivered",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/avro_stream"
      val ddl = "c_custkey BIGINT, c_acctbal DOUBLE"
      val customer = Tables(s, d, "customer")
        .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
      customer.filter($"c_custkey" < 500).repartition(2)
        .write.format("graft-avro").mode("overwrite").save(dir) // v0
      customer.filter($"c_custkey" >= 500 && $"c_custkey" < 800).repartition(1)
        .write.format("graft-avro").mode("append").save(dir) // v1
      val rootP = new org.apache.hadoop.fs.Path(dir)
      val fs = rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
      // rogue UNCOMMITTED avro file: raw listings would deliver it,
      // followLog must not
      val rogueSrc = fs.listStatus(rootP)
        .filter(st => st.isFile && !st.getPath.getName.startsWith(".")).head.getPath
      org.apache.hadoop.fs.FileUtil.copy(fs, rogueSrc, fs,
        new org.apache.hadoop.fs.Path(rootP, "rogue-copy.avro"), false, true,
        s.sparkContext.hadoopConfiguration)
      val ckpt = new org.apache.hadoop.fs.Path("/tmp/graft_tt/avro_stream_ckpt")
      fs.delete(ckpt, true) // fresh checkpoint: the table history restarted
      val q = s.readStream.format("graft-avro").schema(ddl)
        .option("followlog", "true").load(dir)
        .writeStream.format("memory").queryName("q216_avro_stream")
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("q216_avro_stream")
        .select($"c_custkey", round($"c_acctbal", 2).as("balance"))
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey, round(c_acctbal, 2) AS balance FROM customer
            WHERE c_custkey < 800 ORDER BY c_custkey"""))

  // ---------------------------------------------------------------- q217
  // Streamed per-file partition values (round 11): whole-file admission
  // knows each admitted file's path, so hive k=v values derive exactly
  // like the batch walk and ride the registry into streamed rows — the
  // loud refusal rail is gone. A user tailing a partitioned ingest
  // layout gets the partition column typed and filled, not an error.
  private val q217 = GQuery(
    "q217_stream_partition_values",
    "streaming a partitionBy layout serves the k=v column typed and exact",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/stream_partvals"
      val ddl = "c_custkey BIGINT, c_acctbal DOUBLE, segment STRING"
      Tables(s, d, "customer")
        .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal",
          $"c_mktsegment".as("segment"))
        .filter($"c_custkey" < 400)
        .repartition(2)
        .write.format("graft-json").option("partitionby", "segment")
        .mode("overwrite").save(dir)
      val ckpt = new org.apache.hadoop.fs.Path("/tmp/graft_tt/stream_partvals_ckpt")
      val fs = ckpt.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(ckpt, true) // fresh checkpoint each drive
      val q = s.readStream.format("graft-json").schema(ddl).load(dir)
        .writeStream.format("memory").queryName("q217_stream_pv")
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("q217_stream_pv")
        .select($"c_custkey", round($"c_acctbal", 2).as("balance"), $"segment")
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey, round(c_acctbal, 2) AS balance,
                   c_mktsegment AS segment
            FROM customer WHERE c_custkey < 400 ORDER BY c_custkey"""))

  // ---------------------------------------------------------------- q218
  // Masked avro files fan out across tasks (round 11, the q213 scale
  // cliff closed): the avro sink records sync-edge blocks in the stats
  // sidecar, so byte-range splits over a DV-masked file carry exact
  // starting ordinals — one 4 GB masked file reads on many cores, not
  // one. The gate pins >1 input partitions AND exact post-mask results.
  private val q218 = GQuery(
    "q218_avro_block_split",
    "DV-masked avro splits on recorded block edges with exact ordinals",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/avro_split"
      val ddl = "l_orderkey BIGINT, l_partkey BIGINT, l_quantity DOUBLE"
      Tables(s, d, "lineitem")
        .select($"l_orderkey".cast("long").as("l_orderkey"),
          $"l_partkey".cast("long").as("l_partkey"), $"l_quantity")
        .repartition(1)
        .write.format("graft-avro").mode("overwrite")
        .option("blockbytes", "65536").save(dir) // v0
      graft.api.TrainingData.deleteWhereDV(s, dir, ddl,
        "l_orderkey % 4 = 1", format = "graft-avro") // v1: mask
      val snap = s.read.format("graft-avro").schema(ddl)
        .option("snapshot", "true").option("maxsplitbytes", "262144").load(dir)
      require(snap.rdd.getNumPartitions > 1,
        s"masked avro file read as ${snap.rdd.getNumPartitions} partition(s) " +
          "— the block-edge parallelism split did not engage")
      snap.groupBy(($"l_orderkey" % 7).as("g"))
        .agg(count(lit(1)).as("n"), sum($"l_partkey").as("pk_sum"),
          round(sum($"l_quantity"), 2).as("qty_sum"))
        .orderBy($"g")
    },
    Some("""SELECT CAST(l_orderkey % 7 AS BIGINT) AS g,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(l_partkey) AS BIGINT) AS pk_sum,
                   round(sum(l_quantity), 2) AS qty_sum
            FROM lineitem WHERE l_orderkey % 4 <> 1
            GROUP BY 1 ORDER BY g"""))

  // ---------------------------------------------------------------- q219
  // SQL maintenance verbs (round 11, the Delta SQL shape): DESCRIBE
  // HISTORY / RESTORE / OPTIMIZE / VACUUM / DELETE / UPDATE over a
  // graft-logged table PATH, injected via SparkSessionExtensions
  // (GraftSqlParser) and routed to the TrainingData machinery — schema
  // and format resolve from the commit log, so a SQL-first user never
  // writes DataFrame code. The gate drives the whole lifecycle in SQL
  // and the oracle recomputes the surviving state relationally: the
  // final hash proves DELETE applied, the first UPDATE was RESTOREd
  // away, the second UPDATE applied, and OPTIMIZE/VACUUM changed nothing.
  private val q219 = GQuery(
    "q219_sql_maintenance",
    "SQL DELETE/UPDATE/RESTORE/OPTIMIZE/VACUUM/DESCRIBE HISTORY over a logged path",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/sql_maint"
      Tables(s, d, "customer")
        .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
        .filter($"c_custkey" < 800)
        .repartition(2)
        .write.format("graft-json").mode("overwrite").save(dir)    // v0
      s.sql(s"DELETE FROM '$dir' WHERE c_custkey % 5 = 0")          // v1
      s.sql(s"UPDATE '$dir' SET c_acctbal = c_acctbal + 1000 " +
        "WHERE c_custkey < 100")                                    // v2
      val hist = s.sql(s"DESCRIBE HISTORY '$dir'").collect()
      require(hist.map(_.getString(2)).toSeq ==
        Seq("append+delete-vector", "delete-vector", "append"),
        s"history ops: ${hist.map(_.getString(2)).mkString(", ")}")
      val rv = s.sql(s"RESTORE TABLE '$dir' TO VERSION AS OF 1")
        .collect().head.getLong(0)                                  // v3
      require(rv == 3L, s"restore committed $rv, expected 3")
      s.sql(s"UPDATE '$dir' SET c_acctbal = c_acctbal + 500 " +
        "WHERE c_custkey < 100")                                    // v4
      val opt = s.sql(s"OPTIMIZE '$dir'").collect().head.getLong(0) // v5
      require(opt > 0L, "OPTIMIZE must compact the masked files")
      // nothing is orphaned: every file is referenced by some version
      require(s.sql(s"VACUUM '$dir' DRY RUN").collect().isEmpty,
        "VACUUM must find no orphans")
      s.read.format("graft-json").schema("c_custkey BIGINT, c_acctbal DOUBLE")
        .option("snapshot", "true").load(dir)
        .select($"c_custkey", round($"c_acctbal", 2).as("balance"))
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey,
                   round(c_acctbal + CASE WHEN c_custkey < 100 THEN 500 ELSE 0 END, 2)
                     AS balance
            FROM customer
            WHERE c_custkey < 800 AND c_custkey % 5 <> 0
            ORDER BY c_custkey"""))

  // ---------------------------------------------------------------- q220
  // Avro aggregate pushdown (round 11): the binary lane joins the text
  // lanes' parse-folded MIN/MAX/COUNT/SUM battery machinery — grouped
  // batteries fold partial rows per partition (only the referenced
  // columns decode), and whole files with sidecar coverage answer from
  // METADATA (zero data bytes; AvroStatsSpec proves it on poisoned
  // files). At 100 TB a daily "rows/extrema per source" health check
  // over an avro ingest bus reads sidecars, not the bus.
  private val q220 = GQuery(
    "q220_avro_agg_pushdown",
    "avro MIN/MAX/COUNT/SUM battery: parse-folded partials + sidecar metadata answers",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/avro_agg"
      Tables(s, d, "orders")
        .select($"o_orderkey".cast("long").as("o_orderkey"),
          $"o_custkey".cast("long").as("o_custkey"),
          $"o_totalprice", $"o_orderpriority")
        .repartition(3)
        .write.format("graft-avro").mode("overwrite").save(dir)
      val snap = s.read.format("graft-avro")
        .schema("o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, " +
          "o_orderpriority STRING")
        .option("snapshot", "true").load(dir)
      // ungrouped battery: whole files + sidecars → metadata-only answers
      val total = snap.agg(
        count(lit(1)).as("n"), min($"o_orderkey").as("lo"),
        max($"o_orderkey").as("hi"), sum($"o_custkey").as("cust_sum"))
        .collect().head
      // grouped battery (data-column group key): parse-folded partials
      snap.groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"), min($"o_orderkey").as("lo"),
          max($"o_orderkey").as("hi"), sum($"o_custkey").as("cust_sum"),
          round(sum($"o_totalprice"), 2).as("price_sum"))
        .withColumn("grand_n", lit(total.getLong(0)))
        .withColumn("grand_lo", lit(total.getLong(1)))
        .withColumn("grand_hi", lit(total.getLong(2)))
        .withColumn("grand_cust_sum", lit(total.getLong(3)))
        .orderBy($"o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(min(o_orderkey) AS BIGINT) AS lo,
                   CAST(max(o_orderkey) AS BIGINT) AS hi,
                   CAST(sum(o_custkey) AS BIGINT) AS cust_sum,
                   round(sum(o_totalprice), 2) AS price_sum,
                   (SELECT CAST(count(*) AS BIGINT) FROM orders) AS grand_n,
                   (SELECT CAST(min(o_orderkey) AS BIGINT) FROM orders) AS grand_lo,
                   (SELECT CAST(max(o_orderkey) AS BIGINT) FROM orders) AS grand_hi,
                   (SELECT CAST(sum(o_custkey) AS BIGINT) FROM orders) AS grand_cust_sum
            FROM orders
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority"""))

  // ---------------------------------------------------------------- q221
  // DELETE FROM a CATALOG graft table — the STANDARD SQL form, planned
  // through Spark's DSv2 SupportsDelete hook (no path dialect, no API)
  // and landing as a merge-on-read deletion-vector commit. The condition
  // deliberately mixes a general scalar expression (modulo), an OR next
  // to an AND (precedence must survive the render→re-parse round trip),
  // and a string function — the exact shapes where Spark's own V2→V1
  // fallback was observed silently narrowing conditions; the strict V2
  // renderer handles them or refuses loudly.
  private val q221 = GQuery(
    "q221_sql_catalog_delete",
    "DELETE FROM catalog table (DSv2 SupportsDelete → deletion vectors)",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/cat_del"
      Tables(s, d, "customer")
        .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal",
          $"c_mktsegment")
        .filter($"c_custkey" < 900)
        .repartition(2)
        .write.format("graft-json").mode("overwrite").save(dir)
      s.sql("DROP TABLE IF EXISTS graft_cat_del")
      s.sql(s"""CREATE TABLE graft_cat_del
               |  (c_custkey BIGINT, c_acctbal DOUBLE, c_mktsegment STRING)
               |USING `graft-json` LOCATION '$dir'""".stripMargin)
      s.sql("""DELETE FROM graft_cat_del
              |WHERE (c_custkey % 7 = 0 OR c_acctbal < 0)
              |  AND startswith(c_mktsegment, 'BUILD')""".stripMargin)
      val out = s.read.format("graft-json")
        .schema("c_custkey BIGINT, c_acctbal DOUBLE, c_mktsegment STRING")
        .option("snapshot", "true").load(dir)
        .select($"c_custkey", round($"c_acctbal", 2).as("balance"),
          $"c_mktsegment")
        .orderBy($"c_custkey")
      out.collect() // materialize before dropping the catalog entry
      s.sql("DROP TABLE graft_cat_del")
      out
    },
    Some("""SELECT c_custkey, round(c_acctbal, 2) AS balance, c_mktsegment
            FROM customer
            WHERE c_custkey < 900
              AND NOT ((c_custkey % 7 = 0 OR c_acctbal < 0)
                       AND c_mktsegment LIKE 'BUILD%')
            ORDER BY c_custkey"""))

  // ---------------------------------------------------------------- q223
  // followLog streaming ACROSS a deletion-vector curation cycle (round
  // 12): the operational path a 100 TB curation pipeline actually runs —
  // a downstream consumer tails the corpus while the curator row-level
  // deletes (deleteWhereDV) and then purges (materializeDeletes). With
  // skipChangeCommits (the Delta dial), both change commits are skipped
  // WHOLE — the purge rewrite's adds are old rows and would double-
  // deliver — while appends before, between, and after flow exactly
  // once. The memory sink must equal the union of the appends; the
  // batch snapshot must show the curated (deleted) state.
  private val q223 = GQuery(
    "q223_stream_dv_curation_cycle",
    "followLog stream across deleteWhereDV → materializeDeletes: appends once, changes skipped",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/stream_dvcycle"
      val ddl = "c_custkey BIGINT, c_acctbal DOUBLE"
      val customer = Tables(s, d, "customer")
        .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
      customer.filter($"c_custkey" < 300).repartition(2)
        .write.format("graft-json").mode("overwrite").save(dir)      // v0
      val ckpt = new org.apache.hadoop.fs.Path("/tmp/graft_tt/stream_dvcycle_ckpt")
      val fs = ckpt.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(ckpt, true) // fresh checkpoint each drive
      val q = s.readStream.format("graft-json").schema(ddl)
        .option("followlog", "true").option("skipchangecommits", "true")
        .load(dir)
        .writeStream.format("memory").queryName("q223_stream_dvcycle")
        .option("checkpointLocation", ckpt.toString)
        .start()
      try {
        q.processAllAvailable() // v0 delivered
        customer.filter($"c_custkey" >= 300 && $"c_custkey" < 400)
          .repartition(1)
          .write.format("graft-json").mode("append").save(dir)       // v1
        q.processAllAvailable() // v1 delivered
        graft.api.TrainingData.deleteWhereDV(s, dir, ddl,
          "c_custkey % 3 = 0")                                       // v2: DV masks
        q.processAllAvailable() // change commit skipped whole
        graft.api.TrainingData.materializeDeletes(s, dir, ddl)       // v3: purge rewrite
        q.processAllAvailable() // adds are rewritten OLD rows: skipped whole
        customer.filter($"c_custkey" >= 400 && $"c_custkey" < 450)
          .repartition(1)
          .write.format("graft-json").mode("append").save(dir)       // v4
        q.processAllAvailable() // post-cycle append still flows
      } finally q.stop()
      // the batch snapshot sees the CURATED table...
      val curated = s.read.format("graft-json").schema(ddl)
        .option("snapshot", "true").load(dir)
      require(curated.filter($"c_custkey" % 3 === 0 && $"c_custkey" < 400)
        .count() == 0L, "snapshot must show the curation applied")
      // ...while the stream delivered every appended row exactly once
      s.table("q223_stream_dvcycle")
        .select($"c_custkey", round($"c_acctbal", 2).as("balance"))
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey, round(c_acctbal, 2) AS balance FROM customer
            WHERE c_custkey < 450 ORDER BY c_custkey"""))

  // ---------------------------------------------------------------- q229
  // Array-of-atomic reads: an embedding/tags-shaped corpus (ARRAY<LONG>
  // + ARRAY<STRING> columns with empty arrays, null arrays, and null
  // elements) must match DuckDB's read_json over the same file.
  // The gate asserts the scan reads rows (requireRowScan).
  private val q229 = GQuery(
    "q229_json_array_columnar_scan",
    "graft-json ARRAY columns (row scan): higher-order agg over array columns vs DuckDB",
    (s, d) => {
      ensureFixtures(s, d)
      val path = s"$fixtureDir/q229_arrays.jsonl"
      val nation = Tables(s, d, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect() // 25 rows: fixture generation, not a data path
      val content = nation.map { r =>
        val k = r.getAs[Number](0).longValue
        val name = r.getString(1)
        val reg = r.getAs[Number](2).longValue
        val votes = k % 5 match {
          case 0 => "null"                         // null array
          case 1 => "[]"                           // present, empty
          case 2 => s"[$k, null, ${k * 7 % 11}]"   // null element kept
          case _ => s"[$k, $reg, ${k * 3 % 13}, ${name.length}]"
        }
        val tags = k % 4 match {
          case 0 => "[]"
          case 1 => "null"
          case _ => s"""["$name", "r$reg"]"""
        }
        s"""{"n_nationkey": $k, "votes": $votes, "tags": $tags}"""
      }.mkString("", "\n", "\n")
      Files.write(Paths.get(path), content.getBytes(UTF_8))
      val df = s.read.format("graft-json")
        .schema("n_nationkey LONG, votes ARRAY<LONG>, tags ARRAY<STRING>")
        .load(path)
      requireRowScan(df, "q229")
      df.select(
          col("n_nationkey"),
          aggregate(col("votes"), lit(0L),
            (acc, x) => acc + coalesce(x, lit(0L))).as("vote_sum"),
          when(col("votes").isNull, lit(null))
            .otherwise(size(col("votes"))).cast("long").as("n_votes"),
          array_join(col("tags"), "|").as("tag_cat"))
        .orderBy("n_nationkey")
    },
    Some(s"""SELECT n_nationkey,
                    CASE WHEN votes IS NULL THEN NULL
                         ELSE COALESCE(CAST(list_sum(votes) AS BIGINT), 0) END AS vote_sum,
                    CAST(len(votes) AS BIGINT) AS n_votes,
                    CASE WHEN tags IS NULL THEN NULL
                         ELSE COALESCE(array_to_string(tags, '|'), '') END AS tag_cat
             FROM read_json('$fixtureDir/q229_arrays.jsonl',
                            format='newline_delimited',
                            columns={n_nationkey: 'BIGINT', votes: 'BIGINT[]', tags: 'VARCHAR[]'})
             ORDER BY n_nationkey"""))

  // ---------------------------------------------------------------- q230
  // MAP<STRING, atomic> reads: a map-shaped corpus (per-row string-keyed
  // attribute bags with empty maps, null maps, and null values) must
  // match DuckDB's read_json with a MAP(VARCHAR, BIGINT) column.
  // The gate asserts the scan reads rows (requireRowScan).
  private val q230 = GQuery(
    "q230_json_map_columnar_scan",
    "graft-json MAP columns (row scan): per-key lookups + key sets vs DuckDB",
    (s, d) => {
      ensureFixtures(s, d)
      val path = s"$fixtureDir/q230_maps.jsonl"
      val nation = Tables(s, d, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect() // 25 rows: fixture generation, not a data path
      val content = nation.map { r =>
        val k = r.getAs[Number](0).longValue
        val name = r.getString(1)
        val reg = r.getAs[Number](2).longValue
        val m = k % 5 match {
          case 0 => "null"
          case 1 => "{}"
          case 2 => s"""{"reg": $reg, "len": null}"""   // null value kept
          case 3 => s"""{"reg": $reg}"""
          case _ => s"""{"reg": $reg, "len": ${name.length}, "k7": ${k * 7 % 11}}"""
        }
        s"""{"n_nationkey": $k, "attrs": $m}"""
      }.mkString("", "\n", "\n")
      Files.write(Paths.get(path), content.getBytes(UTF_8))
      val df = s.read.format("graft-json")
        .schema("n_nationkey LONG, attrs MAP<STRING, LONG>")
        .load(path)
      requireRowScan(df, "q230")
      df.select(
          col("n_nationkey"),
          element_at(col("attrs"), "reg").as("reg"),
          element_at(col("attrs"), "len").as("len"),
          when(col("attrs").isNull, lit(null))
            .otherwise(array_join(sort_array(map_keys(col("attrs"))), ",")).as("mk"),
          when(col("attrs").isNull, lit(null))
            .otherwise(size(col("attrs"))).cast("long").as("n_attrs"))
        .orderBy("n_nationkey")
    },
    Some(s"""SELECT n_nationkey,
                    (attrs['reg'])[1] AS reg,
                    (attrs['len'])[1] AS len,
                    CASE WHEN attrs IS NULL THEN NULL
                         ELSE COALESCE(array_to_string(list_sort(map_keys(attrs)), ','), '') END AS mk,
                    CAST(cardinality(attrs) AS BIGINT) AS n_attrs
             FROM read_json('$fixtureDir/q230_maps.jsonl',
                            format='newline_delimited',
                            columns={n_nationkey: 'BIGINT', attrs: 'MAP(VARCHAR, BIGINT)'})
             ORDER BY n_nationkey"""))

  // ---------------------------------------------------------------- q231
  // ARRAY<STRUCT<atomic…>> reads: the delivery/log-record shape — a list
  // of tagged records per row, with null arrays, empty arrays, null
  // elements, missing/null fields, and shuffled field order — must
  // match DuckDB's read_json with a STRUCT(...)[] column.
  // The gate asserts the scan reads rows (requireRowScan).
  private val q231 = GQuery(
    "q231_json_array_struct_columnar_scan",
    "graft-json ARRAY<STRUCT> columns (row scan): element-field aggs vs DuckDB",
    (s, d) => {
      ensureFixtures(s, d)
      val path = s"$fixtureDir/q231_arraystruct.jsonl"
      val nation = Tables(s, d, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect() // 25 rows: fixture generation, not a data path
      val content = nation.map { r =>
        val k = r.getAs[Number](0).longValue
        val name = r.getString(1)
        val reg = r.getAs[Number](2).longValue
        val recs = k % 6 match {
          case 0 => "null"
          case 1 => "[]"
          case 2 => s"""[{"x": $k, "y": "$name"}, null]"""        // null element kept
          case 3 => s"""[{"y": "r$reg", "x": $reg}, {"x": null}]""" // shuffled order, null field
          case 4 => s"""[{"x": $k}]"""                             // missing field
          case _ => s"""[{"x": $k, "y": "$name"}, {"x": ${k * 3 % 13}, "y": "r$reg"}, {}]"""
        }
        s"""{"n_nationkey": $k, "recs": $recs}"""
      }.mkString("", "\n", "\n")
      Files.write(Paths.get(path), content.getBytes(UTF_8))
      val df = s.read.format("graft-json")
        .schema("n_nationkey LONG, recs ARRAY<STRUCT<x: LONG, y: STRING>>")
        .load(path)
      requireRowScan(df, "q231")
      df.select(
          col("n_nationkey"),
          when(col("recs").isNull, lit(null))
            .otherwise(size(col("recs"))).cast("long").as("n_recs"),
          get(col("recs"), lit(0))("x").as("first_x"),
          aggregate(col("recs"), lit(0L),
            (acc, e) => acc + coalesce(e("x"), lit(0L))).as("x_sum"),
          when(col("recs").isNull, lit(null)).otherwise(
            array_join(transform(col("recs"),
              e => coalesce(e("y"), lit("-"))), "|")).as("ys"))
        .orderBy("n_nationkey")
    },
    Some(s"""SELECT n_nationkey,
                    CAST(len(recs) AS BIGINT) AS n_recs,
                    recs[1].x AS first_x,
                    CASE WHEN recs IS NULL THEN NULL
                         ELSE COALESCE(CAST(list_sum(list_transform(recs, e -> COALESCE(e.x, 0))) AS BIGINT), 0) END AS x_sum,
                    CASE WHEN recs IS NULL THEN NULL
                         ELSE COALESCE(array_to_string(list_transform(recs, e -> COALESCE(e.y, '-')), '|'), '') END AS ys
             FROM read_json('$fixtureDir/q231_arraystruct.jsonl',
                            format='newline_delimited',
                            columns={n_nationkey: 'BIGINT', recs: 'STRUCT(x BIGINT, y VARCHAR)[]'})
             ORDER BY n_nationkey"""))

  // ---------------------------------------------------------------- q232
  // TWO-LEVEL struct reads: the user.geo.lat / metadata.source.id shape —
  // a struct column whose children include a nested STRUCT<atomic…> —
  // must match DuckDB's read_json with a nested STRUCT column.
  // The gate asserts the scan reads rows (requireRowScan).
  private val q232 = GQuery(
    "q232_json_two_level_struct_columnar_scan",
    "graft-json two-level structs (row scan): nested projections vs DuckDB",
    (s, d) => {
      ensureFixtures(s, d)
      val path = s"$fixtureDir/q232_twolevel.jsonl"
      val nation = Tables(s, d, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect() // 25 rows: fixture generation, not a data path
      val content = nation.map { r =>
        val k = r.getAs[Number](0).longValue
        val name = r.getString(1)
        val reg = r.getAs[Number](2).longValue
        val geo = k % 5 match {
          case 0 => "null"
          case 1 => "{}"
          case 2 => s"""{"lat": ${k * 3 % 17}, "src": null}"""
          case 3 => s"""{"src": "s$reg", "lat": $k}"""   // shuffled order
          case _ => s"""{"lat": ${k % 11}, "src": "s$reg"}"""
        }
        val meta = k % 4 match {
          case 0 => s"""{"geo": $geo}"""
          case 1 => s"""{"geo": $geo, "score": ${k * 7 % 23}}"""
          case 2 => "null"
          case _ => s"""{"score": ${k % 9}, "geo": $geo}"""
        }
        s"""{"n_nationkey": $k, "nm": "$name", "meta": $meta}"""
      }.mkString("", "\n", "\n")
      Files.write(Paths.get(path), content.getBytes(UTF_8))
      val df = s.read.format("graft-json")
        .schema("n_nationkey LONG, nm STRING, " +
          "meta STRUCT<geo: STRUCT<lat: LONG, src: STRING>, score: LONG>")
        .load(path)
      requireRowScan(df, "q232")
      df.select(
          col("n_nationkey"),
          col("meta.geo.lat").as("lat"),
          col("meta.geo.src").as("src"),
          col("meta.score").as("score"),
          when(col("meta").isNull, lit(null))
            .otherwise(col("meta.geo").isNotNull).cast("boolean").as("has_geo"))
        .orderBy("n_nationkey")
    },
    Some(s"""SELECT n_nationkey,
                    meta.geo.lat AS lat,
                    meta.geo.src AS src,
                    meta.score AS score,
                    CASE WHEN meta IS NULL THEN NULL
                         ELSE meta.geo IS NOT NULL END AS has_geo
             FROM read_json('$fixtureDir/q232_twolevel.jsonl',
                            format='newline_delimited',
                            columns={n_nationkey: 'BIGINT', nm: 'VARCHAR',
                                     meta: 'STRUCT(geo STRUCT(lat BIGINT, src VARCHAR), score BIGINT)'})
             ORDER BY n_nationkey"""))

  // ---------------------------------------------------------------- q233
  // STRUCT<…, ARRAY<atomic>> reads: the user.tags / metadata.labels
  // shape — a struct column with array-of-atomic children — must match
  // DuckDB's read_json with a STRUCT(... BIGINT[] ...) column.
  // The gate asserts the scan reads rows (requireRowScan).
  private val q233 = GQuery(
    "q233_json_struct_array_child_columnar_scan",
    "graft-json STRUCT<…,ARRAY<atomic>> columns (row scan): child-array aggs vs DuckDB",
    (s, d) => {
      ensureFixtures(s, d)
      val path = s"$fixtureDir/q233_structarray.jsonl"
      val nation = Tables(s, d, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect() // 25 rows: fixture generation, not a data path
      val content = nation.map { r =>
        val k = r.getAs[Number](0).longValue
        val name = r.getString(1)
        val reg = r.getAs[Number](2).longValue
        val tags = k % 6 match {
          case 0 => "null"
          case 1 => "[]"
          case 2 => s"""[$k, null, ${k * 3 % 13}]""" // null element kept
          case 3 => s"""[$reg]"""
          case 4 => null                             // child missing
          case _ => s"""[${k % 7}, ${k % 11}]"""
        }
        val lbl = k % 4 match {
          case 0 => "null"
          case 1 => s"""["$name", "r$reg"]"""
          case 2 => null
          case _ => s"""["x$k"]"""
        }
        val inner = (Seq(s""""a": ${k * 7 % 23}""") ++
          Option(tags).map(t => s""""tags": $t""") ++
          Option(lbl).map(l => s""""lbl": $l""")).mkString("{", ", ", "}")
        val sCell = if (k % 9 == 8) "null" else inner
        s"""{"n_nationkey": $k, "s": $sCell}"""
      }.mkString("", "\n", "\n")
      Files.write(Paths.get(path), content.getBytes(UTF_8))
      val df = s.read.format("graft-json")
        .schema("n_nationkey LONG, s STRUCT<a: LONG, tags: ARRAY<LONG>, lbl: ARRAY<STRING>>")
        .load(path)
      requireRowScan(df, "q233")
      df.select(
          col("n_nationkey"),
          col("s.a").as("a"),
          when(col("s.tags").isNull, lit(null))
            .otherwise(size(col("s.tags"))).cast("long").as("n_tags"),
          aggregate(col("s.tags"), lit(0L),
            (acc, e) => acc + coalesce(e, lit(0L))).as("tag_sum"),
          when(col("s.lbl").isNull, lit(null)).otherwise(
            array_join(col("s.lbl"), "|")).as("lbls"))
        .orderBy("n_nationkey")
    },
    Some(s"""SELECT n_nationkey,
                    s.a AS a,
                    CAST(len(s.tags) AS BIGINT) AS n_tags,
                    CASE WHEN s.tags IS NULL THEN NULL
                         ELSE COALESCE(CAST(list_sum(list_transform(s.tags, e -> COALESCE(e, 0))) AS BIGINT), 0) END AS tag_sum,
                    CASE WHEN s.lbl IS NULL THEN NULL
                         ELSE COALESCE(array_to_string(s.lbl, '|'), '') END AS lbls
             FROM read_json('$fixtureDir/q233_structarray.jsonl',
                            format='newline_delimited',
                            columns={n_nationkey: 'BIGINT',
                                     s: 'STRUCT(a BIGINT, tags BIGINT[], lbl VARCHAR[])'})
             ORDER BY n_nationkey"""))

  // ---------------------------------------------------------------- q234
  // STREAMING CHANGE DATA FEED (round 15, Delta CDF streaming-read
  // shape): `readStream.option("readchangefeed", true)` tails row-level
  // changes from the commit log — commit-version offsets, adds as
  // `_change_type='insert'`, per-commit deletion-vector deltas as
  // 'delete' (pre-image rows via an inverse-selection mask, O(changed
  // rows)). The gate streams a table's full history (two appends + a
  // merge-on-read DELETE), APPLIES the feed (net insert−delete per row),
  // and must reproduce the final snapshot the oracle recomputes from
  // scratch. Restart/replay, COW refusals, skipchangecommits, and batch-
  // verb parity are pinned by StreamingChangeFeedSpec.
  private val q234 = GQuery(
    "q234_stream_change_feed",
    "streaming CDF: applied insert/delete feed reproduces the final snapshot",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/cdf_stream_gate"
      val ckpt = "/tmp/graft_tt/cdf_stream_gate_ckpt"
      val fsp = new org.apache.hadoop.fs.Path(dir)
      val fs = fsp.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(fsp, true)
      fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
      val cust = Tables(s, d, "customer").select($"c_custkey", $"c_name")
      cust.filter($"c_custkey" % 3 =!= 0)
        .write.format("graft-json").mode("overwrite").save(dir) // v0
      cust.filter($"c_custkey" % 3 === 0)
        .write.format("graft-json").mode("append").save(dir)    // v1
      graft.api.TrainingData.deleteWhereDV(s, dir,
        "c_custkey BIGINT, c_name STRING", "c_custkey % 7 = 0") // v2: DV delete
      val q = s.readStream.format("graft-json")
        .schema("c_custkey BIGINT, c_name STRING, _change_type STRING")
        .option("readchangefeed", "true")
        .option("sinceversion", "-1") // full history
        .load(dir)
        .writeStream.format("memory").queryName("q234_cdf")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("q234_cdf")
        .groupBy($"c_custkey", $"c_name")
        .agg(sum(when($"_change_type" === "insert", 1).otherwise(-1)).as("net"))
        .filter($"net" === 1)
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey, c_name FROM customer
            WHERE c_custkey % 7 <> 0
            ORDER BY c_custkey"""))

  // ---------------------------------------------------------------- q235
  // CONTAINERS INSIDE ARRAY<STRUCT> ELEMENTS — the order.items[].sku /
  // items[].tags shape: element-struct fields that are ARRAY<atomic> or
  // STRUCT<atomic>. The gate writes a delivery-records corpus through
  // the graft sink and explodes/flattens both container fields.
  // The gate asserts the scan reads rows (requireRowScan).
  private val q235 = GQuery(
    "q235_json_elem_container_columnar_scan",
    "ARRAY<STRUCT> element fields with ARRAY/STRUCT types (row scan, plan-asserted)",
    (s, d) => {
      import s.implicits._
      val path = s"$fixtureDir/q235_elemcontainers.jsonl"
      val ddl = "o_orderkey BIGINT, items ARRAY<STRUCT<sku: BIGINT, " +
        "qtys: ARRAY<BIGINT>, geo: STRUCT<lat: DOUBLE, src: STRING>>>"
      Tables(s, d, "orders")
        .select($"o_orderkey",
          array(
            struct($"o_custkey".as("sku"),
              array($"o_orderkey" % 7, $"o_orderkey" % 11).as("qtys"),
              struct($"o_totalprice".as("lat"),
                $"o_orderpriority".as("src")).as("geo")),
            struct(($"o_custkey" + 1).as("sku"),
              array($"o_orderkey" % 13).as("qtys"),
              struct(lit(null).cast("double").as("lat"),
                $"o_orderstatus".as("src")).as("geo"))).as("items"))
        .repartition(2)
        .write.format("graft-json").mode("overwrite").save(path)
      val df = s.read.format("graft-json").schema(ddl).load(path)
      requireRowScan(df, "q235")
      df.select($"o_orderkey", explode($"items").as("it"))
        .select($"o_orderkey", $"it.sku".as("sku"),
          expr("aggregate(it.qtys, CAST(0 AS BIGINT), (a, x) -> a + x)").as("qty_sum"),
          $"it.geo.lat".as("lat"), $"it.geo.src".as("src"))
        .orderBy($"o_orderkey", $"sku")
    },
    Some("""SELECT o_orderkey, sku, qty_sum, lat, src FROM (
              SELECT o_orderkey, o_custkey AS sku,
                     (o_orderkey % 7) + (o_orderkey % 11) AS qty_sum,
                     o_totalprice AS lat,
                     o_orderpriority AS src
              FROM orders
              UNION ALL
              SELECT o_orderkey, o_custkey + 1,
                     o_orderkey % 13,
                     CAST(NULL AS DOUBLE),
                     o_orderstatus
              FROM orders)
            ORDER BY o_orderkey, sku"""))

  // ---------------------------------------------------------------- q238
  // ARRAY<STRUCT> STRUCT CHILDREN — the user.addresses[].city shape. The
  // gate writes a user-records corpus through the graft sink and
  // explodes/flattens the child array.
  // The gate asserts the scan reads rows (requireRowScan).
  private val q238 = GQuery(
    "q238_json_struct_child_struct_array_columnar_scan",
    "ARRAY<STRUCT> children of STRUCT columns (row scan, plan-asserted)",
    (s, d) => {
      import s.implicits._
      val path = s"$fixtureDir/q238_childstructarr.jsonl"
      val ddl = "o_orderkey BIGINT, user STRUCT<name: STRING, " +
        "addresses: ARRAY<STRUCT<city: STRING, zip: BIGINT>>>"
      Tables(s, d, "orders")
        .select($"o_orderkey",
          struct($"o_orderpriority".as("name"),
            array(
              struct($"o_orderpriority".as("city"),
                ($"o_orderkey" % 97).as("zip")),
              struct($"o_orderstatus".as("city"),
                ($"o_custkey" % 89).as("zip"))).as("addresses")).as("user"))
        .repartition(2)
        .write.format("graft-json").mode("overwrite").save(path)
      val df = s.read.format("graft-json").schema(ddl).load(path)
      requireRowScan(df, "q238")
      df.select($"o_orderkey", $"user.name".as("name"),
          explode($"user.addresses").as("a"))
        .select($"o_orderkey", $"name",
          $"a.city".as("city"), $"a.zip".as("zip"))
        .orderBy($"o_orderkey", $"city", $"zip")
    },
    Some("""SELECT o_orderkey, name, city, zip FROM (
              SELECT o_orderkey, o_orderpriority AS name,
                     o_orderpriority AS city,
                     o_orderkey % 97 AS zip
              FROM orders
              UNION ALL
              SELECT o_orderkey, o_orderpriority,
                     o_orderstatus,
                     o_custkey % 89
              FROM orders)
            ORDER BY o_orderkey, city, zip"""))

  // ---------------------------------------------------------------- q239
  // MAP STRUCT CHILDREN — the payload.headers shape. The gate writes a
  // payload corpus with empty maps, null maps, and null values through
  // raw JSONL and compares per-key lookups + key sets against DuckDB's
  // read_json with a STRUCT(... MAP(VARCHAR, BIGINT)) column.
  // The gate asserts the scan reads rows (requireRowScan).
  private val q239 = GQuery(
    "q239_json_struct_child_map_columnar_scan",
    "MAP<STRING, atomic> children of STRUCT columns (row scan, plan-asserted)",
    (s, d) => {
      ensureFixtures(s, d)
      val path = s"$fixtureDir/q239_childmaps.jsonl"
      val nation = Tables(s, d, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect() // 25 rows: fixture generation, not a data path
      val content = nation.map { r =>
        val k = r.getAs[Number](0).longValue
        val name = r.getString(1)
        val reg = r.getAs[Number](2).longValue
        val m = k % 5 match {
          case 0 => "null"
          case 1 => "{}"
          case 2 => s"""{"reg": $reg, "len": null}"""   // null value kept
          case 3 => s"""{"reg": $reg}"""
          case _ => s"""{"reg": $reg, "len": ${name.length}, "k7": ${k * 7 % 11}}"""
        }
        val p = if (k % 7 == 6) "null"
                else s"""{"nm": "${name.toLowerCase}", "attrs": $m}"""
        s"""{"n_nationkey": $k, "payload": $p}"""
      }.mkString("", "\n", "\n")
      Files.write(Paths.get(path), content.getBytes(UTF_8))
      val df = s.read.format("graft-json")
        .schema("n_nationkey LONG, payload STRUCT<nm: STRING, attrs: MAP<STRING, LONG>>")
        .load(path)
      requireRowScan(df, "q239")
      df.select(
          col("n_nationkey"),
          col("payload.nm").as("nm"),
          element_at(col("payload.attrs"), "reg").as("reg"),
          element_at(col("payload.attrs"), "len").as("len"),
          when(col("payload.attrs").isNull, lit(null))
            .otherwise(array_join(sort_array(map_keys(col("payload.attrs"))), ",")).as("mk"),
          when(col("payload.attrs").isNull, lit(null))
            .otherwise(size(col("payload.attrs"))).cast("long").as("n_attrs"))
        .orderBy("n_nationkey")
    },
    Some(s"""SELECT n_nationkey,
                    payload.nm AS nm,
                    (payload.attrs['reg'])[1] AS reg,
                    (payload.attrs['len'])[1] AS len,
                    CASE WHEN payload.attrs IS NULL THEN NULL
                         ELSE COALESCE(array_to_string(list_sort(map_keys(payload.attrs)), ','), '') END AS mk,
                    CAST(cardinality(payload.attrs) AS BIGINT) AS n_attrs
             FROM read_json('$fixtureDir/q239_childmaps.jsonl',
                            format='newline_delimited',
                            columns={n_nationkey: 'BIGINT',
                                     payload: 'STRUCT(nm VARCHAR, attrs MAP(VARCHAR, BIGINT))'})
             ORDER BY n_nationkey"""))

  // ---------------------------------------------------------------- q240
  // THREE-LEVEL STRUCTS — the event.context.device.id telemetry shape.
  // The gate writes an events-like corpus through the graft sink and
  // extracts leaves from all three levels.
  // The gate asserts the scan reads rows (requireRowScan).
  private val q240 = GQuery(
    "q240_json_three_level_struct_columnar_scan",
    "THREE-LEVEL structs (row scan): leaves at depths 1-3 (plan-asserted)",
    (s, d) => {
      import s.implicits._
      val path = s"$fixtureDir/q240_threelevel.jsonl"
      val ddl = "o_orderkey BIGINT, ctx STRUCT<device: STRUCT<" +
        "os: STRUCT<name: STRING, build: BIGINT>, model: STRING>, region: BIGINT>"
      Tables(s, d, "orders")
        .select($"o_orderkey",
          struct(
            struct(
              struct($"o_orderpriority".as("name"),
                ($"o_orderkey" % 31).as("build")).as("os"),
              $"o_orderstatus".as("model")).as("device"),
            ($"o_custkey" % 7).as("region")).as("ctx"))
        .repartition(2)
        .write.format("graft-json").mode("overwrite").save(path)
      val df = s.read.format("graft-json").schema(ddl).load(path)
      requireRowScan(df, "q240")
      df.select($"o_orderkey",
          $"ctx.device.os.name".as("os_name"),
          $"ctx.device.os.build".as("os_build"),
          $"ctx.device.model".as("model"),
          $"ctx.region".as("region"))
        .orderBy($"o_orderkey")
    },
    Some("""SELECT o_orderkey,
                   o_orderpriority AS os_name,
                   o_orderkey % 31 AS os_build,
                   o_orderstatus AS model,
                   o_custkey % 7 AS region
            FROM orders
            ORDER BY o_orderkey"""))

  // ---------------------------------------------------------------- q236
  // CHANGE DATA FEED ACROSS COW REWRITES (round 16, the Delta CDC-file
  // shape): updateWhere/deleteWhere with changeDataFeed=true record the
  // rewrite's row-level pre/post images under `.graft-cdc/` in the SAME
  // atomic commit entry (v8 `c` lines), and changeFeed switches to a
  // per-commit walk — with Delta's `_commit_version` column — instead of
  // demanding a full refresh. The gate runs update-then-delete over a
  // consumer's processed snapshot and pins the exact feed; the bag-apply
  // identity (since-snapshot − deletes/preimages + inserts/postimages =
  // until-snapshot), OPTIMIZE skipping, restores, orphan debris, OCC,
  // and the streaming reader are pinned by ChangeFeedCowSpec.
  private val q236 = GQuery(
    "q236_cow_change_feed",
    "CDF across COW rewrites: update pre/post images + composed delete, per-commit versions",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/cow_cdf"
      val ddl = "n_nationkey BIGINT, n_name STRING"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      Tables(s, d, "nation")
        .select($"n_nationkey".cast("long").as("n_nationkey"), $"n_name")
        .repartition(2)
        .write.format("graft-json").mode("overwrite").save(dir)        // v0
      graft.api.TrainingData.updateWhere(s, dir, ddl,
        "n_nationkey % 5 = 2", Map("n_name" -> "concat(n_name, '_X')"),
        retainHistory = true, changeDataFeed = true)                   // v1
      graft.api.TrainingData.deleteWhere(s, dir, ddl,
        "n_nationkey >= 20",
        retainHistory = true, changeDataFeed = true)                   // v2
      graft.api.TrainingData.changeFeed(s, dir, ddl, sinceVersion = 0L)
        .orderBy($"_commit_version", $"_change_type", $"n_nationkey")
    },
    Some("""SELECT * FROM (
              SELECT n_nationkey, n_name, 'update_preimage' AS _change_type,
                     CAST(1 AS BIGINT) AS _commit_version
              FROM nation WHERE n_nationkey % 5 = 2
              UNION ALL
              SELECT n_nationkey, n_name || '_X', 'update_postimage', CAST(1 AS BIGINT)
              FROM nation WHERE n_nationkey % 5 = 2
              UNION ALL
              SELECT n_nationkey,
                     CASE WHEN n_nationkey % 5 = 2 THEN n_name || '_X' ELSE n_name END,
                     'delete', CAST(2 AS BIGINT)
              FROM nation WHERE n_nationkey >= 20)
            ORDER BY _commit_version, _change_type, n_nationkey"""))

  // ---------------------------------------------------------------- q237
  // PARTITIONED COW CDF (round 16): change-data artifacts keep their
  // k=v structure under `.graft-cdc/`, so the feed serves partition
  // values from the artifact PATHS — no inline duplication, and the
  // streaming reader's path-derived partition values work unchanged
  // (ChangeFeedCowSpec pins that side). The gate partitions nation by
  // region, updates then deletes with CDC on, and pins the exact
  // per-commit feed — partition column included — against the oracle.
  private val q237 = GQuery(
    "q237_partitioned_cow_change_feed",
    "CDF on a partitioned table: k=v artifact paths carry the partition values",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/cow_cdf_part"
      val ddl = "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      Tables(s, d, "nation")
        .select($"n_nationkey".cast("long").as("n_nationkey"), $"n_name",
          $"n_regionkey".cast("long").as("n_regionkey"))
        .write.format("graft-json").option("partitionby", "n_regionkey")
        .mode("overwrite").save(dir)                                    // v0
      graft.api.TrainingData.updateWhere(s, dir, ddl,
        "n_nationkey % 6 = 1", Map("n_name" -> "concat(n_name, '_Y')"),
        retainHistory = true, changeDataFeed = true)                    // v1
      graft.api.TrainingData.deleteWhere(s, dir, ddl,
        "n_nationkey < 4",
        retainHistory = true, changeDataFeed = true)                    // v2
      graft.api.TrainingData.changeFeed(s, dir, ddl, sinceVersion = 0L)
        .orderBy($"_commit_version", $"_change_type", $"n_nationkey")
    },
    Some("""SELECT * FROM (
              SELECT n_nationkey, n_name, n_regionkey,
                     'update_preimage' AS _change_type,
                     CAST(1 AS BIGINT) AS _commit_version
              FROM nation WHERE n_nationkey % 6 = 1
              UNION ALL
              SELECT n_nationkey, n_name || '_Y', n_regionkey,
                     'update_postimage', CAST(1 AS BIGINT)
              FROM nation WHERE n_nationkey % 6 = 1
              UNION ALL
              SELECT n_nationkey,
                     CASE WHEN n_nationkey % 6 = 1 THEN n_name || '_Y' ELSE n_name END,
                     n_regionkey, 'delete', CAST(2 AS BIGINT)
              FROM nation WHERE n_nationkey < 4)
            ORDER BY _commit_version, _change_type, n_nationkey"""))

  // ---------------------------------------------------------------- q228
  // Log-first default reads (round 13, Delta semantics): an OPTION-FREE
  // read of a logged table is its latest committed snapshot. The gate
  // retires originals with retained history (they stay on disk) AND
  // drops a rogue out-of-band copy into the directory — a raw recursive
  // listing would read every surviving row twice plus the rogue rows;
  // the default read must match the oracle exactly. At 100 TB this is
  // also the planning-cost story: enumeration is checkpoint + suffix +
  // one non-recursive listStatus per live directory, never a recursive
  // tree walk (LogFirstListingSpec's counting-fs witness pins that).
  private val q228 = GQuery(
    "q228_log_first_default_read",
    "Option-free logged-table reads are log-mediated: retirees and rogue files invisible",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/log_first_gate"
      val ddl = "c_custkey BIGINT, c_acctbal DOUBLE"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      Tables(s, d, "customer")
        .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
        .filter($"c_custkey" < 400).repartition(2)
        .write.format("graft-json").mode("overwrite").save(dir)       // v0
      graft.api.TrainingData.deleteWhere(s, dir, ddl,
        "c_custkey % 7 = 0", retainHistory = true)                    // v1: originals retained
      val rogue = new org.apache.hadoop.fs.Path(dir, "rogue-copy.jsonl")
      val out = fs.create(rogue, true)
      try out.write("{\"c_custkey\":999999,\"c_acctbal\":1.0}\n".getBytes("UTF-8"))
      finally out.close()
      val df = s.read.format("graft-json").schema(ddl).load(dir)      // OPTION-FREE
      // the raw lane still exists, opt-in, and sees everything
      val rawN = s.read.format("graft-json").schema(ddl)
        .option("rawlisting", "true").load(dir).count()
      val liveN = (0 until 400).count(_ % 7 != 0)
      require(rawN == 400L + liveN + 1L,
        s"raw listing must see retirees + rewrites + rogue, got $rawN")
      df.select($"c_custkey", round($"c_acctbal", 2).as("balance"))
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey, round(c_acctbal, 2) AS balance
            FROM customer
            WHERE c_custkey < 400 AND c_custkey % 7 <> 0
            ORDER BY c_custkey"""))

  // ---------------------------------------------------------------- q227
  // VACUUM RETAIN n HOURS (round 12): retention-gated reclaim of retired
  // files — the Delta discipline that makes physical cleanup safe while
  // readers and streams are live. Files retired more recently than the
  // horizon survive (a pinned scan may still hold them); older retirees
  // reclaim. The gate retires two generations at controlled commit
  // times, reclaims past a 2-hour horizon, proves the recent retiree's
  // pinned version still reads, and hashes the surviving snapshot.
  private val q227 = GQuery(
    "q227_sql_vacuum_retain",
    "VACUUM RETAIN n HOURS: horizon-gated reclaim; recent retirees stay pinnable",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/vac_retain"
      val ddl = "c_custkey BIGINT, c_acctbal DOUBLE"
      val conf = s.sparkContext.hadoopConfiguration
      val tsKey = graft.spark.GraftCommitLog.CommitTimestampKey
      try {
        conf.setLong(tsKey, 0L)
        Tables(s, d, "customer")
          .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
          .filter($"c_custkey" < 300).repartition(1)
          .write.format("graft-json").mode("overwrite").save(dir)     // v0 t=0
        conf.setLong(tsKey, 1000L)
        graft.api.TrainingData.deleteWhere(s, dir, ddl,
          "c_custkey % 2 = 0", retainHistory = true)                  // v1: retires gen0
        conf.setLong(tsKey, 2L * 3600000L)
        graft.api.TrainingData.deleteWhere(s, dir, ddl,
          "c_custkey % 3 = 0", retainHistory = true)                  // v2: retires gen1
        conf.setLong(tsKey, 3L * 3600000L) // "now" for the reclaim
        val dry = s.sql(s"VACUUM '$dir' RETAIN 2 HOURS DRY RUN").collect()
        require(dry.length == 1, s"1 eligible retiree, got ${dry.length}")
        require(s.sql(s"VACUUM '$dir' RETAIN 2 HOURS").collect().length == 1)
        // the recent retiree survives the horizon: v1 stays pinnable
        require(s.read.format("graft-json").schema(ddl)
          .option("versionasof", "1").load(dir).count() ==
          (0 until 300).count(_ % 2 != 0), "v1 must still read")
        s.read.format("graft-json").schema(ddl)
          .option("snapshot", "true").load(dir)
          .select($"c_custkey", round($"c_acctbal", 2).as("balance"))
          .orderBy($"c_custkey")
      } finally conf.unset(tsKey)
    },
    Some("""SELECT c_custkey, round(c_acctbal, 2) AS balance
            FROM customer
            WHERE c_custkey < 300 AND c_custkey % 2 <> 0 AND c_custkey % 3 <> 0
            ORDER BY c_custkey"""))

  // ---------------------------------------------------------------- q226
  // table_changes TVF (round 12): the change-data-feed from pure SQL —
  // the Delta shape, injected via injectTableFunction so the feed's
  // logical plan composes under any outer SQL. A downstream consumer at
  // 100 TB reads "what changed since my last sync" as a query, not an
  // API call: deletion-vector deltas arrive row-level ('delete'),
  // appended rows as net 'insert'; schema and format resolve from the
  // commit log like every maintenance verb.
  private val q226 = GQuery(
    "q226_sql_table_changes",
    "table_changes('<path>', from[, to]): CDF as a composable SQL TVF",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/tvf_cdf_gate"
      val customer = Tables(s, d, "customer")
        .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
      customer.filter($"c_custkey" < 500).repartition(2)
        .write.format("graft-json").mode("overwrite").save(dir)      // v0
      s.sql(s"DELETE FROM '$dir' WHERE c_custkey % 9 = 0")           // v1 (DV)
      customer.filter($"c_custkey" >= 500 && $"c_custkey" < 550)
        .repartition(1)
        .write.format("graft-json").mode("append").save(dir)         // v2
      s.sql(
        s"""SELECT c_custkey, round(c_acctbal, 2) AS balance, _change_type
           |FROM table_changes('$dir', 0)
           |ORDER BY _change_type, c_custkey""".stripMargin)
    },
    Some("""SELECT c_custkey, round(c_acctbal, 2) AS balance,
                   'delete' AS _change_type
            FROM customer WHERE c_custkey < 500 AND c_custkey % 9 = 0
            UNION ALL
            SELECT c_custkey, round(c_acctbal, 2), 'insert'
            FROM customer WHERE c_custkey >= 500 AND c_custkey < 550
            ORDER BY _change_type, c_custkey"""))

  // ---------------------------------------------------------------- q225
  // CLONE TABLE (round 12): the corpus FORK — a training pipeline pins
  // an experiment's input by deep-cloning the table at a version while
  // the source keeps ingesting/curating. Bytes copy on EXECUTORS (the
  // driver moves names), the hive layout / deletion-vector masks /
  // stats sidecars ride along, and one fresh version-0 commit starts
  // the clone's own history. The gate clones at a pinned version, then
  // mutates the SOURCE — the clone's snapshot must still equal the
  // pinned image (full independence), proven against the oracle.
  private val q225 = GQuery(
    "q225_sql_clone_table",
    "CLONE TABLE: deep corpus fork at a pinned version (executor copy, fresh log, masks ride)",
    (s, d) => {
      import s.implicits._
      val src = "/tmp/graft_tt/clone_src"
      val dst = "/tmp/graft_tt/clone_dst"
      val fs = new org.apache.hadoop.fs.Path(dst)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dst), true) // fresh target
      Tables(s, d, "customer")
        .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal",
          $"c_mktsegment".as("segment"))
        .filter($"c_custkey" < 600)
        .repartition(2)
        .write.format("graft-json").option("partitionby", "segment")
        .mode("overwrite").save(src)                                  // v0
      s.sql(s"DELETE FROM '$src' WHERE c_custkey % 6 = 0")            // v1 (DV)
      s.sql(s"CLONE TABLE '$src' TO '$dst' VERSION AS OF 1")
      s.sql(s"DELETE FROM '$src' WHERE c_custkey < 100")              // v2: source moves on
      s.read.format("graft-json")
        .schema("c_custkey BIGINT, c_acctbal DOUBLE, segment STRING")
        .option("snapshot", "true").load(dst)
        .select($"c_custkey", round($"c_acctbal", 2).as("balance"), $"segment")
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey, round(c_acctbal, 2) AS balance,
                   c_mktsegment AS segment
            FROM customer
            WHERE c_custkey < 600 AND c_custkey % 6 <> 0
            ORDER BY c_custkey"""))

  // ---------------------------------------------------------------- q224
  // DESCRIBE DETAIL (round 12): the Delta table-metadata verb — one row
  // of format / latest version / live files / attached deletion vectors
  // / partition columns / recorded data DDL, answered METADATA-ONLY
  // (the live set folds from the log; byte sizes ride the directory
  // walk planning already does — no data file opens). At 100 TB this is
  // the first command an operator runs against an unfamiliar table; it
  // must not cost a scan. Size_bytes and location are host/run-specific,
  // so the gate pins the deterministic columns and asserts the rest's
  // invariants inline.
  private val q224 = GQuery(
    "q224_sql_describe_detail",
    "DESCRIBE DETAIL: metadata-only table facts (format/version/files/dvs/partitions/DDL)",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/sql_detail"
      Tables(s, d, "customer")
        .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal",
          $"c_mktsegment".as("segment"))
        .filter($"c_custkey" < 400)
        .repartition(2)
        .write.format("graft-json").option("partitionby", "segment")
        .mode("overwrite").save(dir)                                  // v0
      graft.api.TrainingData.deleteWhereDV(s, dir,
        "c_custkey BIGINT, c_acctbal DOUBLE", "c_custkey = 11")       // v1
      val row = s.sql(s"DESCRIBE DETAIL '$dir'").collect().head
      require(row.getString(1) == dir, "location echoes the path")
      require(row.getLong(5) > 0L, "live bytes > 0")
      s.sql(s"DESCRIBE DETAIL '$dir'")
        .select($"format", $"version", $"num_files",
          $"num_deletion_vectors", $"partition_columns", $"schema_ddl")
    },
    Some("""SELECT 'graft-json' AS format, CAST(1 AS BIGINT) AS version,
                   CAST(10 AS BIGINT) AS num_files,
                   CAST(1 AS BIGINT) AS num_deletion_vectors,
                   'segment' AS partition_columns,
                   'c_custkey BIGINT,c_acctbal DOUBLE' AS schema_ddl"""))

  // ---------------------------------------------------------------- q222
  // Maintenance verbs by CATALOG NAME (round 12): the q219 lifecycle,
  // addressed through the session catalog instead of the path dialect —
  // the parser resolves a graft-provider table name to its LOCATION and
  // recorded schema (the Delta dual dialect), so a SQL-first user who
  // registered the table once via DDL never handles a path again. DELETE
  // stays on Spark's own DSv2 SupportsDelete plan (never shadowed by the
  // parser); UPDATE/MERGE/RESTORE/OPTIMIZE/VACUUM/HISTORY resolve by
  // name; the TBLPROPERTIES snapshot dial makes plain by-name SELECTs
  // read the latest committed snapshot (masks applied). The oracle
  // recomputes the surviving state relationally.
  private val q222 = GQuery(
    "q222_sql_catalog_maintenance",
    "maintenance verbs by catalog NAME (location+schema resolve from the session catalog)",
    (s, d) => {
      import s.implicits._
      val dir = "/tmp/graft_tt/sql_maint_nm"
      Tables(s, d, "customer")
        .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
        .filter($"c_custkey" < 700)
        .repartition(2)
        .write.format("graft-json").mode("overwrite").save(dir)      // v0
      s.sql("DROP TABLE IF EXISTS graft_maint_nm")
      s.sql(s"""CREATE TABLE graft_maint_nm (c_custkey BIGINT, c_acctbal DOUBLE)
               |USING `graft-json` LOCATION '$dir'
               |TBLPROPERTIES ('snapshot'='true')""".stripMargin)
      s.sql("DELETE FROM graft_maint_nm WHERE c_custkey % 4 = 0")    // v1 (SupportsDelete)
      s.sql("UPDATE graft_maint_nm SET c_acctbal = c_acctbal * 2 " +
        "WHERE c_custkey < 50")                                      // v2 (parser, by name)
      val hist = s.sql("DESCRIBE HISTORY graft_maint_nm").collect()
      require(hist.map(_.getString(2)).toSeq ==
        Seq("append+delete-vector", "delete-vector", "append"),
        s"history ops: ${hist.map(_.getString(2)).mkString(", ")}")
      val rv = s.sql("RESTORE TABLE graft_maint_nm TO VERSION AS OF 1")
        .collect().head.getLong(0)                                   // v3
      require(rv == 3L, s"restore committed $rv, expected 3")
      s.sql("UPDATE graft_maint_nm SET c_acctbal = c_acctbal + 100 " +
        "WHERE c_custkey < 50")                                      // v4
      val merged = s.sql("MERGE INTO graft_maint_nm USING " +
        "(SELECT CAST(9999 AS BIGINT) AS c_custkey, " +
        "CAST(1.5 AS DOUBLE) AS c_acctbal) ON (c_custkey)")          // v5
        .collect().head.getLong(0)
      require(merged == 1L, s"merged $merged rows, expected 1")
      require(s.sql("OPTIMIZE graft_maint_nm").collect().head.getLong(0) > 0L,
        "OPTIMIZE by name must compact the masked files")            // v6
      require(s.sql("VACUUM graft_maint_nm DRY RUN").collect().isEmpty,
        "VACUUM by name must find no orphans")
      val out = s.sql(
        """SELECT c_custkey, round(c_acctbal, 2) AS balance
          |FROM graft_maint_nm
          |ORDER BY c_custkey""".stripMargin)
      out.collect() // materialize before dropping the catalog entry
      s.sql("DROP TABLE graft_maint_nm")
      out
    },
    Some("""SELECT c_custkey,
                   round(c_acctbal + CASE WHEN c_custkey < 50 THEN 100 ELSE 0 END, 2)
                     AS balance
            FROM customer
            WHERE c_custkey < 700 AND c_custkey % 4 <> 0
            UNION ALL
            SELECT CAST(9999 AS BIGINT), CAST(1.5 AS DOUBLE)
            ORDER BY c_custkey"""))

  val all: Seq[GQuery] = Seq(q27, q28, q44, q47, q49, q54, q57, q58, q59, q62, q68, q69, q70, q72, q77, q78, q81, q83, q84, q86, q87, q88, q90, q91, q92, q102, q119, q137, q141, q142, q145, q150, q159, q161, q162, q165, q167, q169, q170, q171, q179, q182, q183, q184, q188, q189, q190, q193, q194, q195, q197, q198, q199, q200, q202, q203, q204, q205, q206, q207, q208, q209, q210, q211, q212, q213, q214, q215, q216, q217, q218, q219, q220, q221, q222, q223, q224, q225, q226, q227, q228, q229, q230, q231, q232, q233, q234, q235, q236, q237, q238, q239, q240)
}
