package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import java.nio.file.Files
import java.nio.charset.StandardCharsets.UTF_8

/** End-to-end randomized differential at the DSv2 level (CruiseFuzzProps
  * covers the plate; this covers the whole reader): random nested corpora
  * with missing keys, nulls, escapes, unicode, and extreme numbers read
  * through `format("graft-json")` — across byte-range splits, columnar
  * and row paths, saturation + cruise — must collect exactly what
  * `spark.read.json` collects under the same explicit schema, projection,
  * and filter. Deterministic seed: failures reproduce.
  *
  * The "… go COLUMNAR …" cases keep their names from when nested schemas
  * had vector lanes; ColumnarPlate is flat-only now, so each asserts its
  * nested schema reads through the row scan.
  */
class JsonSourceFuzzSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = Files.createTempDirectory("graft-json-fuzz")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("json-source-fuzz")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // the ORACLE's own json filter pushdown crashes on duplicate keys
      // (JsonFilters.skipRow: "Predicate reference counter cannot be
      // negative" — its refcount assumes each key binds once); disable it
      // so spark evaluates filters post-parse. Our source ignores this
      // conf, so the graft-side pushdown stays fully exercised.
      .config("spark.sql.json.filterPushdown.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
  }

  private val fullSchema =
    "id LONG, s STRING, d DOUBLE, b BOOLEAN, n STRUCT<x: LONG, y: STRING>, a ARRAY<LONG>"

  private def esc(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private val strPool = Seq("", "a", "tab\there", "line\nbreak", "q\"uote",
    "back\\slash", "π😀", "za", "x" * 90, "ctl")

  // container values bound for STRING lanes: spark.read.json keeps them as
  // VERBATIM source text (round 15, RawCaptureSpec) — the fuzz corpora
  // must exercise the capture path in the three-way compare
  private val containerPool = Seq(
    """{"k": 1}""", """[1, "two"]""", "{}", "[]",
    """{ "w" : [1,  {"d": "}"}] }""", """[{"e": "\""}]""")

  private def corpus(rng: scala.util.Random, rows: Int): String = {
    val sb = new StringBuilder
    (1 to rows).foreach { i =>
      val fields = scala.collection.mutable.ArrayBuffer.empty[String]
      fields += s""""id": ${if (rng.nextInt(10) == 0) Long.MaxValue - rng.nextInt(5) else i}"""
      if (rng.nextInt(10) > 1)
        fields += s""""s": ${rng.nextInt(8) match {
          case 0 => "null"
          case 1 | 2 => containerPool(rng.nextInt(containerPool.length))
          case _ => esc(strPool(rng.nextInt(strPool.length)))
        }}"""
      if (rng.nextInt(10) > 1)
        fields += s""""d": ${rng.nextInt(10) match {
          case 0 => "null"
          case 1 => s"${rng.nextLong() % 1000000}.${math.abs(rng.nextInt(10000))}e${rng.nextInt(30) - 15}"
          // QUOTED numbers never coerce into numeric lanes (strict token
          // typing, spark parity round 20): the field reads null
          case 2 => s""""${rng.nextInt(1000)}.5""""
          // non-numeric number tokens + spark's quoted special strings
          case 3 => Seq("NaN", "Infinity", "-Infinity", "+Infinity")(rng.nextInt(4))
          case 4 => Seq("\"NaN\"", "\"Infinity\"", "\"-INF\"", "\"+INF\"",
            "\"nan\"", "\"-Infinity\"")(rng.nextInt(6))
          case _ => (rng.nextDouble() * 2000 - 1000).toString
        }}"""
      if (rng.nextInt(10) > 2)
        fields += s""""b": ${Seq("true", "false", "null", "\"true\"", "1")(rng.nextInt(5))}"""
      if (rng.nextInt(10) > 3)
        fields += s""""n": {"x": ${if (rng.nextInt(8) == 0) s""""${rng.nextInt(100)}""""
          else rng.nextInt(100).toString}, "y": ${if (rng.nextInt(5) == 0)
          containerPool(rng.nextInt(containerPool.length))
          else esc(strPool(rng.nextInt(strPool.length)))}}"""
      if (rng.nextInt(10) > 4)
        fields += s""""a": [${Seq.fill(rng.nextInt(4))(rng.nextInt(1000)).mkString(", ")}]"""
      // unknown keys the schema prunes (the cruise/skip path)
      if (rng.nextInt(3) == 0)
        fields += s""""junk${rng.nextInt(5)}": {"deep": [1, "two", {"three": 3.0}]}"""
      // duplicate ROW-LEVEL bindings (round 15): last-wins holds in
      // default mode — the saturated tail cruises and re-parses them
      if (rng.nextInt(8) == 0)
        fields += s""""s": ${esc("dup" + rng.nextInt(10))}"""
      if (rng.nextInt(10) == 0)
        fields += s""""d": ${(rng.nextDouble() * 10).toString}"""
      sb.append(rng.shuffle(fields.toSeq).mkString("{", ", ", "}")).append('\n')
    }
    sb.toString
  }

  test("random frames round-trip the sink with exact metadata batteries") {
    val s = spark; import s.implicits._
    val rng = new scala.util.Random(0x51DE0CA2)
    for (trial <- 1 to 5 * SoakX.x) {
      val n = 50 + rng.nextInt(150)
      val rows = (1 to n).map { i =>
        (i.toLong,
         if (rng.nextInt(6) == 0) null
         else BigDecimal(rng.nextInt(2000000) - 1000000, 2).bigDecimal,
         rng.nextInt(14) match {
           // non-finite values serialize as JSON null: the metadata
           // battery must agree with a PARSE of the file (the
           // nonFiniteAsNull collector bug hid here)
           case 0 => null
           case 1 => java.lang.Double.valueOf(Double.NaN)
           case 2 => java.lang.Double.valueOf(Double.PositiveInfinity)
           case 3 => java.lang.Double.valueOf(Double.NegativeInfinity)
           case _ => java.lang.Double.valueOf(rng.nextDouble() * 2000 - 1000)
         },
         rng.nextInt(6) match {
           case 0 => null
           case 1 => "" // JSON round-trips empty strings exactly
           case _ => s"s${rng.nextInt(1000)}"
         })
      }
      val df = rows.toDF("id", "amt", "score", "tag")
        .select($"id", $"amt".cast("decimal(12,2)").as("amt"), $"score", $"tag")
      val out = dir.resolve(s"sink$trial").toString
      df.repartition(1 + rng.nextInt(3))
        .write.format("graft-json").mode("overwrite").save(out)

      val battery = Seq(
        min("id"), max("id"), sum("id"), count(col("id")),
        min("amt"), max("amt"), sum("amt"),
        min("score"), max("score"), count(col("score")), sum("score"),
        min("tag"), max("tag"), count(col("tag")), count(lit(1)))
      def readBack(skipping: Boolean) = spark.read.format("graft-json")
        .schema("id LONG, amt DECIMAL(12,2), score DOUBLE, tag STRING")
        .option("dataskipping", skipping.toString)
        .load(out).agg(battery.head, battery.tail: _*).collect()(0)
      // ground truth is a PARSE of the written file, not the in-memory
      // frame — the serializer is allowed to be lossy (NaN/Inf → null);
      // the sidecar metadata is not allowed to disagree with the file
      val got = readBack(skipping = true)
      val want = readBack(skipping = false)
      (0 until got.length).foreach { c =>
        (got.get(c), want.get(c)) match {
          case (a: java.lang.Double, b: java.lang.Double) =>
            assert(math.abs(a - b) <= math.ulp(b) * 64, s"trial $trial col $c: $a vs $b")
          case (a, b) => assert(a == b, s"trial $trial col $c: $a vs $b")
        }
      }
    }
  }

  test("gzip and zstd reads equal the plain read on random corpora") {
    val rng = new scala.util.Random(0xC0DEC5)
    for (trial <- 1 to 3) {
      val text = corpus(rng, 120)
      val plain = dir.resolve(s"z$trial.jsonl")
      Files.write(plain, text.getBytes(UTF_8))
      val gz = dir.resolve(s"z$trial.jsonl.gz")
      val go = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
      try go.write(text.getBytes(UTF_8)) finally go.close()
      val zst = dir.resolve(s"z$trial.jsonl.zst")
      val zo = new com.github.luben.zstd.ZstdOutputStream(Files.newOutputStream(zst))
      try zo.write(text.getBytes(UTF_8)) finally zo.close()
      def read(p: java.nio.file.Path): Seq[String] =
        spark.read.format("graft-json").schema(fullSchema).load(p.toString)
          .collect().map(_.toString).sorted.toSeq
      val want = read(plain)
      assert(read(gz) == want, s"trial $trial gzip")
      assert(read(zst) == want, s"trial $trial zstd")
    }
  }

  test("random byte-window admission reassembles exactly the batch read") {
    val rng = new scala.util.Random(0x57BEA800)
    for (trial <- 1 to 4) {
      val in = dir.resolve(s"stream$trial")
      Files.createDirectories(in)
      val nFiles = 1 + rng.nextInt(3)
      (1 to nFiles).foreach { f =>
        Files.write(in.resolve(s"f$f.jsonl"),
          corpus(rng, 40 + rng.nextInt(60)).getBytes(UTF_8))
      }
      // random admission window: micro-batch boundaries fall mid-row and
      // mid-file; the realignment protocol must deliver each row once
      val window = Seq("97", "513", "4096")(rng.nextInt(3))
      val q = spark.readStream.format("graft-json")
        .schema(fullSchema)
        .option("maxbytespertrigger", window)
        .load(in.toString)
        .writeStream.format("memory").queryName(s"fuzz_stream_$trial")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val got = spark.table(s"fuzz_stream_$trial")
        .collect().map(_.toString).sorted.toSeq
      val want = spark.read.format("graft-json").schema(fullSchema)
        .load(in.toString).collect().map(_.toString).sorted.toSeq
      assert(got == want, s"trial $trial window=$window: ${got.size} vs ${want.size} rows")
    }
  }

  test("random corpora read identically to spark.read.json (splits, projections, filters)") {
    val rng = new scala.util.Random(0xD1FF5EED)
    val projections = Seq(
      Seq("id", "s", "d", "b", "n", "a"),
      Seq("id"), Seq("s", "id"), Seq("n.x", "id"), Seq("d", "b"), Seq("a", "n.y"))
    for (trial <- 1 to 10 * SoakX.x) {
      val p = dir.resolve(s"t$trial.jsonl")
      Files.write(p, corpus(rng, 150).getBytes(UTF_8))
      val split = Seq("512", "4096", "1048576")(rng.nextInt(3))
      val g0 = spark.read.format("graft-json").schema(fullSchema)
        .option("maxsplitbytes", split).load(p.toString)
      val j0 = spark.read.schema(fullSchema).json(p.toString)
      val proj = projections(rng.nextInt(projections.length))
      val (g, j) = rng.nextInt(5) match {
        case 0 => (g0, j0)
        case 1 => (g0.filter(col("id") < 100), j0.filter(col("id") < 100))
        case 2 => (g0.filter(col("s").isNotNull), j0.filter(col("s").isNotNull))
        case 3 => (g0.filter(col("d") > 0.0), j0.filter(col("d") > 0.0))
        case _ => (g0.filter(col("s").startsWith("t")), j0.filter(col("s").startsWith("t")))
      }
      val got = g.select(proj.map(col): _*).collect().map(_.toString).sorted.toSeq
      val want = j.select(proj.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(got == want,
        s"trial $trial split=$split proj=$proj: ${got.size} vs ${want.size} rows\n" +
          got.zip(want).find { case (a, b) => a != b }.map { case (a, b) =>
            s"first diff:\n  graft: $a\n  spark: $b" }.getOrElse(""))
    }
  }

  /** Struct-pathology corpus for the COLUMNAR struct lanes (round 13):
    * every shape a one-level struct column can take — present, missing,
    * null, `{}`, scalar/array mismatch, missing/extra/duplicate children,
    * deeper nesting under a child, duplicate whole-struct bindings.
    *
    * `dupBindings` draws duplicate ROW-LEVEL keys. Since round 15 the
    * saturated row tail is consumed by the chained key cruise — a
    * duplicate of a schema key re-enters the ordinary parse, so
    * last-wins holds in DEFAULT mode and the spark-parity tests include
    * duplicates (the old first-wins caveat is retired).
    */
  private def nestedCorpus(rng: scala.util.Random, rows: Int,
      dupBindings: Boolean): String = {
    val sb = new StringBuilder
    (1 to rows).foreach { i =>
      val fields = scala.collection.mutable.ArrayBuffer.empty[String]
      fields += s""""id": $i"""
      if (rng.nextInt(10) > 1)
        fields += s""""s": ${esc(strPool(rng.nextInt(strPool.length)))}"""
      def structVal(): String = rng.nextInt(12) match {
        case 0 => "null"
        case 1 => "{}"
        case 2 => s"${rng.nextInt(100)}"              // scalar mismatch
        case 3 => "[1, 2]"                            // array mismatch
        case 4 => s"""{"x": ${rng.nextInt(100)}}"""   // missing child
        case 5 => s"""{"y": ${esc(strPool(rng.nextInt(strPool.length)))}, "x": ${rng.nextInt(100)}}"""
        case 6 => s"""{"x": null, "y": null}"""
        case 7 => s"""{"x": ${rng.nextInt(100)}, "extra": {"deep": [1]}, "y": "e"}"""
        case 8 => s"""{"x": {"tooDeep": 1}, "y": "d"}""" // object under child
        case 9 => s"""{"x": ${rng.nextInt(100)}, "x": ${rng.nextInt(100)}, "y": "dup"}"""
        case _ => s"""{"x": ${rng.nextInt(1000) - 500}, "y": ${esc(strPool(rng.nextInt(strPool.length)))}}"""
      }
      // duplicate whole-struct bindings over the FULL pathology set
      // (round 14): spark's rule — probed and now implemented by both
      // graft paths — is that a FAILED binding (scalar/array mismatch,
      // conversion failure) never overwrites, while valid values
      // including explicit null replace last-wins. The r13 version of
      // this corpus kept dup bindings well-typed because graft's strict
      // last-wins diverged on failed dups; that divergence is fixed, so
      // the dups now draw from every shape.
      val dup = dupBindings && rng.nextInt(8) == 0
      if (dup) {
        fields += s""""n": ${structVal()}"""
        fields += s""""n": ${structVal()}"""
      } else if (rng.nextInt(10) > 2) fields += s""""n": ${structVal()}"""
      if (rng.nextInt(3) == 0)
        fields += s""""junk${rng.nextInt(5)}": {"deep": [1, "two", {"three": 3.0}]}"""
      sb.append(rng.shuffle(fields.toSeq).mkString("{", ", ", "}")).append('\n')
    }
    sb.toString
  }

  test("nested (struct-lane) corpora go COLUMNAR and read identically to spark.read.json") {
    val rng = new scala.util.Random(0x57A7C7)
    val nestedSchema = "id LONG, s STRING, n STRUCT<x: LONG, y: STRING>"
    val projections = Seq(
      Seq("id", "s", "n"), Seq("n", "id"), Seq("n.x", "id"), Seq("n.y", "n.x"), Seq("id"))
    for (trial <- 1 to 10 * SoakX.x) {
      val p = dir.resolve(s"nested$trial.jsonl")
      Files.write(p, nestedCorpus(rng, 150, dupBindings = true).getBytes(UTF_8))
      val split = Seq("512", "4096", "1048576")(rng.nextInt(3))
      val g0 = spark.read.format("graft-json").schema(nestedSchema)
        .option("maxsplitbytes", split).load(p.toString)
      val j0 = spark.read.schema(nestedSchema).json(p.toString)
      // nested schemas read through the row scan (ColumnarPlate is flat-only)
      assert(!g0.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        s"trial $trial: nested schema must read through the row scan\n" +
          g0.queryExecution.executedPlan.toString)
      val proj = projections(rng.nextInt(projections.length))
      val (g, j) = rng.nextInt(4) match {
        case 0 => (g0, j0)
        case 1 => (g0.filter(col("id") < 100), j0.filter(col("id") < 100))
        case 2 => (g0.filter(col("n").isNotNull), j0.filter(col("n").isNotNull))
        case _ => (g0.filter(col("n.x") > 0), j0.filter(col("n.x") > 0))
      }
      val got = g.select(proj.map(col): _*).collect().map(_.toString).sorted.toSeq
      val want = j.select(proj.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(got == want,
        s"trial $trial split=$split proj=$proj: ${got.size} vs ${want.size} rows\n" +
          got.zip(want).find { case (a, b) => a != b }.map { case (a, b) =>
            s"first diff:\n  graft: $a\n  spark: $b" }.getOrElse(""))
    }
  }

  /** Array-pathology corpus for the COLUMNAR array lanes (round 13):
    * every shape a one-level array-of-atomic column can take — present,
    * missing, null, `[]`, scalar/object mismatch, null elements,
    * container elements (one null element each), conversion-failure
    * elements, long arrays. Same dupBindings caveat as nestedCorpus.
    */
  private def arrayCorpus(rng: scala.util.Random, rows: Int): String = {
    val sb = new StringBuilder
    (1 to rows).foreach { i =>
      val fields = scala.collection.mutable.ArrayBuffer.empty[String]
      fields += s""""id": $i"""
      def longArr(): String =
        Seq.fill(rng.nextInt(6))(rng.nextInt(2000) - 1000).mkString("[", ", ", "]")
      if (rng.nextInt(10) > 1)
        fields += s""""v": ${rng.nextInt(12) match {
          case 0 => "null"
          case 1 => "[]"
          case 2 => s"${rng.nextInt(100)}"               // scalar mismatch
          case 3 => s"""{"x": ${rng.nextInt(100)}}"""    // object mismatch
          case 4 => s"[${rng.nextInt(100)}, null, ${rng.nextInt(100)}]"
          case 5 => s"""[1, [2, 3], {"y": 4}, 5]"""      // container elements
          case 6 => s"""[${rng.nextInt(100)}, ${Seq("\"notanumber\"", "\"7\"")(rng.nextInt(2))}, ${rng.nextInt(100)}]"""
          case 7 => Seq.fill(40)(rng.nextInt(100)).mkString("[", ", ", "]")
          // NUMERIC conversion-failure elements vs a LONG target: fraction,
          // exponent, and overflow tokens are lexically-valid numbers that
          // fail LONG conversion — the whole-array poison must match spark
          // (VALUE_NUMBER_FLOAT→LONG partial-results parity, round 14)
          case 8 => s"""[${rng.nextInt(100)}, ${Seq("0.4", "9e3", "-2.5E-2",
            "9223372036854775809", "1.0e300")(rng.nextInt(5))}]"""
          case _ => longArr()
        }}"""
      if (rng.nextInt(10) > 2)
        fields += s""""t": [${Seq.fill(rng.nextInt(4))(rng.nextInt(4) match {
          // container elements into ARRAY<STRING> read as verbatim source
          // text, not poison (RawCaptureSpec, round 15)
          case 0 => containerPool(rng.nextInt(containerPool.length))
          case _ => esc(strPool(rng.nextInt(strPool.length)))
        }).mkString(", ")}]"""
      if (rng.nextInt(10) > 4)
        fields += s""""s": ${if (rng.nextInt(5) == 0)
          containerPool(rng.nextInt(containerPool.length))
          else esc(strPool(rng.nextInt(strPool.length)))}"""
      if (rng.nextInt(3) == 0)
        fields += s""""junk${rng.nextInt(5)}": [1, {"deep": [2]}, "three"]"""
      sb.append(rng.shuffle(fields.toSeq).mkString("{", ", ", "}")).append('\n')
    }
    sb.toString
  }

  test("array-lane corpora go COLUMNAR and read identically to spark.read.json") {
    val rng = new scala.util.Random(0xA77A7)
    val arraySchema = "id LONG, v ARRAY<LONG>, t ARRAY<STRING>, s STRING"
    val projections = Seq(
      Seq("id", "v", "t", "s"), Seq("v", "id"), Seq("t"), Seq("id", "s"))
    for (trial <- 1 to 10 * SoakX.x) {
      val p = dir.resolve(s"arr$trial.jsonl")
      Files.write(p, arrayCorpus(rng, 150).getBytes(UTF_8))
      val split = Seq("512", "4096", "1048576")(rng.nextInt(3))
      val g0 = spark.read.format("graft-json").schema(arraySchema)
        .option("maxsplitbytes", split).load(p.toString)
      val j0 = spark.read.schema(arraySchema).json(p.toString)
      // nested schemas read through the row scan (ColumnarPlate is flat-only)
      assert(!g0.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        s"trial $trial: array schema must read through the row scan\n" +
          g0.queryExecution.executedPlan.toString)
      val proj = projections(rng.nextInt(projections.length))
      val (g, j) = rng.nextInt(4) match {
        case 0 => (g0, j0)
        case 1 => (g0.filter(col("id") < 100), j0.filter(col("id") < 100))
        case 2 => (g0.filter(col("v").isNotNull), j0.filter(col("v").isNotNull))
        case _ => (g0.filter(col("s").isNotNull), j0.filter(col("s").isNotNull))
      }
      val got = g.select(proj.map(col): _*).collect().map(_.toString).sorted.toSeq
      val want = j.select(proj.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(got == want,
        s"trial $trial split=$split proj=$proj: ${got.size} vs ${want.size} rows\n" +
          got.zip(want).find { case (a, b) => a != b }.map { case (a, b) =>
            s"first diff:\n  graft: $a\n  spark: $b" }.getOrElse(""))
    }
  }

  /** Two-level-struct pathology corpus for the COLUMNAR grand lanes
    * (round 14): every shape a STRUCT<STRUCT<atomic…>, atomic> column can
    * take — missing/null/scalar/array under the inner struct, `{}`,
    * per-grandchild pathologies (missing, null, conversion failure,
    * container), duplicate inner bindings, duplicate grandchild keys,
    * unknown keys at both levels. Top-level duplicates are covered by
    * the flat corpus and the dup-binding test (last-wins, round 15).
    */
  private def twoLevelCorpus(rng: scala.util.Random, rows: Int): String = {
    val sb = new StringBuilder
    (1 to rows).foreach { i =>
      val fields = scala.collection.mutable.ArrayBuffer.empty[String]
      fields += s""""id": $i"""
      def inner(): String = rng.nextInt(10) match {
        case 0 => "null"
        case 1 => "{}"
        case 2 => s"${rng.nextInt(100)}"                       // scalar mismatch
        case 3 => "[1, 2]"                                     // array mismatch
        case 4 => s"""{"x": ${rng.nextInt(1000)}}"""
        case 5 => s"""{"z": ${esc(strPool(rng.nextInt(strPool.length)))}, "x": null}"""
        case 6 => s"""{"x": ${Seq("\"noparse\"", "0.5", "9e3")(rng.nextInt(3))}, "z": "p"}"""
        case 7 => s"""{"x": ${Seq("{\"deep\": 1}", "[1]")(rng.nextInt(2))}, "z": "c"}"""
        case 8 => s"""{"x": ${rng.nextInt(100)}, "x": ${rng.nextInt(100)}, "z": "dup"}"""
        case _ => s"""{"qq${rng.nextInt(3)}": 1, "x": ${rng.nextInt(100)}, "z": ${esc(
          strPool(rng.nextInt(strPool.length)))}}"""
      }
      if (rng.nextInt(10) > 1) {
        val parts = scala.collection.mutable.ArrayBuffer.empty[String]
        if (rng.nextInt(10) > 2) parts += s""""g": ${inner()}"""
        if (rng.nextInt(4) == 0) parts += s""""g": ${inner()}"""  // dup inner binding
        if (rng.nextInt(10) > 3) parts += s""""y": ${rng.nextInt(12) match {
          case 0 => "null"
          case 1 => "\"notanumber\""
          case _ => (rng.nextInt(2000) - 1000).toString
        }}"""
        if (rng.nextInt(4) == 0) parts += s""""junkc": {"deep": [1, 2]}"""
        fields += s""""n": ${
          if (rng.nextInt(12) == 0) Seq("null", "42", "[1]")(rng.nextInt(3))
          else rng.shuffle(parts.toSeq).mkString("{", ", ", "}")}"""
      }
      if (rng.nextInt(10) > 4)
        fields += s""""s": ${esc(strPool(rng.nextInt(strPool.length)))}"""
      if (rng.nextInt(3) == 0)
        fields += s""""junk${rng.nextInt(5)}": {"deep": {"deeper": [1]}}"""
      sb.append(rng.shuffle(fields.toSeq).mkString("{", ", ", "}")).append('\n')
    }
    sb.toString
  }

  test("two-level struct corpora go COLUMNAR and read identically to spark.read.json") {
    val rng = new scala.util.Random(0x2CEA6E1)
    val tlSchema = "id LONG, n STRUCT<g: STRUCT<x: LONG, z: STRING>, y: LONG>, s STRING"
    val projections = Seq(
      Seq("id", "n", "s"), Seq("n", "id"), Seq("n.g", "id"), Seq("n.g.x", "n.y"), Seq("id", "s"))
    for (trial <- 1 to 10 * SoakX.x) {
      val p = dir.resolve(s"twolevel$trial.jsonl")
      Files.write(p, twoLevelCorpus(rng, 150).getBytes(UTF_8))
      val split = Seq("512", "4096", "1048576")(rng.nextInt(3))
      val g0 = spark.read.format("graft-json").schema(tlSchema)
        .option("maxsplitbytes", split).load(p.toString)
      val j0 = spark.read.schema(tlSchema).json(p.toString)
      // nested schemas read through the row scan (ColumnarPlate is flat-only)
      assert(!g0.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        s"trial $trial: two-level struct schema must read through the row scan\n" +
          g0.queryExecution.executedPlan.toString)
      val proj = projections(rng.nextInt(projections.length))
      val (g, j) = rng.nextInt(4) match {
        case 0 => (g0, j0)
        case 1 => (g0.filter(col("id") < 100), j0.filter(col("id") < 100))
        case 2 => (g0.filter(col("n").isNotNull), j0.filter(col("n").isNotNull))
        case _ => (g0.filter(col("n.g.x") > 0), j0.filter(col("n.g.x") > 0))
      }
      val got = g.select(proj.map(col): _*).collect().map(_.toString).sorted.toSeq
      val want = j.select(proj.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(got == want,
        s"trial $trial split=$split proj=$proj: ${got.size} vs ${want.size} rows\n" +
          got.zip(want).find { case (a, b) => a != b }.map { case (a, b) =>
            s"first diff:\n  graft: $a\n  spark: $b" }.getOrElse(""))
    }
  }

  /** STRUCT<…, ARRAY<atomic>>-pathology corpus for the COLUMNAR
    * struct-child array lanes (round 15, the user.tags shape): every
    * shape an ARRAY<atomic> child can take — present, missing, null,
    * `[]`, scalar/object mismatch (failed binding: field null, struct
    * survives), null elements, conversion-failure elements (poison the
    * CELL), container elements (poison for LONG, verbatim capture for
    * STRING), duplicate child bindings (last-wins / failed-never-
    * overwrites), duplicate inner keys, long runs.
    */
  private def structArrayCorpus(rng: scala.util.Random, rows: Int): String = {
    val sb = new StringBuilder
    (1 to rows).foreach { i =>
      val fields = scala.collection.mutable.ArrayBuffer.empty[String]
      fields += s""""id": $i"""
      def longArr(): String = rng.nextInt(12) match {
        case 0 => "null"
        case 1 => "[]"
        case 2 => s"${rng.nextInt(100)}"                 // scalar mismatch
        case 3 => s"""{"x": 1}"""                         // object mismatch
        case 4 => s"[${rng.nextInt(100)}, null]"
        case 5 => s"""[1, [2], {"y": 3}]"""               // container elements: poison
        case 6 => s"""[${rng.nextInt(100)}, ${Seq("\"noparse\"", "0.4", "9e3",
          "9223372036854775809")(rng.nextInt(4))}]"""     // conv failure: poison
        case _ => Seq.fill(rng.nextInt(6))(rng.nextInt(2000) - 1000)
          .mkString("[", ", ", "]")
      }
      def strArr(): String = rng.nextInt(8) match {
        case 0 => "null"
        case 1 => "[]"
        case 2 => s"${rng.nextInt(100)}"                  // scalar mismatch
        case _ => Seq.fill(rng.nextInt(4))(rng.nextInt(4) match {
          // containers into ARRAY<STRING> elements CAPTURE as text
          case 0 => containerPool(rng.nextInt(containerPool.length))
          case 1 => rng.nextInt(1000).toString            // numbers coerce
          case _ => esc(strPool(rng.nextInt(strPool.length)))
        }).mkString("[", ", ", "]")
      }
      if (rng.nextInt(10) > 1) {
        val parts = scala.collection.mutable.ArrayBuffer.empty[String]
        if (rng.nextInt(10) > 2) parts += s""""tags": ${longArr()}"""
        if (rng.nextInt(4) == 0) parts += s""""tags": ${longArr()}"""  // dup child binding
        if (rng.nextInt(10) > 3) parts += s""""lbl": ${strArr()}"""
        if (rng.nextInt(10) > 3) parts += s""""a": ${rng.nextInt(10) match {
          case 0 => "null"
          case 1 => "\"notanumber\""
          case _ => (rng.nextInt(2000) - 1000).toString
        }}"""
        if (rng.nextInt(4) == 0) parts += s""""junkc": {"deep": [1, 2]}"""
        fields += s""""s": ${
          if (rng.nextInt(12) == 0) Seq("null", "42", "[1]")(rng.nextInt(3))
          else rng.shuffle(parts.toSeq).mkString("{", ", ", "}")}"""
      }
      if (rng.nextInt(10) > 4)
        fields += s""""z": ${esc(strPool(rng.nextInt(strPool.length)))}"""
      if (rng.nextInt(3) == 0)
        fields += s""""junk${rng.nextInt(5)}": [1, {"deep": [2]}, "three"]"""
      sb.append(rng.shuffle(fields.toSeq).mkString("{", ", ", "}")).append('\n')
    }
    sb.toString
  }

  test("struct-child array corpora go COLUMNAR and read identically to spark.read.json") {
    val rng = new scala.util.Random(0x57A6C7)
    val saSchema =
      "id LONG, s STRUCT<a: LONG, tags: ARRAY<LONG>, lbl: ARRAY<STRING>>, z STRING"
    val projections = Seq(
      Seq("id", "s", "z"), Seq("s", "id"), Seq("s.tags", "id"),
      Seq("s.a", "s.lbl"), Seq("id", "z"))
    for (trial <- 1 to 10 * SoakX.x) {
      val p = dir.resolve(s"structarr$trial.jsonl")
      Files.write(p, structArrayCorpus(rng, 150).getBytes(UTF_8))
      val split = Seq("512", "4096", "1048576")(rng.nextInt(3))
      val g0 = spark.read.format("graft-json").schema(saSchema)
        .option("maxsplitbytes", split).load(p.toString)
      val j0 = spark.read.schema(saSchema).json(p.toString)
      // nested schemas read through the row scan (ColumnarPlate is flat-only)
      assert(!g0.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        s"trial $trial: struct-child array schema must read through the row scan\n" +
          g0.queryExecution.executedPlan.toString)
      val proj = projections(rng.nextInt(projections.length))
      val (g, j) = rng.nextInt(4) match {
        case 0 => (g0, j0)
        case 1 => (g0.filter(col("id") < 100), j0.filter(col("id") < 100))
        case 2 => (g0.filter(col("s").isNotNull), j0.filter(col("s").isNotNull))
        case _ => (g0.filter(col("s.a") > 0), j0.filter(col("s.a") > 0))
      }
      val got = g.select(proj.map(col): _*).collect().map(_.toString).sorted.toSeq
      val want = j.select(proj.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(got == want,
        s"trial $trial split=$split proj=$proj: ${got.size} vs ${want.size} rows\n" +
          got.zip(want).find { case (a, b) => a != b }.map { case (a, b) =>
            s"first diff:\n  graft: $a\n  spark: $b" }.getOrElse(""))
    }
  }

  /** ARRAY<STRUCT>-pathology corpus for the COLUMNAR element-struct lanes
    * (round 14): every shape the delivery/log-record column can take —
    * present, missing, null, `[]`, scalar/object mismatch (poison), null
    * elements, `{}` elements, scalar/array/nested-object elements
    * (poison), per-FIELD pathologies (missing, null, conversion failure,
    * container — field null, element survives), duplicate field keys,
    * unknown field keys, long element runs.
    */
  private def arrayStructCorpus(rng: scala.util.Random, rows: Int): String = {
    val sb = new StringBuilder
    (1 to rows).foreach { i =>
      val fields = scala.collection.mutable.ArrayBuffer.empty[String]
      fields += s""""id": $i"""
      def elem(): String = rng.nextInt(10) match {
        case 0 => "null"
        case 1 => "{}"
        case 2 => s"""{"x": ${rng.nextInt(1000)}}"""
        case 3 => s"""{"y": ${esc(strPool(rng.nextInt(strPool.length)))}}"""
        case 4 => s"""{"x": null, "y": ${esc(strPool(rng.nextInt(strPool.length)))}}"""
        case 5 => s"""{"x": ${Seq("\"noparse\"", "0.5", "9e3")(rng.nextInt(3))}, "y": "p"}"""
        case 6 => s"""{"x": ${Seq("{\"deep\": 1}", "[1, 2]")(rng.nextInt(2))}, "y": "c"}"""
        case 7 => s"""{"x": ${rng.nextInt(100)}, "x": ${rng.nextInt(100)}, "y": "dup"}"""
        case 8 => s"""{"zz${rng.nextInt(3)}": 1, "x": ${rng.nextInt(100)}}"""
        case _ => s"""{"y": ${esc(strPool(rng.nextInt(strPool.length)))}, "x": ${rng.nextInt(1000)}}"""
      }
      if (rng.nextInt(10) > 1)
        fields += s""""xs": ${rng.nextInt(12) match {
          case 0 => "null"
          case 1 => "[]"
          case 2 => s"${rng.nextInt(100)}"                 // scalar mismatch
          case 3 => s"""{"x": ${rng.nextInt(100)}}"""      // object mismatch
          case 4 => s"[${elem()}, ${rng.nextInt(100)}]"    // scalar ELEMENT: poison
          case 5 => s"[${elem()}, [1]]"                    // array ELEMENT: poison
          case 6 => Seq.fill(12)(elem()).mkString("[", ", ", "]")
          case _ => Seq.fill(rng.nextInt(5))(elem()).mkString("[", ", ", "]")
        }}"""
      if (rng.nextInt(10) > 4)
        fields += s""""s": ${esc(strPool(rng.nextInt(strPool.length)))}"""
      if (rng.nextInt(3) == 0)
        fields += s""""junk${rng.nextInt(5)}": [{"deep": [1]}, "two"]"""
      sb.append(rng.shuffle(fields.toSeq).mkString("{", ", ", "}")).append('\n')
    }
    sb.toString
  }

  test("ARRAY<STRUCT> corpora go COLUMNAR and read identically to spark.read.json") {
    val rng = new scala.util.Random(0xA55A57)
    val asSchema = "id LONG, xs ARRAY<STRUCT<x: LONG, y: STRING>>, s STRING"
    val projections = Seq(
      Seq("id", "xs", "s"), Seq("xs", "id"), Seq("xs"), Seq("id", "s"))
    for (trial <- 1 to 10 * SoakX.x) {
      val p = dir.resolve(s"arrstruct$trial.jsonl")
      Files.write(p, arrayStructCorpus(rng, 150).getBytes(UTF_8))
      val split = Seq("512", "4096", "1048576")(rng.nextInt(3))
      val g0 = spark.read.format("graft-json").schema(asSchema)
        .option("maxsplitbytes", split).load(p.toString)
      val j0 = spark.read.schema(asSchema).json(p.toString)
      // nested schemas read through the row scan (ColumnarPlate is flat-only)
      assert(!g0.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        s"trial $trial: ARRAY<STRUCT> schema must read through the row scan\n" +
          g0.queryExecution.executedPlan.toString)
      val proj = projections(rng.nextInt(projections.length))
      val (g, j) = rng.nextInt(4) match {
        case 0 => (g0, j0)
        case 1 => (g0.filter(col("id") < 100), j0.filter(col("id") < 100))
        case 2 => (g0.filter(col("xs").isNotNull), j0.filter(col("xs").isNotNull))
        case _ => (g0.filter(col("s").isNotNull), j0.filter(col("s").isNotNull))
      }
      val got = g.select(proj.map(col): _*).collect().map(_.toString).sorted.toSeq
      val want = j.select(proj.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(got == want,
        s"trial $trial split=$split proj=$proj: ${got.size} vs ${want.size} rows\n" +
          got.zip(want).find { case (a, b) => a != b }.map { case (a, b) =>
            s"first diff:\n  graft: $a\n  spark: $b" }.getOrElse(""))
    }
  }

  /** Container-field pathology corpus for the round-16 element-struct
    * lanes (order.items[].sku shape): element-struct fields that are
    * themselves ARRAY<atomic> or STRUCT<atomic>, with every probed
    * pathology — failed/container inner elements (inner-cell poison),
    * scalar/object-for-array and scalar/array-for-struct mismatches
    * (field null), null/[] inner cells, {}/unknown-key inner structs,
    * grandfield conversion failures, duplicate inner bindings (incl.
    * failed dups), plus the outer element/array pathologies.
    */
  private def elemContainerCorpus(rng: scala.util.Random, rows: Int): String = {
    val sb = new StringBuilder
    (1 to rows).foreach { i =>
      val fields = scala.collection.mutable.ArrayBuffer.empty[String]
      fields += s""""id": $i"""
      def tags(): String = rng.nextInt(10) match {
        case 0 => "null"
        case 1 => "[]"
        case 2 => s"${rng.nextInt(100)}"                      // scalar for array
        case 3 => """{"k": 1}"""                              // object for array
        case 4 => s"[${rng.nextInt(9)}, \"np\"]"              // failed inner elem
        case 5 => s"[${rng.nextInt(9)}, [1]]"                 // container inner elem
        case 6 => s"[${rng.nextInt(9)}, null, ${rng.nextInt(9)}]"
        case _ => Seq.fill(rng.nextInt(4))(rng.nextInt(1000).toString)
          .mkString("[", ", ", "]")
      }
      def geo(): String = rng.nextInt(10) match {
        case 0 => "null"
        case 1 => "{}"
        case 2 => s"${rng.nextInt(100)}"                      // scalar for struct
        case 3 => "[1]"                                       // array for struct
        case 4 => """{"lat": "bad", "src": "s"}"""            // grand conv failure
        case 5 => s"""{"zz": ${rng.nextInt(9)}}"""            // unknown grand key
        case 6 => s"""{"lat": ${rng.nextInt(9)}.5, "lat": ${rng.nextInt(9)}.25}"""
        case 7 => s"""{"src": {"deep": 1}}"""                 // container grandfield
        case _ => s"""{"lat": ${rng.nextInt(90)}.5, "src": "g${rng.nextInt(5)}"}"""
      }
      def elem(): String = rng.nextInt(12) match {
        case 0 => "null"
        case 1 => "{}"
        case 2 => s"""{"sku": ${rng.nextInt(1000)}}"""
        case 3 => s"""{"tags": ${tags()}}"""
        case 4 => s"""{"geo": ${geo()}}"""
        case 5 => s"""{"sku": ${rng.nextInt(99)}, "tags": ${tags()}, "geo": ${geo()}}"""
        case 6 => s"""{"tags": ${tags()}, "tags": ${tags()}}"""   // dup inner binding
        case 7 => s"""{"geo": ${geo()}, "geo": ${geo()}}"""
        case 8 => s"""{"zz": [1], "sku": ${rng.nextInt(99)}}"""   // unknown field
        case _ => s"""{"geo": ${geo()}, "sku": ${rng.nextInt(99)}, "tags": ${tags()}}"""
      }
      if (rng.nextInt(10) > 1)
        fields += s""""xs": ${rng.nextInt(12) match {
          case 0 => "null"
          case 1 => "[]"
          case 2 => s"${rng.nextInt(100)}"
          case 3 => s"[${elem()}, ${rng.nextInt(100)}]"    // scalar ELEMENT: poison
          case 4 => s"[${elem()}, [1]]"                    // array ELEMENT: poison
          case 5 => Seq.fill(8)(elem()).mkString("[", ", ", "]")
          case _ => Seq.fill(rng.nextInt(4))(elem()).mkString("[", ", ", "]")
        }}"""
      if (rng.nextInt(10) > 4)
        fields += s""""s": ${esc(strPool(rng.nextInt(strPool.length)))}"""
      if (rng.nextInt(3) == 0)
        fields += s""""junk${rng.nextInt(5)}": [{"deep": [1]}, "two"]"""
      sb.append(rng.shuffle(fields.toSeq).mkString("{", ", ", "}")).append('\n')
    }
    sb.toString
  }

  test("element-struct CONTAINER-field corpora go COLUMNAR and match spark.read.json") {
    val rng = new scala.util.Random(0xEC16EC16L)
    val ecSchema = "id LONG, xs ARRAY<STRUCT<sku: LONG, tags: ARRAY<LONG>, " +
      "geo: STRUCT<lat: DOUBLE, src: STRING>>>, s STRING"
    val projections = Seq(
      Seq("id", "xs", "s"), Seq("xs", "id"), Seq("xs"), Seq("id", "s"))
    for (trial <- 1 to 10 * SoakX.x) {
      val p = dir.resolve(s"elemcont$trial.jsonl")
      Files.write(p, elemContainerCorpus(rng, 150).getBytes(UTF_8))
      val split = Seq("512", "4096", "1048576")(rng.nextInt(3))
      val g0 = spark.read.format("graft-json").schema(ecSchema)
        .option("maxsplitbytes", split).load(p.toString)
      val j0 = spark.read.schema(ecSchema).json(p.toString)
      // nested schemas read through the row scan (ColumnarPlate is flat-only)
      assert(!g0.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        s"trial $trial: container-field schema must read through the row scan\n" +
          g0.queryExecution.executedPlan.toString)
      val proj = projections(rng.nextInt(projections.length))
      val (g, j) = rng.nextInt(3) match {
        case 0 => (g0, j0)
        case 1 => (g0.filter(col("id") < 100), j0.filter(col("id") < 100))
        case _ => (g0.filter(col("xs").isNotNull), j0.filter(col("xs").isNotNull))
      }
      val got = g.select(proj.map(col): _*).collect().map(_.toString).sorted.toSeq
      val want = j.select(proj.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(got == want,
        s"trial $trial split=$split proj=$proj: ${got.size} vs ${want.size} rows\n" +
          got.zip(want).find { case (a, b) => a != b }.map { case (a, b) =>
            s"first diff:\n  graft: $a\n  spark: $b" }.getOrElse(""))
    }
  }

  /** Pathology corpus for the round-17 ARRAY<STRUCT> STRUCT-CHILD lanes
    * (user.addresses[].city shape): every probed shape — scalar/array
    * elements (cell poison), {}/unknown-key elements (present-all-null),
    * field conversion failures and container fields (field null, element
    * survives), null elements, [] present-empty, scalar/object where the
    * array child was expected (field null), duplicate child bindings
    * (last-wins, failed dups never overwrite), duplicate element-field
    * keys, raw-text capture under the STRING field, duplicate struct
    * bindings replacing wholesale.
    */
  private def childStructArrCorpus(rng: scala.util.Random, rows: Int): String = {
    val sb = new StringBuilder
    (1 to rows).foreach { i =>
      val fields = scala.collection.mutable.ArrayBuffer.empty[String]
      fields += s""""id": $i"""
      def addrElem(): String = rng.nextInt(12) match {
        case 0 => "null"
        case 1 => "{}"
        case 2 => s"""{"city": "c${rng.nextInt(9)}"}"""
        case 3 => s"""{"zip": ${rng.nextInt(1000)}}"""
        case 4 => s"""{"city": "c${rng.nextInt(9)}", "zip": "np"}"""  // field conv failure
        case 5 => s"""{"city": "c${rng.nextInt(9)}", "zip": [1]}"""   // container field
        case 6 => s"""{"city": {"a": ${rng.nextInt(9)}}, "zip": ${rng.nextInt(99)}}""" // raw capture
        case 7 => s"""{"city": "x", "city": "y${rng.nextInt(9)}"}"""  // dup field key
        case 8 => s"""{"zip": ${rng.nextInt(9)}, "zip": "np"}"""      // failed dup field
        case 9 => s"""{"foo": ${rng.nextInt(9)}}"""                   // unknown keys
        case _ => s"""{"city": "c${rng.nextInt(9)}", "zip": ${rng.nextInt(999)}}"""
      }
      def addrs(): String = rng.nextInt(12) match {
        case 0 => "null"
        case 1 => "[]"
        case 2 => s"${rng.nextInt(100)}"                   // scalar for array
        case 3 => """{"city": "o"}"""                      // object for array
        case 4 => s"[${addrElem()}, ${rng.nextInt(100)}]"  // scalar ELEMENT: poison
        case 5 => s"[${addrElem()}, [1]]"                  // array ELEMENT: poison
        case 6 => Seq.fill(8)(addrElem()).mkString("[", ", ", "]")
        case _ => Seq.fill(rng.nextInt(4))(addrElem()).mkString("[", ", ", "]")
      }
      if (rng.nextInt(10) > 0)
        fields += s""""u": ${rng.nextInt(12) match {
          case 0 => "null"
          case 1 => "{}"
          case 2 => s"${rng.nextInt(100)}"                 // scalar struct
          case 3 => s"""{"name": "n${rng.nextInt(5)}"}"""
          case 4 => s"""{"addresses": ${addrs()}, "addresses": ${addrs()}}""" // dup binding
          case 5 => s"""{"name": "n${rng.nextInt(5)}", "addresses": ${addrs()}, "zz": [{"d": 1}]}"""
          case _ => s"""{"name": "n${rng.nextInt(5)}", "addresses": ${addrs()}}"""
        }}"""
      if (rng.nextInt(12) == 0) // dup STRUCT binding replaces wholesale
        fields += s""""u": {"addresses": ${addrs()}}"""
      if (rng.nextInt(10) > 4)
        fields += s""""s": ${esc(strPool(rng.nextInt(strPool.length)))}"""
      if (rng.nextInt(3) == 0)
        fields += s""""junk${rng.nextInt(5)}": [{"deep": [1]}, "two"]"""
      sb.append(rng.shuffle(fields.toSeq).mkString("{", ", ", "}")).append('\n')
    }
    sb.toString
  }

  test("ARRAY<STRUCT> STRUCT-CHILD corpora go COLUMNAR and match spark.read.json") {
    val rng = new scala.util.Random(0xC51717CL)
    val ckSchema = "id LONG, u STRUCT<name: STRING, " +
      "addresses: ARRAY<STRUCT<city: STRING, zip: LONG>>>, s STRING"
    val projections = Seq(
      Seq("id", "u", "s"), Seq("u", "id"), Seq("u"), Seq("id", "s"))
    for (trial <- 1 to 10 * SoakX.x) {
      val p = dir.resolve(s"childstructarr$trial.jsonl")
      Files.write(p, childStructArrCorpus(rng, 150).getBytes(UTF_8))
      val split = Seq("512", "4096", "1048576")(rng.nextInt(3))
      val g0 = spark.read.format("graft-json").schema(ckSchema)
        .option("maxsplitbytes", split).load(p.toString)
      val j0 = spark.read.schema(ckSchema).json(p.toString)
      // nested schemas read through the row scan (ColumnarPlate is flat-only)
      assert(!g0.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        s"trial $trial: struct-child ARRAY<STRUCT> schema must read through the row scan\n" +
          g0.queryExecution.executedPlan.toString)
      val proj = projections(rng.nextInt(projections.length))
      val (g, j) = rng.nextInt(3) match {
        case 0 => (g0, j0)
        case 1 => (g0.filter(col("id") < 100), j0.filter(col("id") < 100))
        case _ => (g0.filter(col("u").isNotNull), j0.filter(col("u").isNotNull))
      }
      val got = g.select(proj.map(col): _*).collect().map(_.toString).sorted.toSeq
      val want = j.select(proj.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(got == want,
        s"trial $trial split=$split proj=$proj: ${got.size} vs ${want.size} rows\n" +
          got.zip(want).find { case (a, b) => a != b }.map { case (a, b) =>
            s"first diff:\n  graft: $a\n  spark: $b" }.getOrElse(""))
    }
  }

  /** Pathology corpus for the round-17 THREE-LEVEL struct lanes (the
    * event.context.device.id shape): dup bindings at every level
    * (replace wholesale, failed dups never overwrite), per-field
    * partials, {} present-all-null at each level, scalar/array
    * mismatches at each level, containers under atomic great lanes,
    * raw-text capture for string great-fields, unknown keys at depth.
    */
  private def threeLevelCorpus(rng: scala.util.Random, rows: Int): String = {
    val sb = new StringBuilder
    (1 to rows).foreach { i =>
      val fields = scala.collection.mutable.ArrayBuffer.empty[String]
      fields += s""""id": $i"""
      def xv(): String = rng.nextInt(8) match {
        case 0 => "null"
        case 1 => "\"np\""                               // conv failure
        case 2 => s"[${rng.nextInt(9)}]"                 // container: field null
        case 3 => "{}"                                   // {} under atomic great
        case _ => s"${rng.nextInt(1000)}"
      }
      def yv(): String = rng.nextInt(6) match {
        case 0 => "null"
        case 1 => s"""{"k": ${rng.nextInt(9)}}"""        // raw capture
        case 2 => s"[${rng.nextInt(9)}]"
        case _ => s""""y${rng.nextInt(9)}""""
      }
      def bv(): String = rng.nextInt(12) match {
        case 0 => "null"
        case 1 => "{}"
        case 2 => s"${rng.nextInt(100)}"                 // scalar for struct
        case 3 => "[1]"                                  // array for struct
        case 4 => s"""{"x": ${xv()}, "x": ${xv()}}"""    // dup great key
        case 5 => s"""{"zz": ${rng.nextInt(9)}, "x": ${xv()}}""" // unknown key
        case _ => s"""{"x": ${xv()}, "y": ${yv()}}"""
      }
      def av(): String = rng.nextInt(12) match {
        case 0 => "null"
        case 1 => "{}"
        case 2 => s"${rng.nextInt(100)}"
        case 3 => s"""{"b": ${bv()}, "b": ${bv()}}"""    // dup grand binding
        case 4 => s"""{"c": ${rng.nextInt(99)}}"""
        case _ => s"""{"b": ${bv()}, "c": ${rng.nextInt(99)}}"""
      }
      if (rng.nextInt(10) > 0)
        fields += s""""t": ${rng.nextInt(10) match {
          case 0 => "null"
          case 1 => "{}"
          case 2 => s"""{"a": ${av()}, "a": ${av()}}""" // dup mid binding
          case 3 => s"""{"a": ${av()}, "d": "d${rng.nextInt(9)}", "zz": [{"q": 1}]}"""
          case _ => s"""{"a": ${av()}, "d": "d${rng.nextInt(9)}"}"""
        }}"""
      if (rng.nextInt(12) == 0) // dup TOP binding replaces wholesale
        fields += s""""t": {"a": ${av()}}"""
      if (rng.nextInt(10) > 4)
        fields += s""""s": ${esc(strPool(rng.nextInt(strPool.length)))}"""
      if (rng.nextInt(3) == 0)
        fields += s""""junk${rng.nextInt(5)}": [{"deep": [1]}, "two"]"""
      sb.append(rng.shuffle(fields.toSeq).mkString("{", ", ", "}")).append('\n')
    }
    sb.toString
  }

  test("THREE-LEVEL struct corpora go COLUMNAR and match spark.read.json") {
    val rng = new scala.util.Random(0x3713713L)
    val tlSchema = "id LONG, t STRUCT<a: STRUCT<b: STRUCT<x: LONG, y: STRING>, " +
      "c: LONG>, d: STRING>, s STRING"
    val projections = Seq(
      Seq("id", "t", "s"), Seq("t", "id"), Seq("t"), Seq("id", "s"))
    for (trial <- 1 to 10 * SoakX.x) {
      val p = dir.resolve(s"threelevel$trial.jsonl")
      Files.write(p, threeLevelCorpus(rng, 150).getBytes(UTF_8))
      val split = Seq("512", "4096", "1048576")(rng.nextInt(3))
      val g0 = spark.read.format("graft-json").schema(tlSchema)
        .option("maxsplitbytes", split).load(p.toString)
      val j0 = spark.read.schema(tlSchema).json(p.toString)
      // nested schemas read through the row scan (ColumnarPlate is flat-only)
      assert(!g0.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        s"trial $trial: three-level struct schema must read through the row scan\n" +
          g0.queryExecution.executedPlan.toString)
      val proj = projections(rng.nextInt(projections.length))
      val (g, j) = rng.nextInt(3) match {
        case 0 => (g0, j0)
        case 1 => (g0.filter(col("id") < 100), j0.filter(col("id") < 100))
        case _ => (g0.filter(col("t").isNotNull), j0.filter(col("t").isNotNull))
      }
      val got = g.select(proj.map(col): _*).collect().map(_.toString).sorted.toSeq
      val want = j.select(proj.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(got == want,
        s"trial $trial split=$split proj=$proj: ${got.size} vs ${want.size} rows\n" +
          got.zip(want).find { case (a, b) => a != b }.map { case (a, b) =>
            s"first diff:\n  graft: $a\n  spark: $b" }.getOrElse(""))
    }
  }

  /** Pathology corpus for the round-17 MAP STRUCT-CHILD lanes (the
    * payload.headers shape): null values kept, conversion-failure/
    * container/object values (cell poison), scalar/array-for-map (field
    * null), duplicate keys (BOTH append), duplicate bindings (last-wins,
    * failed dups never overwrite), raw-text capture under STRING-valued
    * maps, {} present-empty, duplicate struct bindings. LONG values
    * avoid coercible strings like the top-level map corpus.
    */
  private def childMapCorpus(rng: scala.util.Random, rows: Int): String = {
    val sb = new StringBuilder
    val keys = Seq("ka", "kb", "kc", "kd", "ke")
    (1 to rows).foreach { i =>
      val fields = scala.collection.mutable.ArrayBuffer.empty[String]
      fields += s""""id": $i"""
      def hdrVal(): String = rng.nextInt(10) match {
        case 0 => "null"                                   // null value kept
        case 1 => "\"np\""                                 // conv failure: poison
        case 2 => s"[${rng.nextInt(9)}]"                   // container: poison
        case 3 => s"""{"k": ${rng.nextInt(9)}}"""          // object: poison
        case _ => s"${rng.nextInt(1000)}"
      }
      def lblVal(): String = rng.nextInt(8) match {
        case 0 => "null"
        case 1 => s"""{"k": ${rng.nextInt(9)}}"""          // raw capture
        case 2 => s"[${rng.nextInt(9)}, ${rng.nextInt(9)}]"
        case _ => s""""v${rng.nextInt(9)}""""
      }
      def entries(v: () => String): String = {
        val n = rng.nextInt(4)
        val ks = rng.shuffle(keys).take(n) ++
          (if (rng.nextInt(5) == 0) Seq(keys(rng.nextInt(keys.length))) else Nil) // dup key
        ks.map(k => s""""$k": ${v()}""").mkString("{", ", ", "}")
      }
      def hdrs(): String = rng.nextInt(10) match {
        case 0 => "null"
        case 1 => "{}"
        case 2 => s"${rng.nextInt(100)}"                   // scalar for map
        case 3 => "[1, 2]"                                 // array for map
        case _ => entries(hdrVal _)
      }
      if (rng.nextInt(10) > 0)
        fields += s""""p": ${rng.nextInt(12) match {
          case 0 => "null"
          case 1 => "{}"
          case 2 => s"${rng.nextInt(100)}"
          case 3 => s"""{"name": "n${rng.nextInt(5)}"}"""
          case 4 => s"""{"hdrs": ${hdrs()}, "hdrs": ${hdrs()}}""" // dup binding
          case 5 => s"""{"name": "n${rng.nextInt(5)}", "hdrs": ${hdrs()}, "lbls": ${entries(lblVal _)}}"""
          case 6 => s"""{"lbls": ${entries(lblVal _)}, "zz": [{"d": 1}]}"""
          case _ => s"""{"name": "n${rng.nextInt(5)}", "hdrs": ${hdrs()}}"""
        }}"""
      if (rng.nextInt(12) == 0) // dup STRUCT binding replaces wholesale
        fields += s""""p": {"hdrs": ${hdrs()}}"""
      if (rng.nextInt(10) > 4)
        fields += s""""s": ${esc(strPool(rng.nextInt(strPool.length)))}"""
      if (rng.nextInt(3) == 0)
        fields += s""""junk${rng.nextInt(5)}": [{"deep": [1]}, "two"]"""
      sb.append(rng.shuffle(fields.toSeq).mkString("{", ", ", "}")).append('\n')
    }
    sb.toString
  }

  test("MAP STRUCT-CHILD corpora go COLUMNAR and match spark.read.json") {
    val rng = new scala.util.Random(0xC317AB5L)
    val cmSchema = "id LONG, p STRUCT<name: STRING, hdrs: MAP<STRING, LONG>, " +
      "lbls: MAP<STRING, STRING>>, s STRING"
    val projections = Seq(
      Seq("id", "p", "s"), Seq("p", "id"), Seq("p"), Seq("id", "s"))
    for (trial <- 1 to 10 * SoakX.x) {
      val p = dir.resolve(s"childmap$trial.jsonl")
      Files.write(p, childMapCorpus(rng, 150).getBytes(UTF_8))
      val split = Seq("512", "4096", "1048576")(rng.nextInt(3))
      val g0 = spark.read.format("graft-json").schema(cmSchema)
        .option("maxsplitbytes", split).load(p.toString)
      val j0 = spark.read.schema(cmSchema).json(p.toString)
      // nested schemas read through the row scan (ColumnarPlate is flat-only)
      assert(!g0.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        s"trial $trial: struct-child MAP schema must read through the row scan\n" +
          g0.queryExecution.executedPlan.toString)
      val proj = projections(rng.nextInt(projections.length))
      val (g, j) = rng.nextInt(3) match {
        case 0 => (g0, j0)
        case 1 => (g0.filter(col("id") < 100), j0.filter(col("id") < 100))
        case _ => (g0.filter(col("p").isNotNull), j0.filter(col("p").isNotNull))
      }
      val got = g.select(proj.map(col): _*).collect().map(_.toString).sorted.toSeq
      val want = j.select(proj.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(got == want,
        s"trial $trial split=$split proj=$proj: ${got.size} vs ${want.size} rows\n" +
          got.zip(want).find { case (a, b) => a != b }.map { case (a, b) =>
            s"first diff:\n  graft: $a\n  spark: $b" }.getOrElse(""))
    }
  }

  /** Map-pathology corpus for the COLUMNAR map lanes (round 13): every
    * shape a one-level MAP<STRING, atomic> column can take — present,
    * missing, null, `{}`, scalar/array mismatch, null values, container
    * values (poison), conversion-failure values (poison), duplicate keys
    * (BOTH append — spark keeps duplicates; element_at returns the first).
    * LONG-map values avoid COERCIBLE strings ("7"):
    * graft's string→number coercion succeeds where spark fails — the
    * documented deviation, shared with the atomic columns.
    */
  private def mapCorpus(rng: scala.util.Random, rows: Int): String = {
    val sb = new StringBuilder
    val keys = Seq("ka", "kb", "kc", "kd", "ke", "kf")
    (1 to rows).foreach { i =>
      val fields = scala.collection.mutable.ArrayBuffer.empty[String]
      fields += s""""id": $i"""
      def entries(n: Int, v: () => String): String =
        rng.shuffle(keys).take(n).map(k => s""""$k": ${v()}""").mkString("{", ", ", "}")
      if (rng.nextInt(10) > 1)
        fields += s""""m": ${rng.nextInt(12) match {
          case 0 => "null"
          case 1 => "{}"
          case 2 => s"${rng.nextInt(100)}"               // scalar mismatch
          case 3 => "[1, 2]"                             // array mismatch
          case 4 => entries(1 + rng.nextInt(5),
            () => if (rng.nextInt(4) == 0) "null" else (rng.nextInt(2000) - 1000).toString)
          case 5 => s"""{"ka": {"deep": 1}, "kb": 2}"""  // container value
          // failure values: a non-coercible string, or a NUMERIC token that
          // fails LONG conversion (fraction/exponent/overflow) — both must
          // poison the whole map like spark (VALUE_NUMBER_FLOAT→LONG
          // partial-results parity, round 14)
          case 6 => s"""{"ka": 1, "kb": ${Seq("\"notanumber\"", "0.4", "9e3",
            "-2.5E-2", "9223372036854775809")(rng.nextInt(5))}}"""
          case 7 => s"""{"ka": 1, "kb": 9, "ka": 2}"""   // dup key: BOTH append
          case 8 => s"""{"ka": null, "ka": 7}"""         // dup key over null: both append
          case _ => entries(1 + rng.nextInt(6),
            () => (rng.nextInt(2000) - 1000).toString)
        }}"""
      if (rng.nextInt(10) > 3)
        fields += s""""tagm": ${entries(rng.nextInt(3) + 1,
          // container VALUES into MAP<STRING,STRING> read as verbatim
          // source text, not poison (RawCaptureSpec, round 15)
          () => if (rng.nextInt(4) == 0) containerPool(rng.nextInt(containerPool.length))
                else esc(strPool(rng.nextInt(strPool.length))))}"""
      if (rng.nextInt(10) > 4)
        fields += s""""s": ${if (rng.nextInt(5) == 0)
          containerPool(rng.nextInt(containerPool.length))
          else esc(strPool(rng.nextInt(strPool.length)))}"""
      if (rng.nextInt(3) == 0)
        fields += s""""junk${rng.nextInt(5)}": {"deep": [1, {"x": 2}]}"""
      sb.append(rng.shuffle(fields.toSeq).mkString("{", ", ", "}")).append('\n')
    }
    sb.toString
  }

  test("map-lane corpora go COLUMNAR and read identically to spark.read.json") {
    val rng = new scala.util.Random(0x3A93A9)
    val mapSchema = "id LONG, m MAP<STRING, LONG>, tagm MAP<STRING, STRING>, s STRING"
    for (trial <- 1 to 10 * SoakX.x) {
      val p = dir.resolve(s"map$trial.jsonl")
      Files.write(p, mapCorpus(rng, 150).getBytes(UTF_8))
      val split = Seq("512", "4096", "1048576")(rng.nextInt(3))
      val g0 = spark.read.format("graft-json").schema(mapSchema)
        .option("maxsplitbytes", split).load(p.toString)
      val j0 = spark.read.schema(mapSchema).json(p.toString)
      // nested schemas read through the row scan (ColumnarPlate is flat-only)
      assert(!g0.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        s"trial $trial: map schema must read through the row scan\n" +
          g0.queryExecution.executedPlan.toString)
      // order-insensitive map projection: sorted keys + per-key lookups
      def shape(df: org.apache.spark.sql.DataFrame) = df.select(
        col("id"),
        array_join(sort_array(map_keys(col("m"))), ",").as("mk"),
        element_at(col("m"), "ka").as("va"),
        element_at(col("m"), "kd").as("vd"),
        array_join(sort_array(map_keys(col("tagm"))), ",").as("tk"),
        element_at(col("tagm"), "ka").as("ta"),
        col("s"))
      val got = shape(g0).collect().map(_.toString).sorted.toSeq
      val want = shape(j0).collect().map(_.toString).sorted.toSeq
      assert(got == want,
        s"trial $trial split=$split: ${got.size} vs ${want.size} rows\n" +
          got.zip(want).find { case (a, b) => a != b }.map { case (a, b) =>
            s"first diff:\n  graft: $a\n  spark: $b" }.getOrElse(""))
    }
  }

  test("VALUE_NUMBER_FLOAT→LONG failures match spark in every context (probe)") {
    // fraction/exponent/overflow tokens are lexically-valid JSON numbers
    // that FAIL LONG conversion. The empirical spark.read.json rule —
    // probed three ways here, not inferred: as a top-level LONG field the
    // FIELD reads null (per-field partial results); as an ARRAY<LONG>
    // element or MAP<STRING,LONG> value the WHOLE cell reads null
    // (containers have no per-element partial semantics). This is the
    // exact shape the stale pre-r13 RowPlateConvProps property tripped on.
    val lines =
      """{"id": 1, "v": 0.4, "a": [1, 0.4], "m": {"k": 9e3}}""" + "\n" +
      """{"id": 2, "v": 9e3, "a": [2.5E-2], "m": {"k": 0.4, "j": 1}}""" + "\n" +
      """{"id": 3, "v": 9223372036854775809, "a": [9223372036854775809], "m": {"k": -1.0e300}}""" + "\n" +
      """{"id": 4, "v": 7, "a": [7, 8], "m": {"k": 7}}"""
    val p = dir.resolve("floatlong_probe.jsonl")
    Files.write(p, lines.getBytes(UTF_8))
    val schema = "id LONG, v LONG, a ARRAY<LONG>, m MAP<STRING, LONG>"
    def shape(df: org.apache.spark.sql.DataFrame) = df.select(
      col("id"), col("v"), col("a"),
      array_join(sort_array(map_keys(col("m"))), ",").as("mk"),
      element_at(col("m"), "k").as("vk"))
      .collect().map(_.toString).sorted.toSeq
    val colPath = spark.read.format("graft-json").schema(schema).load(p.toString)
    val rowPath = spark.read.format("graft-json").schema(schema)
      .option("vectorized", "false").load(p.toString)
    val sparkRef = spark.read.schema(schema).json(p.toString)
    val want = shape(sparkRef)
    assert(shape(colPath) == want, "columnar path diverged from spark.read.json")
    assert(shape(rowPath) == want, "row path diverged from spark.read.json")
    // pin the VALUES explicitly so this stays a probe even if spark drifts
    val byId = colPath.orderBy("id").collect()
    assert(byId(0).isNullAt(1) && byId(0).isNullAt(2) && byId(0).isNullAt(3),
      "row 1: field null, array poisoned, map poisoned")
    assert(byId(1).isNullAt(1) && byId(1).isNullAt(2) && byId(1).isNullAt(3),
      "row 2: one bad value among good ones still poisons the map")
    assert(byId(2).isNullAt(1) && byId(2).isNullAt(2) && byId(2).isNullAt(3),
      "row 3: overflow behaves like fraction/exponent")
    assert(byId(3).getLong(1) == 7L &&
      byId(3).getSeq[Long](2) == Seq(7L, 8L) &&
      byId(3).getMap[String, Long](3) == Map("k" -> 7L),
      "row 4: clean integers are unaffected")
  }

  /** Temporal-token corpus (round 20): every string/number form the
    * spark.read.json temporal parsers accept or reject — zone-less and
    * space-separated timestamps, offsets, fractional seconds, padding,
    * date prefixes, single-digit fields, epoch-second integer tokens
    * (incl. negative), fractional/exponent epoch rejects, quoted
    * numbers, and garbage.
    */
  test("temporal tokens read identically to spark.read.json (strict typing)") {
    val rng = new scala.util.Random(0x7E3901A)
    val schema = "id LONG, ts TIMESTAMP, dt DATE, z LONG"
    val tsPool = Seq(
      "\"2024-01-02T03:04:05Z\"", "\"2024-01-02T03:04:05\"",
      "\"2024-01-02 03:04:05\"", "\"2024-01-02 03:04:05.5\"",
      "\"2024-01-02T03:04:05.123456+01:00\"", "\"2024-01-02T03:04:05+0100\"",
      "\" 2024-01-02T03:04:05Z \"", "\"2024-1-2T3:4:5\"",
      "1700000000", "-1000", "0", "1700000000.5", "1.5e9",
      "\"garbage\"", "\"2024\"", "null", "true", "\"1700000000\"")
    val dtPool = Seq(
      "\"2024-01-02\"", "\"2024-1-2\"", "\" 2024-01-02 \"",
      "\"2024-01-02T00:00:00\"", "\"2024/01/02\"", "19723", "19723.0",
      "\"garbage\"", "null")
    for (trial <- 1 to 4 * SoakX.x) {
      val sb = new StringBuilder
      (1 to 120).foreach { i =>
        val fields = scala.collection.mutable.ArrayBuffer.empty[String]
        fields += s""""id": $i"""
        if (rng.nextInt(10) > 1) fields += s""""ts": ${tsPool(rng.nextInt(tsPool.length))}"""
        if (rng.nextInt(10) > 1) fields += s""""dt": ${dtPool(rng.nextInt(dtPool.length))}"""
        sb.append(rng.shuffle(fields.toSeq).mkString("{", ", ", "}")).append('\n')
      }
      val p = dir.resolve(s"temporal$trial.jsonl")
      Files.write(p, sb.toString.getBytes(UTF_8))
      for (vec <- Seq(true, false)) {
        val g = spark.read.format("graft-json").schema(schema)
          .option("vectorized", vec.toString).load(p.toString)
          .collect().map(_.toString).sorted.toSeq
        val j = spark.read.schema(schema).json(p.toString)
          .collect().map(_.toString).sorted.toSeq
        assert(g == j, s"trial $trial vectorized=$vec: temporal divergence\n" +
          g.zip(j).find { case (a, b) => a != b }.map { case (a, b) =>
            s"first diff:\n  graft: $a\n  spark: $b" }.getOrElse(""))
      }
    }
  }

  /** Malformed-row modes (round 20, probed): a row with ANY discarded
    * binding (conversion failure, type mismatch, poisoned container) is
    * MALFORMED to spark — PERMISSIVE keeps its partial values and fills
    * the corrupt column with the raw source line; DROPMALFORMED drops it
    * whole. Parse-error lines behave the same. Three-wayed on corpora
    * drawing quoted-number/boolean mismatches, container mismatches, and
    * occasional raw syntax errors.
    */
  test("PERMISSIVE and DROPMALFORMED match spark on conversion failures") {
    val rng = new scala.util.Random(0xBADF00D)
    val dataSchema = "id LONG, l LONG, d DOUBLE, a ARRAY<LONG>, s STRING"
    for (trial <- 1 to 6 * SoakX.x) {
      val sb = new StringBuilder
      (1 to 100).foreach { i =>
        if (rng.nextInt(12) == 0) sb.append("{\"id\": ").append(i).append(", bad json}\n")
        else {
          val fields = scala.collection.mutable.ArrayBuffer.empty[String]
          fields += s""""id": $i"""
          if (rng.nextInt(10) > 1) fields += s""""l": ${rng.nextInt(6) match {
            case 0 => s""""${rng.nextInt(100)}""""   // quoted: discard
            case 1 => s"${rng.nextInt(100)}.5"        // float token: discard
            case 2 => s"""{"x": 1}"""                 // container: discard
            case _ => rng.nextInt(1000).toString
          }}"""
          if (rng.nextInt(10) > 2) fields += s""""d": ${rng.nextInt(5) match {
            case 0 => s""""${rng.nextInt(100)}.5"""" // quoted: discard
            case _ => (rng.nextDouble() * 100).toString
          }}"""
          if (rng.nextInt(10) > 3) fields += s""""a": ${rng.nextInt(5) match {
            case 0 => s"""[1, "x"]"""                 // poisons the cell AND the row
            case 1 => "7"                             // scalar mismatch
            case _ => s"[${rng.nextInt(100)}, ${rng.nextInt(100)}]"
          }}"""
          if (rng.nextInt(10) > 4) fields += s""""s": ${esc(strPool(rng.nextInt(strPool.length)))}"""
          sb.append(rng.shuffle(fields.toSeq).mkString("{", ", ", "}")).append('\n')
        }
      }
      val p = dir.resolve(s"malformed$trial.jsonl")
      Files.write(p, sb.toString.getBytes(UTF_8))

      // PERMISSIVE with the corrupt column
      val permSchema = s"$dataSchema, _corrupt_record STRING"
      val gp = spark.read.format("graft-json").schema(permSchema)
        .option("badrecords", "keep").load(p.toString)
        .collect().map(_.toString).sorted.toSeq
      val jp = spark.read.schema(
          org.apache.spark.sql.types.StructType.fromDDL(permSchema))
        .option("mode", "PERMISSIVE").json(p.toString)
        .collect().map(_.toString).sorted.toSeq
      assert(gp == jp, s"trial $trial PERMISSIVE diverged\n" +
        gp.zip(jp).find { case (a, b) => a != b }.map { case (a, b) =>
          s"first diff:\n  graft: $a\n  spark: $b" }.getOrElse(
            s"sizes ${gp.size} vs ${jp.size}"))

      // DROPMALFORMED (row and columnar paths)
      for (vec <- Seq(true, false)) {
        val gd = spark.read.format("graft-json").schema(dataSchema)
          .option("badrecords", "drop").option("vectorized", vec.toString)
          .load(p.toString).collect().map(_.toString).sorted.toSeq
        val jd = spark.read.schema(
            org.apache.spark.sql.types.StructType.fromDDL(dataSchema))
          .option("mode", "DROPMALFORMED").json(p.toString)
          .collect().map(_.toString).sorted.toSeq
        assert(gd == jd, s"trial $trial DROPMALFORMED vec=$vec diverged\n" +
          gd.zip(jd).find { case (a, b) => a != b }.map { case (a, b) =>
            s"first diff:\n  graft: $a\n  spark: $b" }.getOrElse(
              s"sizes ${gd.size} vs ${jd.size}"))
      }
    }
  }

  test("duplicate bindings: columnar, row, and spark.read.json agree (both modes)") {
    // round 15: duplicate ROW-LEVEL bindings are last-wins in DEFAULT
    // mode too (the saturated tail cruises and re-parses schema-key
    // duplicates) — asserted across the plain scan, the row-index scan
    // (withrowindex), spark.read.json, and both saturation settings
    val rng = new scala.util.Random(0xD0B1E5)
    val nestedSchema = "id LONG, s STRING, n STRUCT<x: LONG, y: STRING>"
    for (trial <- 1 to 6 * SoakX.x) {
      val p = dir.resolve(s"dup$trial.jsonl")
      Files.write(p, nestedCorpus(rng, 120, dupBindings = true).getBytes(UTF_8))
      val colPath = spark.read.format("graft-json").schema(nestedSchema)
        .option("saturation", "false").load(p.toString)
      // nested schemas read through the row scan (ColumnarPlate is flat-only)
      assert(!colPath.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
      // round 15: DEFAULT mode (saturation ON) keeps last-wins too — the
      // cruise-consumed tail re-parses schema-key duplicates
      val colDefault = spark.read.format("graft-json").schema(nestedSchema)
        .load(p.toString)
      // the row index must stay in the projection or pruning drops it
      val rowPath = spark.read.format("graft-json")
        .schema(s"$nestedSchema, ${GraftSources.RowIndexCol} LONG")
        .option("withrowindex", "true").load(p.toString)
        .select(col("id"), col("s"), col("n"), col(GraftSources.RowIndexCol))
      assert(!rowPath.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
      val a = colPath.collect().map(_.toString).sorted.toSeq
      val b = rowPath.collect()
        .map(r => org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2)).toString)
        .sorted.toSeq
      val c = spark.read.schema(nestedSchema).json(p.toString)
        .collect().map(_.toString).sorted.toSeq
      assert(a == b, s"trial $trial: columnar vs row diverged\n" +
        a.zip(b).find { case (x, y) => x != y }.map { case (x, y) =>
          s"first diff:\n  columnar: $x\n  row: $y" }.getOrElse(""))
      assert(a == c, s"trial $trial: columnar vs spark.read.json diverged\n" +
        a.zip(c).find { case (x, y) => x != y }.map { case (x, y) =>
          s"first diff:\n  columnar: $x\n  spark: $y" }.getOrElse(""))
      val aDef = colDefault.collect().map(_.toString).sorted.toSeq
      assert(aDef == c, s"trial $trial: DEFAULT-mode dup bindings diverged from spark\n" +
        aDef.zip(c).find { case (x, y) => x != y }.map { case (x, y) =>
          s"first diff:\n  default: $x\n  spark: $y" }.getOrElse(""))

      // PUSHED filters on duplicate-binding corpora (round 14): filter
      // verdicts are decided at finishRow over FINAL values, so pushdown
      // must match spark exactly even when an early binding definitively
      // fails and a later duplicate rebinds the column to a passing value
      val fi = trial % 3
      def filt(df: org.apache.spark.sql.DataFrame) = fi match {
        case 0 => df.filter(col("n.x") > 40)
        case 1 => df.filter(col("id") < 60)
        case _ => df.filter(col("s") === "za")
      }
      val af = filt(spark.read.format("graft-json").schema(nestedSchema)
        .option("saturation", "false").load(p.toString))
        .collect().map(_.toString).sorted.toSeq
      val cf = filt(spark.read.schema(nestedSchema).json(p.toString))
        .collect().map(_.toString).sorted.toSeq
      assert(af == cf, s"trial $trial filter $fi: pushed-filter dup-binding divergence\n" +
        af.zip(cf).find { case (x, y) => x != y }.map { case (x, y) =>
          s"first diff:\n  graft: $x\n  spark: $y" }.getOrElse(""))
    }
  }
}
