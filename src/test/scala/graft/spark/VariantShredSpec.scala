package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.nio.charset.StandardCharsets.UTF_8

/** Explicit sub-variant shredded reads: a metadata-tagged schema
  * (GraftSources.shreddedSchema) makes the reader parse ONLY the requested
  * subtrees through PathVariantPlate, byte-skipping the rest; results must
  * equal variant_get over the full open-typed read.
  *
  * (The DSv2 SupportsPushDownVariantExtractions route is deliberately not
  * implemented — this Spark build's planner rewrite breaks for V2 sources
  * whatever the source answers; see the note in GraftScanBuilder.)
  */
class VariantShredSpec extends AnyFunSuite with TempDirs {

  private var spark: SparkSession = _
  private var path: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("variant-shred-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = tempDir("graft-shred")
    val rows = (1 to 30).map { i =>
      if (i % 5 == 0) s"""{"a": $i, "pad": "${"x" * 50}"}""" // meta missing
      else
        s"""{"a": $i, "meta": {"len": ${i * 2}, "tag": "t${i % 3}", "deep": {"z": ${i % 7}}},""" +
          s""" "pad": "${"x" * 50}", "arr": [1, 2, {"q": $i}]}"""
    }.mkString("\n") + "\n"
    path = dir.resolve("rows.jsonl").toString
    Files.write(java.nio.file.Paths.get(path), rows.getBytes(UTF_8))
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    super.afterAll()
  }

  test("shredded read equals variant_get over the full variant read") {
    val shredded = spark.read.format("graft-json")
      .option("variant", "true")
      .schema(GraftSources.shreddedSchema(Seq("$.a", "$.meta", "$.meta.deep", "$.arr")))
      .load(path)
      .selectExpr(
        "variant_get(v0, '$', 'long') AS a",
        "cast(v1 AS STRING) AS meta_s",
        "cast(v2 AS STRING) AS deep_s",
        "cast(v3 AS STRING) AS arr_s")
      .orderBy("a").collect().map(_.toString).toSeq
    val full = spark.read.format("graft-json")
      .option("variant", "true").load(path)
      .selectExpr(
        "variant_get(value, '$.a', 'long') AS a",
        "cast(variant_get(value, '$.meta') AS STRING) AS meta_s",
        "cast(variant_get(value, '$.meta.deep') AS STRING) AS deep_s",
        "cast(variant_get(value, '$.arr') AS STRING) AS arr_s")
      .orderBy("a").collect().map(_.toString).toSeq
    assert(shredded == full && shredded.length == 30)
  }

  test("missing paths are null; overlapping paths both fill") {
    val df = spark.read.format("graft-json")
      .option("variant", "true")
      .schema(GraftSources.shreddedSchema(Seq("$.meta", "$.meta.len", "$.nope")))
      .load(path)
    val rows = df.selectExpr(
      "v0 IS NULL AS meta_null",
      "variant_get(v1, '$', 'long') AS len",
      "v2 IS NULL AS nope_null").collect()
    assert(rows.length == 30)
    assert(rows.count(_.getBoolean(0)) == 6)        // every 5th row lacks meta
    assert(rows.forall(_.getBoolean(2)))            // $.nope never present
    assert(rows.filter(!_.isNullAt(1)).map(_.getLong(1)).sorted.toSeq ==
      (1 to 30).filter(_ % 5 != 0).map(_ * 2L).sorted.toSeq)
  }

  test("whole-row '$' capture matches the plain variant read") {
    val a = spark.read.format("graft-json").option("variant", "true")
      .schema(GraftSources.shreddedSchema(Seq("$")))
      .load(path).selectExpr("cast(v0 AS STRING) AS s")
      .collect().map(_.getString(0)).sorted.toSeq
    val b = spark.read.format("graft-json").option("variant", "true")
      .load(path).selectExpr("cast(value AS STRING) AS s")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(a == b)
  }

  test("off-path bytes are skipped at the parser level") {
    val plate = new PathVariantPlate(Array(Array("meta", "len")), _ => ())
    val parser = new graft.core.json.JsonParser(plate, graft.core.json.JsonParser.ValueStream)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    parser.absorb(bytes)
    parser.finish()
    assert(plate.totalSkippedBytes > bytes.length / 2) // pad+arr dominate
  }

  test("unsupported shred paths are rejected eagerly") {
    intercept[IllegalArgumentException](GraftSources.shreddedSchema(Seq("$.arr[2]")))
    intercept[IllegalArgumentException](GraftSources.shreddedSchema(Seq("$.a..b")))
  }

  test("randomized documents: shredded paths equal variant_get (sweep)") {
    val rnd = new scala.util.Random(20260812L)
    def gen(depth: Int): String =
      if (depth <= 0 || rnd.nextInt(3) == 0) rnd.nextInt(4) match {
        case 0 => rnd.nextInt(1000).toString
        case 1 => s""""s${rnd.nextInt(100)}""""
        case 2 => if (rnd.nextBoolean()) "true" else "null"
        case 3 if depth > 0 =>
          s"[${Seq.fill(rnd.nextInt(3))(gen(depth - 1)).mkString(",")}]"
        case _ => "[]"
      } else {
        val keys = Seq("a", "b", "c", "d").take(1 + rnd.nextInt(3))
        s"{${keys.map(k => s""""$k": ${gen(depth - 1)}""").mkString(",")}}"
      }
    val docs = Seq.fill(40)(s"""{"r": ${gen(3)}, "pad": "zz"}""")
    val dir = tempDir("graft-shred-rnd")
    val p = dir.resolve("r.jsonl").toString
    Files.write(java.nio.file.Paths.get(p), docs.mkString("\n").getBytes(UTF_8))
    val paths = Seq("$.r", "$.r.a", "$.r.b", "$.r.a.c", "$.r.d")
    val sel = paths.zipWithIndex.map { case (_, i) => s"cast(v$i AS STRING)" }
    val shredded = spark.read.format("graft-json").option("variant", "true")
      .schema(GraftSources.shreddedSchema(paths)).load(p)
      .selectExpr(sel: _*).collect().map(_.toString).toSeq
    val full = spark.read.format("graft-json").option("variant", "true").load(p)
      .selectExpr(paths.map(q => s"cast(variant_get(value, '$q') AS STRING)"): _*)
      .collect().map(_.toString).toSeq
    assert(shredded.sorted == full.sorted)
  }

  test("exact decimals survive subtree capture") {
    val p2 = tempDir("graft-shred2").resolve("d.jsonl").toString
    Files.write(java.nio.file.Paths.get(p2),
      """{"m": {"d": 1.230, "big": 12345678901234567890.12345}}""".getBytes(UTF_8))
    val s = spark.read.format("graft-json").option("variant", "true")
      .schema(GraftSources.shreddedSchema(Seq("$.m")))
      .load(p2).selectExpr("cast(v0 AS STRING)").collect()(0).getString(0)
    val full = spark.read.format("graft-json").option("variant", "true")
      .load(p2).selectExpr("cast(variant_get(value, '$.m') AS STRING)")
      .collect()(0).getString(0)
    // big decimals beyond double range survive exactly; rendering matches
    // the unshredded variant_get byte for byte (cast drops trailing zeros
    // on both sides identically)
    assert(s == full && s.contains("12345678901234567890.12345"))
  }
}
