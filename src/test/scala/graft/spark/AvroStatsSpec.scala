package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import java.nio.file.Files

import graft.api.TrainingData

/** Avro stats lane: the avro sink writes the same value-level sidecars
  * (min/max/nulls/blooms) + per-directory manifest as the text sinks,
  * and the avro scan prunes whole files against them — every filter
  * stays residual (pruning is pure acceleration, zero correctness
  * exposure), stale recordings degrade to full reads, masks only shrink
  * row sets so pruning stays sound under deletion vectors.
  */
class AvroStatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val root = Files.createTempDirectory("graft-avro-stats")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("avro-stats-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    Files.walk(root).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
  }

  private def dir(name: String): String = root.resolve(name).toString
  private val schema = "id BIGINT, v STRING"

  private def writeSorted(d: String, n: Long = 4000L, parts: Int = 4): Unit = {
    val s = spark
    import s.implicits._
    (0L until n).map(i => (i, s"name-${i % 97}")).toDF("id", "v")
      .repartitionByRange(parts, org.apache.spark.sql.functions.col("id"))
      .sortWithinPartitions("id")
      .write.format("graft-avro").mode("overwrite").save(d)
  }

  test("range filters prune whole avro files from sidecar min/max; results exact") {
    val d = dir("prune")
    writeSorted(d)
    GraftScan.lastStatsPruned.set(-1)
    val got = spark.read.format("graft-avro").schema(schema)
      .option("snapshot", "true").load(d)
      .filter("id < 500")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === (0L until 500L))
    assert(GraftScan.lastStatsPruned.get >= 2,
      s"expected most of the 4 range files pruned, got ${GraftScan.lastStatsPruned.get}")
  }

  test("pruning stays sound under deletion vectors; dataskipping=false disables it") {
    val d = dir("dvprune")
    writeSorted(d)
    TrainingData.deleteWhereDV(spark, d, schema, "id % 7 = 0", format = "graft-avro")
    GraftScan.lastStatsPruned.set(-1)
    val got = spark.read.format("graft-avro").schema(schema)
      .option("snapshot", "true").load(d)
      .filter("id >= 3000")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === (3000L until 4000L).filterNot(_ % 7 == 0))
    assert(GraftScan.lastStatsPruned.get >= 2,
      "masked tables must still prune definitely-clean files")
    GraftScan.lastStatsPruned.set(-1)
    val off = spark.read.format("graft-avro").schema(schema)
      .option("snapshot", "true").option("dataskipping", "false").load(d)
      .filter("id >= 3000")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(off === got)
    assert(GraftScan.lastStatsPruned.get <= 0,
      "dataskipping=false must disable stats pruning")
  }

  test("ALTER add column: old avro files read the new column as null") {
    val d = dir("alter")
    val s = spark
    import s.implicits._
    (0L until 50L).map(i => (i, s"r$i")).toDF("id", "v").repartition(1)
      .write.format("graft-avro").mode("overwrite").save(d) // v0: no 'extra'
    TrainingData.alterTableAddColumn(spark, d, "extra", "DOUBLE") // v1
    (50L until 60L).map(i => (i, s"r$i", i * 0.5)).toDF("id", "v", "extra")
      .repartition(1)
      .write.format("graft-avro").mode("append").save(d) // v2: has 'extra'
    val got = spark.read.format("graft-avro")
      .schema("id BIGINT, v STRING, extra DOUBLE")
      .option("snapshot", "true").load(d)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(2)) null else r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(got.take(50).forall(_._2 == null),
      "pre-ALTER files must serve the new column as null (text-format parity)")
    assert(got.drop(50) === (50L until 60L).map(i => (i, i * 0.5)))
  }

  test("aggregate batteries push down: sidecar metadata answers, zero data bytes") {
    val d = dir("aggpush")
    val s = spark
    import s.implicits._
    // hand-built k=v layout (two writes) so a partition-grouped battery
    // is metadata-eligible; values deterministic
    (0L until 300L).map(i => (i, i * 2.5)).toDF("id", "score").repartition(1)
      .write.format("graft-avro").mode("overwrite").save(d + "/k=1")
    (300L until 500L).map(i => (i, i * 2.5)).toDF("id", "score").repartition(1)
      .write.format("graft-avro").mode("overwrite").save(d + "/k=2")
    val ddl = "id BIGINT, score DOUBLE, k BIGINT"
    def battery() = spark.read.format("graft-avro").schema(ddl).load(d)
      .groupBy("k")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.min("id").as("lo"),
        org.apache.spark.sql.functions.max("id").as("hi"),
        org.apache.spark.sql.functions.sum("id").as("s"))
      .orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val want = Seq(
      (1L, 300L, 0L, 299L, (0L until 300L).sum),
      (2L, 200L, 300L, 499L, (300L until 500L).sum))
    assert(battery() === want)
    // poison every data file with SAME-LENGTH garbage: only the sidecars
    // can answer now — a single decoded byte would throw
    val fsP = new org.apache.hadoop.fs.Path(d)
    val fs = fsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("k=1", "k=2").foreach { kdir =>
      fs.listStatus(new org.apache.hadoop.fs.Path(d, kdir))
        .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
        .foreach { st =>
          val junk = Array.fill[Byte](st.getLen.toInt)('x'.toByte)
          val out = fs.create(st.getPath, true)
          try out.write(junk) finally out.close()
        }
    }
    assert(battery() === want,
      "grouped battery must answer from sidecar metadata alone")
    // a DATA-column group key cannot be metadata-answered: the fallback
    // decode must FAIL on the poisoned bytes rather than return garbage
    intercept[Exception] {
      spark.read.format("graft-avro").schema(ddl).load(d)
        .groupBy("id").agg(org.apache.spark.sql.functions.sum("score"))
        .collect()
    }
  }

  test("avro agg battery folds over byte-range splits (no metadata shortcut)") {
    val d = dir("aggsplit")
    val s = spark
    import s.implicits._
    (0L until 60000L).map(i => (i, s"pri-${i % 5}")).toDF("id", "p")
      .repartition(1)
      .write.format("graft-avro").mode("overwrite").save(d)
    // dataskipping=false voids the sidecar shortcut AND the whole-file
    // metaAgg pin, so the battery parse-folds over sync-realigned ranges
    // — partial rows per range must merge to the exact answer
    val got = spark.read.format("graft-avro").schema("id BIGINT, p STRING")
      .option("dataskipping", "false").option("maxsplitbytes", "131072")
      .load(d)
      .groupBy("p")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.min("id").as("lo"),
        org.apache.spark.sql.functions.max("id").as("hi"),
        org.apache.spark.sql.functions.sum("id").as("sm"))
      .orderBy("p")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val want = (0L until 5L).map { k =>
      val ids = (0L until 60000L).filter(_ % 5 == k)
      (s"pri-$k", ids.size.toLong, ids.min, ids.max, ids.sum)
    }
    assert(got === want)
  }

  test("avro LIMIT / TopN / OFFSET push down (text-lane parity)") {
    import org.apache.spark.sql.functions.col
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: flatten(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: flatten(q.plan)
      case other => other +: other.children.flatMap(flatten)
    }
    def scanDescr(df: org.apache.spark.sql.DataFrame): String =
      flatten(df.queryExecution.executedPlan).collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
      }.map(_.scan.description()).mkString("\n")
    val d = dir("pushdowns")
    val s = spark
    import s.implicits._
    (0L until 2000L).map(i => (i, s"r-${(i * 37) % 500}")).toDF("id", "v")
      .repartition(1).sortWithinPartitions("id")
      .write.format("graft-avro").mode("overwrite").save(d)
    val g = spark.read.format("graft-avro").schema(schema).load(d)
    // LIMIT reaches the reader (decode stops early) and stays exact
    val lim = g.limit(7)
    assert(scanDescr(lim).contains("limit=7"), scanDescr(lim))
    assert(lim.collect().length === 7)
    // TopN: bounded per-partition heap, byte-identical to the full sort
    val top = g.orderBy(col("v"), col("id")).limit(9)
    assert(scanDescr(top).contains("topN=9"), scanDescr(top))
    assert(top.collect().map(_.toString).toSeq ===
      g.orderBy(col("v"), col("id")).collect().take(9).map(_.toString).toSeq)
    // OFFSET: complete push over the single file, exact rows
    val off = g.offset(1995)
    assert(scanDescr(off).contains("offset=1995"), scanDescr(off))
    assert(off.collect().map(_.getLong(0)).sorted.toSeq === (1995L until 2000L))
    // multi-file listing refuses the offset (no global row order)
    val d2 = dir("pushdowns2")
    (0L until 100L).map(i => (i, s"r$i")).toDF("id", "v").repartition(2)
      .write.format("graft-avro").mode("overwrite").save(d2)
    val g2 = spark.read.format("graft-avro").schema(schema).load(d2)
    val off2 = g2.offset(10)
    assert(!scanDescr(off2).contains("offset="), scanDescr(off2))
    assert(off2.count() === 90L)
  }

  test("sidecar sorted flag: sorted avro output reports ordering, unsorted does not") {
    val s = spark
    import s.implicits._
    def scanOrd(d: String) = spark.read.format("graft-avro").schema(schema)
      .load(d).queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.ordering
      }.flatten
    val ds = dir("ordered")
    (0L until 900L).map(i => (i, s"t-$i")).toDF("id", "v")
      .repartitionByRange(3, org.apache.spark.sql.functions.col("id"))
      .sortWithinPartitions("id")
      .write.format("graft-avro").mode("overwrite").save(ds)
    assert(scanOrd(ds).exists(_.nonEmpty),
      "sorted avro files must surface an output ordering on the scan")
    val du = dir("unordered")
    (0L until 900L).map(i => ((i * 37) % 900, s"t-$i")).toDF("id", "v")
      .coalesce(1)
      .write.format("graft-avro").mode("overwrite").save(du)
    assert(!scanOrd(du).exists(_.nonEmpty),
      "unsorted avro files must claim no ordering")
  }

  test("aggregate batteries over masked avro parse post-mask rows (no metadata shortcut)") {
    val d = dir("aggmask")
    val s = spark
    import s.implicits._
    (0L until 1000L).map(i => (i, i * 3L)).toDF("id", "w").repartition(2)
      .write.format("graft-avro").mode("overwrite").save(d)
    val ddl = "id BIGINT, w BIGINT"
    TrainingData.deleteWhereDV(spark, d, ddl, "id % 5 = 0", format = "graft-avro")
    val got = spark.read.format("graft-avro").schema(ddl)
      .option("snapshot", "true").load(d)
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("w").as("sw"),
        org.apache.spark.sql.functions.min("id").as("lo"))
      .collect().head
    val ids = (0L until 1000L).filterNot(_ % 5 == 0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) ===
      ((ids.size.toLong, ids.map(_ * 3L).sum, 1L)))
  }

  test("string point lookups prune via blooms; a stale sidecar degrades to a full read") {
    val d = dir("bloom")
    val s = spark
    import s.implicits._
    // two files with disjoint name sets
    (0L until 500L).map(i => (i, s"alpha-$i")).toDF("id", "v").repartition(1)
      .write.format("graft-avro").mode("overwrite").save(d)
    (500L until 1000L).map(i => (i, s"beta-$i")).toDF("id", "v").repartition(1)
      .write.format("graft-avro").mode("append").save(d)
    GraftScan.lastStatsPruned.set(-1)
    val got = spark.read.format("graft-avro").schema(schema)
      .option("snapshot", "true").load(d)
      .filter("v = 'beta-777'").collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(777L))
    assert(GraftScan.lastStatsPruned.get === 1,
      "the alpha file must prune (min/max or bloom)")
    // stale sidecar: replace a data file out-of-band with different bytes
    // of a DIFFERENT length — the length binding must void its stats
    val fsP = new org.apache.hadoop.fs.Path(d)
    val fs = fsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(fsP)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
    assert(files.length === 2)
    // whichever file holds beta rows, its sidecar claims beta-only values;
    // simulate an out-of-band replacement by swapping the two data files
    val Array(a, b) = files.map(_.getPath)
    // the soundness of this test rests on the length binding actually
    // firing — if an encoding change ever made the two files byte-equal,
    // the swap would test nothing
    assert(fs.getFileStatus(a).getLen !== fs.getFileStatus(b).getLen,
      "test precondition: the swapped files must differ in length")
    val tmp = new org.apache.hadoop.fs.Path(d, "swap.tmp")
    fs.rename(a, tmp); fs.rename(b, a); fs.rename(tmp, b)
    // lengths changed under both sidecars (the two files differ in size)
    // → stats void → no pruning, still-exact results
    val swapped = spark.read.format("graft-avro").schema(schema).load(d)
      .filter("v = 'alpha-123'").collect()
    assert(swapped.map(_.getLong(0)).toSeq === Seq(123L),
      "stale sidecars must degrade to full reads, never wrong subsets")
  }
}
