package graft.spark

import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, TableProvider}
import org.apache.spark.sql.connector.read.PartitionReaderFactory
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** How the Hadoop conf reaches graft tasks: one broadcast per distinct
  * conf per SparkContext (GraftSources.broadcastHadoopConf), referenced by
  * every reader and writer factory. Pins what a task carries (a few KB,
  * not the ~113 KB serialized conf), that the broadcast tracks every conf
  * change and never outlives its context, and that a key set only at
  * runtime reaches the tasks of the next scan.
  */
class ConfBroadcastSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private var spark: SparkSession = _
  private val dir = Files.createTempDirectory("graft-conf-broadcast")

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("conf-broadcast-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def beforeAll(): Unit = spark = session()

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  private def write(name: String, content: String): String = {
    val p = dir.resolve(name)
    Files.write(p, content.getBytes(UTF_8))
    p.toString
  }

  private val jsonRows: String = (1 to 40).map(i =>
    s"""{"id": $i, "grp": ${i % 3}, "name": "n$i", "v": ${i * 2}}""").mkString("\n") + "\n"
  private val jsonSchema = StructType(Seq(StructField("id", LongType),
    StructField("grp", LongType), StructField("name", StringType), StructField("v", LongType)))

  private def readerFactory(df: DataFrame): PartitionReaderFactory = {
    val scans = collect(df.queryExecution.executedPlan) { case s: BatchScanExec => s }
    assert(scans.size == 1, df.queryExecution.executedPlan.toString)
    scans.head.readerFactory
  }

  private def serializedBytes(o: AnyRef): Int =
    new JavaSerializer(spark.sparkContext.getConf).newInstance()
      .serialize(o)(scala.reflect.ClassTag.AnyRef).limit()

  private val TaskBudget = 8 * 1024

  test("reader factories of json, csv, count, aggregate and avro scans stay under 8 KB") {
    val json = write("payload.json", jsonRows)
    val csv = write("payload.csv",
      "id,name\n" + (1 to 40).map(i => s"$i,n$i").mkString("\n") + "\n")
    val avro = dir.resolve("payload_avro").toString
    spark.range(40).selectExpr("id", "cast(id as string) as name")
      .write.format("graft-avro").mode("overwrite").save(avro)
    val jsonDf = spark.read.format("graft-json").schema(jsonSchema).load(json)
    val cases = Seq(
      "graft-json scan" -> jsonDf.select("id", "name"),
      "graft-csv scan" -> spark.read.format("graft-csv").option("header", "true")
        .schema("id LONG, name STRING").load(csv),
      "pushed COUNT scan" -> jsonDf.agg(count(lit(1))),
      "pushed aggregate scan" -> jsonDf.agg(count(lit(1)), sum("v"), max("id")),
      "graft-avro scan" -> spark.read.format("graft-avro").load(avro).select("name"))
    cases.foreach { case (what, df) =>
      df.collect() // the plan must be executable, not just plannable
      val f = readerFactory(df)
      val n = serializedBytes(f)
      assert(n < TaskBudget, s"$what: ${f.getClass.getSimpleName} serializes to $n bytes")
    }
    assert(readerFactory(cases(2)._2).isInstanceOf[GraftCountReaderFactory])
    assert(readerFactory(cases(3)._2).isInstanceOf[GraftAggReaderFactory])
  }

  private def writerFactoryBytes(provider: TableProvider with DataSourceRegister): (String, Int) = {
    val out = dir.resolve(s"payload_write_${provider.shortName}").toString
    val props = Map("path" -> out).asJava
    val table = provider.getTable(jsonSchema, Array.empty, props)
    val info = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap = new CaseInsensitiveStringMap(props)
      override def queryId(): String = "conf-broadcast-spec"
      override def schema(): StructType = jsonSchema
    }
    val factory = table.asInstanceOf[SupportsWrite].newWriteBuilder(info).build().toBatch
      .createBatchWriterFactory(new PhysicalWriteInfo { def numPartitions(): Int = 1 })
    (factory.getClass.getSimpleName, serializedBytes(factory))
  }

  test("the graft-json write's DataWriterFactory stays under 8 KB") {
    val (cls, n) = writerFactoryBytes(new GraftJsonTableProvider)
    assert(n < TaskBudget, s"$cls serializes to $n bytes")
  }

  test("graft-csv and graft-avro write factories stay under 8 KB") {
    Seq(new GraftCsvTableProvider, new GraftAvroTableProvider).foreach { provider =>
      val (cls, n) = writerFactoryBytes(provider)
      assert(n < TaskBudget, s"${provider.shortName}: $cls serializes to $n bytes")
    }
  }

  test("an unchanged conf reuses its broadcast; any change ships a fresh one") {
    val a = GraftSources.broadcastHadoopConf(spark)
    val b = GraftSources.broadcastHadoopConf(spark)
    assert(a.id == b.id)

    spark.conf.set("graft.test.k", "v")
    try {
      val c = GraftSources.broadcastHadoopConf(spark)
      assert(c.id != a.id)
      assert(c.value.value.get("graft.test.k") == "v")
      assert(a.value.value.get("graft.test.k") == null, "a shipped conf was mutated")
    } finally spark.conf.unset("graft.test.k")

    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("graft.test.hk", "w")
    try {
      val d = GraftSources.broadcastHadoopConf(spark)
      assert(d.value.value.get("graft.test.hk") == "w")
      assert(d.value.value.get("graft.test.k") == null)
    } finally hc.unset("graft.test.hk")
    assert(GraftSources.broadcastHadoopConf(spark).value.value.get("graft.test.hk") == null)
  }

  test("a key set only at runtime reaches the tasks of the next scan") {
    val p = write("runtime_key.json", jsonRows)
    def ids(path: String): Set[Long] =
      spark.read.format("graft-json").schema(jsonSchema).load(path)
        .select("id").collect().map(_.getLong(0)).toSet
    assert(ids(p) == (1L to 40L).toSet) // ships (and remembers) a conf first
    // the test scheme resolves only through the conf; no FileSystem cache,
    // so every task looks its scheme up in the conf it was shipped
    spark.conf.set(s"fs.${RuntimeSchemeFs.Scheme}.impl", classOf[RuntimeSchemeFs].getName)
    spark.conf.set(s"fs.${RuntimeSchemeFs.Scheme}.impl.disable.cache", "true")
    try assert(ids(s"${RuntimeSchemeFs.Scheme}://$p") == (1L to 40L).toSet)
    finally {
      spark.conf.unset(s"fs.${RuntimeSchemeFs.Scheme}.impl")
      spark.conf.unset(s"fs.${RuntimeSchemeFs.Scheme}.impl.disable.cache")
    }
  }

  test("a stopped context's broadcast is never handed out again") {
    val before = GraftSources.broadcastHadoopConf(spark)
    spark.stop()
    spark = session()
    val after = GraftSources.broadcastHadoopConf(spark)
    assert(after ne before)
    // the broadcast belongs to the live context: its tasks can read it
    val got = spark.sparkContext.parallelize(Seq(1), 1)
      .map(_ => after.value.value.get("fs.defaultFS")).collect()
    assert(got.sameElements(Array(after.value.value.get("fs.defaultFS"))))
    assert(GraftSources.broadcastHadoopConf(spark) eq after)
  }
}

/** The local filesystem under a scheme that exists only where the conf
  * names its implementation.
  */
class RuntimeSchemeFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = RuntimeSchemeFs.Uri
  override def getScheme: String = RuntimeSchemeFs.Scheme
}

object RuntimeSchemeFs {
  val Scheme = "graftrt"
  val Uri: java.net.URI = java.net.URI.create(s"$Scheme:///")
}
