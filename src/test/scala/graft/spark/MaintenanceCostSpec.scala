package graft.spark

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import graft.api.TrainingData

/** What one maintenance op costs, counted rather than timed: the Spark
  * jobs it launches (a `SparkListener`, AQE on) and the filesystem calls
  * it makes ([[CountingFs]]). The table is fixed: two committed files in
  * `k=a/` and `k=b/`, plus an uncommitted copy in `k=c/` that only a raw
  * walk of the tree would list.
  */
class MaintenanceCostSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tmp = Files.createTempDirectory("graft-maint-cost")
  private val jobs = new AtomicInteger
  private val schema = "id BIGINT, v STRING"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("maintenance-cost-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(s"spark.hadoop.fs.${CountingFs.Scheme}.impl", classOf[CountingFs].getName)
      .config(s"spark.hadoop.fs.${CountingFs.Scheme}.impl.disable.cache", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  /** A fresh copy of the fixed table; returns its scheme-less path. */
  private def table(name: String): String = {
    val local = tmp.resolve(name)
    val s = spark
    import s.implicits._
    (0L until 40L).map(i => (i, s"r$i", if (i < 20) "a" else "b")).toDF("id", "v", "k")
      .repartition(1).write.format("graft-json").option("partitionby", "k")
      .mode("overwrite").save(s"${CountingFs.Scheme}://$local")
    val committed = Files.list(local.resolve("k=a")).filter(p =>
      !p.getFileName.toString.startsWith(".")).findFirst().get()
    Files.createDirectories(local.resolve("k=c"))
    Files.copy(committed, local.resolve("k=c").resolve("part-uncommitted.jsonl"),
      StandardCopyOption.REPLACE_EXISTING)
    local.toString
  }

  private final case class Cost(jobs: Int, logListings: Long, rootListings: Long,
      rawWalkListings: Long)

  private def cost(root: String)(op: String => Unit): Cost = {
    ListenerBusAccess.drain(spark.sparkContext)
    jobs.set(0)
    CountingFs.reset()
    op(s"${CountingFs.Scheme}://$root")
    ListenerBusAccess.drain(spark.sparkContext)
    Cost(jobs.get,
      CountingFs.count("listStatus", s"$root/.graft-log"),
      CountingFs.count("listStatus", root),
      CountingFs.countUnder("listStatus", s"$root/k=c"))
  }

  private def ids(dir: String): Seq[Long] =
    spark.read.format("graft-json").schema(schema + ", k STRING")
      .load(s"${CountingFs.Scheme}://$dir").collect().map(_.getLong(0)).sorted.toSeq

  test("deleteWhereDV: one scan-and-write pass, one log listing per resolution, no walk") {
    val t = table("delete_dv")
    val c = cost(t) { d =>
      assert(TrainingData.deleteWhereDV(spark, d, schema, "id % 10 = 3").length == 2)
    }
    info(c.toString)
    assert(ids(t) == (0L until 40L).filterNot(_ % 10 == 3))
    assert(c.jobs <= 2, c)
    assert(c.rawWalkListings == 0, c)
    assert(c.rootListings == 0, c)
    assert(c.logListings == 3, c)
  }

  test("updateWhere: phase 1 collects its candidate files in one job") {
    val t = table("update_cow")
    val c = cost(t) { d =>
      assert(TrainingData.updateWhere(spark, d, schema, "id = 25",
        Map("v" -> "'x'")).length == 1)
    }
    info(c.toString)
    assert(ids(t) == (0L until 40L))
    assert(c.jobs == 2, c)
    assert(c.rawWalkListings == 0, c)
    assert(c.rootListings == 0, c)
    assert(c.logListings == 5, c)
  }

  test("a filtered read lists the log once per resolution, graft-avro as graft-json") {
    def read(format: String): Cost = {
      val root = tmp.resolve(s"read_$format").toString
      spark.range(0, 40, 1, 2).selectExpr("id", "concat('r', id) AS v")
        .write.format(format).mode("overwrite").save(s"${CountingFs.Scheme}://$root")
      cost(root) { d =>
        assert(spark.read.format(format).schema(schema).load(d)
          .filter("id >= 30").collect().length == 10)
      }
    }
    val a = read("graft-avro")
    val j = read("graft-json")
    info(s"graft-avro $a, graft-json $j")
    // one resolution each: the scan's listing serves planning, statistics
    // and the avro reader's recorded columns
    assert(a.logListings == 1, a)
    assert(j.logListings == 1, j)
  }
}
