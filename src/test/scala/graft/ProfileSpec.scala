package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.functions.{BoundedLevenshteinRule, GraftFunctions}
import graft.plans.AsOfJoinStrategy
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import scala.jdk.CollectionConverters._

/** The session factory's settings, and `Profile`'s per-query records for
  * a batch query and a streaming gate.
  */
class ProfileSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var profile: Profile = _

  override def beforeAll(): Unit = {
    // the extension setting is static: only a new session picks it up
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    spark = GraftSession.local("profile-spec", cpus = 2)
    profile = new Profile(spark, "/root/testdata/sf0.001")
  }

  override def afterAll(): Unit = {
    if (profile != null) profile.close()
    if (spark != null) spark.stop()
  }

  test("the factory's session has graft's settings and extension") {
    assert(spark.sparkContext.master == "local[2]")
    Seq(
      "spark.sql.shuffle.partitions" -> "2",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.extensions" -> "graft.functions.GraftSparkExtensions",
      "spark.ui.enabled" -> "false"
    ).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ==
      org.apache.logging.log4j.Level.WARN)
    assert(spark.sessionState.optimizer.extendedOperatorOptimizationRules
      .contains(BoundedLevenshteinRule))
    assert(spark.sessionState.planner.extraPlanningStrategies.contains(AsOfJoinStrategy))
  }

  test("register() leaves the optimizer rule to the configured extension") {
    GraftFunctions.register(spark)
    assert(spark.experimental.extraOptimizations.isEmpty)
  }

  private def profiled(name: String): JsonNode = {
    val q = SparkEntry.registry.find(_.name == name).get
    val Seq(line) = profile.run(q, passes = 1, plan = false)
    val rec = new ObjectMapper().readTree(line)
    assert(rec.get("name").asText == name && rec.get("pass").asInt == 1)
    Seq("wall_ms", "build_ms", "exec_ms", "analysis_ms", "optimization_ms", "planning_ms",
      "jobs", "job_ms", "stages", "tasks", "task_run_ms", "shuffle_read_bytes",
      "shuffle_write_bytes", "codegen_compiles").foreach(f => assert(rec.get(f).isNumber, f))
    assert(rec.get("codegen_compiles").asLong >= 0)
    assert(!rec.has("error"), String.valueOf(rec.get("error")))
    assert(rec.get("jobs").asLong >= 1)
    def micros(f: String) = math.round(rec.get(f).asDouble * 1000)
    assert(micros("build_ms") + micros("exec_ms") <= micros("wall_ms"))
    rec
  }

  test("a batch query's record splits its wall time and counts its jobs") {
    val rec = profiled("q01_pricing_summary")
    assert(rec.get("stages").asLong >= 1 && rec.get("tasks").asLong >= 1)
    assert(!rec.has("batches"))
  }

  test("a streaming gate's record lists its micro-batches") {
    val batches = profiled("q55_flatmap_state_timeout").get("batches").elements.asScala.toSeq
    assert(batches.nonEmpty)
    assert(batches.exists(_.get("triggerExecution").isNumber))
  }
}
