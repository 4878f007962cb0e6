package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Where each registry query's time goes, as one JSONL record per query
  * and measured pass on stdout. Each query first runs once unrecorded
  * (JIT, footer caches), then `--passes` times (default 2) through the
  * noop sink, as `Bench` times it. A record holds:
  *  - `wall_ms` = `build_ms` (the query's `build`, which also runs stream
  *    drains and eager jobs) + `exec_ms` (the noop write);
  *  - `analysis_ms`, `optimization_ms`, `planning_ms`: the
  *    `QueryPlanningTracker` phases summed over the pass's query executions;
  *  - `jobs`, `stages`, `tasks`, `task_run_ms`, `shuffle_read_bytes`,
  *    `shuffle_write_bytes`, and `job_ms`, the time any job was running;
  *  - `batches`: each micro-batch's `durationMs`, for streaming gates;
  *  - `error` when the query throws (the run goes on);
  *  - `plan` with `--plan`: `explain("formatted")` of the warm-up build,
  *    on the first pass's record.
  *
  * Best-of tables are computed from the JSONL.
  *
  * Usage: sbt "runMain graft.Profile [--passes N] [--plan] [name-or-prefix ...]"
  *        (SPARK_GRAFT_SF_DIR overrides the data dir, default sf0.01;
  *        SPARK_GRAFT_CPUS the cores, default 32 as for `Bench`)
  */
final class Profile(spark: SparkSession, sfDir: String) {
  import Profile._

  // Listener events arrive asynchronously. Jobs are attributed by a local
  // property that threads started by the query (stream executions,
  // broadcast builds) inherit: a micro-batch job carries the stream's own
  // job description, not the caller's. Query executions and micro-batches
  // carry their own start times and are attributed by the pass's window.
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]
  private val stagePass = new ConcurrentHashMap[Int, String]
  private val jobs = new ConcurrentLinkedQueue[(String, Long, Long)]
  private val stages = new ConcurrentLinkedQueue[String]
  private val tasks = new ConcurrentLinkedQueue[Task]
  private val qes = new ConcurrentLinkedQueue[QueryExecution]
  private val batches = new ConcurrentLinkedQueue[(Long, Map[String, Long])]
  @volatile private var lastEventMs = System.currentTimeMillis()
  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      Option(e.properties).flatMap(p => Option(p.getProperty(PassKey))).foreach { pass =>
        jobStart.put(e.jobId, (pass, e.time))
        e.stageIds.foreach(stagePass.put(_, pass))
      }
      touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobStart.remove(e.jobId)).foreach { case (pass, t) => jobs.add((pass, t, e.time)) }
      touch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      Option(stagePass.get(e.stageInfo.stageId)).foreach(stages.add)
      touch()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      Option(stagePass.get(e.stageId)).filter(_ => m != null).foreach { pass =>
        tasks.add(Task(pass, m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten))
      }
      touch()
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      qes.add(qe); touch()
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = {
      qes.add(qe); touch()
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add((java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      touch()
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  /** Runs `q` once unrecorded, then `passes` times; one JSON record per pass. */
  def run(q: GQuery, passes: Int, plan: Boolean): Seq[String] = {
    val warm = once(q, 0, plan)
    val runs = (1 to passes).map(once(q, _, plan = false))
    // every event of the query is queued by now; wait until it is delivered
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() - lastEventMs < 200 && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    val recs = runs.map(r => record(r, if (r.pass == 1) warm.plan else None))
    Seq(jobStart, stagePass).foreach(_.clear())
    Seq(jobs, stages, tasks, qes, batches).foreach(_.clear())
    recs
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  private def once(q: GQuery, pass: Int, plan: Boolean): Pass = {
    val sc = spark.sparkContext
    val key = s"${q.name}#$pass"
    sc.setLocalProperty(PassKey, key)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    var built = -1L
    var df: DataFrame = null
    var planText: Option[String] = None
    val error = try {
      df = q.build(spark, sfDir)
      built = System.nanoTime()
      if (plan) planText = Some(df.queryExecution.explainString(FormattedMode))
      df.write.format("noop").mode("overwrite").save()
      None
    } catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
    finally sc.setLocalProperty(PassKey, null)
    val n1 = System.nanoTime()
    if (built < 0) built = n1
    Pass(q.name, pass, key, t0, System.currentTimeMillis(), n0, built, n1,
      Option(df).map(_.queryExecution), planText, error)
  }

  private def record(r: Pass, plan: Option[String]): String = {
    def within(ms: Long) = ms >= r.startMs && ms <= r.endMs
    val passQes = (qes.asScala.filter(qe => qe.tracker.phases.values.exists(p =>
      within(p.startTimeMs))).toSeq ++ r.built).distinct
    def phase(name: String): Long = passQes.flatMap(_.tracker.phases.get(name))
      .map(p => p.endTimeMs - p.startTimeMs).sum
    val passJobs = jobs.asScala.filter(_._1 == r.key).map(j => (j._2, j._3)).toSeq
    val passTasks = tasks.asScala.filter(_.pass == r.key).toSeq
    val passBatches = batches.asScala.filter(b => within(b._1)).toSeq.sortBy(_._1)
    def str(s: String) = Verify.jsonString(s)
    def obj(kv: Seq[(String, String)]) =
      kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    // whole microseconds, rounded down: build_ms + exec_ms never exceeds wall_ms
    def ms(fromNs: Long, toNs: Long) = ((toNs - fromNs) / 1000 / 1000.0).toString
    val fields = Seq(
      "name" -> str(r.name), "pass" -> r.pass.toString,
      "wall_ms" -> ms(r.startNs, r.endNs), "build_ms" -> ms(r.startNs, r.builtNs),
      "exec_ms" -> ms(r.builtNs, r.endNs),
      "analysis_ms" -> phase("analysis").toString,
      "optimization_ms" -> phase("optimization").toString,
      "planning_ms" -> phase("planning").toString,
      "jobs" -> passJobs.size.toString, "job_ms" -> unionMs(passJobs).toString,
      "stages" -> stages.asScala.count(_ == r.key).toString,
      "tasks" -> passTasks.size.toString,
      "task_run_ms" -> passTasks.map(_.runMs).sum.toString,
      "shuffle_read_bytes" -> passTasks.map(_.shuffleRead).sum.toString,
      "shuffle_write_bytes" -> passTasks.map(_.shuffleWrite).sum.toString) ++
      (if (passBatches.isEmpty) Nil else Seq("batches" -> passBatches.map { case (_, d) =>
        obj(d.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })
      }.mkString("[", ",", "]"))) ++
      r.error.map(e => "error" -> str(e)) ++ plan.map(p => "plan" -> str(p))
    obj(fields)
  }
}

object Profile {
  private val PassKey = "graft.profile.pass"

  private final case class Task(pass: String, runMs: Long, shuffleRead: Long, shuffleWrite: Long)
  private final case class Pass(name: String, pass: Int, key: String, startMs: Long, endMs: Long,
      startNs: Long, builtNs: Long, endNs: Long, built: Option[QueryExecution],
      plan: Option[String], error: Option[String])

  /** Wall time covered by at least one of the intervals. */
  private def unionMs(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, end), (s, e)) =>
      if (e <= end) (sum, end) else (sum + e - math.max(s, end), e)
    }._1

  def main(args: Array[String]): Unit = {
    val passes = args.sliding(2).collectFirst { case Array("--passes", n) => n.toInt }.getOrElse(2)
    require(passes >= 1, "--passes must be at least 1")
    val plan = args.contains("--plan")
    val names = args.zipWithIndex.collect {
      case (a, i) if !a.startsWith("--") && (i == 0 || args(i - 1) != "--passes") => a
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local("graft-profile", GraftSession.cpus(32))
    val profile = new Profile(spark, sfDir)
    SparkEntry.registry.filter(q => names.isEmpty || names.exists(q.name.startsWith))
      .foreach(q => profile.run(q, passes, plan).foreach(println))
    profile.close()
    spark.stop()
  }
}
