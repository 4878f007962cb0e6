package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the traced run learns from Spark's public listener and plan
  * APIs. Events arrive asynchronously; they carry their own wall-clock
  * times, so they are attributed to ops afterwards by time, and nothing
  * waits on the listener bus while an op runs.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  val jobs = new ConcurrentLinkedQueue[JobRec]
  val stages = new ConcurrentLinkedQueue[StageRec]
  val tasks = new ConcurrentLinkedQueue[TaskRec]
  val queries = new ConcurrentLinkedQueue[QueryRec]
  val batches = new ConcurrentLinkedQueue[BatchRec]
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]
  private val stageJob = new ConcurrentHashMap[Int, Integer]
  @volatile private var lastEventMs = System.currentTimeMillis()

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val start = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
      jobs.add(JobRec(e.jobId, start, e.time))
      touch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val sub = si.submissionTime.getOrElse(0L)
      stages.add(StageRec(si.stageId, si.attemptNumber(),
        Option(stageJob.get(si.stageId)).map(_.intValue).getOrElse(-1),
        sub, si.completionTime.getOrElse(sub),
        si.rddInfos.exists(_.name.contains("DataSourceRDD"))))
      touch()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ti = e.taskInfo
      val m = e.taskMetrics
      if (m != null)
        tasks.add(TaskRec(e.stageId, e.stageAttemptId, ti.launchTime, ti.finishTime,
          m.executorRunTime, m.jvmGCTime, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten))
      touch()
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      queries.add(QueryRec(
        qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) },
        Plans.scanMetrics(qe.executedPlan)))
      touch()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      batches.add(BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows, d))
      touch()
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Stop listening once the bus has been quiet for a while. */
  def stop(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() - lastEventMs < 500 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}

object Trace {
  final case class JobRec(id: Int, startMs: Long, endMs: Long)
  final case class StageRec(id: Int, attempt: Int, job: Int, startMs: Long, endMs: Long,
      graftScan: Boolean)
  final case class TaskRec(stage: Int, attempt: Int, launchMs: Long, finishMs: Long,
      runMs: Long, gcMs: Long, bytesRead: Long, shuffleRead: Long, shuffleWrite: Long)
  final case class QueryRec(phases: Map[String, (Long, Long)], scan: Plans.ScanMetrics)
  final case class BatchRec(startMs: Long, rows: Long, durations: Map[String, Long])
}

/** Reads the graft scan nodes' metrics from an executed plan, through
  * AQE query stages when adaptive execution wrapped the plan.
  */
object Plans extends AdaptiveSparkPlanHelper {
  final case class ScanMetrics(scans: Int, rowsOut: Long, skippedBytes: Long)

  def scanMetrics(plan: SparkPlan): ScanMetrics = {
    val scans = collectWithSubqueries(plan) {
      case p if p.metrics.contains("graftSkippedBytes") => p
    }
    ScanMetrics(scans.size,
      scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum,
      scans.map(_.metrics("graftSkippedBytes").value).sum)
  }
}
