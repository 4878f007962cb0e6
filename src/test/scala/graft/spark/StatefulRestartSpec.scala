package graft.spark

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets.UTF_8

/** Checkpoint-restart for stateful streaming: a flatMapGroupsWithState
  * sessionizer (q55's shape) runs through a parquet FILE sink — which,
  * unlike the memory sink, can resume from its checkpoint — is stopped
  * after two input files, and restarted with new data.
  *
  * The restart assertions only hold if state really came back from the
  * checkpoint:
  *   - user 2's open session (last event at T0+3600s, seen only before
  *     the stop) must be EXTENDED by a T0+3700s event seen only after —
  *     the restarted run never re-reads the phase-1 files, so a session
  *     spanning both phases proves state recovery;
  *   - user 1's session (all events phase-1) closes via its recovered
  *     EventTimeTimeout registration after the restart at the latest;
  *   - no session is emitted twice (the file sink's manifest provides
  *     exactly-once across the restart).
  */
class StatefulRestartSpec extends AnyFunSuite with TempDirs {

  private var spark: SparkSession = _
  private var root: Path = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("stateful-restart-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    root = tempDir("graft-stateful-restart")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    super.afterAll()
  }

  import StatefulRestartSpec._

  // the file source orders batches by modification time: stamp each file
  // explicitly so maxFilesPerTrigger=1 processes them in intended order
  private var stamp = 1000000L
  private def writeEvents(dir: Path, name: String, rows: Seq[(Long, Long)]): Unit = {
    val p = Files.write(dir.resolve(name),
      rows.map { case (uid, ts) => s"""{"uid": $uid, "ts_ms": $ts}""" }
        .mkString("\n").getBytes(UTF_8))
    stamp += 60000
    Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(stamp))
  }

  private def sessionQuery(in: Path, out: Path, ckpt: Path) = {
    val sp = spark
    import sp.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("uid", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts_ms", org.apache.spark.sql.types.LongType)))
    val sessions: Dataset[(Long, Long, Long, Long)] = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .json(in.toString)
      .withColumn("ets", timestamp_millis(col("ts_ms")))
      .withWatermark("ets", "1 minute")
      .select(col("uid"), col("ts_ms"), col("ets"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(sessionize _)
    sessions.toDF("uid", "start_ms", "end_ms", "n_events")
      .writeStream
      .format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Same sessionizer, but the ENTIRE chain is graft-durable: graft-json
    * streaming source (byte-window admission, checkpointed registry) →
    * flatMapGroupsWithState → graft-json streaming SINK (epoch-named
    * files). The restarted run must recover source offsets, operator
    * state, and sink epoch numbering from the checkpoint alone.
    */
  private def graftSessionQuery(in: Path, out: Path, ckpt: Path) = {
    val sp = spark
    import sp.implicits._
    val sessions: Dataset[(Long, Long, Long, Long)] = spark.readStream
      .format("graft-json")
      .schema("uid LONG, ts_ms LONG")
      .option("maxbytespertrigger", "64") // several micro-batches per run
      .load(in.toString)
      .withColumn("ets", timestamp_millis(col("ts_ms")))
      .withWatermark("ets", "1 minute")
      .select(col("uid"), col("ts_ms"), col("ets"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(sessionize _)
    sessions.toDF("uid", "start_ms", "end_ms", "n_events")
      .writeStream
      .format("graft-json")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  test("graft source -> stateful -> graft sink resumes from checkpoint with output equality") {
    val in = Files.createDirectories(root.resolve("gin"))
    val out = root.resolve("gout")
    val ckpt = root.resolve("gckpt")

    // phase 1 (two files; the graft source's byte windows split them into
    // several micro-batches): user1 builds a session; user2's T0 session
    // closes in-stream when its T0+3600s event opens the next one
    writeEvents(in, "a.jsonl", Seq((1L, T0), (1L, T0 + 60000), (2L, T0)))
    writeEvents(in, "b.jsonl", Seq((1L, T0 + 120000), (2L, T0 + 3600000)))
    graftSessionQuery(in, out, ckpt).awaitTermination()

    // phase 2 after the stop: user2's open session must be EXTENDED by an
    // event the first run never saw; sentinels time out the rest
    writeEvents(in, "c.jsonl", Seq((2L, T0 + 3700000)))
    writeEvents(in, "d.jsonl", Seq((-1L, T0 + 50L * 86400000)))
    writeEvents(in, "e.jsonl", Seq((-1L, T0 + 100L * 86400000)))
    graftSessionQuery(in, out, ckpt).awaitTermination()

    // read the sink's own files back through the graft batch reader
    val got = spark.read.format("graft-json")
      .schema("uid LONG, start_ms LONG, end_ms LONG, n_events LONG")
      .load(out.toString)
      .filter(col("uid") >= 0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
      .toSeq
    assert(got == Seq(
      (1L, T0, T0 + 120000, 3L),            // phase-1 events, closed by recovered timeout
      (2L, T0, T0, 1L),                     // closed in-stream during phase 1
      (2L, T0 + 3600000, T0 + 3700000, 2L)  // spans the restart: state recovery
    ), s"got $got")
    // epochs from BOTH runs landed as distinct part files (exactly-once:
    // nothing emitted twice, nothing lost)
    val epochs = Files.list(out).toArray.map(_.toString)
      .filter(_.endsWith(".jsonl"))
      .map(_.replaceAll(".*part-", "").take(5)).distinct
    assert(epochs.length > 1, s"expected multiple epochs, got ${epochs.mkString(",")}")
  }

  test("flatMapGroupsWithState resumes from checkpoint through the file sink") {
    val in = Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out")
    val ckpt = root.resolve("ckpt")

    // phase 1: user1 builds a session; user2's T0 session closes in-stream
    // when its T0+3600s event opens the next one (which stays open)
    writeEvents(in, "a.json", Seq((1L, T0), (1L, T0 + 60000), (2L, T0)))
    writeEvents(in, "b.json", Seq((1L, T0 + 120000), (2L, T0 + 3600000)))
    val q1 = sessionQuery(in, out, ckpt)
    q1.awaitTermination()

    // phase 2: user2's T0+3700s event lands within the gap of the
    // RECOVERED open session; sentinels push the watermark far enough to
    // time out everything still open
    writeEvents(in, "c.json", Seq((2L, T0 + 3700000)))
    writeEvents(in, "d.json", Seq((-1L, T0 + 50L * 86400000)))
    writeEvents(in, "e.json", Seq((-1L, T0 + 100L * 86400000)))
    val q2 = sessionQuery(in, out, ckpt)
    q2.awaitTermination()

    val got = spark.read.parquet(out.toString)
      .filter(col("uid") >= 0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
      .toSeq
    assert(got == Seq(
      (1L, T0, T0 + 120000, 3L),            // phase-1 events, closed by recovered timeout
      (2L, T0, T0, 1L),                     // closed in-stream during phase 1
      (2L, T0 + 3600000, T0 + 3700000, 2L)  // spans the restart: state recovery
    ), s"got $got")
  }
}

/** The stateful function lives on the companion so its closure captures
  * no test-class state (scalatest's Engine is not serializable).
  */
object StatefulRestartSpec {
  val T0 = 1700000000000L // ms
  val GapMs: Long = 30L * 60 * 1000

  def sessionize(
      uid: Long,
      events: Iterator[(Long, Long, java.sql.Timestamp)],
      state: GroupState[(Long, Long, Long)]): Iterator[(Long, Long, Long, Long)] = // (start, end, n)
    if (state.hasTimedOut) {
      val (st, en, n) = state.get
      state.remove()
      Iterator((uid, st, en, n))
    } else {
      val ts = events.map(_._2).toArray
      java.util.Arrays.sort(ts)
      var closed = List.empty[(Long, Long, Long, Long)]
      var cur = state.getOption.getOrElse((ts.head, ts.head - 1, 0L))
      ts.foreach { t =>
        cur = if (cur._3 == 0L || t - cur._2 <= GapMs)
          (if (cur._3 == 0L) t else cur._1, t, cur._3 + 1)
        else {
          closed ::= ((uid, cur._1, cur._2, cur._3))
          (t, t, 1L)
        }
      }
      state.update(cur)
      state.setTimeoutTimestamp(cur._2 + GapMs + 1000)
      closed.reverseIterator
    }
}
