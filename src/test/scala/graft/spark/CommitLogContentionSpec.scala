package graft.spark

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import graft.api.TrainingData

/** Many-writer commit-log contention soak (the Delta-style torture test):
  * REAL threads race appends, row-level deletes, and maintenance rewrites
  * on ONE table through the put-if-absent protocol, and afterwards the
  * log must read as a serializable history — contiguous versions, every
  * entry complete, every fold clean — whose final state equals the
  * order-independent model of the operations that committed. Losers of
  * OCC races retry (the documented contract: ConcurrentModificationException
  * means re-run against the current snapshot); nothing may abort in a
  * poisoned-log state, double-apply, or silently drop a committed write.
  */
class CommitLogContentionSpec extends AnyFunSuite with TempDirs {

  private var spark: SparkSession = _
  private val root = tempDir("graft-contention")
  private val schema = "id BIGINT, v STRING"

  /** Subclasses rerun the whole soak through an alternate [[GraftLogStore]]
    * (e.g. the S3-semantics fake) by overriding this with its class name.
    */
  protected def logStoreImpl: Option[String] = None

  /** Subclasses route all table paths through a custom filesystem scheme
    * (e.g. the lag-listing fake) by overriding this.
    */
  protected def fsScheme: Option[String] = None
  protected def extraHadoopConf: Map[String, String] = Map.empty
  protected final def tablePath(p: java.nio.file.Path): String =
    fsScheme.map(sch => s"$sch://$p").getOrElse(p.toString)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[8]")
      .appName("commitlog-contention-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    logStoreImpl.foreach(c =>
      spark.sparkContext.hadoopConfiguration.set(GraftLogStore.ImplKey, c))
    extraHadoopConf.foreach { case (k, v) =>
      spark.sparkContext.hadoopConfiguration.set(k, v) }
  }

  override def afterAll(): Unit = {
    if (spark != null) {
      if (logStoreImpl.isDefined)
        spark.sparkContext.hadoopConfiguration.unset(GraftLogStore.ImplKey)
      spark.stop()
    }
    super.afterAll()
  }

  /** Run `op`, retrying only the documented OCC loss signal; anything
    * else propagates. Returns the attempt count that succeeded.
    */
  private def retryingOcc[A](what: String, max: Int = 200)(op: => A): A = {
    var attempt = 0
    while (true) {
      try return op
      catch {
        case _: java.util.ConcurrentModificationException if attempt < max =>
          attempt += 1
          Thread.sleep(5L + scala.util.Random.nextInt(20))
      }
    }
    throw new IllegalStateException(s"$what: unreachable")
  }

  test("8 appenders + 4 deleters + maintenance race one table; history replays exactly") {
    val d = tablePath(root.resolve("soak"))
    val s = spark
    import s.implicits._

    // v0 seed: ids 0..999 across 4 files — every deleter's targets share
    // files with everyone else's, so deletion-vector merges MUST race
    (0L until 1000L).map(i => (i, s"seed$i")).toDF("id", "v")
      .repartition(4).write.format("graft-json").mode("overwrite").save(d)

    val committedAppends = new ConcurrentLinkedQueue[Long]()
    val committedDeletes = new ConcurrentLinkedQueue[Long]()
    val failures = new ConcurrentLinkedQueue[Throwable]()

    def appender(t: Int): Runnable = () => try {
      for (b <- 0 until 3) {
        val base = 10000L + (t * 3 + b) * 100L
        val ids = base until (base + 100L)
        ids.map(i => (i, s"a$t-$b")).toDF("id", "v")
          .repartition(1).write.format("graft-json").mode("append").save(d)
        ids.foreach(committedAppends.add)
      }
    } catch { case e: Throwable => failures.add(e) }

    // deleter t owns ids ≡ t (mod 100) under 1000 — disjoint targets, but
    // every delete masks rows in the SHARED seed files (dv-merge races)
    def deleter(t: Int): Runnable = () => try {
      for (k <- 0 until 5) {
        val id = t + k * 100L * 2 // 10 ids per deleter would crawl; 5 races plenty
        retryingOcc(s"delete id=$id") {
          TrainingData.deleteWhereDV(spark, d, schema, s"id = $id")
        }
        committedDeletes.add(id)
      }
    } catch { case e: Throwable => failures.add(e) }

    // maintenance thread: compaction + purge rewrites racing everyone —
    // row-preserving, so the model ignores them; the protocol must too.
    // retainHistory=true is the ONLINE maintenance mode: immediate
    // physical reclaim (retainHistory=false) has no reader horizon, so a
    // concurrent snapshot-pinned read can lose its file mid-scan — the
    // retention pass (expireRetired) ages retired files out later,
    // exactly Delta's VACUUM-retention posture
    val maintenance: Runnable = () => try {
      for (_ <- 0 until 2) {
        retryingOcc("optimize") {
          TrainingData.optimizeTable(spark, d, schema,
            targetFileBytes = 1L << 20, retainHistory = true)
        }
        retryingOcc("purge") {
          TrainingData.materializeDeletes(spark, d, schema,
            retainHistory = true)
        }
        Thread.sleep(50L)
      }
    } catch { case e: Throwable => failures.add(e) }

    val threads =
      (0 until 8).map(t => new Thread(appender(t), s"appender-$t")) ++
        (0 until 4).map(t => new Thread(deleter(t), s"deleter-$t")) :+
        new Thread(maintenance, "maintenance")
    threads.foreach(_.start())
    threads.foreach(_.join(600000L))
    assert(failures.isEmpty, {
      failures.forEach(_.printStackTrace())
      s"writer failures: ${java.util.List.copyOf(failures)}"
    })

    val rootP = new Path(d)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // 1. serializable history: contiguous versions, every entry complete,
    //    the full fold clean (a single poisoned entry fails it loudly)
    val vs = GraftCommitLog.versions(fs, rootP)
    assert(vs === (0L to vs.max), s"non-contiguous versions: $vs")
    val live = GraftCommitLog.liveStateAsOf(fs, rootP, vs.max)
    assert(live.nonEmpty)

    // 2. the live set's files all exist with their recorded vectors
    live.foreach { case (f, _) =>
      assert(fs.exists(new Path(rootP, f)), s"live file $f missing on disk")
    }

    // 3. final state == the order-independent model: deletes target only
    //    seed ids, appends only ≥10000, so commit interleaving cannot
    //    change the outcome — any divergence is a lost or doubled write
    val expectedDeletes = java.util.List.copyOf(committedDeletes)
    val expectedAppends = java.util.List.copyOf(committedAppends)
    assert(expectedDeletes.size === 4 * 5, "every delete must have committed")
    assert(expectedAppends.size === 8 * 3 * 100, "every append must have committed")
    val gone = new java.util.HashSet[Long](expectedDeletes)
    val expected = ((0L until 1000L).filterNot(gone.contains) ++
      expectedAppends.toArray.map(_.asInstanceOf[Long])).sorted
    val got = spark.read.format("graft-json").schema(schema)
      .option("snapshot", "true").load(d)
      .select($"id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === expected,
      s"rows diverged: got ${got.size}, expected ${expected.size}; " +
        s"missing=${expected.diff(got).take(5)} extra=${got.diff(expected).take(5)}")

    // 4. a checkpoint written now folds to the same state (replay == fold).
    // Under LAGGING listings the just-written checkpoint may not be
    // discoverable yet and an OLDER one legitimately surfaces (discovery
    // is acceleration; folds re-converge through the entry suffix) — so
    // the equality is anchored at the returned checkpoint's OWN version.
    val cv = TrainingData.checkpointLog(spark, d)
    val ck = GraftCommitLog.checkpointStateAtOrBefore(fs, rootP, cv)
    assert(ck.isDefined, "a checkpoint at or before cv must be readable")
    val (ckv, ckState) = ck.get
    assert(ckv <= cv)
    assert(ckState === GraftCommitLog.liveStateAsOf(fs, rootP, ckv))
    // and the full fold (now possibly seeding from the new checkpoint)
    // still equals the pre-checkpoint fold
    assert(GraftCommitLog.liveStateAsOf(fs, rootP, cv) === live)
  }

  test("a LIVE followLog stream tails the table WHILE writers race it") {
    // the torn-entry window is only reachable from a concurrent poller —
    // this is the soak that exercises entryActionsTailing for real. The
    // maintenance thread uses retainHistory=true (the documented
    // stream-safe mode: retired originals stay on disk until the
    // retention pass, exactly Delta's posture that VACUUM must respect
    // reader horizons).
    val d = tablePath(root.resolve("soak_stream"))
    val s = spark
    import s.implicits._
    (0L until 500L).map(i => (i, s"seed$i")).toDF("id", "v")
      .repartition(2).write.format("graft-json").mode("overwrite").save(d)

    val ckptDir = tempDir("graft-contention-ckpt")
    val q = s.readStream.format("graft-json").schema(schema)
      .option("followlog", "true").option("skipchangecommits", "true")
      .load(d)
      .writeStream.format("memory").queryName("contention_stream")
      .option("checkpointLocation", ckptDir.toString)
      .start()

    val committedAppends = new ConcurrentLinkedQueue[Long]()
    val failures = new ConcurrentLinkedQueue[Throwable]()
    def appender(t: Int): Runnable = () => try {
      for (b <- 0 until 3) {
        val base = 20000L + (t * 3 + b) * 50L
        val ids = base until (base + 50L)
        ids.map(i => (i, s"s$t-$b")).toDF("id", "v")
          .repartition(1).write.format("graft-json").mode("append").save(d)
        ids.foreach(committedAppends.add)
      }
    } catch { case e: Throwable => failures.add(e) }
    def deleter(t: Int): Runnable = () => try {
      for (k <- 0 until 3) {
        val id = t + k * 100L
        retryingOcc(s"sdel id=$id") {
          TrainingData.deleteWhereDV(spark, d, schema, s"id = $id",
            retainHistory = true)
        }
      }
    } catch { case e: Throwable => failures.add(e) }
    val maintenance: Runnable = () => try {
      for (_ <- 0 until 2) {
        retryingOcc("s-optimize") {
          TrainingData.optimizeTable(spark, d, schema,
            targetFileBytes = 1L << 20, retainHistory = true)
        }
        Thread.sleep(30L)
      }
    } catch { case e: Throwable => failures.add(e) }

    val threads =
      (0 until 6).map(t => new Thread(appender(t), s"s-appender-$t")) ++
        (0 until 2).map(t => new Thread(deleter(t), s"s-deleter-$t")) :+
        new Thread(maintenance, "s-maintenance")
    try {
      threads.foreach(_.start())
      threads.foreach(_.join(600000L))
      assert(failures.isEmpty, {
        failures.forEach(_.printStackTrace())
        s"writer failures: ${java.util.List.copyOf(failures)}"
      })
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
    } finally q.stop()

    // every appended row delivered EXACTLY once (appends flow, change
    // commits skip whole, the concurrent poller never double-admits)
    val delivered = s.table("contention_stream").collect()
      .map(_.getLong(0)).sorted.toSeq
    val expected = ((0L until 500L) ++
      java.util.List.copyOf(committedAppends).toArray.map(_.asInstanceOf[Long])).sorted
    assert(delivered === expected,
      s"delivered ${delivered.size}, expected ${expected.size}; " +
        s"missing=${expected.diff(delivered).take(5)} dup/extra=${delivered.diff(expected).take(5)}")
  }
}
