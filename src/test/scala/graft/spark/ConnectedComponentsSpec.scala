package graft.spark

import graft.api.TrainingData
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** TrainingData.connectedComponents — the dedup-clustering step that turns
  * similarity-join candidate PAIRS into duplicate CLUSTERS (component =
  * min reachable id). Pins: transitivity over chains, direction-blindness
  * of the edge list, singleton preservation, duplicate/self-edge
  * tolerance, determinism across repartitionings, and the non-convergence
  * guard.
  */
class ConnectedComponentsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("connected-components-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def run(nodes: Seq[Long], edges: Seq[(Long, Long)],
      maxRounds: Int = 25): Map[Long, Long] = {
    val s = spark; import s.implicits._
    TrainingData.connectedComponents(
        nodes.toDF("id"), edges.toDF("src", "dst"), maxRounds = maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def unionFind(ids: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.map(i => i -> find(i)).toMap
  }

  test("chains resolve transitively to the component min") {
    // 1-2-3-4 chained pairwise; 10-11; 20 isolated
    val got = run(Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L),
      Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("edge direction is irrelevant (undirected closure)") {
    // min id only ever appears on the dst side: propagation must flow
    // against the stored direction too
    val got = run(Seq(1L, 5L, 9L), Seq((9L, 5L), (5L, 1L)))
    assert(got == Map(1L -> 1L, 5L -> 1L, 9L -> 1L))
  }

  test("self-edges, duplicate edges, and edges both ways are harmless") {
    val got = run(Seq(1L, 2L, 3L),
      Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("fused convergence check: CollectMetrics is a pushdown barrier and " +
      "fills during an RDD-level action") {
    // connectedComponents (round 17) counts the symmetric difference in
    // the SAME job that materializes each round's edge set: an `observe`
    // aggregate above the (a,b) classification, read back off the
    // executed plan after Dataset.checkpoint's RDD action. That is only
    // sound if (1) the keep-filter above CollectMetrics is NOT pushed
    // below it (it would starve the count of removed-old-edge rows) and
    // (2) the metrics accumulator fills for toRdd-level actions (the
    // Observation listener would not). Pin both on a miniature of the
    // exact pipeline shape.
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val small = Seq((1L, 2L), (1L, 3L)).toDF("a", "b") // new set
    val e = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")     // old set
    val classified = small.select($"a", $"b", lit(1).as("side"))
      .unionByName(e.select($"a", $"b", lit(2).as("side")))
      .groupBy($"a", $"b")
      .agg(min($"side").as("s1"), max($"side").as("s2"))
      .observe("changed", coalesce(sum(when($"s1" === $"s2", 1L)), lit(0L)).as("n"))
      .filter($"s1" === 1)
      .select($"a", $"b")
    val snapped = classified.localCheckpoint(true) // the RDD-level action
    val metrics = org.apache.spark.sql.execution.CollectMetricsExec
      .collect(classified.queryExecution.executedPlan)
    // sym diff = {(1,3) new-only, (2,3) old-only} = 2; the kept set is
    // exactly `small` — if the filter had been pushed below the metric,
    // changed would read 1 (the old-only row filtered away pre-count)
    assert(metrics("changed").getLong(0) == 2L)
    assert(snapped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (1L, 3L)))
  }

  test("a long path converges within its diameter and is repartition-stable") {
    val s = spark; import s.implicits._
    val n = 40L
    val nodes = (1L to n).toDF("id").repartition(7)
    val edges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst").repartition(5)
    val got = TrainingData.connectedComponents(nodes, edges, maxRounds = 45)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n && got.values.forall(_ == 1L))
  }

  test("an exceeded round budget fails loudly, not wrongly") {
    val n = 12L
    val ex = intercept[IllegalArgumentException] {
      run((1L to n).toSeq, (1L until n).map(i => (i, i + 1)), maxRounds = 2)
    }
    assert(ex.getMessage.contains("no fixpoint"))
  }

  test("random graphs agree with a union-find oracle (stars, paths, cliques, sparse)") {
    val rnd = new scala.util.Random(0xC0C0L)
    for (trial <- 0 until 8) {
      val n = 30 + rnd.nextInt(40)
      val ids = (1L to n.toLong).toSeq
      val density = trial match {
        case 0 => 0.0                      // all singletons
        case 1 => 2.0 / n                  // sparse fragments
        case _ => (0.5 + rnd.nextInt(4)) / n
      }
      val edges = for {
        a <- ids; b <- ids if a < b && rnd.nextDouble() < density
      } yield (a, b)
      val want = unionFind(ids, edges)
      val got = run(ids, edges)
      assert(got == want, s"trial $trial (n=$n, ${edges.size} edges)")
    }
  }

  test("dedupByComponents keeps exactly the canonical row per cluster") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "a"), (2L, "a'"), (3L, "a''"), (7L, "b"), (9L, "c"))
      .toDF("id", "text")
    // chain 1~2~3 (transitive), 7 and 9 singletons
    val pairs = Seq((2L, 1L), (3L, 2L)).toDF("src", "dst")
    val kept = TrainingData.dedupByComponents(docs, "id", pairs)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 7L, 9L))
  }

  test("clusters over a similarity-shaped graph keep one canonical id each") {
    // two 3-cliques sharing no edge + scattered singletons
    val cliqueA = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val cliqueB = Seq((200L, 201L), (201L, 202L), (200L, 202L))
    val got = run(Seq(100L, 101L, 102L, 200L, 201L, 202L, 300L, 301L),
      cliqueA ++ cliqueB)
    assert(got.filter(_._1 >= 100L).filter(_._1 < 200L).values.toSet == Set(100L))
    assert(got.filter(_._1 >= 200L).filter(_._1 < 300L).values.toSet == Set(200L))
    assert(got(300L) == 300L && got(301L) == 301L)
  }

  test("driver actions are bounded: ONE job per half-round (fused snap + converge count)") {
    val s = spark; import s.implicits._
    // classify each job by the call site of its result stage: the
    // contraction's own actions are `localCheckpoint` (snap) and `count`
    // (convergence check) at TrainingData call sites; broadcast-exchange
    // builds show up as anonymous CompletableFuture jobs and are plan
    // internals, not driver actions
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val counts = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val site = j.stageInfos.map(_.name).find(_.contains("TrainingData"))
        if (site.isDefined) {
          actions.incrementAndGet()
          if (site.exists(_.startsWith("count"))) counts.incrementAndGet()
        }
      }
    }
    // AQE splits one action into several jobs — turn it off so a job
    // equals a driver action for the duration of the probe
    val aqe = s.conf.get("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.sparkContext.addSparkListener(listener)
    try {
      // an already-star graph converges in exactly ONE half-round:
      // init snap + ONE fused round action (snap whose job also fills
      // the observe-metrics convergence count) = 2 driver actions. The
      // r16 shape ran a separate count job (3 actions); the pre-r16
      // two-anti-join check ran 4.
      TrainingData.connectedComponents(
        Seq(1L, 2L, 3L).toDF("id"),
        Seq((1L, 2L), (1L, 3L)).toDF("src", "dst"), maxRounds = 5)
      // listener delivery is async: poll until the count stabilizes
      var last = -1
      var spins = 0
      while (actions.get() != last && spins < 40) {
        last = actions.get(); Thread.sleep(100); spins += 1
      }
      // init snap + the ONE fused round action; zero standalone count jobs
      assert(counts.get() == 0, s"${counts.get()} standalone convergence-count jobs")
      assert(actions.get() <= 2, s"${actions.get()} driver actions for a 1-round contraction")
    } finally {
      s.sparkContext.removeSparkListener(listener)
      s.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("superseded reliable checkpoints are deleted; only the live round remains") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toFile
    s.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    try {
      // a 16-node path needs several contraction rounds = several
      // checkpoints; without cleanup each round's edge set would stay
      // on the checkpoint filesystem forever (Spark never deletes them)
      val got = TrainingData.connectedComponents(
          (1L to 16L).toDF("id"),
          (1L until 16L).map(i => (i, i + 1)).toDF("src", "dst"),
          maxRounds = 30)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == 16 && got.values.forall(_ == 1L))
      val leaked = Option(dir.listFiles()).getOrElse(Array.empty)
        .flatMap(u => Option(u.listFiles()).getOrElse(Array.empty))
        .filter(_.getName.startsWith("rdd-"))
      assert(leaked.length <= 1,
        s"leaked checkpoint dirs: ${leaked.map(_.getName).mkString(", ")}")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  test("reliable-checkpoint path: same components as the oracle, same round-budget guard") {
    // Dataset.checkpoint runs the classified plan twice (materialize, then
    // write the files), so the fused convergence count can read about
    // twice the symmetric difference here. Only "changed at all?" may
    // steer the loop: results and the no-fixpoint guard must match the
    // localCheckpoint path exactly.
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-reliable").toFile
    spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    try {
      val rnd = new scala.util.Random(0xCC0DL)
      for (trial <- 0 until 3) {
        val n = 20 + rnd.nextInt(20)
        val ids = (1L to n.toLong).toSeq
        val edges = for {
          a <- ids; b <- ids if a < b && rnd.nextDouble() < 1.5 / n
        } yield (a, b)
        assert(run(ids, edges) == unionFind(ids, edges), s"trial $trial (n=$n)")
      }
      val path = (1L until 12L).map(i => (i, i + 1))
      assert(run(1L to 12L, path).values.forall(_ == 1L))
      val ex = intercept[IllegalArgumentException] {
        run(1L to 12L, path, maxRounds = 2)
      }
      assert(ex.getMessage.contains("no fixpoint"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }
}
