package graft.operators

import graft.{GQuery, Tables}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Per-user streaming state for q51 (top-level for Encoder derivation). */
final case class UserProfile(n: Long, sumValue: Double, minTs: Long, maxTs: Long)

/** q139's StatefulProcessor — the Spark 4 arbitrary-state streaming API
  * (transformWithState): typed ValueState per key, explicit exists/get/
  * update lifecycle, runs only on the RocksDB state store provider.
  * Keeps a (count, cent-sum) running aggregate per user; integer cents
  * make emitted values order-independent and oracle-exact.
  */
class UserRunningAgg extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long), (Long, Long, Long)] {
  @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _

  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long)]("agg",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timers: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long, Long)] = {
    var n = 0L
    var cents = 0L
    if (st.exists()) { val s = st.get(); n = s._1; cents = s._2 }
    rows.foreach { r => n += 1; cents += r._2 }
    st.update((n, cents))
    Iterator.single((key, n, cents))
  }
}

/** Remaining §2.11 surface: sketch aggregation (HLL), the UDAF extension
  * surface (typed Aggregator), and Structured Streaming (file micro-batch
  * source + event-time window + watermark).
  */
object Extensions {

  private def T(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  /** The events `ts` column across driver-data vintages: TIMESTAMP(NANOS)
    * parquet surfaces as LongType nanos (under nanosAsLong=true), micros
    * as TIMESTAMP_NTZ, already-normalized as TIMESTAMP. The streaming
    * gates read the parquet directly (no [[Tables]] normalization), so
    * they adapt here. Returns (event-time TIMESTAMP, epoch-micros BIGINT)
    * columns. Casting NTZ→TIMESTAMP is lossless under the UTC session tz,
    * same as Tables.
    */
  private[operators] def eventTs(schema: org.apache.spark.sql.types.StructType)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        (timestamp_micros(expr("ts div 1000")), expr("ts div 1000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        (col("ts").cast("timestamp"), unix_micros(col("ts").cast("timestamp")))
      case _ => (col("ts"), unix_micros(col("ts")))
    }

  /** Shift the raw `ts` column forward by whole days PRESERVING its
    * physical type (long nanos vs timestamp/_ntz), so staged sentinel
    * files keep the exact source schema the stream reader expects.
    */
  private[operators] def shiftTsDays(schema: org.apache.spark.sql.types.StructType,
      days: Long): org.apache.spark.sql.Column =
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        col("ts") + lit(days * 86400L * 1000000000L)
      case _ => col("ts") + expr(s"INTERVAL $days DAYS")
    }

  /** Round 17 (guide §2.2; VERDICT item 4): run a streaming drain with the
    * shuffle-partition — and therefore STATE-STORE-partition — count sized
    * to the feed, the way triggerBytes sizes the admission cap. The r16
    * shape planned every stateful gate at the session's core-count
    * partitioning regardless of feed size: at test scale that is 32 state
    * stores per operator per micro-batch over a few MB (round 17,
    * OPTIMIZATION_r17.md: q63's summed state-commit time 74 s/batch at 32
    * partitions vs 0.9 s at 4 —
    * concurrent tiny-store commits contend, and every batch pays 32 task
    * launches + commits for rows that fit in one). One partition per 1 MB
    * of feed, floored at 1 and capped at the cluster's parallelism, keeps
    * the small-feed gates lean and still widens to full cluster width as
    * the feed grows (a genuinely huge deployment sizes its state
    * partitioning deliberately when it creates the checkpoint — this is
    * the drained-gate analog). The session conf is restored afterwards, so
    * batch queries and the gates' own post-drain reads are untouched;
    * results are partition-count independent (the driver's own c8 rung
    * already proves every gate at a different partitioning). 1 MB of FEED
    * bytes per partition balances the two costs at the measured crossover
    * — feeds are compressed parquet/json, so in-memory rows run 4-8× the
    * file bytes (the q02 broadcast-inflation lesson): coarser starves
    * join/agg compute (q63's one-partition batch ran its 200k-row join
    * serially, addBatch 3.2 s vs 1.5 s at four partitions), finer
    * re-multiplies the commit fan-out (32 stores summed 74 s/batch).
    */
  private[operators] def withStreamShuffle[T](s: SparkSession, feedDir: String)(body: => T): T = {
    val parts = math.max(1L, math.min(
      s.sparkContext.defaultParallelism.toLong,
      Sources.dataBytes(feedDir) / (1L << 20) + 1))
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, parts.toString)
    try body finally s.conf.set(key, old)
  }

  // ---------------------------------------------------------------- q22
  // approx_count_distinct = HyperLogLog++ partial-mergeable sketch: the
  // 100 TB way to count distincts (no exact-distinct shuffle explosion).
  // The built-in sketch's ESTIMATE is engine-specific (xxhash64 + HLL++
  // bias tables — no other engine can recompute it; q151's portable HLL
  // is the digit-exact twin), but its ACCURACY contract is oracle-able:
  // the gate emits the exact counts plus within-3σ flags for both
  // requested precisions (rsd 5% default, 2%), which DuckDB reproduces
  // as literal truths — a sketch regression past its own error bound now
  // hash-fails instead of hiding in a rows-only gate (round 11).
  private val q22 = GQuery(
    "q22_approx_count_distinct",
    "HyperLogLog approx_count_distinct: exact counts + within-3-sigma accuracy flags",
    (s, d) => {
      import s.implicits._
      // Round 17 (optimization, VERDICT item 5): two distinct column sets
      // in one aggregate plan as Expand×3 — every scanned row triples
      // through the first hash aggregate. Split-distinct instead: each
      // side is a plain two-phase single-distinct aggregate (no Expand),
      // the HLL sketches ride the orderkey side, and the two 3-row
      // aggregates broadcast-join back on the group key. Paired A/B at
      // sf0.1 favors the split (see OPTIMIZATION_r17.md); results are the
      // same aggregates, so the gate's accuracy contract is untouched.
      val base = T(s, d, "lineitem")
        .select($"l_returnflag", $"l_orderkey", $"l_partkey")
      val orders = base.groupBy($"l_returnflag").agg(
        count_distinct($"l_orderkey").as("exact_orders"),
        approx_count_distinct($"l_orderkey").as("ao"),
        approx_count_distinct($"l_partkey", 0.02).as("ap"))
      val parts = base.groupBy($"l_returnflag")
        .agg(count_distinct($"l_partkey").as("exact_parts"))
      // null-safe join key: a NULL group (absent from the fixture but
      // legal) must survive the rejoin exactly like the original
      // single-aggregate plan kept it
      orders.join(parts,
          orders("l_returnflag") <=> parts("l_returnflag"))
        .drop(parts("l_returnflag"))
        .select($"l_returnflag", $"exact_orders", $"exact_parts",
          (abs($"ao" - $"exact_orders") <= $"exact_orders" * 0.15)
            .cast("long").as("orders_within_3sd"),
          (abs($"ap" - $"exact_parts") <= $"exact_parts" * 0.06)
            .cast("long").as("parts_within_3sd"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag,
                   CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
                   CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
                   CAST(1 AS BIGINT) AS orders_within_3sd,
                   CAST(1 AS BIGINT) AS parts_within_3sd
            FROM lineitem
            GROUP BY l_returnflag
            ORDER BY l_returnflag"""))

  // ---------------------------------------------------------------- q41
  // UDAF surface: a typed Aggregator (geometric mean via log-space sums —
  // partial+final mergeable, exactly like a built-in declarative agg).
  private object GeoMean extends Aggregator[Double, (Double, Long), Double] {
    def zero: (Double, Long) = (0.0, 0L)
    def reduce(b: (Double, Long), a: Double): (Double, Long) =
      (b._1 + math.log(a), b._2 + 1)
    def merge(x: (Double, Long), y: (Double, Long)): (Double, Long) =
      (x._1 + y._1, x._2 + y._2)
    def finish(r: (Double, Long)): Double =
      if (r._2 == 0) Double.NaN else math.exp(r._1 / r._2)
    def bufferEncoder: Encoder[(Double, Long)] = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  private val q41 = GQuery(
    "q41_udaf_geomean",
    "custom typed Aggregator UDAF (geometric mean), mergeable partial aggregation",
    (s, d) => {
      import s.implicits._
      s.udf.register("geomean", udaf(GeoMean))
      // scalar UDF surface alongside the UDAF (priority bucket from the
      // "N-..." prefix); trivial logic so the oracle reproduces it exactly
      s.udf.register("priobucket", (p: String) => p.substring(0, 1))
      T(s, d, "orders")
        .groupBy(expr("priobucket(o_orderpriority)").as("prio"))
        .agg(expr("round(geomean(o_totalprice), 2)").as("geo_price"),
          count(lit(1)).as("n"))
        .orderBy($"prio")
    },
    Some("""SELECT substring(o_orderpriority, 1, 1) AS prio,
                   round(exp(avg(ln(o_totalprice))), 2) AS geo_price,
                   count(*) AS n
            FROM orders
            GROUP BY 1
            ORDER BY prio"""))

  // ---------------------------------------------------------------- q42
  // Structured Streaming: the events table replayed as a file micro-batch
  // stream; event-time tumbling window + watermark; AvailableNow trigger
  // drains it like a bounded backfill (the 100 TB pattern: the same query
  // runs unbounded). Complete output mode keeps the result deterministic
  // for the oracle (a production append-mode run would emit each window
  // once the watermark passes it).
  private val q42 = GQuery(
    "q42_streaming_window",
    "Structured Streaming event-time window + watermark over the events stream",
    (s, d) => {
      import s.implicits._
      // the file stream source watches a DIRECTORY: stage the events file
      // into one (a production stream would land files here continuously)
      val streamDir = java.nio.file.Paths.get("/tmp/graft_stream/events")
      java.nio.file.Files.createDirectories(streamDir)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$d/events.parquet"),
        streamDir.resolve("events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val path = streamDir.toString
      val schema = s.read.parquet(path).schema
      val stream = s.readStream.schema(schema).parquet(path)
        .withColumn("ts", eventTs(schema)._1)
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"))
      withStreamShuffle(s, path) {
        val query = stream.writeStream
          .format("memory")
          .queryName("q42_stream_agg")
          .outputMode("complete")
          .trigger(Trigger.AvailableNow())
          .start()
        query.awaitTermination()
      }
      s.table("q42_stream_agg")
        .select($"w.start".as("window_start"), $"event_type", $"n", $"sum_value")
        .orderBy($"window_start", $"event_type")
    },
    Some("""SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS window_start,
                   event_type, count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events
            GROUP BY 1, 2
            ORDER BY window_start, event_type"""))

  // ---------------------------------------------------------------- q43
  // Typed custom per-key logic: KeyValueGroupedDataset.mapGroups
  // sessionization (30-minute inactivity gap) — the batch shape of
  // mapGroupsWithState custom state (per-user events fit an executor; hot
  // keys would pre-split by (user, day) at 100 TB). Exact gaps-and-islands
  // oracle.
  private val q43 = GQuery(
    "q43_typed_sessionization",
    "typed groupByKey.mapGroups sessionization (30-min gap), custom per-key state",
    (s, d) => {
      import s.implicits._
      val gapUs = 30L * 60 * 1000000
      T(s, d, "events")
        .select($"user_id".cast("long").as("user_id"), unix_micros($"ts").as("ts_us"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .mapGroups { (uid, it) =>
          val ts = it.map(_._2).toArray
          java.util.Arrays.sort(ts)
          var sessions = if (ts.isEmpty) 0L else 1L
          var i = 1
          while (i < ts.length) {
            if (ts(i) - ts(i - 1) > gapUs) sessions += 1
            i += 1
          }
          (uid, ts.length.toLong, sessions)
        }
        .toDF("user_id", "n_events", "n_sessions")
        .orderBy($"user_id")
    },
    Some("""WITH gaps AS (
              SELECT user_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts))
            SELECT user_id, count(*) AS n_events,
                   CAST(sum(new_session) AS BIGINT) AS n_sessions
            FROM gaps
            GROUP BY user_id
            ORDER BY user_id"""))

  // ---------------------------------------------------------------- q45
  // Skew-resistant as-of join: q08's union+window formulation puts a hot
  // user's entire history in one task. This variant pre-buckets by
  // (user_id, day): the big window runs per (user, day) — bounded work per
  // task no matter how hot the user — and a per-user carry-over window
  // runs only over the tiny (user, day) summary table to propagate the
  // last click across bucket boundaries. Same result, same oracle.
  private val q45 = GQuery(
    "q45_asof_join_skew_resistant",
    "as-of join pre-bucketed by (user, day) with boundary carry-over (hot-key safe)",
    (s, d) => Relational.asofBucketed(s, d),
    Some("""SELECT purchase_id, coalesce(c_id, -1) AS last_click_id FROM (
              SELECT p.event_id AS purchase_id, c.event_id AS c_id,
                     row_number() OVER (PARTITION BY p.event_id
                                        ORDER BY c.ts DESC, c.event_id DESC) AS rn
              FROM (SELECT * FROM events WHERE event_type = 'purchase') p
              LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
                ON c.user_id = p.user_id AND c.ts <= p.ts) t
            WHERE rn = 1
            ORDER BY purchase_id"""))

  // ---------------------------------------------------------------- q48
  // Quantiles: exact percentile with linear interpolation (the sketch-free
  // sibling of q22's HLL; at 100 TB one would reach for approx_percentile,
  // whose t-digest boundaries are engine-specific and rows-only gated).
  // ---------------------------------------------------------------- q71
  // Dataset.observe — the Spark analog of the reference's
  // MultiplexingPlate (SURVEY §2.7: tee ONE event stream into a main
  // consumer plus a side observer, main's result survives): metrics
  // accumulate on the scan as the main query runs, with no second pass
  // over the data. Integer-exact metrics only (count/min/max/integer sum)
  // so the gate stays hash-exact. The observation drains at build time
  // (Observation.get blocks on the collecting action), then rides the
  // result as literal columns.
  private val q71 = GQuery(
    "q71_observe_multiplex",
    "Dataset.observe side-channel metrics (MultiplexingPlate analog): one pass, main + observer",
    (s, d) => {
      import s.implicits._
      val obs = org.apache.spark.sql.Observation(s"q71_obs_${System.nanoTime}")
      val main = T(s, d, "orders")
        .observe(obs,
          count(lit(1)).as("n_orders"),
          min($"o_orderkey").as("min_key"),
          max($"o_orderkey").as("max_key"),
          sum($"o_custkey").as("sum_cust"))
        .filter($"o_orderstatus" === "F")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_f"))
      val rows = main.collect() // the action that populates the observation
      val m = obs.get
      s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), main.schema)
        .withColumn("n_orders", lit(m("n_orders").asInstanceOf[Long]))
        .withColumn("min_key", lit(m("min_key") match { case n: Number => n.longValue }))
        .withColumn("max_key", lit(m("max_key") match { case n: Number => n.longValue }))
        .withColumn("sum_cust", lit(m("sum_cust") match { case n: Number => n.longValue }))
        .orderBy($"o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS n_f,
                   (SELECT count(*) FROM orders) AS n_orders,
                   (SELECT CAST(min(o_orderkey) AS BIGINT) FROM orders) AS min_key,
                   (SELECT CAST(max(o_orderkey) AS BIGINT) FROM orders) AS max_key,
                   (SELECT CAST(sum(o_custkey) AS BIGINT) FROM orders) AS sum_cust
            FROM orders
            WHERE o_orderstatus = 'F'
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority"""))

  private val q48 = GQuery(
    "q48_percentiles",
    "exact percentile aggregation (p25/p50/p95) per group",
    (s, d) => {
      import s.implicits._
      T(s, d, "orders")
        .groupBy($"o_orderpriority")
        .agg(expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.95D))").as("p"))
        .select($"o_orderpriority",
          round(element_at($"p", 1), 2).as("p25"),
          round(element_at($"p", 2), 2).as("p50"),
          round(element_at($"p", 3), 2).as("p95"))
        .orderBy($"o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
                   round(q[1], 2) AS p25, round(q[2], 2) AS p50, round(q[3], 2) AS p95
            FROM (SELECT o_orderpriority,
                         quantile_cont(o_totalprice, [0.25, 0.5, 0.95]) AS q
                  FROM orders GROUP BY o_orderpriority) t
            ORDER BY o_orderpriority"""))

  // ---------------------------------------------------------------- q50
  // Array function family over aggregated collections: collect_list is
  // order-nondeterministic, so sort_array canonicalizes before any
  // element-positional use (the only safe pattern for distributed
  // collection aggregates).
  private val q50 = GQuery(
    "q50_array_functions",
    "array functions over collected aggregates (sort/size/element/contains/slice)",
    (s, d) => {
      import s.implicits._
      T(s, d, "lineitem")
        .filter($"l_orderkey" <= 100)
        .groupBy($"l_orderkey")
        .agg(sort_array(collect_list($"l_linenumber")).as("lines"),
          sort_array(collect_list($"l_quantity".cast("double"))).as("qtys"))
        .select($"l_orderkey",
          size($"lines").cast("long").as("n_lines"),
          element_at($"lines", 1).as("first_line"),
          element_at($"lines", -1).as("last_line"),
          array_contains($"lines", 3).as("has_line3"),
          round(element_at($"qtys", 1), 2).as("min_qty"),
          expr("round(aggregate(qtys, 0D, (a, x) -> a + x), 2)").as("sum_qty"),
          // array-valued cells defeat the comparer: serialize positionally
          concat_ws("-", expr("slice(lines, 1, 2)")).as("first_two"))
        .orderBy($"l_orderkey")
    },
    Some("""SELECT l_orderkey,
                   CAST(len(lines) AS BIGINT) AS n_lines,
                   lines[1] AS first_line,
                   lines[-1] AS last_line,
                   list_contains(lines, 3) AS has_line3,
                   round(qtys[1], 2) AS min_qty,
                   round(list_sum(qtys), 2) AS sum_qty,
                   array_to_string(lines[1:2], '-') AS first_two
            FROM (SELECT l_orderkey,
                         list_sort(list(l_linenumber)) AS lines,
                         list_sort(list(CAST(l_quantity AS DOUBLE))) AS qtys
                  FROM lineitem
                  WHERE l_orderkey <= 100
                  GROUP BY l_orderkey) t
            ORDER BY l_orderkey"""))

  // ---------------------------------------------------------------- q51
  // Custom streaming state: KeyValueGroupedDataset.mapGroupsWithState over
  // a micro-batch stream — per-user GroupState accumulates an event
  // profile. A single AvailableNow batch makes the update-mode output
  // deterministic (one state emission per key), so the gate is exact; a
  // production run would carry the same state across triggers.
  private val q51 = GQuery(
    "q51_streaming_stateful",
    "mapGroupsWithState per-key streaming state (update mode, bounded drain)",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
      val streamDir = java.nio.file.Paths.get("/tmp/graft_stream/events_q51")
      java.nio.file.Files.createDirectories(streamDir)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$d/events.parquet"),
        streamDir.resolve("events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val schema = s.read.parquet(streamDir.toString).schema
      val stream = s.readStream.schema(schema).parquet(streamDir.toString)
        .select($"user_id".cast("long").as[Long],
          eventTs(schema)._2.as[Long], // epoch micros
          $"value".as[Double])
      val updated = stream
        .groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (uid: Long, events: Iterator[(Long, Long, Double)], state: GroupState[UserProfile]) =>
            var p = state.getOption.getOrElse(UserProfile(0L, 0.0, Long.MaxValue, Long.MinValue))
            events.foreach { case (_, ts, v) =>
              p = UserProfile(p.n + 1, p.sumValue + v, math.min(p.minTs, ts), math.max(p.maxTs, ts))
            }
            state.update(p)
            (uid, p.n, p.minTs, p.maxTs)
        }
      withStreamShuffle(s, streamDir.toString) {
        val q = updated.toDF("user_id", "n_events", "min_ts_us", "max_ts_us")
          .writeStream
          .format("memory")
          .queryName("q51_state")
          .outputMode("update")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table("q51_state")
        .select($"user_id", $"n_events",
          timestamp_micros($"min_ts_us").as("first_ts"),
          timestamp_micros($"max_ts_us").as("last_ts"))
        .orderBy($"user_id")
    },
    Some("""SELECT user_id, count(*) AS n_events,
                   CAST(min(ts) AS TIMESTAMP) AS first_ts,
                   CAST(max(ts) AS TIMESTAMP) AS last_ts
            FROM events
            GROUP BY user_id
            ORDER BY user_id"""))

  // ---------------------------------------------------------------- q55
  // flatMapGroupsWithState + EventTimeTimeout: full streaming
  // sessionization (30-min gap). Sessions close two ways — a later event
  // from the same user opens the next session, or the event-time timeout
  // fires once the watermark passes sessionEnd+gap. Two far-future
  // sentinel files (processed as their own micro-batches via
  // maxFilesPerTrigger=1) push the final watermark past every real
  // session, so the emitted set is exactly the gaps-and-islands session
  // set regardless of batch boundaries — which makes an exact SQL oracle
  // possible for a timeout-driven operator.
  private val q55 = GQuery(
    "q55_flatmap_state_timeout",
    "flatMapGroupsWithState sessionization with EventTimeTimeout (append mode)",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val gapUs = 30L * 60 * 1000000
      val streamDir = java.nio.file.Paths.get("/tmp/graft_stream/events_q55")
      org.apache.commons.io.FileUtils.deleteDirectory(streamDir.toFile)
      java.nio.file.Files.createDirectories(streamDir)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$d/events.parquet"),
        streamDir.resolve("a_events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // sentinel batches: one far-future event each (user -1), +30/+60 days
      val src = s.read.parquet(streamDir.resolve("a_events.parquet").toString)
      Seq(("b_sentinel1", 30L), ("c_sentinel2", 60L)).foreach { case (name, days) =>
        val tmp = streamDir.resolve(name + "_tmp")
        src.limit(1)
          .withColumn("user_id", lit(-1L))
          .withColumn("ts", shiftTsDays(src.schema, days))
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        // the stream source wants plain files: lift the single part file out
        val part = java.nio.file.Files.list(tmp).filter(
          p => p.getFileName.toString.startsWith("part-")).findFirst.get
        java.nio.file.Files.move(part, streamDir.resolve(name + ".parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      }
      val schema = src.schema
      val base = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir.toString)
        .withColumn("ets", eventTs(schema)._1)
        .withWatermark("ets", "1 minute")
      val sessions = base
        // the watermarked column must survive into the stateful operator's
        // input, so it rides along in the typed tuple
        .select($"user_id".cast("long").as("uid"),
          eventTs(schema)._2.as("tus"), $"ets")
        .as[(Long, Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          (uid: Long, events: Iterator[(Long, Long, java.sql.Timestamp)],
           state: GroupState[(Long, Long, Long)]) => // (start, end, n)
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
                cur = if (cur._3 == 0L || t - cur._2 <= gapUs)
                  (if (cur._3 == 0L) t else cur._1, t, cur._3 + 1)
                else {
                  closed ::= ((uid, cur._1, cur._2, cur._3))
                  (t, t, 1L)
                }
              }
              state.update(cur)
              // close by timeout once the watermark passes end + gap
              state.setTimeoutTimestamp(cur._2 / 1000 + gapUs / 1000 + 1)
              closed.reverseIterator
            }
        }
      // durable end-to-end: sessions land in the graft-json STREAMING sink
      // (epoch-named files, replay-idempotent) and the gate reads the
      // sink's own output back through the graft reader — the whole
      // source → stateful operator → sink chain is the durable one a
      // production run uses (StatefulRestartSpec additionally proves the
      // checkpoint-restart path)
      val sinkDir = java.nio.file.Paths.get("/tmp/graft_stream/q55_sink")
      val ckptDir = java.nio.file.Paths.get("/tmp/graft_stream/q55_ckpt")
      org.apache.commons.io.FileUtils.deleteDirectory(sinkDir.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(ckptDir.toFile)
      withStreamShuffle(s, streamDir.toString) {
        val q = sessions.toDF("user_id", "start_us", "end_us", "n_events")
          .writeStream
          .format("graft-json")
          .option("path", sinkDir.toString)
          .option("checkpointLocation", ckptDir.toString)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.read.format("graft-json")
        .schema("user_id LONG, start_us LONG, end_us LONG, n_events LONG")
        .load(sinkDir.toString)
        .filter($"user_id" >= 0)
        .select($"user_id",
          timestamp_micros($"start_us").as("session_start"),
          timestamp_micros($"end_us").as("session_end"),
          $"n_events")
        .orderBy($"user_id", $"session_start")
    },
    Some("""WITH marked AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            grp AS (
              SELECT user_id, ts,
                     sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM marked)
            SELECT user_id,
                   CAST(min(ts) AS TIMESTAMP) AS session_start,
                   CAST(max(ts) AS TIMESTAMP) AS session_end,
                   count(*) AS n_events
            FROM grp
            GROUP BY user_id, sid
            ORDER BY user_id, session_start"""))

  // ---------------------------------------------------------------- q61
  // Bucketed-write co-located join: both sides written with bucketBy(8)
  // on the join key, then joined through the catalog — Spark's bucketed
  // scan plans a SortMergeJoin with NO Exchange on either side (asserted
  // by BucketedJoinSpec). At 100 TB this is the anti-shuffle technique:
  // one bucketed write amortizes across every later join/agg on that key,
  // and each bucket pair joins locally (no network). Integer-cents sums
  // keep the oracle hash exact.
  private val q61 = GQuery(
    "q61_bucketed_colocated_join",
    "pre-bucketed co-located join (bucketBy both sides, shuffle-free SMJ)",
    (s, d) => {
      import s.implicits._
      val base = "/tmp/graft_bucketed"
      s.sql("DROP TABLE IF EXISTS graft_cust_b")
      s.sql("DROP TABLE IF EXISTS graft_ord_b")
      val baseDir = java.nio.file.Paths.get(base).toFile
      if (baseDir.exists) org.apache.commons.io.FileUtils.deleteDirectory(baseDir)
      T(s, d, "customer")
        .select($"c_custkey", $"c_mktsegment")
        .write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$base/cust").saveAsTable("graft_cust_b")
      T(s, d, "orders")
        .select($"o_custkey",
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$base/ord").saveAsTable("graft_ord_b")
      s.table("graft_cust_b").hint("merge")
        .join(s.table("graft_ord_b"), $"c_custkey" === $"o_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), sum($"cents").as("sum_cents"))
        .orderBy($"c_mktsegment")
    },
    Some("""SELECT c_mktsegment, count(*) AS n_orders,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
            FROM customer JOIN orders ON c_custkey = o_custkey
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment"""))

  // ---------------------------------------------------------------- q63
  // Stream-stream interval join: purchases joined to the clicks that
  // happened in the preceding 30 minutes, both sides watermarked (the
  // watermark + time-interval condition bound the join state — without
  // them a stream-stream join buffers forever; that state bound is what
  // makes this operator viable at 100 TB/day). Inner-join matches emit in
  // the batch they're found, so an AvailableNow drain over a static
  // directory is complete and exactly SQL-expressible.
  private val q63 = GQuery(
    "q63_stream_stream_join",
    "watermarked stream-stream interval join (clicks within 30 min before purchase)",
    (s, d) => {
      import s.implicits._
      val streamDir = java.nio.file.Paths.get("/tmp/graft_stream/events_q63")
      org.apache.commons.io.FileUtils.deleteDirectory(streamDir.toFile)
      java.nio.file.Files.createDirectories(streamDir)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$d/events.parquet"),
        streamDir.resolve("a_events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val schema = s.read.parquet(streamDir.resolve("a_events.parquet").toString).schema
      def side(tpe: String, u: String, t: String) =
        s.readStream.schema(schema).parquet(streamDir.toString)
          .filter($"event_type" === tpe)
          .select($"user_id".cast("long").as(u),
            eventTs(schema)._2.as(s"${t}_us"),
            eventTs(schema)._1.as(t))
          .withWatermark(t, "1 minute")
      val clicks = side("click", "cu", "cts")
      val purchases = side("purchase", "pu", "pts")
      val joined = purchases.join(clicks,
        expr("""cu = pu AND
                cts > pts - INTERVAL 30 MINUTES AND
                cts <= pts"""))
        .select($"pu".as("user_id"), ($"pts_us" - $"cts_us").as("gap_us"))
      withStreamShuffle(s, streamDir.toString) {
        val q = joined.writeStream
          .format("memory").queryName("q63_pairs")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table("q63_pairs")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_pairs"),
          sum($"gap_us").as("sum_gap_us"),
          max($"gap_us").as("max_gap_us"))
        .orderBy($"user_id")
    },
    Some("""WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
                 p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
                 pairs AS (
                   SELECT p.user_id,
                          (epoch_ns(p.ts) - epoch_ns(c.ts)) // 1000 AS gap_us
                   FROM p JOIN c ON c.user_id = p.user_id
                    AND c.ts > p.ts - INTERVAL 30 MINUTE
                    AND c.ts <= p.ts)
            SELECT user_id, count(*) AS n_pairs,
                   CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
                   CAST(max(gap_us) AS BIGINT) AS max_gap_us
            FROM pairs
            GROUP BY user_id
            ORDER BY user_id"""))

  // ---------------------------------------------------------------- q64
  // Streaming dedup across micro-batches: the same events file lands
  // twice (two batches via maxFilesPerTrigger=1); dropDuplicatesWithinWatermark
  // on event_id emits each event exactly once. The watermark delay bounds
  // the dedup state's lifetime — the 100 TB/day answer to "at-least-once
  // upstream delivery" (a plain dropDuplicates would keep state forever).
  // The delay here exceeds the data's time span so no state is evicted
  // mid-drain and the output is exactly SELECT DISTINCT.
  private val q64 = GQuery(
    "q64_stream_dedup_watermark",
    "dropDuplicatesWithinWatermark: exactly-once over a twice-delivered stream",
    (s, d) => {
      import s.implicits._
      val streamDir = java.nio.file.Paths.get("/tmp/graft_stream/events_q64")
      org.apache.commons.io.FileUtils.deleteDirectory(streamDir.toFile)
      java.nio.file.Files.createDirectories(streamDir)
      Seq("a_first.parquet", "b_redelivery.parquet").foreach { name =>
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$d/events.parquet"),
          streamDir.resolve(name),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      val schema = s.read.parquet(streamDir.resolve("a_first.parquet").toString).schema
      val deduped = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir.toString)
        .withColumn("ets", eventTs(schema)._1)
        .withWatermark("ets", "3650 days")
        .dropDuplicatesWithinWatermark("event_id")
      withStreamShuffle(s, streamDir.toString) {
        val q = deduped
          .select($"event_id", $"user_id".cast("long").as("user_id"), $"event_type")
          .writeStream
          .format("memory").queryName("q64_dedup")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table("q64_dedup")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"),
          count_distinct($"user_id").as("n_users"),
          min($"event_id").as("min_id"),
          max($"event_id").as("max_id"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users,
                   min(event_id) AS min_id, max(event_id) AS max_id
            FROM events
            GROUP BY event_type
            ORDER BY event_type"""))

  // ---------------------------------------------------------------- q66
  // Map-function family (§2.11 scalar functions: map): build maps from
  // aggregated entries (sorted for engine-independent entry order), then
  // element_at / cardinality / map_keys / map_values consumption. Output
  // is all scalars so the oracle hash is exact (DuckDB map extraction
  // yields single-element lists -> [1] unwraps them).
  private val q66 = GQuery(
    "q66_map_functions",
    "map_from_entries + element_at/cardinality/map_keys/map_values over orders",
    (s, d) => {
      import s.implicits._
      T(s, d, "orders")
        .groupBy($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .groupBy($"o_orderstatus")
        .agg(map_from_entries(sort_array(collect_list(struct($"o_orderpriority", $"n"))))
          .as("m"))
        .select(
          $"o_orderstatus",
          expr("cardinality(m)").as("n_prios"),
          expr("element_at(m, '1-URGENT')").as("n_urgent"),
          expr("element_at(m, '5-LOW')").as("n_low"),
          concat_ws("|", map_keys($"m")).as("prio_keys"),
          expr("aggregate(map_values(m), CAST(0 AS BIGINT), (acc, x) -> acc + x)")
            .as("n_total"))
        .orderBy($"o_orderstatus")
    },
    Some("""WITH counts AS (
              SELECT o_orderstatus, o_orderpriority, count(*) AS n
              FROM orders GROUP BY 1, 2),
            maps AS (
              SELECT o_orderstatus,
                     map_from_entries(list(struct_pack(k := o_orderpriority, v := n)
                                           ORDER BY o_orderpriority)) AS m
              FROM counts GROUP BY 1)
            SELECT o_orderstatus,
                   CAST(cardinality(m) AS INT) AS n_prios,
                   m['1-URGENT'][1] AS n_urgent,
                   m['5-LOW'][1] AS n_low,
                   array_to_string(map_keys(m), '|') AS prio_keys,
                   CAST(list_sum(map_values(m)) AS BIGINT) AS n_total
            FROM maps
            ORDER BY o_orderstatus"""))

  // ---------------------------------------------------------------- q67
  // Built-in session windows: groupBy(user, session_window(ets, gap))
  // in append mode — the declarative form of q55's hand-rolled
  // flatMapGroupsWithState sessionization (state merging, watermark-driven
  // finalization all inside Spark's SessionWindowStateStore). Two
  // far-future sentinel micro-batches (q55's trick) push the final
  // watermark past every real session so append mode emits them all, which
  // again admits an exact gaps-and-islands oracle. Spark merges sessions
  // when the next event is STRICTLY inside [start, last+gap), so the
  // oracle breaks sessions on diff >= gap.
  private val q67 = GQuery(
    "q67_session_window",
    "built-in session_window streaming aggregation (30-min gap, append mode)",
    (s, d) => {
      import s.implicits._
      val streamDir = java.nio.file.Paths.get("/tmp/graft_stream/events_q67")
      org.apache.commons.io.FileUtils.deleteDirectory(streamDir.toFile)
      java.nio.file.Files.createDirectories(streamDir)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$d/events.parquet"),
        streamDir.resolve("a_events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val src = s.read.parquet(streamDir.resolve("a_events.parquet").toString)
      Seq(("b_sentinel1", 30L), ("c_sentinel2", 60L)).foreach { case (name, days) =>
        val tmp = streamDir.resolve(name + "_tmp")
        src.limit(1)
          .withColumn("user_id", lit(-1L))
          .withColumn("ts", shiftTsDays(src.schema, days))
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).filter(
          p => p.getFileName.toString.startsWith("part-")).findFirst.get
        java.nio.file.Files.move(part, streamDir.resolve(name + ".parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      }
      val sessions = s.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir.toString)
        .withColumn("ets", eventTs(src.schema)._1)
        .withWatermark("ets", "1 minute")
        .groupBy($"user_id".cast("long").as("user_id"),
          session_window($"ets", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
      withStreamShuffle(s, streamDir.toString) {
        val q = sessions
          .select($"user_id", $"w.start".as("session_start"),
            $"w.end".as("session_end"), $"n_events")
          .writeStream
          .format("memory").queryName("q67_sessions")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table("q67_sessions")
        .filter($"user_id" >= 0)
        .orderBy($"user_id", $"session_start")
    },
    Some("""WITH marked AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            grp AS (
              SELECT user_id, ts,
                     sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM marked)
            SELECT user_id,
                   CAST(min(ts) AS TIMESTAMP) AS session_start,
                   CAST(max(ts) + INTERVAL '30 minutes' AS TIMESTAMP) AS session_end,
                   count(*) AS n_events
            FROM grp
            GROUP BY user_id, sid
            ORDER BY user_id, session_start"""))

  // --------------------------------------------------------------- q118
  // Higher-order lambda functions over arrays: transform / filter /
  // exists / forall / zip_with — all codegen'd Catalyst expressions, no
  // UDFs. Arrays come from a per-orderkey collect (bounded: line count
  // per order ≤ 7), canonicalized with sort_array; array-valued outputs
  // serialize positionally (concat_ws) so the cross-engine compare is
  // representation-proof.
  private val q118 = GQuery(
    "q118_higher_order_lambdas",
    "transform / filter / exists / forall / zip_with array lambdas",
    (s, d) => {
      import s.implicits._
      T(s, d, "lineitem")
        .filter($"l_orderkey" <= 2000)
        .groupBy($"l_orderkey")
        .agg(
          sort_array(collect_list($"l_quantity".cast("long"))).as("qs"),
          sort_array(collect_list(round($"l_extendedprice" * 100).cast("long")))
            .as("cents"))
        .select($"l_orderkey",
          concat_ws("-", expr("transform(qs, x -> x * 2)")).as("doubled"),
          concat_ws("-", expr("filter(qs, x -> x >= 25)")).as("big"),
          expr("exists(qs, x -> x % 2 = 0)").as("any_even"),
          expr("forall(qs, x -> x > 0)").as("all_pos"),
          concat_ws("-", expr("zip_with(qs, cents, (x, y) -> x + y)")).as("zipped"))
        .orderBy($"l_orderkey")
    },
    Some("""SELECT l_orderkey,
                   array_to_string(list_transform(qs, x -> x * 2), '-') AS doubled,
                   coalesce(array_to_string(list_filter(qs, x -> x >= 25), '-'), '') AS big,
                   len(list_filter(qs, x -> x % 2 = 0)) > 0 AS any_even,
                   len(list_filter(qs, x -> x > 0)) = len(qs) AS all_pos,
                   array_to_string(list_transform(list_zip(qs, cents),
                                                  t -> t[1] + t[2]), '-') AS zipped
            FROM (SELECT l_orderkey,
                         list_sort(list(CAST(l_quantity AS BIGINT))) AS qs,
                         list_sort(list(CAST(round(l_extendedprice * 100) AS BIGINT))) AS cents
                  FROM lineitem WHERE l_orderkey <= 2000
                  GROUP BY l_orderkey) g
            ORDER BY l_orderkey"""))

  // --------------------------------------------------------------- q121
  // Stream-static join: the unbounded side (events) enriched per
  // micro-batch against a bounded dimension (customer) — no watermark
  // needed on the static side, no join state kept (each batch probes the
  // dim afresh), and the explicit broadcast keeps the 100 TB/day stream
  // from ever shuffling for the join. Inner matches emit append-mode, so
  // an AvailableNow drain is complete and exactly SQL-expressible.
  private val q121 = GQuery(
    "q121_stream_static_join",
    "stream-static broadcast enrichment (events stream x customer dim)",
    (s, d) => {
      import s.implicits._
      val streamDir = java.nio.file.Paths.get("/tmp/graft_stream/events_q121")
      org.apache.commons.io.FileUtils.deleteDirectory(streamDir.toFile)
      java.nio.file.Files.createDirectories(streamDir)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$d/events.parquet"),
        streamDir.resolve("a_events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val schema = s.read.parquet(streamDir.resolve("a_events.parquet").toString).schema
      val stream = s.readStream.schema(schema).parquet(streamDir.toString)
        .filter($"event_type" === "purchase")
        .select($"user_id".cast("long").as("user_id"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val dim = Tables(s, d, "customer")
        .select($"c_custkey".cast("long").as("user_id"), $"c_mktsegment")
      val q = stream.join(broadcast(dim), Seq("user_id"))
        .writeStream
        .format("memory").queryName("q121_enriched")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("q121_enriched")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
        .orderBy($"c_mktsegment")
    },
    Some("""SELECT c_mktsegment, count(*) AS n,
                   CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
            FROM events JOIN customer ON user_id = c_custkey
            WHERE event_type = 'purchase'
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment"""))

  // ---------------------------------------------------------------- q136
  // Count-Min sketch (functions/CountMinSketchAgg): the mergeable
  // frequency sketch as a typed Aggregator UDAF — fixed 3×256 counter
  // state per partition, elementwise-add merge, estimate = min of a key's
  // 3 counters (never an undercount). Unlike HLL (q22, rows-only), the
  // md5 bucketing is ENGINE-PORTABLE, so the oracle rebuilds the exact
  // same sketch in SQL (group rows per (hash-row, bucket), min over the
  // key's buckets) and the gate checks the estimates exactly — a sketch
  // gate with a hard oracle. exact_n rides along to show the estimates
  // sit at/above truth (width 256 >> 5 distinct keys ⇒ usually equal).
  private val q136 = GQuery(
    "q136_countmin_sketch",
    "Count-Min sketch UDAF (mergeable frequency sketch, exact cross-engine oracle)",
    (s, d) => {
      import s.implicits._
      s.udf.register("cms_sketch",
        udaf(new graft.functions.CountMinSketchAgg(3, 256)))
      val events = T(s, d, "events").select($"event_type")
      val sk = events.agg(expr("cms_sketch(event_type)").as("sk"))
      val est = events.distinct().withColumnRenamed("event_type", "k")
        .crossJoin(sk) // 5 keys × one 1-row sketch
        .withColumn("cms_estimate", expr(
          """least(
            |  element_at(sk, CAST(1 + 0 * 256 + CAST(conv(substring(md5(concat('cms0:', k)), 1, 8), 16, 10) AS BIGINT) % 256 AS INT)),
            |  element_at(sk, CAST(1 + 1 * 256 + CAST(conv(substring(md5(concat('cms1:', k)), 1, 8), 16, 10) AS BIGINT) % 256 AS INT)),
            |  element_at(sk, CAST(1 + 2 * 256 + CAST(conv(substring(md5(concat('cms2:', k)), 1, 8), 16, 10) AS BIGINT) % 256 AS INT)))""".stripMargin))
      T(s, d, "events").groupBy($"event_type").agg(count(lit(1)).as("exact_n"))
        .join(est, $"event_type" === $"k")
        .select($"event_type", $"exact_n", $"cms_estimate")
        .orderBy($"event_type")
    },
    Some("""WITH params AS (SELECT unnest([0, 1, 2]) AS i),
            h AS (
              SELECT i, CAST(concat('0x', substring(md5(concat('cms', CAST(i AS VARCHAR), ':', event_type)), 1, 8)) AS BIGINT) % 256 AS b
              FROM events, params),
            counters AS (SELECT i, b, CAST(count(*) AS BIGINT) AS c FROM h GROUP BY i, b),
            keys AS (SELECT DISTINCT event_type AS k FROM events),
            keyh AS (
              SELECT k, i, CAST(concat('0x', substring(md5(concat('cms', CAST(i AS VARCHAR), ':', k)), 1, 8)) AS BIGINT) % 256 AS b
              FROM keys, params),
            est AS (
              SELECT k, CAST(min(c.c) AS BIGINT) AS cms_estimate
              FROM keyh JOIN counters c USING (i, b) GROUP BY k),
            exact AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS exact_n
              FROM events GROUP BY event_type)
            SELECT e.event_type, e.exact_n, est.cms_estimate
            FROM exact e JOIN est ON est.k = e.event_type
            ORDER BY event_type"""))

  // ---------------------------------------------------------------- q139
  // transformWithState — the Spark 4 arbitrary-state streaming API that
  // supersedes mapGroupsWithState (q51): explicit typed state variables
  // (ValueState/ListState/MapState + TTL + timers) on the RocksDB state
  // store. The gate runs the per-user running aggregate through a
  // ValueState processor, drains with AvailableNow, and checks the final
  // update-mode emission (single batch ⇒ one row per user) against the
  // batch aggregate oracle. The provider conf is scoped to the query and
  // restored after — the other streaming gates keep the default HDFS
  // provider.
  private val q139 = GQuery(
    "q139_transform_with_state",
    "transformWithState typed ValueState streaming aggregate (RocksDB state store)",
    (s, d) => {
      import s.implicits._
      val streamDir = java.nio.file.Paths.get("/tmp/graft_stream/events_q139")
      java.nio.file.Files.createDirectories(streamDir)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$d/events.parquet"),
        streamDir.resolve("events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val schema = s.read.parquet(streamDir.toString).schema
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(providerKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val stream = s.readStream.schema(schema).parquet(streamDir.toString)
          .filter($"user_id" <= 200)
          .select($"user_id".cast("long").as[Long],
            expr("CAST(floor(value * 100) AS BIGINT)").as[Long])
        val out = stream.groupByKey(_._1)
          .transformWithState(new UserRunningAgg,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update(),
            Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
        withStreamShuffle(s, streamDir.toString) {
          val q = out.toDF("user_id", "n_events", "sum_cents")
            .writeStream.format("memory").queryName("q139_tws")
            .outputMode("update").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
      } finally prev match {
        case Some(p) => s.conf.set(providerKey, p)
        case None    => s.conf.unset(providerKey)
      }
      s.table("q139_tws").orderBy($"user_id")
    },
    Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
            FROM events WHERE user_id <= 200
            GROUP BY user_id ORDER BY user_id"""))

  // ---------------------------------------------------------------- q151
  // Portable HyperLogLog (functions/HyperLogLogAgg): the mergeable
  // distinct-count sketch with ENGINE-PORTABLE md5 bucketing — where q22
  // (approx_count_distinct, xxhash) can only be gated rows-only, this
  // oracle rebuilds the exact register file in DuckDB SQL (15-hex-digit
  // md5 prefix → 60-bit hash; top 10 bits pick the register; ρ from
  // minimal-length bin()) and checks the estimate to the digit. The
  // estimate divides two INTEGER reductions (harmonic numerator
  // Σ 2^(51−M_j) — exact, order-independent — and the zero-register
  // count), so the one double division is bit-deterministic across
  // engines: a sketch gate with a hard oracle, like q136 for CMS.
  private val q151 = GQuery(
    "q151_hll_portable",
    "portable HyperLogLog UDAF (mergeable registers, exact cross-engine oracle)",
    (s, d) => {
      import s.implicits._
      s.udf.register("hll_sketch", udaf(new graft.functions.HyperLogLogAgg(10)))
      T(s, d, "events")
        .groupBy($"event_type")
        .agg(
          countDistinct($"user_id").as("exact_n"),
          expr("hll_sketch(CAST(user_id AS STRING))").as("regs"))
        .withColumn("v_zero",
          expr("aggregate(regs, 0L, (a, r) -> a + IF(r = 0, 1L, 0L))"))
        .withColumn("harmonic",
          expr("aggregate(regs, 0L, (a, r) -> a + CAST(pow(2.0, 51 - r) AS BIGINT))"))
        .withColumn("hll_est", expr(
          """CAST(floor(0.7213 / (1.0 + 1.079 / 1024.0) * 1024.0 * 1024.0
            |     * 2251799813685248.0 / CAST(harmonic AS DOUBLE)) AS BIGINT)""".stripMargin))
        .select($"event_type", $"exact_n", $"v_zero", $"harmonic", $"hll_est")
        .orderBy($"event_type")
    },
    Some("""WITH h AS (
              SELECT event_type,
                     CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
              FROM events),
            r AS (SELECT event_type, hv // 1125899906842624 AS bucket,
                         hv % 1125899906842624 AS rem FROM h),
            regs AS (
              SELECT event_type, bucket,
                     max(CASE WHEN rem = 0 THEN 51 ELSE 51 - length(bin(rem)) END) AS reg
              FROM r GROUP BY event_type, bucket),
            agg AS (
              SELECT event_type,
                     CAST(1024 - count(*) AS BIGINT) AS v_zero,
                     CAST((1024 - count(*)) * 2251799813685248
                          + sum(CAST(pow(2.0, 51 - reg) AS BIGINT)) AS BIGINT) AS harmonic
              FROM regs GROUP BY event_type),
            ex AS (
              SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_n
              FROM events GROUP BY event_type)
            SELECT e.event_type, e.exact_n, a.v_zero, a.harmonic,
                   CAST(floor(0.7213 / (1.0 + 1.079 / 1024.0) * 1024.0 * 1024.0
                        * 2251799813685248.0 / CAST(a.harmonic AS DOUBLE)) AS BIGINT) AS hll_est
            FROM ex e JOIN agg a USING (event_type)
            ORDER BY event_type"""))

  val all: Seq[GQuery] = Seq(q22, q41, q42, q43, q45, q48, q50, q51, q55, q61, q63, q64, q66, q67, q71, q118, q121, q136, q139, q151)
}
