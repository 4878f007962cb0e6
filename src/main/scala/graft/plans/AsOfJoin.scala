package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types._

/** Native AS-OF JOIN as a whole custom operator — the full Catalyst
  * extension ladder (SURVEY §7.3 option c): a logical plan node, a
  * planner [[AsOfJoinStrategy strategy]], and a physical
  * [[AsOfJoinExec]] that merges the two co-partitioned, co-sorted sides
  * in ONE streaming pass per partition.
  *
  * Semantics: LEFT-OUTER as-of — every left row pairs with the LAST
  * right row sharing its equi-keys whose time is ≤ the left row's time
  * (`direction = "backward"`, the default) or the FIRST right row with
  * time ≥ the left row's (`"forward"`), optionally within
  * `toleranceMicros`; no match → right columns null.
  * Ties on the right time break by `rightTiebreak` (last in ascending
  * order wins), making the result deterministic under duplicate
  * timestamps. Null keys and null times never match (SQL join
  * discipline).
  *
  * Why a physical operator when q08/q45 already compose the semantics
  * from union + window: the composed plan materializes BOTH sides into
  * one window sort and carries the union's null-padded columns through
  * it. This operator declares exactly what the algorithm needs —
  * ClusteredDistribution on the keys (one exchange per side, elided when
  * a side is already partitioned: bucketed/SPJ layouts join with ZERO
  * exchanges) + per-partition (key, time) ordering (elided for
  * sort-reporting scans) — and the merge itself is O(left + right) with
  * O(1) state: the EventCursor one-event-at-a-time discipline at the
  * operator level.
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreak: Seq[Expression],
    toleranceMicros: Option[Long],
    forward: Boolean)
    extends org.apache.spark.sql.catalyst.plans.logical.BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans the logical [[AsOfJoin]] into [[AsOfJoinExec]]; injected via
  * `GraftSparkExtensions` (injectPlannerStrategy) and installed
  * idempotently by the [[AsOfJoin.asofJoin]] API.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, tb, tol, fwd) =>
      AsOfJoinExec(lk, rk, lt, rt, tb, tol, fwd, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Physical as-of merge join. Requirements do the planning work:
  * clustered distribution on the equi-keys (co-partitioned children;
  * EnsureRequirements inserts or ELIDES exchanges) and ascending
  * (keys, time[, tiebreak]) child orderings (sorts elided when a child
  * already reports them). The merge keeps ONE buffered candidate row —
  * the latest right row ≤ the current left time for the current key.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreak: Seq[Expression],
    toleranceMicros: Option[Long],
    forward: Boolean,
    left: SparkPlan,
    right: SparkPlan)
    extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys ++ (rightTime +: rightTiebreak)).map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numMatched" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "rows with an as-of match"))

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lk = leftKeys
    val rk = rightKeys
    val lt = leftTime
    val rt = rightTime
    val tol = toleranceMicros
    val fwd = forward
    val outRows = longMetric("numOutputRows")
    val matched = longMetric("numMatched")
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      new AsOfMergeIterator(lIter, rIter, lOut, rOut, lk, rk, lt, rt, tol, fwd,
        outRows, matched)
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** One-pass per-partition merge: both inputs sorted by (key, time), so
  * the right cursor advances monotonically and the only state is the
  * current key's best-so-far candidate (copied once per replacement).
  */
private final class AsOfMergeIterator(
    lIter: Iterator[InternalRow],
    rIter: Iterator[InternalRow],
    lOut: Seq[Attribute],
    rOut: Seq[Attribute],
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    toleranceMicros: Option[Long],
    forward: Boolean,
    outRows: org.apache.spark.sql.execution.metric.SQLMetric,
    matchedRows: org.apache.spark.sql.execution.metric.SQLMetric)
    extends Iterator[InternalRow] {

  private[this] val lKeyProj = UnsafeProjection.create(leftKeys, lOut)
  private[this] val rKeyProj = UnsafeProjection.create(rightKeys, rOut)
  private[this] val lTimeProj = UnsafeProjection.create(Seq(leftTime), lOut)
  private[this] val rTimeProj = UnsafeProjection.create(Seq(rightTime), rOut)
  private[this] val keyOrdering: Ordering[InternalRow] =
    RowOrdering.createNaturalAscendingOrdering(leftKeys.map(_.dataType))

  private def timeOf(proj: UnsafeRow, dt: DataType): Long = dt match {
    case LongType | TimestampType | TimestampNTZType => proj.getLong(0)
    case IntegerType | DateType => proj.getInt(0).toLong
    case other => throw new IllegalArgumentException(
      s"as-of time column must be integral/timestamp, got ${other.simpleString}")
  }

  private[this] val joined = new JoinedRow
  private[this] val nullRight = new GenericInternalRow(rOut.length)

  // right cursor lookahead
  private[this] var rHead: InternalRow = _
  private[this] var rHeadKey: UnsafeRow = _
  private def advanceRight(): Unit =
    if (rIter.hasNext) {
      rHead = rIter.next()
      rHeadKey = rKeyProj(rHead)
    } else { rHead = null; rHeadKey = null }
  advanceRight()

  // current key's candidate (deep-copied: the source rows are reused)
  private[this] var candRow: InternalRow = _
  private[this] var candKey: UnsafeRow = _
  private[this] var candTime = 0L

  override def hasNext: Boolean = lIter.hasNext

  override def next(): InternalRow = {
    val l = lIter.next()
    val lKey = lKeyProj(l)
    if (candKey != null && keyOrdering.compare(candKey, lKey) != 0) {
      candRow = null; candKey = null
    }
    val lTimeRow = lTimeProj(l)
    if (lKey.anyNull || lTimeRow.isNullAt(0)) {
      // null keys/time never match; the right cursor stays put (later
      // left keys may still need its current head)
      outRows += 1
      return joined(l, nullRight)
    }
    val lTime = timeOf(lTimeRow, leftTime.dataType)
    if (forward) {
      // FIRST right row with rtime >= ltime: advance past smaller keys
      // and same-key rows strictly before ltime, then peek (don't
      // consume — later left rows may share the match)
      var scanning = rHead != null
      while (scanning) {
        val c = keyOrdering.compare(rHeadKey, lKey)
        if (c < 0) advanceRight()
        else if (c == 0) {
          val rTimeRow = rTimeProj(rHead)
          if (rHeadKey.anyNull || rTimeRow.isNullAt(0) ||
              timeOf(rTimeRow, rightTime.dataType) < lTime) advanceRight()
          else scanning = false // the first >= match: peek it
        } else scanning = false
        if (rHead == null) scanning = false
      }
      val matched = rHead != null && keyOrdering.compare(rHeadKey, lKey) == 0 && {
        val rTimeRow = rTimeProj(rHead)
        !rTimeRow.isNullAt(0) && {
          val rTime = timeOf(rTimeRow, rightTime.dataType)
          rTime >= lTime && toleranceMicros.forall(t => rTime - lTime <= t)
        }
      }
      outRows += 1
      if (matched) matchedRows += 1
      return joined(l, if (matched) rHead else nullRight)
    }
    var scanning = rHead != null
    while (scanning) {
      val c = keyOrdering.compare(rHeadKey, lKey)
      if (c < 0) advanceRight()
      else if (c == 0) {
        val rTimeRow = rTimeProj(rHead)
        if (!rHeadKey.anyNull && !rTimeRow.isNullAt(0) &&
            timeOf(rTimeRow, rightTime.dataType) <= lTime) {
          candRow = rHead.copy()
          candKey = lKey.copy()
          candTime = timeOf(rTimeRow, rightTime.dataType)
          advanceRight()
        } else if (rHeadKey.anyNull || rTimeRow.isNullAt(0)) {
          advanceRight() // unmatched-able right row: discard
        } else scanning = false // right time beyond the left row
      } else scanning = false // right is on a later key
      if (rHead == null) scanning = false
    }
    val matched = candRow != null &&
      toleranceMicros.forall(t => lTime - candTime <= t)
    outRows += 1
    if (matched) matchedRows += 1
    joined(l, if (matched) candRow else nullRight)
  }
}

object AsOfJoin {

  /** Install the planner strategy on a session (idempotent) that
    * `GraftSparkExtensions` did not already give it.
    */
  private def install(spark: org.apache.spark.sql.SparkSession): Unit =
    if (!spark.sessionState.planner.extraPlanningStrategies.contains(AsOfJoinStrategy) &&
        !spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy

  /** Left-outer as-of join: every `left` row + the last `right` row with
    * equal `on` keys and `rightTimeCol` ≤ `leftTimeCol` (within
    * `toleranceMicros` when given; ties on the right time break by
    * `rightTiebreakCols`, last wins). Right-side key columns are dropped
    * from the output (they equal the left's); any remaining right column
    * whose name collides with a left column comes back as
    * `right_<name>`. The right side gets fresh expression ids, so
    * self-as-of-joins are safe.
    *
    * `saltBuckets > 1` makes the merge SKEW-ROBUST: a pathologically hot
    * key would otherwise serialize all its left rows into one merge task
    * (ClusteredDistribution hashes whole keys). Salting appends a
    * deterministic left-row bucket to the keys and replicates the RIGHT
    * side into every bucket, so each bucket still sees the key's full
    * history — bit-identical results, left work split ~`saltBuckets`
    * ways, right side duplicated ×`saltBuckets` (size the buckets to the
    * hot key's share, not the cluster: 8–32 is usually plenty).
    */
  def asofJoin(left: DataFrame, right: DataFrame, on: Seq[String],
      leftTimeCol: String, rightTimeCol: String,
      rightTiebreakCols: Seq[String] = Nil,
      toleranceMicros: Option[Long] = None,
      direction: String = "backward",
      saltBuckets: Int = 1): DataFrame = {
    require(on.nonEmpty, "asofJoin needs at least one equi-key column")
    require(direction == "backward" || direction == "forward",
      s"direction must be 'backward' or 'forward', got '$direction'")
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    if (saltBuckets > 1) {
      import org.apache.spark.sql.functions.{col, explode, lit, pmod, typedLit, xxhash64}
      val salt = "_asof_salt"
      require(!left.columns.contains(salt) && !right.columns.contains(salt),
        s"asofJoin: salting reserves a '$salt' column")
      // deterministic bucket from the left row (a hot key with many
      // identical timestamps still spreads); right rows fan out to all
      // buckets, preserving full per-key history in each. Map-typed
      // columns are excluded from the hash input — xxhash64 refuses them
      // — and a degenerate all-map row falls back to the time column.
      def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
        case _: org.apache.spark.sql.types.MapType => false
        case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
        case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
        case _ => true
      }
      val hashIn = left.schema.fields.filter(f => hashable(f.dataType)).map(f => col(f.name))
      val saltIn = if (hashIn.nonEmpty) hashIn.toSeq else Seq(col(leftTimeCol))
      val lSalted = left.withColumn(salt,
        pmod(xxhash64(saltIn: _*), lit(saltBuckets.toLong)).cast("int"))
      val rSalted = right.withColumn(salt,
        explode(typedLit((0 until saltBuckets).toArray)))
      return asofJoin(lSalted, rSalted, on :+ salt, leftTimeCol, rightTimeCol,
        rightTiebreakCols, toleranceMicros, direction, saltBuckets = 1)
        .drop(salt)
    }
    val spark = left.sparkSession
    install(spark)
    val resolver = spark.sessionState.conf.resolver
    def res(plan: LogicalPlan, n: String, side: String): Attribute =
      plan.output.find(a => resolver(a.name, n)).getOrElse(
        throw new IllegalArgumentException(
          s"asofJoin: column '$n' not found on the $side side " +
            s"(have: ${plan.output.map(_.name).mkString(", ")})"))
    val lPlan = left.queryExecution.analyzed
    // fresh exprIds on the right: self-joins must not alias each other
    val rPlan = Project(
      right.queryExecution.analyzed.output.map(a => Alias(a, a.name)()),
      right.queryExecution.analyzed)
    val lKeys = on.map(res(lPlan, _, "left"))
    val rKeys = on.map(res(rPlan, _, "right"))
    val lTime = res(lPlan, leftTimeCol, "left")
    val rTime = res(rPlan, rightTimeCol, "right")
    // the merge comparator and hash partitioning are built from LEFT
    // types but applied to both sides — an INT-vs-BIGINT key or a
    // DATE-vs-TIMESTAMP time column would return silently wrong rows
    // (days compared against micros), so mismatches fail loudly here
    on.indices.foreach { i =>
      require(org.apache.spark.sql.types.DataType.equalsIgnoreNullability(
        lKeys(i).dataType, rKeys(i).dataType),
        s"asofJoin: key '${on(i)}' has type ${lKeys(i).dataType.simpleString} on " +
          s"the left but ${rKeys(i).dataType.simpleString} on the right — cast " +
          "one side explicitly")
    }
    require(org.apache.spark.sql.types.DataType.equalsIgnoreNullability(
      lTime.dataType, rTime.dataType),
      s"asofJoin: time columns disagree — '$leftTimeCol' is " +
        s"${lTime.dataType.simpleString}, '$rightTimeCol' is " +
        s"${rTime.dataType.simpleString}; cast one side explicitly")
    val node = AsOfJoin(lPlan, rPlan, lKeys, rKeys,
      lTime, rTime,
      rightTiebreakCols.map(res(rPlan, _, "right")), toleranceMicros,
      forward = direction == "forward")
    // output shaping: drop right keys, de-collide right names. Right
    // attributes must surface NULLABLE — the join null-pads them — or
    // nullability-keyed optimizations (coalesce simplification,
    // isNotNull folding) would miscompile over non-nullable inputs
    val leftNames = lPlan.output.map(_.name).toSet
    val rightKeep = rPlan.output
      .filterNot(a => rKeys.exists(_.exprId == a.exprId))
      .map(_.withNullability(true))
      .map { a =>
        if (leftNames.contains(a.name)) Alias(a, s"right_${a.name}")()
        else a
      }
    org.apache.spark.sql.graft.PlanApi.ofRows(spark,
      Project((lPlan.output: Seq[NamedExpression]) ++ rightKeep, node))
  }
}
